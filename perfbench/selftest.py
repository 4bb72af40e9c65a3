#!/usr/bin/env python3
"""Self-tests for the benchmark, at toy size. Run from the repository root:

    python3 perfbench/selftest.py [workload ...]

For each workload it checks that
  - an untraced toy run passes every output check (correct, no failed op)
    and prints every end-to-end metric;
  - a traced toy run whose observed result is corrupted counts the wrong
    result as a failed op, and reports every per-layer metric with the
    workload's own layers non-zero.
It also checks that the state-dir walk credits new bloom shard files to the
bloom bytes (a unit check of the walk, plus a traced toy crawl that must
report store.bloom_bytes_written_per_wave > 0).
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

OWN_LAYERS = {"crawl_waves": ("crawl.", "store."),
              "wave_kernel": ("kernel.", "catalog.", "query.")}


def bench(workload, trace, corrupt):
    cmd = [sys.executable, os.path.join(run.HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"]
    if corrupt:
        cmd.append("--corrupt")
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise AssertionError(f"{' '.join(cmd[1:])} exited {r.returncode}:\n{r.stderr[-3000:]}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def test_walk():
    root = os.getcwd()
    jars, opens, scala = run.build_settings(root)
    classes = run.build(root, jars, scala)
    work = os.path.join(root, ".bench_build", "perfbench", "work", "selftest-walk")
    os.makedirs(work, exist_ok=True)
    run.run_java(classes, jars, opens, ["--selftest", "walk"], work)


def test_workload(workload, spec):
    clean = bench(workload, 0, False)
    assert clean["correct"] and clean["failed"] == 0 and clean["attempted"] >= 1, clean
    assert set(clean["metrics"]) == {m["name"] for m in spec["end_to_end"]}, clean["metrics"]
    assert all(m["value"] > 0 for m in clean["metrics"].values()), clean["metrics"]

    bad = bench(workload, 1, True)
    assert not bad["correct"] and bad["failed"] >= 1, bad
    layer = {k: v["value"] for k, v in bad["metrics"].items()}
    assert set(layer) == {m["name"] for m in spec["per_layer"]}, sorted(layer)
    zero = [k for k, v in layer.items() if k.startswith(OWN_LAYERS[workload]) and v == 0
            and k not in ("crawl.idle_tail_waves", "spark.spill_mb")]
    assert not zero, f"own layers read 0: {zero}"
    assert layer["functions.extract_links_ns"] > 0 and layer["spark.tasks"] > 0, layer
    if workload == "crawl_waves":
        assert layer["store.bloom_bytes_written_per_wave"] > 0, layer


def main():
    spec = json.load(open(os.path.join(os.getcwd(), "BENCHMARK.json")))
    names = sys.argv[1:] or list(run.WORKLOADS)
    tests = [("walk", test_walk)] + [(w, lambda w=w: test_workload(w, spec)) for w in names]
    failed = 0
    for name, t in tests:
        try:
            t()
            print(f"ok   {name}")
        except (AssertionError, SystemExit) as e:
            failed += 1
            print(f"FAIL {name}: {e}")
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
