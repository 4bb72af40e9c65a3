#!/usr/bin/env python3
"""perfbench: one-process benchmark of graft's crawl waves and wave kernel,
at local[4] with one closed-loop client.

    python3 perfbench/run.py --workload crawl_waves --seed 1 --seconds 10 --trace 0

Run it from the repository root. It compiles the program (src/main/scala)
together with perfbench/src into .bench_build/perfbench with the Scala
compiler that ships with the Spark jars named in build.sbt, runs one
workload in one JVM, checks the outputs, prints every metric by name with
its unit, and ends with one JSON line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics of BENCHMARK.json. --trace 1
interleaves untraced and traced ops, reports the per-layer metrics and the
tracing overhead, and writes the spans to .bench_build/perfbench/traces; a
traced wave_kernel run ends with the catalog probe (see NOTES.md).
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl_waves", "wave_kernel")
JAVA_TIMEOUT_S = 165
# The heap is fixed and touched up front, so the resident set does not
# depend on when the collector chose to grow the heap: peak_rss_mb moves
# with off-heap memory (metaspace, code, threads, direct and network
# buffers), and heap pressure shows as time and spark.gc_s instead.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def quantile(xs, q):
    """Linear-interpolated quantile, as the Scala side computes it."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def build_settings(root):
    """Jar dir, --add-opens list and Scala version, read from build.sbt."""
    path = os.path.join(root, "build.sbt")
    if not os.path.isfile(path):
        die("no build.sbt here; run from the repository root")
    text = open(path).read()
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', text)
    scala = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', text)
    if not base or not scala:
        die("build.sbt names no unmanagedBase jar dir or scalaVersion")
    jars = sorted(glob.glob(os.path.join(base.group(1), "*.jar")))
    if not jars:
        die(f"no jars in {base.group(1)}")
    opens = re.findall(r'"(java\.base/[^"]+)"', text)
    return jars, opens, scala.group(1)


def build(root, jars, scala):
    """Compile the program and the benchmark once per source tree."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        die("no program sources under src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "src/*.scala")))
    h = hashlib.sha256(scala.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    base = os.path.join(root, ".bench_build", "perfbench")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isdir(out):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [j for j in jars if re.search(
            rf"/scala-(compiler|library|reflect)-{re.escape(scala)}\.jar$", j)]
        if len(compiler) != 3:
            die(f"no Scala {scala} compiler among the jars")
        argfile = os.path.join(base, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-cp", ":".join(compiler),
                            "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                            "-cp", ":".join(jars), "@" + argfile],
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            print(r.stdout[-6000:], file=sys.stderr)
            die("compilation failed")
        os.rename(tmp, out)
    return out


def run_java(classes, jars, opens, args, work, timeout=JAVA_TIMEOUT_S):
    log_path = os.path.join(work, "jvm.log")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [f"--add-opens={o}=ALL-UNNAMED" for o in opens]
           + ["-cp", ":".join([classes] + jars), "graft.perfbench.Main"] + args)
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    with open(log_path) as f:
        lines = f.read().splitlines()
    for l in lines:
        if l.startswith("[perfbench]"):
            print(l, file=sys.stderr)
    if rc != 0:
        print("\n".join([l for l in lines if " WARN " not in l][-40:]), file=sys.stderr)
        die(f"benchmark JVM ended with {rc}")


def catalog_verdicts(out_dir, data_dir, cache_dir):
    """Compare each checked query result with DuckDB running
    SparkEntry.oracleSql: row count, schema by name, and the sorted value
    hash after tools/localcheck.py's canonicalisation."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)

        def cell(v):
            if v is None or (isinstance(v, float) and pd.isna(v)):
                return "<null>"
            if isinstance(v, float):
                return repr(round(v, 9))
            return str(v)
        return sorted("|".join(cell(v) for v in row) for row in df.itertuples(index=False))

    sqls = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    tables = sorted(f for f in os.listdir(data_dir) if f.endswith(".parquet"))
    data_key = hashlib.sha256()
    for t in tables:
        with open(os.path.join(data_dir, t), "rb") as f:
            data_key.update(t.encode() + f.read())
    con = None
    os.makedirs(cache_dir, exist_ok=True)
    verdicts = {}
    for name, sql in sqls.items():
        key = hashlib.sha256((data_key.hexdigest() + sql).encode()).hexdigest()[:24]
        cached = os.path.join(cache_dir, f"{name}-{key}.json")
        if os.path.exists(cached):
            want = json.load(open(cached))
        else:
            if con is None:
                con = duckdb.connect()
                for t in tables:
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                                f"'{os.path.join(data_dir, t)}'")
            ref = con.execute(sql).df()
            want = {"cols": sorted(ref.columns), "rows": canon(ref)}
            with open(cached + ".tmp", "w") as f:
                json.dump(want, f)
            os.replace(cached + ".tmp", cached)
        got = duckdb.sql(f"SELECT * FROM '{os.path.join(out_dir, name)}/*.parquet'").df()
        if len(got) != len(want["rows"]):
            verdicts[name] = f"rows {len(got)} vs {len(want['rows'])}"
        elif sorted(got.columns) != want["cols"]:
            verdicts[name] = f"schema {sorted(got.columns)} vs {want['cols']}"
        elif canon(got) != want["rows"]:
            verdicts[name] = "value hash differs"
        else:
            verdicts[name] = "OK"
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true", help="toy sizes, for the self-tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="corrupt one observed result, for the self-tests")
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        die("no BENCHMARK.json here; run from the repository root")
    spec = json.load(open(spec_path))
    data_dir = os.path.join(HERE, "data", "sf0.001")
    jars, opens, scala = build_settings(root)
    classes = build(root, jars, scala)

    base = os.path.join(root, ".bench_build", "perfbench")
    stamp = time.strftime("%Y%m%dT%H%M%S")
    work = os.path.join(base, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traces = os.path.join(base, "traces")
    os.makedirs(traces, exist_ok=True)
    spans = os.path.join(traces, f"{a.workload}-seed{a.seed}-{stamp}.json")
    report = os.path.join(work, "report.json")
    try:
        run_java(classes, jars, opens,
                 ["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--work", work, "--out", report, "--spans", spans,
                  "--data", data_dir, "--toy", "1" if a.toy else "0",
                  "--corrupt", "1" if a.corrupt else "0"], work,
                 # toy crawls run to the drained frontier, which takes longer
                 timeout=600 if a.toy else JAVA_TIMEOUT_S)
        rep = json.load(open(report))
        if "catalog_out" in rep["extra"]:
            verdicts = catalog_verdicts(rep["extra"]["catalog_out"], data_dir,
                                        os.path.join(base, "oracle-cache"))
            for o in rep["ops"]:
                v = verdicts.get(o["name"], "not checked")
                if o["kind"] == "query" and not o["failed"] and v != "OK":
                    o["failed"], o["why"] = True, f"oracle: {v}"
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = rep["ops"]
    failed = [o for o in ops if o["failed"]]
    kind = {"crawl_waves": "wave", "wave_kernel": "pass"}[a.workload]
    own = [o for o in ops if o["kind"] == kind and not o["failed"]]
    good = [o for o in own if not o["traced"]]
    ms = [o["ms"] for o in good]
    e2e = {
        "setup_s": quantile(rep["setup_s"], 0.5),
        "peak_rss_mb": rep["info"]["peak_rss_mb"],
        "op_p50_ms": quantile(ms, 0.5) if ms else 0.0,
        "op_p90_ms": quantile(ms, 0.9) if ms else 0.0,
        "items_per_s": sum(o["items"] for o in good) / rep["wall_s"],
    }
    fail_ratio = len(failed) / len(ops)
    # the same numbers under the names each workload's users know them by
    alias = {
        "crawl_waves": [("crawl_urls_per_s", e2e["items_per_s"], "urls/s"),
                        ("wave_p50_s", e2e["op_p50_ms"] / 1e3, "s"),
                        ("store_bytes_per_url", rep["info"].get("store_bytes_per_url", 0.0), "B")],
        "wave_kernel": [("kernel_urls_per_s", e2e["items_per_s"], "urls/s")],
    }[a.workload]
    for o in failed[:10]:
        print(f"FAILED {o['kind']} {o['name']} pass {o['pass']}: {o['why']}")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"workload {a.workload} seed {a.seed} ops {len(ops)} timed_wall_s {rep['wall_s']:.3f}")
    print("op_ms " + " ".join(f"{o['ms']:.0f}" for o in own))
    if a.trace:
        traced = [o["ms"] for o in own if o["traced"]]
        layer = dict(rep["layer"])
        layer["trace.overhead_frac"] = (quantile(traced, 0.5) / quantile(ms, 0.5) - 1.0
                                        if traced and ms else 0.0)
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: layer.get(m["name"], 0.0) for m in spec["per_layer"]}
        print(f"spans {spans}")
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    for k, v, u in ([] if a.trace else alias) + [("fail_ratio", fail_ratio, "ratio")]:
        print(f"{k} {v:.6g} {u}")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
