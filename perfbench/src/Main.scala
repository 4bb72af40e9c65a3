package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

object Stats {
  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}

/** One timed call of the closed-loop client. `items` is the work it did
  * (fetched-ok urls, pages, or one query); a failed op never counts as
  * timed work. */
final case class Op(kind: String, name: String, pass: Int, ms: Double,
    items: Long, traced: Boolean, var failed: Boolean = false,
    var why: String = "")

/** Everything a workload reports; the runner turns it into metrics. */
final class Result {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Wall time of the timed loop. */
  var wallS = 0.0
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, String]

  def fail(op: Op, why: String): Unit = if (!op.failed) { op.failed = true; op.why = why }
}

/** Phase marks on stderr; the runner passes them through. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0) / 1e3}%7.2fs $what")
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, work: java.nio.file.Path, toy: Boolean, corrupt: Boolean,
    dataDir: String, cores: Int) {
  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def dir(name: String): String = {
    val d = work.resolve(name)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }
}

/** One-process benchmark driver: one workload, one closed-loop client, in
  * one JVM at local[4]. Writes a JSON report that perfbench/run.py turns
  * into metrics. */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.get("selftest").contains("walk")) { selfTestWalk(); return }
    val workload = a("workload")
    val work = java.nio.file.Paths.get(a("work")).toAbsolutePath
    java.nio.file.Files.createDirectories(work)
    val spark = session(workload, work)
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toDouble,
      a.get("trace").contains("1"), work, a.get("toy").contains("1"),
      a.get("corrupt").contains("1"), a.getOrElse("data", ""), Cores)
    val tracer = if (ctx.trace) Some(new Tracer(
      s"$workload-${ctx.seed}-${System.currentTimeMillis()}", spark.sparkContext, Cores)) else None
    val res = new Result
    Log.phase("session up")
    try {
      workload match {
        case "crawl_waves" => CrawlWaves.run(ctx, res, tracer)
        case "wave_kernel" =>
          WaveKernel.run(ctx, res, tracer)
          tracer.foreach(Catalog.probe(ctx, res, _))
        case other => sys.error(s"unknown workload $other")
      }
      Log.phase("workload done")
      tracer.foreach { t =>
        FunctionsProbe.run(ctx, res)
        Log.phase("functions probe done")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(a("spans")), t.toJson)
      }
    } finally spark.stop()
    res.info("peak_rss_mb") = peakRssMb()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a("out")), report(res))
  }

  private def session(workload: String, work: java.nio.file.Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.adaptive.enabled", "true")
    // the same session settings graft.Bench uses for each kind of work
    workload match {
      case "crawl_waves" => b.config("spark.sql.shuffle.partitions", "4")
          .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      case _ => b.config("spark.sql.shuffle.partitions", WaveKernel.Buckets.toString)
          .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
          .config("spark.sql.join.preferSortMergeJoin", "false")
          .config("spark.sql.autoBroadcastJoinThreshold", (1L << 20).toString)
          .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) 0.0
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(f).asScala.find(_.startsWith("VmHWM:"))
        .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    }
  }

  private def report(r: Result): String = {
    def m(x: mutable.LinkedHashMap[String, Double]) =
      Json.obj(x.toSeq.map { case (k, v) => k -> Json.num(v) })
    Json.obj(Seq(
      "setup_s" -> Json.arr(r.setupS.map(Json.num).toSeq),
      "wall_s" -> Json.num(r.wallS),
      "ops" -> Json.arr(r.ops.map { o =>
        Json.obj(Seq("kind" -> Json.str(o.kind), "name" -> Json.str(o.name),
          "pass" -> o.pass.toString, "ms" -> Json.num(o.ms),
          "items" -> o.items.toString, "traced" -> o.traced.toString,
          "failed" -> o.failed.toString, "why" -> Json.str(o.why)))
      }.toSeq),
      "layer" -> m(r.layer),
      "info" -> m(r.info),
      "extra" -> Json.obj(r.extra.toSeq.map { case (k, v) => k -> Json.str(v) })))
  }

  /** The state-dir walk must credit a new bloom shard file to the bloom
    * bytes, and every new file to the totals. */
  private def selfTestWalk(): Unit = {
    import java.nio.file.Files
    val root = Files.createTempDirectory("perfbench-walk")
    Files.createDirectories(root.resolve("urls/v1"))
    Files.write(root.resolve("urls/v1/part-0.parquet"), new Array[Byte](50))
    val before = DirWalk.sizes(root)
    Files.createDirectories(root.resolve("seen_bloom/v2"))
    Files.write(root.resolve("seen_bloom/v2/shard-3.bloom"), new Array[Byte](100))
    Files.createDirectories(root.resolve("urls/v2"))
    Files.write(root.resolve("urls/v2/part-0.parquet"), new Array[Byte](30))
    val got = DirWalk.written(before, DirWalk.sizes(root))
    Files.walk(root).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    require(got == ((130L, 2L, 100L)), s"walk attributed $got, expected (130,2,100)")
    println("walk ok")
  }
}
