package graft.perfbench

import scala.jdk.CollectionConverters._
import graft.SparkEntry

/** Catalog probe: the ops layer through SparkEntry.queries. One analyst
  * client runs a fixed slice of the catalog, in a seed-chosen order: an
  * untimed warm-up pass, then one traced pass with a span per query. It runs
  * inside a traced run only (see NOTES.md for why there is no catalog
  * workload); every result of the traced pass is checked against DuckDB by
  * the runner. The slice holds one or more queries of each family. */
object Catalog {
  val Slice: Seq[String] = Seq(
    "s1_scan_paginate", "j1_equi_join", "a2_groupby_count", "p2_scheme_filter",
    "t16_dsir_scores", "d13_containment",
    "ann1_bruteforce_topk", "g5_resolve_redirects", "h1_trap_signals",
    "st1_tumbling_window", "x1_hash_sample", "m1_media_meta")

  /** Queries reported one by one as query.<name>_ms. */
  val Named: Seq[String] = Seq("d13_containment", "t16_dsir_scores")

  val Families: Seq[String] = Seq("scan", "join", "agg", "predicate", "text",
    "dedup", "ann", "graph", "host", "stream", "sample", "media")

  def family(q: String): String =
    if (q.startsWith("ann")) "ann"
    else if (q.startsWith("st")) "stream"
    else q.head match {
      case 's' | 'f' => "scan"
      case 'j' => "join"
      case 'a' | 'w' | 'o' => "agg"
      case 'p' => "predicate"
      case 't' => "text"
      case 'd' | 'u' => "dedup"
      case 'g' => "graph"
      case 'h' => "host"
      case 'x' => "sample"
      case 'm' => "media"
      case _ => "other"
    }

  private def tables(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).map(_.getName).sorted

  def probe(ctx: Ctx, res: Result, t: Tracer): Unit = {
    require(tables(ctx.dataDir).nonEmpty, s"no parquet tables in ${ctx.dataDir}")
    val spark = ctx.spark
    // the session settings graft.Bench uses for the catalog
    spark.conf.set("spark.sql.shuffle.partitions", ctx.cores.toString)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    Seq("spark.sql.join.preferSortMergeJoin", "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").foreach(spark.conf.unset)
    val dir = ctx.dataDir
    val out = ctx.dir("catalog-out")
    val order = new scala.util.Random(ctx.seed).shuffle(Slice)

    def pass(traced: Boolean): Unit = order.foreach { q =>
      def run() = {
        val df = SparkEntry.queries(q)(spark, dir)
        (df, df.collect())
      }
      val ((df, rows), dt) = ctx.timeS(if (traced) t.span(q)(run()) else run())
      if (traced) {
        val kept = if (ctx.corrupt && q == Slice.head) rows.dropRight(1) else rows
        spark.createDataFrame(kept.toSeq.asJava, df.schema).coalesce(1)
          .write.parquet(s"$out/$q")
        res.ops += Op("query", q, 0, dt * 1e3, 1L, traced = true)
      }
    }
    pass(traced = false) // warm-up
    Log.phase("catalog warm-up done")
    t.traced("catalog")(pass(traced = true))
    Log.phase("catalog pass done")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "oracle_sql.json"),
      Json.obj(Slice.map(q => q -> Json.str(SparkEntry.oracleSql(q)))))
    res.extra("catalog_out") = out
    t.finish()
    val calls = t.children(t.named("catalog").last)
    def secs(qs: Seq[String]) = calls.filter(s => qs.contains(s.name)).map(t.seconds).sum
    Families.foreach(f => res.layer(s"catalog.${f}_s") = secs(Slice.filter(q => family(q) == f)))
    Named.foreach(q => res.layer(s"query.${q}_ms") = secs(Seq(q)) * 1e3)
    res.layer("catalog.pass_s") = t.seconds(t.named("catalog").last)
  }
}
