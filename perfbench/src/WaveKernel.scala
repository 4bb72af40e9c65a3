package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.crawl.{Fixtures, Scheduler}
import graft.functions.Funcs

/** wave_kernel: the engine-only steady-state wave kernel. Set-up generates
  * the pages to parquet and builds a url-bucketed seen table that leaves out
  * a seed-chosen share of the url universe (generation and table build count
  * in setup_s, never in the timed passes). Each timed pass is one op:
  *   map:   scan → hostUdf / pageParseUdf / multihash / extractLinksUdf, counted
  *   dedup: scan → extractLinksUdf → Scheduler.hashProbeNewUrls → distinct
  * and its work is the pages it read. */
object WaveKernel {
  val Buckets = 8
  /** Share of the url universe left out of the seen table, per mille. */
  val OmitPerMille = 50L
  val Setups = 3

  def site(seed: Long, toy: Boolean): Fixtures.ScaleConfig = Fixtures.ScaleConfig(
    hosts = if (toy) 8 else 64, pagesPerHost = if (toy) 32 else 512, outDegree = 8,
    contentFraction = 0.1, fillerParagraphs = 8, partitions = Buckets, seed = seed)

  def omitted(seed: Long, i: Long): Boolean =
    java.lang.Long.remainderUnsigned(Fixtures.mix(seed ^ 0x6b65726e656cL, i), 1000L) < OmitPerMille

  final case class Counts(pages: Long, titled: Long, hosts: Long, hashLen: Long,
      links: Long, novel: Long)

  /** What every pass must report, from the generator and the omitted set. */
  def expected(cfg: Fixtures.ScaleConfig): Counts = {
    val href = "<a href=\"([^\"]+)\"".r
    val n = cfg.hosts.toLong * cfg.pagesPerHost
    val index = mutable.HashMap.empty[String, Long]
    var html = 0L
    var links = 0L
    val targets = mutable.HashSet.empty[String]
    for (h <- 0 until cfg.hosts; p <- 0 until cfg.pagesPerHost) {
      val u = Fixtures.pageUrl(cfg, h, p)
      index(u) = h.toLong * cfg.pagesPerHost + p
      if (!u.endsWith(".csv") && !u.endsWith(".pdf")) {
        html += 1
        href.findAllMatchIn(Fixtures.pageHtml(cfg, h, p)).foreach { m =>
          links += 1; targets += m.group(1)
        }
      }
    }
    val novel = targets.count(t => omitted(cfg.seed, index(t))).toLong
    Counts(n + cfg.hosts, html, cfg.hosts, 68L, links, novel)
  }

  private def setup(ctx: Ctx, cfg: Fixtures.ScaleConfig, i: Int): (String, String) = {
    val spark = ctx.spark
    import spark.implicits._
    val base = ctx.dir(s"kernel-$i")
    Fixtures.scaleSitePages(spark, cfg).write.parquet(s"$base/pages")
    val n = cfg.hosts.toLong * cfg.pagesPerHost
    val seed = cfg.seed
    spark.range(0, n + cfg.hosts, 1, Buckets).as[Long]
      .filter(i => !omitted(seed, i))
      .map { i =>
        if (i < n) Fixtures.pageUrl(cfg, (i / cfg.pagesPerHost).toInt, (i % cfg.pagesPerHost).toInt)
        else s"http://${Fixtures.hostName((i - n).toInt)}/robots.txt"
      }.toDF("url")
      .write.format("parquet").bucketBy(Buckets, "url")
      .option("path", s"$base/seen").saveAsTable(s"seen_$i")
    (s"$base/pages", s"seen_$i")
  }

  private def mapPass(pages: DataFrame): Counts = {
    val r = pages
      .withColumn("host", Funcs.hostUdf(col("url")))
      .withColumn("pp", Funcs.pageParseUdf(col("html")))
      .withColumn("body_hash", Funcs.multihash(col("html")))
      .withColumn("n_links", size(Funcs.extractLinksUdf(col("url"), col("html"))))
      .agg(count(lit(1)), count(when(col("pp._3").startsWith("Page "), 1)),
        countDistinct(col("host")), min(length(col("body_hash"))), sum(col("n_links")))
      .head()
    Counts(r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3).toLong, r.getLong(4), 0L)
  }

  private def dedupPass(pages: DataFrame, seen: DataFrame): Long = {
    val cand = pages.select(explode(Funcs.extractLinksUdf(col("url"), col("html"))).as("dst"))
    Scheduler.hashProbeNewUrls(cand, seen).select("dst").distinct().count()
  }

  def run(ctx: Ctx, res: Result, tracer: Option[Tracer]): Unit = {
    val spark = ctx.spark
    val cfg = site(ctx.seed, ctx.toy)
    val tables = (0 until Setups).map { i =>
      val (r, dt) = ctx.timeS(setup(ctx, cfg, i))
      res.setupS += dt
      r
    }
    val (pagesDir, seenTable) = tables.last
    val pages = spark.read.parquet(pagesDir)
    val seen = spark.table(seenTable)
    Log.phase("setup done")
    val want = expected(cfg)
    Log.phase("expected counts done")

    val counted = mutable.ArrayBuffer.empty[Counts]
    def pass(k: Int, t: Option[Tracer]): Op = {
      def call[T](name: String)(b: => T): T = t.fold(b)(_.span(name)(b))
      def both() = (call("map")(mapPass(pages)), call("dedup")(dedupPass(pages, seen)))
      val ((c, novel), dt) = ctx.timeS(t.fold(both())(_.traced(s"pass-$k")(both())))
      val got = c.copy(links = if (ctx.corrupt && k == 0) c.links + 1 else c.links,
        novel = novel)
      val op = Op("pass", s"pass-$k", k, dt * 1e3, got.pages, t.isDefined)
      if (got != want) res.fail(op, s"counts $got, expected $want")
      if (t.isDefined) counted += got
      op
    }

    (1 to 2).foreach(i => pass(-i, None)) // warm-up, untimed
    Log.phase("warm-up done")
    // the timed loop; traced runs interleave untraced and traced passes
    val box = ctx.seconds * (if (tracer.isDefined) 2 else 1)
    def loop(): Unit = {
      val t0 = System.nanoTime()
      var k = 0
      while (k < 2 || (System.nanoTime() - t0) / 1e9 < box) {
        // ABBA order, so JIT warm-up favours neither side
        res.ops += pass(k, tracer.filter(_ => k % 4 == 1 || k % 4 == 2))
        k += 1
      }
      res.wallS = (System.nanoTime() - t0) / 1e9
    }
    tracer.fold(loop())(_.span("wave_kernel")(loop()))
    Log.phase("timed loop done")
    tracer.foreach { t =>
      t.finish()
      val passes = t.named("pass-")
      def med(xs: Seq[Double]) = Stats.median(xs)
      res.layer ++= Seq(
        "kernel.map_s" -> med(t.named("map").map(t.seconds)),
        "kernel.dedup_s" -> med(t.named("dedup").map(t.seconds)),
        "kernel.links" -> med(counted.map(_.links.toDouble).toSeq),
        "kernel.novel_urls" -> med(counted.map(_.novel.toDouble).toSeq),
        "kernel.shuffle_write_mb" -> med(t.named("dedup").map(_.counters("spark.shuffle_write_mb"))))
      res.layer ++= t.stage(passes)
    }
  }
}
