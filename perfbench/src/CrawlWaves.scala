package graft.perfbench

import scala.collection.mutable
import graft.crawl._

/** crawl_waves: a multi-wave crawl of a generated web graph with a subset of
  * hosts whitelisted, robots-disallowed /admin/ pages and a content lane.
  *
  * Set-up bootstraps a state dir (page table + sources) three times and
  * reports the median. The crawl's first wave is an untimed warm-up; the
  * timed waves follow on the same crawl until quiescence, the wave cap, or
  * `seconds` (after `minWaves`). Each wave is one op of the closed-loop
  * client; its work is the urls it fetched ok.
  *
  * Known defect, deliberately not fixed here: the robots-disallowed /admin/
  * url of every whitelisted host is re-seeded and re-taken every wave
  * (taken > 0, ok = 0), so the crawl never quiesces and runs to its cap. The
  * idle-tail waves are reported as crawl.idle_tail_waves. */
object CrawlWaves {
  final case class Size(hosts: Int, pagesPerHost: Int, whitelisted: Int,
      warmupWaves: Int, minWaves: Int, waveCap: Int)

  def size(toy: Boolean): Size =
    if (toy) Size(hosts = 4, pagesPerHost = 6, whitelisted = 3, warmupWaves = 1,
      minWaves = 1, waveCap = 30)
    else Size(hosts = 48, pagesPerHost = 64, whitelisted = 32, warmupWaves = 1,
      minWaves = 2, waveCap = 30)

  def site(seed: Long, s: Size): Fixtures.ScaleConfig = Fixtures.ScaleConfig(
    hosts = s.hosts, pagesPerHost = s.pagesPerHost, outDegree = 6,
    contentFraction = 0.1, fillerParagraphs = 4, adminPages = true, seed = seed)

  val crawlCfg: CrawlConfig = CrawlConfig()

  private def bootstrap(ctx: Ctx, cfg: Fixtures.ScaleConfig, s: Size,
      name: String): (Scheduler, String) = {
    val spark = ctx.spark
    val root = ctx.dir(name)
    val sched = new Scheduler(spark, new TableStore(spark, root), crawlCfg)
    val pages = Fixtures.scaleSitePages(spark, cfg).toDF()
      .unionByName(Fixtures.pagesDF(spark, Fixtures.adminPages(cfg)))
    sched.bootstrap(pages,
      Fixtures.sourcesDF(spark, Fixtures.scaleSiteSources(cfg, s.whitelisted)))
    (sched, root)
  }

  /** One crawl driven wave by wave; traced crawls record a span per call
    * and walk the state dir after every wave. */
  private final class Crawl(ctx: Ctx, s: Size, val sched: Scheduler, val root: String,
      tracer: Option[Tracer]) {
    val ops = mutable.ArrayBuffer.empty[Op]
    val stats = mutable.ArrayBuffer.empty[Scheduler#WaveStats]
    var wallS = 0.0
    var drained = false
    var done = false
    private val rootPath = java.nio.file.Paths.get(root)
    private var walk = if (tracer.isDefined) DirWalk.sizes(rootPath) else Map.empty[String, Long]

    private def call[T](name: String)(b: => T): T = tracer.fold(b)(_.traced(name)(b))

    /** Untimed warm-up waves: JIT and codegen for the whole wave path. */
    def warmup(n: Int): Unit = {
      (0 until n).foreach(w => stats += sched.runWave(w.toLong))
      if (tracer.isDefined) walk = DirWalk.sizes(rootPath)
    }

    /** Run the next wave; `elapsed` is the timed loop's age after it. */
    def step(elapsed: () => Double, box: Double): Unit = {
      val w = stats.size.toLong
      val t0 = System.nanoTime()
      val (st, dt) = ctx.timeS(call(s"wave-$w")(sched.runWave(w)))
      ops += Op("wave", s"wave-$w", w.toInt, dt * 1e3, st.fetchedOk, tracer.isDefined)
      stats += st
      tracer.foreach { t =>
        val now = DirWalk.sizes(rootPath)
        val (b, f, bloom) = DirWalk.written(walk, now)
        t.named(s"wave-$w").last.counters ++= Seq("store.bytes_written" -> b.toDouble,
          "store.files_written" -> f.toDouble, "store.bloom_bytes_written" -> bloom.toDouble)
        walk = now
      }
      if (crawlCfg.compactEvery > 0 && w > 0 && w % crawlCfg.compactEvery == 0) {
        call(s"compact-$w")(sched.compactTables())
        if (tracer.isDefined) walk = DirWalk.sizes(rootPath)
      }
      wallS += (System.nanoTime() - t0) / 1e9
      drained = st.frontierDepth == 0 && st.enqueued == 0 && w > 0
      val quiescent = drained && st.taken == 0
      done = quiescent || stats.size >= s.waveCap ||
        (if (ctx.toy) drained else elapsed() >= box && ops.size >= s.minWaves)
    }
  }

  def run(ctx: Ctx, res: Result, tracer: Option[Tracer]): Unit = {
    val s = size(ctx.toy)
    val cfg = site(ctx.seed, s)
    def setup(name: String, t: Option[Tracer]) = {
      def boot() = bootstrap(ctx, cfg, s, name)
      val (r, dt) = ctx.timeS(t.fold(boot())(_.traced("bootstrap")(boot())))
      res.setupS += dt
      r
    }
    val (sched, root) = setup("state-timed", None)
    val (tsched, troot) = setup("state-traced", tracer)
    setup("state-spare", None)
    Log.phase("setup done")
    // traced runs interleave the waves of an untraced and a traced crawl
    val crawls = Seq(new Crawl(ctx, s, sched, root, None)) ++
      tracer.map(t => new Crawl(ctx, s, tsched, troot, Some(t)))
    crawls.foreach(_.warmup(s.warmupWaves))
    Log.phase("warm-up done")
    val box = ctx.seconds * crawls.size
    val t0 = System.nanoTime()
    var round = 0
    def loop(): Unit = while (crawls.exists(!_.done)) {
      // ABBA order, so JIT warm-up favours neither crawl
      val order = if (round % 2 == 0) crawls else crawls.reverse
      order.filter(!_.done).foreach(_.step(() => (System.nanoTime() - t0) / 1e9, box))
      round += 1
    }
    tracer.fold(loop())(_.span("crawl_waves")(loop()))
    Log.phase("timed loop done")
    crawls.foreach { c =>
      res.ops ++= c.ops
      check(ctx, cfg, s, c)
    }
    res.wallS = crawls.head.wallS
    Log.phase("checks done")
    val urlRows = sched.urlsView.count()
    res.info("store_bytes_per_url") =
      DirWalk.sizes(java.nio.file.Paths.get(root)).values.sum.toDouble / math.max(1L, urlRows)
    tracer.foreach { t =>
      val c = crawls.last
      t.traced("compact")(c.sched.compactTables())
      t.finish()
      layer(res, t, c)
    }
  }

  /** What the crawl must fetch, from the generator alone: a breadth-first
    * walk from the whitelisted roots. Html links get a HEAD (any host) and
    * then a GET when their host is whitelisted; .csv/.pdf links go to the
    * content lane as a GET (any host), and may also get a HEAD once their
    * sniffed type is known; /admin/ links are robots-disallowed.
    * Returns (GET set, HEAD set that must be reached, HEAD set allowed). */
  def expected(cfg: Fixtures.ScaleConfig, whitelisted: Int): (Set[String], Set[String], Set[String]) = {
    val href = "<a href=\"([^\"]+)\"".r
    val index = (for (h <- 0 until cfg.hosts; p <- 0 until cfg.pagesPerHost)
      yield Fixtures.pageUrl(cfg, h, p) -> (h, p)).toMap
    val wl = (0 until whitelisted).map(Fixtures.hostName).toSet
    def host(u: String) = u.stripPrefix("http://").takeWhile(_ != '/')
    def content(u: String) = u.endsWith(".csv") || u.endsWith(".pdf")
    val get = mutable.LinkedHashSet.empty[String]
    val head = mutable.Set.empty[String]
    val linkedContent = mutable.Set.empty[String]
    val queue = mutable.Queue.empty[String]
    (0 until whitelisted).map(h => Fixtures.pageUrl(cfg, h, 0)).foreach { u =>
      get += u; queue += u
    }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      val (h, p) = index(u)
      href.findAllMatchIn(Fixtures.pageHtml(cfg, h, p)).map(_.group(1)).foreach { l =>
        if (l.contains("/admin/")) ()
        else if (content(l)) { get += l; linkedContent += l }
        else {
          head += l
          if (wl(host(l)) && index.contains(l) && get.add(l)) queue += l
        }
      }
    }
    (get.toSet, head.toSet, (head ++ linkedContent).toSet)
  }

  private def robotsDelay(cfg: Fixtures.ScaleConfig, host: String): Double = {
    val h = host.stripPrefix("host").takeWhile(_.isDigit).toInt
    val d = "Crawl-delay: ([0-9.]+)".r.findFirstMatchIn(Fixtures.robotsFor(cfg, h))
      .map(_.group(1).toDouble).getOrElse(0.0)
    math.max(d, crawlCfg.crawlDelaySec)
  }

  /** Output checks. A violation fails the wave that fetched the offending
    * row; a missing url at drain fails the last wave. */
  private def check(ctx: Ctx, cfg: Fixtures.ScaleConfig, s: Size, c: Crawl): Unit = {
    val (expGet, needHead, okHead) = expected(cfg, s.whitelisted)
    final case class F(wave: Long, vt: Double, host: String, lane: String,
        method: String, url: String, outcome: String)
    val rows = c.sched.fetchLogView
      .select("wave", "vt", "host", "lane", "method", "url", "outcome").collect()
      .map(r => F(r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3),
        r.getString(4), r.getString(5), r.getString(6))).toSeq
    val injected = if (ctx.corrupt) Seq(F(0L, 0.0, Fixtures.hostName(cfg.hosts - 1), "A",
      "GET", Fixtures.pageUrl(cfg, cfg.hosts - 1, 1), "ok")) else Nil
    val log = rows ++ injected
    val byWave = c.ops.map(o => o.pass.toLong -> o).toMap
    def fail(w: Long, why: String): Unit =
      byWave.get(w).orElse(c.ops.lastOption).foreach(o => if (!o.failed) { o.failed = true; o.why = why })
    val ok = log.filter(_.outcome == "ok")
    ok.foreach { f =>
      if (f.url.contains("/admin/")) fail(f.wave, s"fetched disallowed ${f.url}")
      else if (f.method == "GET" && !expGet(f.url)) fail(f.wave, s"GET outside reachable set ${f.url}")
      else if (f.method == "HEAD" && !okHead(f.url)) fail(f.wave, s"HEAD outside reachable set ${f.url}")
    }
    log.filter(f => Set("ok", "error", "disallowed")(f.outcome))
      .groupBy(f => (f.host, f.lane)).foreach { case ((host, lane), fs) =>
        val d = robotsDelay(cfg, host)
        fs.sortBy(_.vt).sliding(2).foreach {
          case Seq(a, b) if b.vt - a.vt < d - 1e-9 =>
            fail(b.wave, f"vt gap ${b.vt - a.vt}%.3f < delay $d on $host/$lane")
          case _ => ()
        }
      }
    if (c.drained) {
      val gotGet = ok.filter(_.method == "GET").map(_.url).toSet
      val gotHead = ok.filter(_.method == "HEAD").map(_.url).toSet
      if (gotGet != expGet || !needHead.subsetOf(gotHead))
        fail(c.stats.last.wave, s"drained with GET ${gotGet.size}/${expGet.size} " +
          s"HEAD ${(needHead & gotHead).size}/${needHead.size} of the reachable set")
    }
  }

  private def layer(res: Result, t: Tracer, c: Crawl): Unit = {
    val waves = t.named("wave-")
    val timed = c.stats.drop(c.stats.size - waves.size)
    val n = math.max(1, waves.size).toDouble
    def perWave(k: String) = waves.map(_.counters.getOrElse(k, 0.0)).sum / n
    val taken = timed.map(_.taken).sum.toDouble
    val ok = timed.map(_.fetchedOk).sum.toDouble
    val all = DirWalk.sizes(java.nio.file.Paths.get(c.root))
    res.layer ++= Seq(
      "crawl.bootstrap_s" -> t.seconds(t.named("bootstrap").head),
      "crawl.compact_s" -> t.seconds(t.named("compact").last),
      "crawl.wave_max_s" -> waves.map(t.seconds).max,
      "crawl.waves" -> waves.size.toDouble,
      "crawl.taken" -> taken,
      "crawl.fetched_ok" -> ok,
      "crawl.enqueued" -> timed.map(_.enqueued).sum.toDouble,
      "crawl.fetch_ok_ratio" -> ok / math.max(1.0, taken),
      "crawl.idle_tail_waves" -> timed.count(s => s.taken > 0 && s.fetchedOk == 0).toDouble,
      "crawl.jobs_per_wave" -> perWave("spark.jobs"),
      "crawl.tasks_per_wave" -> perWave("spark.tasks"),
      "crawl.driver_only_s_per_wave" -> perWave("spark.driver_only_s"),
      "store.bytes_written_per_wave" -> perWave("store.bytes_written"),
      "store.files_written_per_wave" -> perWave("store.files_written"),
      "store.bloom_bytes_written_per_wave" -> perWave("store.bloom_bytes_written"),
      "store.bytes_total" -> all.values.sum.toDouble,
      "store.files_total" -> all.size.toDouble)
    res.layer ++= t.stage(waves)
  }
}
