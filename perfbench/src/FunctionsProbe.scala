package graft.perfbench

import graft.crawl.Fixtures
import graft.functions.{GoUrl, Hashing, LinkExtract, Sniff}

/** functions layer: a single-thread driver loop over a fixed page sample,
  * timing each scalar kernel in isolation (median of five rounds). */
object FunctionsProbe {
  @volatile private var sink: Long = 0L

  private def nsPer(items: Int)(body: => Long): Double = {
    val rounds = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var n = 0
      var acc = 0L
      while (System.nanoTime() - t0 < 100000000L) { acc += body; n += 1 }
      sink += acc
      (System.nanoTime() - t0).toDouble / (n.toLong * items)
    }
    Stats.median(rounds)
  }

  def run(ctx: Ctx, res: Result): Unit = {
    val cfg = Fixtures.ScaleConfig(hosts = 16, pagesPerHost = 16, outDegree = 8,
      fillerParagraphs = 8, seed = ctx.seed)
    val pages = for (h <- 0 until cfg.hosts; p <- 0 until cfg.pagesPerHost)
      yield (Fixtures.pageUrl(cfg, h, p), Fixtures.pageHtml(cfg, h, p).getBytes("UTF-8"))
    val urls = pages.map(_._1).toArray
    val bodies = pages.map(_._2).toArray
    val kb = bodies.map(_.length.toLong).sum / 1024.0
    res.layer ++= Seq(
      "functions.page_parse_ns" -> nsPer(bodies.length)(bodies.map { b =>
        Sniff.detectContentType(b).length.toLong + LinkExtract.titleFromBody(b).length
      }.sum),
      "functions.extract_links_ns" -> nsPer(bodies.length)(pages.map { case (u, b) =>
        LinkExtract.extractLinksFromBody(u, b).size.toLong
      }.sum),
      "functions.host_ns" -> nsPer(urls.length)(urls.map(GoUrl.hostOf(_).length.toLong).sum),
      "functions.url_parse_ns" -> nsPer(urls.length)(urls.map(u => GoUrl.parse(u).fold(_ => 0L, _.path.length.toLong)).sum),
      "functions.multihash_ns_per_kb" -> nsPer(1)(bodies.map(Hashing.multihash(_).length.toLong).sum) / kb)
  }
}
