package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One task as the listener saw it (times in epoch ms, sizes in bytes). */
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long)

/** Records every job and task while registered. Jobs are attributed to the
  * benchmark's call spans by submission time: the client is closed-loop, so
  * at most one call is in flight. (The job-group property cannot be used:
  * the crawl wave submits from a thread pool whose threads copy the group
  * once, when they are created.) */
final class StageListener extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[(Long, Seq[Int])]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.time, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  /** Stage metrics of the jobs submitted inside any of the intervals
    * (epoch ms); wall time is the intervals' total length. */
  def window(ivs: Seq[(Long, Long)], cores: Int): Map[String, Double] = synchronized {
    val js = jobs.filter { case (t, _) => ivs.exists { case (a, b) => t >= a && t <= b } }.toSeq
    val stageIds = js.flatMap(_._2).toSet
    val ts = tasks.filter(t => stageIds.contains(t.stage)).toSeq
    val wallMs = math.max(1L, ivs.map { case (a, b) => b - a }.sum)
    val durs = ts.map(t => (t.finishMs - t.launchMs).toDouble)
    val skew: Seq[Double] = ts.groupBy(_.stage).values.filter(_.size > 1).toSeq.map { st =>
      val d = st.map(t => (t.finishMs - t.launchMs).toDouble)
      d.max / math.max(1.0, Stats.median(d))
    }
    val runS = ts.map(_.runMs).sum / 1e3
    val spans = ts.map(t => (t.launchMs, t.finishMs))
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> ts.map(_.stage).distinct.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "task_run_s" -> runS,
      "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "task_ms_p50" -> (if (durs.isEmpty) 0.0 else Stats.median(durs)),
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1048576.0,
      "shuffle_read_mb" -> ts.map(_.shuffleRead).sum / 1048576.0,
      "spill_mb" -> ts.map(_.spill).sum / 1048576.0,
      "task_skew" -> (if (skew.isEmpty) 1.0 else skew.max),
      "core_busy_frac" -> runS / (wallMs / 1e3 * cores),
      "driver_only_s" -> ivs.map { case (a, b) => StageListener.uncovered(a, b, spans) }.sum / 1e3)
  }
}

object StageListener {
  /** Milliseconds of [from, to] during which none of `iv` was running. */
  def uncovered(from: Long, to: Long, iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var end = from
    iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (to - from) - covered
  }
}

final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    startNs: Long, var endMs: Long = 0L, var endNs: Long = 0L,
    counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty)

/** Spans in memory, written out when the run ends. They nest
  * workload → pass → call and share one run id. Counters from the listener
  * are attached after the traced region, when the event bus has drained. */
final class Tracer(val runId: String, sc: SparkContext, cores: Int) {

  val listener = new StageListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  private var listening = false

  /** Listen only around traced calls, so untraced calls in between pay
    * nothing for the listener. */
  def resume(): Unit = if (!listening) { sc.addSparkListener(listener); listening = true }

  def pause(): Unit = if (listening) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    listening = false
  }

  /** Run `body` as a traced call: listener on, inside a span. */
  def traced[T](name: String)(body: => T): T = {
    resume()
    try span(name)(body) finally pause()
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.getOrElse(-1), name,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s.id :: stack
    try body finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
    }
  }

  def seconds(s: Span): Double = (s.endNs - s.startNs) / 1e9

  def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix)).toSeq

  def children(p: Span): Seq[Span] = spans.filter(_.parent == p.id).toSeq

  /** Stop listening and attach stage metrics to every span. */
  def finish(): Unit = {
    pause()
    spans.foreach(s => stage(Seq(s)).foreach { case (k, v) => s.counters(k) = v })
  }

  /** spark.* metrics over the given spans together. */
  def stage(ss: Seq[Span]): Map[String, Double] =
    listener.window(ss.map(s => (s.startMs, s.endMs)), cores)
      .map { case (k, v) => ("spark." + k) -> v }

  def toJson: String = Json.arr(spans.map { s =>
    Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
      "parent" -> s.parent.toString, "name" -> Json.str(s.name),
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "dur_s" -> Json.num(seconds(s)),
      "counters" -> Json.obj(s.counters.toSeq.map { case (k, v) => k -> Json.num(v) })))
  }.toSeq)
}

/** Size of every file under a directory, keyed by relative path. */
object DirWalk {
  def sizes(root: java.nio.file.Path): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    if (!java.nio.file.Files.isDirectory(root)) Map.empty
    else {
      val st = java.nio.file.Files.walk(root)
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> java.nio.file.Files.size(p)).toMap
      finally st.close()
    }
  }

  /** (bytes, files, bloom-shard bytes) of files that are new or changed in
    * `after` relative to `before`. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Long, Long) = {
    val fresh = after.filter { case (k, v) => !before.get(k).contains(v) }
    (fresh.values.sum, fresh.size.toLong,
      fresh.filter(_._1.startsWith("seen_bloom")).values.sum)
  }
}
