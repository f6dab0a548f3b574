package perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Task counters of one span's job group. */
final class GroupStats {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** task durations (ms) per stage, for the skew figure */
  val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** max ÷ median task time of the stage with the most task time; 1 when
    * no stage ran more than one task. */
  def taskSkew: Double = {
    val multi = durations.values.filter(_.length > 1)
    if (multi.isEmpty) 1.0
    else {
      val d = multi.maxBy(_.sum).sorted
      val median = math.max(d(d.length / 2), 1L)
      d.last.toDouble / median
    }
  }
}

/** Collects task counters per job group. A span sets its own job group, so
  * every task a layer call causes is counted against that span. */
final class SpanListener extends SparkListener {
  private val stageGroup =
    new java.util.concurrent.ConcurrentHashMap[Int, String]
  private val groups = mutable.Map.empty[String, GroupStats]

  def stats(group: String): GroupStats = synchronized {
    groups.getOrElseUpdate(group, new GroupStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id"))
      .orNull
    if (g != null) {
      e.stageIds.foreach(stageGroup.put(_, g))
      val s = stats(g)
      synchronized { s.jobs += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null) {
      val s = stats(g)
      synchronized {
        s.tasks += 1
        if (e.reason != Success) s.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.diskBytesSpilled
        }
        s.durations.getOrElseUpdate(e.stageId,
          mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
      }
    }
  }
}

/** Spans around the benchmark's calls into the engine's layers. Spans stay
  * in memory and are written as JSON when the traced run ends.
  *
  * A span records its name, start, end and parent. Its Spark counters
  * come from its own job group, and the listener bus is drained before
  * the next span starts, so no task lands in the wrong span. The drain
  * happens after the span's end time is taken: its cost is the parent's
  * self time, which for the root is `trace.uncovered_s`.
  */
final class Tracer(sc: SparkContext) {
  final class Span(val id: Int, val name: String, val parent: Int,
      val start: Long) {
    var end = 0L
    def group: String = s"perfbench-span-$id"
    def wallS: Double = (end - start) / 1e9
  }

  private val listener = new SpanListener
  sc.addSparkListener(listener)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.length, name, open.headOption.fold(-1)(_.id),
      System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(s.group, name)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name)
        case None => sc.clearJobGroup()
      }
      PerfbenchBus.drain(sc)
    }
  }

  def stats(s: Span): GroupStats = listener.stats(s.group)

  def close(): Unit = sc.removeSparkListener(listener)

  def root: Span = spans.find(_.parent < 0).get

  /** Span duration minus the part of it its children cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end))
      .sortBy(_._1)
    var covered = 0L
    var reach = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    (s.end - s.start - covered) / 1e9
  }

  /** Problems with the span tree; empty when it is well formed: exactly
    * one root, every other span's parent exists and encloses it, siblings
    * do not overlap, and Σ self time of the non-root spans plus the root's
    * self time (the uncovered time) equals the traced wall. */
  def selfCheck(): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val roots = spans.filter(_.parent < 0)
    if (roots.length != 1) problems += s"${roots.length} root spans"
    spans.filter(_.parent >= 0).foreach { s =>
      if (s.parent >= spans.length) problems += s"span ${s.id} has no parent"
      else {
        val p = spans(s.parent)
        if (s.start < p.start || s.end > p.end)
          problems += s"span ${s.id} (${s.name}) leaves its parent ${p.id}"
      }
    }
    spans.groupBy(_.parent).values.foreach { sib =>
      val byStart = sib.sortBy(_.start)
      byStart.zip(byStart.drop(1)).foreach { case (a, b) =>
        if (b.start < a.end) problems += s"spans ${a.id} and ${b.id} overlap"
      }
    }
    if (roots.length == 1) {
      val sum = spans.filter(_.parent >= 0).map(selfS).sum + selfS(roots.head)
      if (math.abs(sum - roots.head.wallS) > 1e-6)
        problems += f"self times sum to $sum%.6f s, traced wall is " +
          f"${roots.head.wallS}%.6f s"
    }
    problems.toSeq
  }

  /** Per-layer metrics summed over the spans of each name. */
  def layerMetrics(skewed: Set[String]): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    spans.filter(_.parent >= 0).groupBy(_.name).foreach { case (name, ss) =>
      val st = ss.map(stats)
      out(s"$name.wall_s") = ss.map(_.wallS).sum
      out(s"$name.cpu_s") = st.map(_.cpuNs).sum / 1e9
      out(s"$name.shuffle_mb") = st.map(_.shuffleWriteBytes).sum / 1e6
      out(s"$name.spill_mb") = st.map(_.spillBytes).sum / 1e6
      out(s"$name.gc_s") = st.map(_.gcMs).sum / 1e3
      out(s"$name.jobs") = st.map(_.jobs).sum.toDouble
      if (skewed(name)) out(s"$name.task_skew") = st.map(_.taskSkew).max
    }
    out("trace.wall_s") = root.wallS
    out("trace.uncovered_s") = selfS(root)
    out("spark.tasks_failed") = spans.map(s => stats(s).failedTasks).sum.toDouble
    out.toMap
  }

  def toJson(extra: Map[String, Double]): String = {
    val t0 = root.start
    val rows = spans.map { s =>
      val st = stats(s)
      Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent),
        "start_s" -> Json.num((s.start - t0) / 1e9),
        "end_s" -> Json.num((s.end - t0) / 1e9),
        "wall_s" -> Json.num(s.wallS), "self_s" -> Json.num(selfS(s)),
        "cpu_s" -> Json.num(st.cpuNs / 1e9),
        "shuffle_mb" -> Json.num(st.shuffleWriteBytes / 1e6),
        "spill_mb" -> Json.num(st.spillBytes / 1e6),
        "gc_s" -> Json.num(st.gcMs / 1e3), "jobs" -> Json.num(st.jobs),
        "tasks" -> Json.num(st.tasks),
        "failed_tasks" -> Json.num(st.failedTasks),
        "task_skew" -> Json.num(st.taskSkew)))
    }
    Json.obj(Seq(
      "spans" -> rows.mkString("[\n", ",\n", "\n]"),
      "metrics" -> Json.obj(extra.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) })))
  }
}

/** The few JSON shapes the benchmark writes. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
