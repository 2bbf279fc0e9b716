package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SqlEventBridge
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval: the workload, a pass, a public call, or a Spark job.
  * Times are `System.nanoTime` values; job spans come from listener events
  * and have millisecond resolution. */
final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
  @volatile var endNs: Long = -1L
  private val counts = mutable.Map.empty[String, Double]
  private val triggers = mutable.ArrayBuffer.empty[Double]

  def durationNs: Long = endNs - startNs
  def seconds: Double = durationNs / 1e9
  def add(key: String, v: Double): Unit = synchronized { counts(key) = counts.getOrElse(key, 0.0) + v }
  def count(key: String): Double = synchronized { counts.getOrElse(key, 0.0) }
  def addTrigger(ms: Double): Unit = synchronized { triggers += ms }
  def triggerMs: Seq[Double] = synchronized { triggers.toSeq }
  def countsJson: String = synchronized {
    counts.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
  }
}

object Spans {
  /** Nanoseconds of [start, end) covered by the union of `intervals`. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open || a > curB) {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      } else if (b > curB) curB = b
    }
    if (open) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part its children cover. */
  def selfNs(span: Span, children: Seq[Span]): Long =
    span.durationNs - covered(span.startNs, span.endNs, children.map(c => (c.startNs, c.endNs)))
}

/** Spans around the benchmark's calls into the library, plus, when
  * `enabled`, the Spark jobs those calls ran and their task, planning and
  * streaming-trigger counters, taken from one `SparkListener` the benchmark
  * registers. Spans stay in memory until [[json]] writes them out. With
  * `enabled = false` only the benchmark's own spans are timed and no
  * listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, Span]
  private val stageToJob = mutable.Map.empty[Int, Span]
  private val PropKey = "perfbench.span"
  // listener events carry epoch milliseconds; map them onto the nanoTime axis
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + offsetNs

  private def open(name: String, parent: Int, startNs: Long): Span = spans.synchronized {
    val s = new Span(spans.length, parent, name, startNs)
    spans += s
    s
  }

  val root: Span = open("workload", -1, System.nanoTime())
  @volatile private var current: Span = root

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Times `body` as a child of the innermost open span. When tracing, jobs
    * started inside inherit the span id as a local property, and the span
    * closes only after the listener bus has delivered their events. */
  def span[A](name: String)(body: => A): A = {
    val prev = current
    val gc0 = gcMs
    val s = open(name, prev.id, System.nanoTime())
    current = s
    if (enabled) sc.setLocalProperty(PropKey, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.add("driver_gc_ms", (gcMs - gc0).toDouble)
      if (enabled) {
        ListenerBusBridge.drain(sc)
        sc.setLocalProperty(PropKey, prev.id.toString)
      }
      current = prev
    }
  }

  def finish(): Unit = root.endNs = System.nanoTime()

  def all: Seq[Span] = spans.synchronized(spans.toSeq)
  def children(s: Span): Seq[Span] = all.filter(_.parent == s.id)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def descendants(s: Span): Seq[Span] = {
    val kids = children(s)
    kids ++ kids.flatMap(descendants)
  }
  def jobsUnder(s: Span): Seq[Span] = descendants(s).filter(_.name == "job")
  /** `key` summed over `s` and every span below it. */
  def total(s: Span, key: String): Double = s.count(key) + descendants(s).map(_.count(key)).sum

  /** Seconds of `s` during which at least one of its jobs ran. */
  def jobSeconds(s: Span): Double =
    Spans.covered(s.startNs, s.endNs, jobsUnder(s).map(j => (j.startNs, j.endNs))) / 1e9

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(PropKey))).map(_.toInt).getOrElse(root.id)
      val s = open("job", parent, msToNs(e.time))
      jobs.synchronized {
        jobs(e.jobId) = s
        e.stageIds.foreach(id => stageToJob(id) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.synchronized(jobs.get(e.jobId)).foreach(_.endNs = msToNs(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized(stageToJob.get(e.stageInfo.stageId)).foreach(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      jobs.synchronized(stageToJob.get(e.stageId)).foreach { j =>
        j.add("tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          j.add("task_cpu_s", m.executorCpuTime / 1e9)
          j.add("task_run_s", m.executorRunTime / 1e3)
          j.add("task_gc_s", m.jvmGCTime / 1e3)
          j.add("result_mb", m.resultSize / 1e6)
          j.add("spill_mb", m.diskBytesSpilled / 1e6)
          j.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          j.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        }
      }
    // SQL and streaming events of every session, including the sessions
    // catalog entries fork, arrive on the shared bus as "other" events; a
    // per-session QueryExecutionListener or StreamingQueryListener would
    // miss the forked ones
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        SqlEventBridge.planningMs(end).foreach(ms => current.add("planning_ms", ms))
      case p: StreamingQueryListener.QueryProgressEvent =>
        Option(p.progress.durationMs.get("triggerExecution")).foreach(ms => current.addTrigger(ms.doubleValue))
      case _ =>
    }
  }

  if (enabled) sc.addSparkListener(listener)

  def close(): Unit = if (enabled) {
    ListenerBusBridge.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Every span as one JSON object per line. */
  def json: String = all.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs},"counts":${s.countsJson},"trigger_ms":${s.triggerMs.map(Json.num).mkString("[", ",", "]")}}"""
  }.mkString("", "\n", "\n")
}
