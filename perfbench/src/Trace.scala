package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One closed span: a call from the benchmark into one layer. Times are
  * wall-clock milliseconds (comparable with Spark's event times) plus
  * nanoTime for the duration itself. */
final case class Span(id: Int, parent: Int, name: String, runId: String,
    startMs: Long, endMs: Long, durNs: Long,
    fsBytesRead: Long, fsBytesWritten: Long, fsWriteOps: Long, gcMs: Long)

/** Spark job as seen by the listener: which span submitted it (the
  * driver-thread local property set while the span is open) and when it
  * ran. */
final class JobRec(val span: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
}

/** Per-span counters folded from task ends. */
final class SpanCounts {
  var tasks = 0L; var taskRunMs = 0L
  var shuffleWrite = 0L; var inputBytes = 0L; var outputBytes = 0L
}

/** Query seen by the QueryExecutionListener: planning phases and the
  * execution duration; attributed to a span by its planning start time. */
final case class QueryRec(startMs: Long, planMs: Long, execNs: Long)

/** In-memory span recorder. Disabled (the untimed default) it adds one
  * branch per call and installs no listener. Enabled, it installs a
  * SparkListener, a QueryExecutionListener and snapshots Hadoop
  * FileSystem statistics around each span; everything is attributed to
  * the innermost open span and written out as JSON at the end. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val SpanProp = "perfbench.span"
  private var enabled = false
  private var nextId = 1
  private val stack = mutable.ArrayStack.empty[Int]
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val counts = new ConcurrentHashMap[Int, SpanCounts]()
  val queries = new java.util.concurrent.ConcurrentLinkedQueue[QueryRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      e.stageIds.foreach(stageSpan.put(_, span))
      jobs.put(e.jobId, new JobRec(span, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span: Int = stageSpan.getOrDefault(e.stageId, 0)
      val c = counts.computeIfAbsent(span, _ => new SpanCounts)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe, 0L)
    private def record(qe: QueryExecution, execNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        queries.add(QueryRec(phases.map(_.startTimeMs).min,
          phases.map(p => p.endTimeMs - p.startTimeMs).sum, execNs))
    }
  }

  /** Attach the listeners; spans recorded from here on carry counts. */
  def enable(): Unit = if (!enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    enabled = true
  }

  /** Detach the listeners: the timed path of an untraced operation runs
    * with no listener installed at all. */
  def disable(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    enabled = false
  }

  /** Listener events are asynchronous: wait until every job started under
    * a span has reported its end (bounded), so counts are complete. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    while (jobs.values.asScala.exists(_.endMs < 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
    // query-listener callbacks ride a separate queue: wait until none has
    // arrived for 150 ms
    var seen = -1
    while (seen != queries.size && System.currentTimeMillis() < deadline) {
      seen = queries.size
      Thread.sleep(150)
    }
  }

  private def fsStats: (Long, Long, Long) = {
    var r = 0L; var w = 0L; var wo = 0L
    FileSystem.getAllStatistics.asScala.foreach { s =>
      r += s.getBytesRead; w += s.getBytesWritten; wo += s.getWriteOps
    }
    (r, w, wo)
  }

  private def gcMs: Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Run `body` inside a span named `name` (a `layer.step` name). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val sc = spark.sparkContext
      val prevProp = sc.getLocalProperty(SpanProp)
      stack.push(id)
      sc.setLocalProperty(SpanProp, id.toString)
      val (r0, w0, wo0) = fsStats
      val gc0 = gcMs
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val dur = System.nanoTime() - t0
        val endMs = System.currentTimeMillis()
        val (r1, w1, wo1) = fsStats
        spans += Span(id, parent, name, runId, startMs, endMs, dur,
          r1 - r0, w1 - w0, wo1 - wo0, gcMs - gc0)
        stack.pop()
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Spans as JSON, one object per span, with the listener counts folded
    * in. */
  def toJson: String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    spans.sortBy(_.id).map { s =>
      val c = Option(counts.get(s.id)).getOrElse(new SpanCounts)
      val nJobs = jobs.values.asScala.count(_.span == s.id)
      s"""{"id":${s.id},"parent":${s.parent},"name":${q(s.name)},""" +
        s""""run_id":${q(s.runId)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""dur_ns":${s.durNs},"jobs":$nJobs,"tasks":${c.tasks},""" +
        s""""task_run_ms":${c.taskRunMs},"shuffle_write_bytes":${c.shuffleWrite},""" +
        s""""input_bytes":${c.inputBytes},"output_bytes":${c.outputBytes},""" +
        s""""fs_bytes_read":${s.fsBytesRead},"fs_bytes_written":${s.fsBytesWritten},""" +
        s""""fs_write_ops":${s.fsWriteOps},"gc_ms":${s.gcMs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Folds recorded spans into per-layer figures: self time (a span's
  * duration minus its direct children), job/task counts, Spark planning vs
  * execution, the driver gap (span wall time with no job running) and
  * busy ratio (task run time over wall time × cores). */
final class SpanReport(t: Tracer) {
  private val byId = t.spans.map(s => s.id -> s).toMap
  private val children: Map[Int, Seq[Span]] = t.spans.toSeq.groupBy(_.parent)

  def selfNs(s: Span): Long =
    s.durNs - children.getOrElse(s.id, Nil).map(_.durNs).sum

  /** All span ids in the subtree rooted at `s`. */
  def subtree(s: Span): Seq[Int] =
    s.id +: children.getOrElse(s.id, Nil).flatMap(subtree)

  def jobsOf(ids: Set[Int]): Seq[JobRec] =
    t.jobs.values.asScala.toSeq.filter(j => ids.contains(j.span))

  def selfJobs(s: Span): Int = jobsOf(Set(s.id)).size

  def selfCounts(s: Span): SpanCounts =
    Option(t.counts.get(s.id)).getOrElse(new SpanCounts)

  /** Wall ms of `s` during which no job of its subtree was running. */
  def driverGapMs(s: Span): Long = {
    val iv = jobsOf(subtree(s).toSet).filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (s.endMs - s.startMs) - covered)
  }

  def taskRunMs(s: Span): Long =
    subtree(s).map(id => Option(t.counts.get(id)).map(_.taskRunMs).getOrElse(0L)).sum

  /** Queries whose planning started inside `s` (ms resolution). */
  def queriesIn(s: Span): Seq[QueryRec] =
    t.queries.asScala.toSeq.filter(q => q.startMs >= s.startMs && q.startMs <= s.endMs)

  def span(id: Int): Option[Span] = byId.get(id)
}
