package graft.store

import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.concurrent.{CompletableFuture, CompletionException, ExecutorService, Executors}

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

import graft.meta.{JObj, JStr, JValue}
import graft.model.{DatasetDescriptor, TimeSpan}

/** The publish sequence both store layouts share, written once (the
  * reference's publish.py:86-553): dispatch, the in-progress guard, the
  * layout's planning, the update gate ([[PublishProtocol.checkUpdate]]),
  * the dry-run stop, the commit marker around the layout's write, and the
  * post-write attrs. A layout — the parquet [[GridStore]] or the native
  * [[ZarrStore]] — supplies only attrs storage, planning, its write and
  * its reopen. */
abstract class PublishProtocol {
  import PublishProtocol._

  def spark: SparkSession
  def path: String
  def desc: DatasetDescriptor

  // ------------------------------------------------ supplied by the layout

  /** S12 guard — `has_existing` (store.py:388-396). */
  def hasExisting: Boolean

  /** S12 — open the store's current contents (store.py:182-198). */
  def dataset(): DataFrame

  /** F1 at store level — the store's rows with `start <= time <= end`. */
  def readRange(start: LocalDateTime, end: LocalDateTime): DataFrame

  /** Root attrs as the full JSON AST, empty when there are none (nested
    * provider metadata survives read-modify-write, store.py:26-46). */
  def readAttrsJson(): JObj

  /** Replace the root attrs document. */
  def writeAttrsJson(attrs: JObj): Unit

  /** Plan an initial write (or rebuild) of `df`. */
  protected def planInitial(df: DataFrame): Planned

  /** Plan an update with `df`, running the jobs that yield the gate's
    * scalars; a dry run plans nothing the gate does not need. */
  protected def planUpdate(df: DataFrame, dryRun: Boolean): (Gate, Planned)

  // ---------------------------------------------------------------- attrs

  /** Metadata-only read of the attrs as flat strings (store.py:200-247):
    * string values verbatim, nested values rendered to compact JSON. */
  def readAttrs(): Map[String, String] =
    readAttrsJson().fields.map { case (k, v) =>
      k -> (v match { case JStr(s) => s; case other => other.render })
    }.toMap

  def writeAttrs(attrs: Map[String, String]): Unit =
    writeAttrsJson(JObj(attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> JStr(v) }))

  /** W8 partial update: patch only the given keys, preserving the rest —
    * including NESTED values of untouched keys; the failure path must
    * never clobber unrelated attrs (publish.py:211-266). */
  def patchAttrs(patch: Map[String, String]): Unit =
    writeAttrsJson(patch.toSeq.sortBy(_._1).foldLeft(readAttrsJson()) {
      case (o, (k, v)) => o.updated(k, JStr(v))
    })

  /** One JSON object document through the Hadoop FS API (so file:// and
    * s3a:// behave alike); None when absent or not an object. */
  protected def readJsonDoc(file: String): Option[JObj] = {
    val fs = GridStore.fileSystem(spark, path)
    val p = new HPath(file)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try JValue.parse(new String(in.readAllBytes(), StandardCharsets.UTF_8)) match {
        case o: JObj => Some(o)
        case _ => None
      }
      finally in.close()
    }
  }

  // ------------------------------------------------------------- protocol

  /** W2 — publish dispatch (publish.py:86-129). A dry run plans and gates
    * an update but writes nothing; `rebuild = true` is the explicit
    * request to overwrite an existing store. */
  def publish(update: DataFrame, rebuild: Boolean = false,
      dryRun: Boolean = false): Unit =
    if (!hasExisting || rebuild) { if (!dryRun) writeInitial(update) }
    else runUpdate(update, dryRun)

  /** W3 — initial write (publish.py:301-318) under the commit marker. */
  def writeInitial(df: DataFrame): Unit = {
    val p = planInitial(df)
    try withCommitMarker(computedAttrs(p.summary, isUpdate = false) ++ p.attrs)(p.write())
    finally p.release()
  }

  /** Update path (publish.py:322-356). */
  private def runUpdate(df: DataFrame, dryRun: Boolean): Unit = {
    checkNotInProgress()
    val (gate, p) = planUpdate(df, dryRun)
    try {
      checkUpdate(gate, desc.timeResolution, desc.updateCadenceBounds)
      if (!dryRun)
        withCommitMarker(computedAttrs(p.summary, isUpdate = true) ++ p.attrs)(p.write())
    } finally p.release()
  }

  /** W10 — refuse to plan an update while another writer is in flight;
    * strict string "true" mirrors the reference's strict `is True`
    * (publish.py:358-375). */
  def checkNotInProgress(): Unit =
    if (readAttrs().get(UpdateInProgressKey).contains("true"))
      throw new IllegalStateException(
        s"Store at $path has $UpdateInProgressKey=true; refusing concurrent update")

  /** W6 — the mini write-ahead protocol around every data write: set the
    * in-progress flag, run the write, then persist the full post-write
    * attrs with the flag cleared; on failure clear ONLY the flag
    * (publish.py:155-268). `postAttrs` is evaluated after the write. */
  protected def withCommitMarker(postAttrs: => Map[String, String])(write: => Unit): Unit = {
    patchAttrs(Map(UpdateInProgressKey -> "true"))
    try {
      write
      // patch (not read++write-all): nested attrs of untouched keys survive
      patchAttrs(postAttrs + (UpdateInProgressKey -> "false"))
    } catch {
      case e: Throwable =>
        patchAttrs(Map(UpdateInProgressKey -> "false"))
        throw e
    }
  }

  /** W14 — attrs assembly after a write (metadata.py:870-921): date range,
    * update range, previous end, append-only flag, and the bbox
    * union-extended over the prior one when the layout reports it. */
  private def computedAttrs(s: Summary, isUpdate: Boolean): Map[String, String] = {
    // an update never gets here empty (the gate refuses it); an initial
    // write learns it was empty from the summary read after the write
    if (s.lo == null)
      throw new IllegalStateException(s"Publish to $path contains no records")
    val (lo, hi) = (s.lo.format(AttrTimeFormat), s.hi.format(AttrTimeFormat))
    val prior = readAttrs() // one attrs read serves bbox merge + ranges
    val bboxAttrs = s.bbox match {
      case None => Map.empty[String, String]
      case Some((bb0, bb1, bb2, bb3)) =>
        // union-extend the prior bbox (metadata.py bbox merge semantics)
        val merged = prior.get("bbox") match {
          case Some(old) if isUpdate =>
            val o = old.split(",").map(_.toDouble)
            Seq(math.min(o(0), bb0), math.min(o(1), bb1),
              math.max(o(2), bb2), math.max(o(3), bb3))
          case _ => Seq(bb0, bb1, bb2, bb3)
        }
        Map("bbox" -> merged.mkString(","))
    }
    val start = if (isUpdate) prior.getOrElse("date_range_start", lo) else lo
    val priorEnd = prior.get("date_range_end")
    val end = priorEnd.filter(_ > hi).getOrElse(hi)
    Map(
      "dataset_name" -> desc.datasetName,
      "data_var" -> desc.dataVar,
      "time_resolution" -> desc.timeResolution.toString,
      "date_range_start" -> start,
      "date_range_end" -> end,
      "update_date_range_start" -> lo,
      "update_date_range_end" -> hi,
      "update_is_append_only" -> (!isUpdate).toString,
      "update_previous_end_date" -> priorEnd.getOrElse(""),
    ) ++ bboxAttrs ++ desc.staticMetadata
  }

  /** True when the dataset's first two spatial dims are latitude/longitude
    * — the attrs then carry a bbox. */
  protected def hasBbox: Boolean =
    desc.spatialDims.take(2) == Seq("latitude", "longitude")

  /** Runs `body` with its jobs labelled `graft.<layer>: <step>`, the layer
    * being the layout's class name (gridstore, zarrstore). */
  protected def label[T](step: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft.${getClass.getSimpleName.toLowerCase}: $step")
    try body finally sc.setJobDescription(prev)
  }
}

object PublishProtocol {
  val UpdateInProgressKey = "update_in_progress"

  /** Attrs time format for date ranges (metadata.py's `%Y%m%d%H`). */
  val AttrTimeFormat: DateTimeFormatter = DateTimeFormatter.ofPattern("yyyyMMddHH")

  /** The update gate's scalars: how many distinct update timesteps insert
    * into / append after the store, the first appended timestep, and the
    * store's last timestep. Times are microseconds since the epoch; a
    * zone-less wall time counts as UTC ([[ldt2micros]]), so no session or
    * JVM zone can skew the gap. */
  final case class Gate(
      inserts: Long,
      appends: Long,
      firstAppend: Option[Long],
      existingEnd: Option[Long])

  /** The scalars attrs assembly needs: the written frame's time bounds and,
    * for lat/lon grids, its rounded (minLon, minLat, maxLon, maxLat). */
  final case class Summary(
      lo: LocalDateTime,
      hi: LocalDateTime,
      bbox: Option[(Double, Double, Double, Double)])

  /** One planned write. `summary` is read only after `write` lands, so a
    * layout may compute it alongside the write; `release` runs last. */
  final class Planned(
      summary0: => Summary,
      val write: () => Unit,
      val release: () => Unit = () => (),
      val attrs: Map[String, String] = Map.empty) {
    lazy val summary: Summary = summary0
  }

  /** O9 — the update gate (publish.py:730-778) as one pure decision over
    * the scalars every layout computes: an empty update is refused, and an
    * append must start exactly one declared step (or a step inside
    * `cadenceBounds`, for irregular datasets) after the store end. Throws
    * IllegalStateException naming the violation. */
  def checkUpdate(g: Gate, resolution: TimeSpan,
      cadenceBounds: Option[(TimeSpan, TimeSpan)]): Unit = {
    if (g.inserts == 0 && g.appends == 0)
      throw new IllegalStateException("Update contains no new or changed records")
    if (g.appends > 0) {
      val (first, end) = (g.firstAppend.get, g.existingEnd.getOrElse(
        throw new IllegalStateException("Append planned against a store with no end time")))
      val deltaMin = (first - end) / 60000000L
      val contiguous = cadenceBounds match {
        case Some((lo, hi)) => deltaMin >= lo.toMinutes && deltaMin <= hi.toMinutes
        case None => deltaMin == resolution.toMinutes
      }
      if (!contiguous)
        throw new IllegalStateException(
          s"Append is not contiguous with existing end ${micros2ldt(end)} " +
            s"(gap $deltaMin min, expected ${resolution.toMinutes})")
    }
  }

  /** A wall time as microseconds since the epoch, read as UTC. */
  def ldt2micros(t: LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000

  /** The inverse of [[ldt2micros]]. */
  def micros2ldt(m: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(m / 1000000L,
      ((m % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)

  // ---------------------------------------------- overlapping independent jobs

  /** Daemon helper threads for overlapping a handful of jobs (guide §2.6). */
  private lazy val helpers: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-overlap")
    t.setDaemon(true)
    t
  }

  /** Starts `body` on a helper thread so an independent job overlaps the
    * caller's (join with [[await]]). The thread runs with the caller's
    * active session and local properties (job group, scheduler pool,
    * tracing tags) as of NOW, not as of the thread's creation. */
  def async[T](spark: SparkSession)(body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(
      SparkSession.getActiveSession.getOrElse(spark)
        .asInstanceOf[org.apache.spark.sql.classic.SparkSession], helpers)(body)

  /** Waits for an [[async]] job and rethrows its own failure. */
  def await[T](f: CompletableFuture[T]): T =
    try f.join()
    catch { case e: CompletionException if e.getCause != null => throw e.getCause }
}
