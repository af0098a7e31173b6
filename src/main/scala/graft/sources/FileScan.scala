package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path => HPath}

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.meta.{JArr, JStr, JValue}

/** The file-source skeleton every DSv2 file scan shares (grib1,
  * grib-spectral, netcdf, geotiff, warc, webdataset, zip): which paths a
  * read names, which files they list, and how a landing directory streams.
  * Split sizing is [[SplitBudget]]'s. */
object FileScan {

  /** The read's paths: Spark's `paths` JSON array, as `load(p1, p2, …)`
    * sets it, else the single `path`. */
  def paths(options: CaseInsensitiveStringMap): Seq[String] =
    Option(options.get("paths")) match {
      case Some(js) => JValue.parse(js) match {
        case JArr(items) => items.map {
          case JStr(p) => p
          case other => throw new IllegalArgumentException(
            s"paths option holds a non-string $other")
        }
        case other => throw new IllegalArgumentException(
          s"paths option is not a JSON array: $other")
      }
      case None => Option(options.get("path")).toSeq
    }

  /** Natural-sorted files under the given paths: a directory expands to
    * its files whose names pass `accept`, a file is taken as named, and a
    * missing path (a streaming landing dir not yet created) lists as empty.
    * Statuses resolve on a bounded pool: a manager passing one explicit
    * path per archive FILE must not pay O(files) SERIAL remote round trips
    * at planning. Natural order (`Manifest.naturalKey`: part10 after part9)
    * is the order the streaming watermark advances in. */
  def listFiles(conf: Configuration, paths: Seq[String],
      accept: String => Boolean): Seq[FileStatus] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(paths) { p0 =>
      Future(scala.concurrent.blocking {
        val p = new HPath(p0)
        val fs = p.getFileSystem(conf)
        // one RPC, not exists + getFileStatus
        try {
          val st = fs.getFileStatus(p)
          if (st.isDirectory)
            fs.listStatus(p).toSeq.filter(_.isFile)
              .filter(f => accept(f.getPath.getName))
          else Seq(st)
        } catch {
          case _: java.io.FileNotFoundException => Seq.empty[FileStatus]
        }
      })
    }, Duration.Inf).flatten
      .sortBy(st => Manifest.naturalKey(st.getPath.toString))
  }
}

/** Streaming offset of every file source: the natural-order key watermark
  * of the last admitted file ("" = nothing yet). Its JSON form is a bare
  * string, so checkpoints of the former per-format offsets resume. */
final case class FileOffset(watermark: String) extends Offset {
  override def json(): String = JStr(watermark).render
}

/** MICRO_BATCH_READ over a landing directory — the live-feed shape of
  * every file source (a new GRIB file per product cycle, a raster or
  * NetCDF file per date, a crawl segment per fetch).
  *
  * Contract (documented, like Spark's FileStreamSource's): landed files
  * are IMMUTABLE and the directory is append-only with naturally-increasing
  * names (`Manifest.naturalKey`: part10 sorts after part9). Offsets are
  * filename watermarks that only move forward (each latestOffset is
  * anchored on the previous end). Admission is per FILE;
  * `maxFilesPerTrigger` bounds a batch so attaching to a pre-populated
  * archive drains it in bounded batches, and Trigger.AvailableNow drains
  * up to the listing at query start. `plan` turns one trigger's admitted
  * files into partitions as a batch read of those files would, so a
  * trigger of k files plans the splits of a batch read of those k files;
  * `factory` is the batch scan's reader factory (one configuration
  * broadcast for the stream's life). */
final class FileMicroBatchStream(
    paths: Seq[String],
    @transient conf: Configuration,
    accept: String => Boolean,
    maxFilesPerTrigger: Option[Int],
    plan: Seq[FileStatus] => Seq[InputPartition],
    factory: PartitionReaderFactory)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  require(paths.nonEmpty, "file streaming needs the source paths")

  private def key(p: String): String = Manifest.naturalKey(p)
  private def listing(): Seq[FileStatus] = FileScan.listFiles(conf, paths, accept)
  private def newest(files: Seq[FileStatus]): String =
    if (files.isEmpty) "" else files.last.getPath.toString

  /** One listing per trigger: latestOffset selects the batch and caches it
    * for the planInputPartitions call that follows (object stores bill and
    * throttle LIST calls). */
  @volatile private var lastBatch: Option[(String, String, Seq[FileStatus])] = None

  /** Trigger.AvailableNow target: pinned at query start so the
    * MultiBatchExecutor drains up to exactly this point in
    * maxFilesPerTrigger-bounded batches, then terminates. Without this
    * interface Spark falls back to ONE single batch whose read limit
    * would silently strand the backlog. */
  @volatile private var availableNowTarget: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(newest(listing()))

  override def reportLatestOffset(): Offset = FileOffset(newest(listing()))

  override def initialOffset(): Offset = FileOffset("")

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n): ReadLimit)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[FileOffset].watermark
    val candidates = listing()
      .filter(st => key(st.getPath.toString) > key(lo))
      .filter(st => availableNowTarget.forall(t =>
        key(st.getPath.toString) <= key(t)))
    val admitted = limit match {
      case m: ReadMaxFiles => candidates.take(m.maxFiles())
      case _ => candidates
    }
    if (admitted.isEmpty) { lastBatch = None; start }
    else {
      val hi = admitted.last.getPath.toString
      lastBatch = Some((lo, hi, admitted))
      FileOffset(hi)
    }
  }

  override def deserializeOffset(json: String): Offset = JValue.parse(json) match {
    case JStr(w) => FileOffset(w)
    case other => throw new IllegalArgumentException(s"Bad file offset $other")
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[FileOffset].watermark
    val hi = end.asInstanceOf[FileOffset].watermark
    val batch = lastBatch match {
      case Some((l, h, files)) if l == lo && h == hi => files // cached this trigger
      case _ => // checkpoint replay: re-derive from the (immutable) dir
        listing().filter { st =>
          val k = key(st.getPath.toString)
          k > key(lo) && k <= key(hi)
        }
    }
    plan(batch).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
