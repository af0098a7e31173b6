package graft.sources.grib

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.BroadcastConf
import graft.sources.nc.NcScan
import GribFormat.GribMessage

/** DataSource V2 batch reader for GRIB editions 1 AND 2 (regular lat/lon
  * grids, simple packing; files may mix editions) — the reference's OTHER
  * ingest format next to NetCDF (transform.py:75-79).
  * `spark.read.format("grib1").load(pathOrDir)` (the short name predates
  * edition-2 support) yields one row per grid cell:
  * (time TIMESTAMP_NTZ, latitude, longitude, param INT, member INT?, value DOUBLE).
  *
  * Scale design:
  *  - **A message is the pruning unit**: every cell of a message shares
  *    (time, param), so time/param predicates prune whole messages at
  *    planning — the byte-level analog of manifest pruning (F6). Claimed
  *    filters are EXACT (no residual); lat/lon predicates stay residual.
  *  - **A message is also the partition unit**: archives shard one
  *    timestep per message, so a long file fans out across executors;
  *    each task does one positioned slab read + bit-unpack.
  *  - **Planning is header-only**: message descriptors (offsets, grid,
  *    packing params) are parsed once per (path, mtime, length) into a
  *    memoized cache; the packed payload is never touched on the driver.
  */
class GribDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "grib1"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GribTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // the scan schema is fixed; a user-supplied schema must MATCH, not be
    // silently discarded
    require(schema == GribTable.Schema,
      s"grib1 scans always present ${GribTable.Schema.simpleString}; got ${schema.simpleString}")
    GribTable.resolve(new CaseInsensitiveStringMap(properties))
  }
}

object GribTable {
  /** The scan schema is FIXED — GRIB messages (either edition)
    * self-describe onto it. */
  val Schema: StructType = StructType(Seq(
    // VALID time (= ref_time + step)
    StructField("time", TimestampNTZType, nullable = false),
    StructField("latitude", DoubleType, nullable = false),
    StructField("longitude", DoubleType, nullable = false),
    StructField("param", IntegerType, nullable = false),
    // ensemble perturbation number (product templates 4.1/4.11);
    // null for deterministic products
    StructField("member", IntegerType, nullable = true),
    // derived-ensemble statistic (templates 4.2/4.12, code table 4.7:
    // 0 = mean, 2 = std dev — the GEFS geavg/gespr shape); null for
    // non-derived products
    StructField("derived", IntegerType, nullable = true),
    // vertical axis: first-fixed-surface type (code table 4.5 / GRIB1
    // table 3) + value; null when the product carries no surface (255) —
    // a multi-level file (ERA5 pressure-level) keys its hypercubes here
    StructField("level_type", IntegerType, nullable = true),
    StructField("level", DoubleType, nullable = true),
    // second fixed surface (LAYER products — soil/cloud layers); null
    // for point levels. Shares level_type with the first surface.
    StructField("level_to", DoubleType, nullable = true),
    // forecast reference time + lead minutes: two reference times with
    // overlapping valid times stay distinct (forecast/ensemble ingest)
    StructField("ref_time", TimestampNTZType, nullable = false),
    StructField("step", LongType, nullable = false),
    // interval products only (ecCodes startStep): minutes from ref to
    // the interval START — two accumulation windows ending at the same
    // valid time (GFS precip buckets) key apart here; null = point
    StructField("step_start", LongType, nullable = true),
    // probability products (templates 4.5/4.9 — the NBM shape): code
    // table 4.9 type + lower/upper limits in physical units; null for
    // non-probability products. The THRESHOLDS are hypercube axes (one
    // file carries PoP > 1 and > 5 mm at one (ref, step)).
    StructField("prob_type", IntegerType, nullable = true),
    StructField("prob_lo", DoubleType, nullable = true),
    StructField("prob_hi", DoubleType, nullable = true),
    // percentile products (templates 4.6/4.10): the percentile 0-100
    StructField("percentile", IntegerType, nullable = true),
    // nullable: bitmap-masked cells surface as null
    StructField("value", DoubleType, nullable = true)))

  /** Forecast reference time with the hand-constructed-message fallback
    * (a message built without `baseTime` is an analysis: ref = valid). */
  private[grib] def baseOf(m: GribMessage): java.time.LocalDateTime =
    if (m.baseTime == null) m.validTime else m.baseTime

  /** Header-cache bound (files). `private[grib] var` so the eviction spec
    * can shrink it; production never writes it. */
  private[grib] var MaxCachedFiles = 4096
  /** Cache-miss parses — observability for the eviction spec. */
  private[grib] val headerParses = new java.util.concurrent.atomic.AtomicLong

  /** ACCESS-ordered LRU bounded at [[MaxCachedFiles]]: crossing the
    * bound evicts only the oldest-touched entries, so planning a
    * >bound-file archive re-parses the spillover — not, as the old
    * clear-all did, the entire working set on every subsequent plan. */
  private val messageCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long), Seq[GribMessage]](
          256, 0.75f, /* accessOrder = */ true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long), Seq[GribMessage]])
            : Boolean = size() > MaxCachedFiles
      })

  /** Spec hook: start the LRU from empty so eviction order is
    * deterministic (production never calls this). */
  private[grib] def clearHeaderCache(): Unit = messageCache.clear()

  private[grib] def cachedMessages(conf: Configuration,
      st: org.apache.hadoop.fs.FileStatus): Seq[GribMessage] = {
    val key = (st.getPath.toString, st.getModificationTime, st.getLen)
    val hit = messageCache.get(key)
    if (hit != null) hit
    else {
      // parse OUTSIDE the map lock: the planner's bounded pool parses
      // misses concurrently, and holding the LRU lock through remote I/O
      // would serialize them; a rare duplicate parse of one file is
      // cheaper than that convoy
      headerParses.incrementAndGet()
      val in = st.getPath.getFileSystem(conf).open(st.getPath)
      val ms = try GribFormat.parseMessages(in) finally in.close()
      messageCache.put(key, ms)
      ms
    }
  }

  private def isGrib(name: String): Boolean =
    graft.sources.Manifest.isGrib(name)

  /** Natural-sorted GRIB files under the given paths (dirs expand; a
    * missing dir — a streaming landing dir not yet created — is empty).
    * Path statuses resolve on a bounded pool: a manager passing one
    * explicit path per archive FILE must not pay O(files) SERIAL remote
    * round trips at planning. */
  private[grib] def listGribFiles(conf: Configuration,
      paths: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] = {
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
              .filter(f => isGrib(f.getPath.getName))
          else Seq(st)
        } catch {
          case _: java.io.FileNotFoundException =>
            Seq.empty[org.apache.hadoop.fs.FileStatus]
        }
      })
    }, Duration.Inf).flatten
      .sortBy(st => graft.sources.Manifest.naturalKey(st.getPath.toString))
  }

  /** Per-file interval-window keys straight from the memoized message
    * HEADERS — zero payload decode, for manager-level window checks: the
    * full hypercube key (param incl. discipline, member, derived, level
    * axes, probability/percentile axes, refTime, endStep) plus the
    * window `start` (stepStart minutes, Long.MinValue = point product).
    * Doubles ride as raw bits so NaN (= axis absent) compares equal. */
  final case class WindowKey(
      param: Int, member: Int, derived: Int,
      levelType: Int, levelBits: Long, levelToBits: Long,
      probType: Int, probLoBits: Long, probHiBits: Long, percentile: Int,
      ref: java.time.LocalDateTime, end: Long, start: Long)
  private[graft] def windowKeys(conf: Configuration, paths: Seq[String])
      : Seq[(String, Seq[WindowKey])] = {
    val files = listGribFiles(conf, paths)
    parseParallel(conf, files)
    files.map(st => st.getPath.toString ->
      cachedMessages(conf, st).map(m => WindowKey(
        m.paramId, m.member, m.derived, m.levelType,
        java.lang.Double.doubleToLongBits(m.level),
        java.lang.Double.doubleToLongBits(m.levelTo),
        m.probType, java.lang.Double.doubleToLongBits(m.probLo),
        java.lang.Double.doubleToLongBits(m.probHi), m.percentile,
        baseOf(m), m.stepMinutes,
        m.stepStartMinutes)).distinct)
  }

  /** Parse the cache MISSES on a bounded pool — header walks are one
    * remote round-trip per file (payloads are skipped, not read), and
    * `resolve` runs twice per read (inferSchema, then getTable), so
    * planning a thousand-file archive must not be O(files) SERIAL I/O.
    * Same discipline as the NC scan's layout planning. */
  private[grib] def parseParallel(conf: Configuration,
      files: Seq[org.apache.hadoop.fs.FileStatus]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val misses = files.filter(st => !messageCache.containsKey(
      (st.getPath.toString, st.getModificationTime, st.getLen)))
    if (misses.nonEmpty) {
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(
        Future.traverse(misses) { st =>
          // blocking{}: Hadoop IO — let the pool grow past CPU count
          Future(scala.concurrent.blocking { cachedMessages(conf, st) })
        }, Duration.Inf)
    }
  }

  def resolve(options: CaseInsensitiveStringMap): GribTable = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = Option(options.get("path")).toSeq
    require(paths.nonEmpty, "grib1 scan needs a path")
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    val files = listGribFiles(conf, paths)
    parseParallel(conf, files)
    val byFile = files.map(st =>
      st.getPath.toString -> cachedMessages(conf, st))
    // spectral fields have no lat/lon rows — they scan through the
    // coefficient-space source, never silently through this schema
    byFile.find(_._2.exists(_.spectral.isDefined)).foreach { case (p, _) =>
      throw new IllegalArgumentException(
        s"$p holds spherical-harmonic (template 3.50) fields — read them " +
          "with spark.read.format(\"grib-spectral\") (rows: time, param, " +
          "member, m, n, part, value)")
    }
    // size-bounded LRU eviction happens inline in cachedMessages — a
    // long-lived driver scanning many (or rewritten — each rewrite is a
    // fresh (path,mtime,len) key) GRIB files stays bounded without ever
    // dropping its working set
    new GribTable(byFile, conf, paths, maxFiles)
  }
}

final class GribTable(
    val byFile: Seq[(String, Seq[GribMessage])],
    @transient val conf: Configuration,
    val paths: Seq[String],
    val maxFilesPerTrigger: Option[Int]) extends Table with SupportsRead {
  override def name(): String =
    s"grib1(${byFile.map(_._2.length).sum} messages in ${byFile.length} files)"
  override def schema(): StructType = GribTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GribScanBuilder(this)
}

final class GribScanBuilder(table: GribTable) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = GribTable.Schema
  private var pushed: Array[Filter] = Array.empty

  /** time/ref_time/param/member/level/step predicates prune whole messages
    * EXACTLY (all cells of a message share them) → fully handled; lat/lon
    * stay residual. */
  private def handled(f: Filter): Boolean = f match {
    // `value` CAN be null (bitmap holes), `member` null for deterministic
    // products, level/level_type null for surface-less products — their
    // IsNotNull must stay residual
    case sources.IsNotNull(a) => a != "value" && a != "member" &&
      a != "derived" && a != "level" && a != "level_type" &&
      a != "level_to" && a != "step_start" && a != "prob_type" &&
      a != "prob_lo" && a != "prob_hi" && a != "percentile" &&
      GribTable.Schema.fieldNames.contains(a)
    case sources.EqualTo("param", _: Integer) => true
    case sources.In("param", vs) => vs.forall(_.isInstanceOf[Integer])
    case sources.EqualTo("member", _: Integer) => true
    case sources.IsNull("member") => true
    case sources.EqualTo("derived", _: Integer) => true
    case sources.IsNull("derived") => true
    case sources.EqualTo("level_type", _: Integer) => true
    case sources.IsNull("level_type") => true
    case sources.EqualTo("level", _: java.lang.Double) => true
    case sources.IsNull("level") => true
    case sources.EqualTo("level_to", _: java.lang.Double) => true
    case sources.IsNull("level_to") => true
    case sources.EqualTo("step", _: java.lang.Long) => true
    case sources.EqualTo("step_start", _: java.lang.Long) => true
    case sources.IsNull("step_start") => true
    case sources.EqualTo("prob_type", _: Integer) => true
    case sources.IsNull("prob_type") => true
    case sources.EqualTo("prob_lo", _: java.lang.Double) => true
    case sources.IsNull("prob_lo") => true
    case sources.EqualTo("prob_hi", _: java.lang.Double) => true
    case sources.IsNull("prob_hi") => true
    case sources.EqualTo("percentile", _: Integer) => true
    case sources.IsNull("percentile") => true
    case sources.EqualTo("time" | "ref_time", v) => NcScan.toKey(v).isDefined
    case sources.GreaterThan("time" | "ref_time", v) => NcScan.toKey(v).isDefined
    case sources.GreaterThanOrEqual("time" | "ref_time", v) => NcScan.toKey(v).isDefined
    case sources.LessThan("time" | "ref_time", v) => NcScan.toKey(v).isDefined
    case sources.LessThanOrEqual("time" | "ref_time", v) => NcScan.toKey(v).isDefined
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (h, residual) = filters.partition(handled)
    pushed = h
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GribScan(table.byFile, required, pushed,
    table.conf, table.paths, table.maxFilesPerTrigger)
}

final class GribScan(
    byFile: Seq[(String, Seq[GribMessage])],
    required: StructType,
    pushed: Array[Filter],
    @transient conf: Configuration,
    paths: Seq[String],
    maxFilesPerTrigger: Option[Int])
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GribMicroBatchStream(this, paths, conf, maxFilesPerTrigger)

  /** Streaming batches reuse the batch pruning + partitioning verbatim. */
  private[grib] def partitionsOf(path: String,
      ms: Seq[GribMessage]): Seq[InputPartition] =
    GribSplit.pack(ms.filter(keep).map(path -> _)).map { case (p, packed) =>
      GribInputPartition(p, packed, required.fieldNames)
    }
  private[grib] def readerFactory: PartitionReaderFactory = createReaderFactory()

  /** SAME conversion as the filter-literal side (NcScan.toKey) so the
    * Double equality in keep() is exact by construction. */
  private def timeMicros(m: GribMessage): Double = NcScan.toKey(m.validTime).get
  private def refMicros(m: GribMessage): Double =
    NcScan.toKey(GribTable.baseOf(m)).get

  /** Message survives every pushed predicate? */
  private def keep(m: GribMessage): Boolean = pushed.forall {
    case sources.IsNotNull(_) => true
    case sources.EqualTo("param", v: Integer) => m.paramId == v.intValue()
    case sources.In("param", vs) =>
      vs.exists(v => m.paramId == v.asInstanceOf[Integer].intValue())
    case sources.EqualTo("member", v: Integer) => m.member == v.intValue()
    case sources.IsNull("member") => m.member < 0
    case sources.EqualTo("derived", v: Integer) => m.derived == v.intValue()
    case sources.IsNull("derived") => m.derived < 0
    case sources.EqualTo("level_type", v: Integer) =>
      m.levelType != 255 && m.levelType == v.intValue()
    case sources.IsNull("level_type") => m.levelType == 255
    case sources.EqualTo("level", v: java.lang.Double) =>
      m.level == v.doubleValue() // NaN (no surface) never equals
    case sources.IsNull("level") => m.level.isNaN
    case sources.EqualTo("level_to", v: java.lang.Double) =>
      m.levelTo == v.doubleValue()
    case sources.IsNull("level_to") => m.levelTo.isNaN
    case sources.EqualTo("step", v: java.lang.Long) =>
      m.stepMinutes == v.longValue()
    case sources.EqualTo("step_start", v: java.lang.Long) =>
      m.stepStartMinutes == v.longValue()
    case sources.IsNull("step_start") =>
      m.stepStartMinutes == Long.MinValue
    case sources.EqualTo("prob_type", v: Integer) => m.probType == v.intValue()
    case sources.IsNull("prob_type") => m.probType < 0
    case sources.EqualTo("prob_lo", v: java.lang.Double) =>
      m.probLo == v.doubleValue() // NaN (absent) never equals
    case sources.IsNull("prob_lo") => m.probLo.isNaN
    case sources.EqualTo("prob_hi", v: java.lang.Double) =>
      m.probHi == v.doubleValue()
    case sources.IsNull("prob_hi") => m.probHi.isNaN
    case sources.EqualTo("percentile", v: Integer) =>
      m.percentile == v.intValue()
    case sources.IsNull("percentile") => m.percentile < 0
    case sources.EqualTo("time", v) => NcScan.toKey(v).contains(timeMicros(m))
    case sources.GreaterThan("time", v) => NcScan.toKey(v).exists(timeMicros(m) > _)
    case sources.GreaterThanOrEqual("time", v) => NcScan.toKey(v).exists(timeMicros(m) >= _)
    case sources.LessThan("time", v) => NcScan.toKey(v).exists(timeMicros(m) < _)
    case sources.LessThanOrEqual("time", v) => NcScan.toKey(v).exists(timeMicros(m) <= _)
    case sources.EqualTo("ref_time", v) => NcScan.toKey(v).contains(refMicros(m))
    case sources.GreaterThan("ref_time", v) => NcScan.toKey(v).exists(refMicros(m) > _)
    case sources.GreaterThanOrEqual("ref_time", v) => NcScan.toKey(v).exists(refMicros(m) >= _)
    case sources.LessThan("ref_time", v) => NcScan.toKey(v).exists(refMicros(m) < _)
    case sources.LessThanOrEqual("ref_time", v) => NcScan.toKey(v).exists(refMicros(m) <= _)
    case _ => true
  }

  // lazy: description(), planInputPartitions(), and estimateStatistics()
  // all consult them — filter, pack and broadcast once per scan, not per
  // call (a micro-batch stream asks for a reader factory every trigger)
  private lazy val survivors: Seq[(String, GribMessage)] =
    byFile.flatMap { case (p, ms) => ms.filter(keep).map(p -> _) }
  private lazy val packed = GribSplit.pack(survivors)
  private lazy val taskConf = BroadcastConf(conf)

  override def description(): String =
    s"graft-grib1 messages=${survivors.length}/${byFile.map(_._2.length).sum}, " +
      s"splits=${packed.length}, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] =
    packed.map { case (p, ms) =>
      GribInputPartition(p, ms, required.fieldNames)
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GribReaderFactory(taskConf)

  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = survivors.map(_._2.nValues.toLong).sum
    private val rowBytes = required.fields.map(_.dataType.defaultSize.toLong).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(rows * math.max(1L, rowBytes))
    override def numRows(): OptionalLong = OptionalLong.of(rows)
  }
}

final case class GribInputPartition(
    path: String,
    messages: Seq[GribMessage],
    cols: Array[String]) extends InputPartition

/** Byte-budgeted message packing — Spark's `FilePartition.maxSplitBytes`
  * sizing formula applied at GRIB-message granularity. One partition per
  * message made a million-message archive a million tasks (quadratic
  * shuffle-block growth downstream, guide §2.2) and a 60-message fixture
  * 60 scheduler round-trips; packing consecutive same-file messages up to
  * the split budget keeps tasks in the 100 MB-class at scale and collapses
  * tiny scans to a handful of tasks locally. The budget derives from the
  * session's `spark.sql.files.*` confs — scale-adaptive, no constants. */
private[grib] object GribSplit {
  private def msgBytes(m: GribMessage): Long =
    m.dataBytes.toLong + (if (m.hasBitmap) m.bitmapBytes.toLong else 0L)

  def pack(survivors: Seq[(String, GribMessage)]): Seq[(String, Seq[GribMessage])] = {
    if (survivors.isEmpty) return Seq.empty
    // the open cost charges once per FILE (messages of one file share the
    // stream) into the total that sizes the budget, not into the file's
    // first bin: with maxSplit equal to the open cost (any small archive)
    // that charge filled the bin alone, and a one-split file planned two
    val totalBytes = survivors.map { case (_, m) => msgBytes(m) }.sum +
      survivors.iterator.map(_._1).distinct.size *
        graft.sources.SplitBudget.openCostInBytes
    val maxSplit = graft.sources.SplitBudget.maxSplitBytes(totalBytes)
    val out = Seq.newBuilder[(String, Seq[GribMessage])]
    var curPath: String = null
    var cur = List.newBuilder[GribMessage]
    var curBytes = 0L
    var curEmpty = true
    def flush(): Unit = if (!curEmpty) {
      out += ((curPath, cur.result()))
      cur = List.newBuilder[GribMessage]; curBytes = 0L; curEmpty = true
    }
    survivors.foreach { case (p, m) =>
      val cost = msgBytes(m)
      if (p != curPath || (!curEmpty && curBytes + cost > maxSplit)) flush()
      curPath = p
      cur += m; curBytes += cost; curEmpty = false
    }
    flush()
    out.result()
  }
}

final class GribReaderFactory(private[grib] val conf: BroadcastConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GribPartitionReader(partition.asInstanceOf[GribInputPartition], conf.value)
}

/** One positioned slab read per message, then cell-by-cell bit-unpack;
  * the partition's messages share one open stream and decode in order. */
final class GribPartitionReader(part: GribInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val in = {
    val p = new HPath(part.path)
    p.getFileSystem(conf).open(p)
  }

  // ---- per-message state, loaded by advance() as the cursor moves ----
  private var mi = -1
  private var m: GribMessage = null
  private var cellValue: Int => Double = null
  private var regular = false
  private var lats: Array[Double] = null
  private var lons: Array[Double] = null
  private var timeMicros = 0L
  private var refTimeMicros = 0L

  private def micros(t: java.time.LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000

  /** Load the next message's slab + decode state; false when exhausted. */
  private def advance(): Boolean = {
    mi += 1
    if (mi >= part.messages.length) return false
    m = part.messages(mi)
    val slab = new Array[Byte](m.dataBytes)
    in.readFully(m.dataOffset, slab)
    val bitmapSlab = if (!m.hasBitmap) null else {
      val a = new Array[Byte](m.bitmapBytes)
      in.readFully(m.bitmapOffset, a)
      a
    }
    cellValue = m.decoder(slab, bitmapSlab)
    regular = m.lcc.isEmpty && m.ps.isEmpty && m.merc.isEmpty &&
      m.rot.isEmpty && m.rowLengths.isEmpty
    lats = if (regular) m.lats else null
    lons = if (regular) m.lons else null
    timeMicros = micros(m.validTime)
    refTimeMicros = micros(GribTable.baseOf(m))
    true
  }
  // hoist the per-column dispatch out of the per-cell loop: a message is
  // ~10⁶ cells; string-matching column names per cell is pure overhead
  private val TimeC = 0; private val LatC = 1; private val LonC = 2
  private val ParamC = 3; private val ValueC = 4; private val MemberC = 5
  private val LevelTypeC = 6; private val LevelC = 7
  private val RefTimeC = 8; private val StepC = 9
  private val DerivedC = 10; private val LevelToC = 11
  private val StepStartC = 12
  private val ProbTypeC = 13; private val ProbLoC = 14
  private val ProbHiC = 15; private val PercentileC = 16
  private val colCodes: Array[Int] = part.cols.map {
    case "time" => TimeC
    case "latitude" => LatC
    case "longitude" => LonC
    case "param" => ParamC
    case "value" => ValueC
    case "member" => MemberC
    case "level_type" => LevelTypeC
    case "level" => LevelC
    case "ref_time" => RefTimeC
    case "step" => StepC
    case "derived" => DerivedC
    case "level_to" => LevelToC
    case "step_start" => StepStartC
    case "prob_type" => ProbTypeC
    case "prob_lo" => ProbLoC
    case "prob_hi" => ProbHiC
    case "percentile" => PercentileC
  }
  private var k = -1

  override def next(): Boolean = {
    k += 1
    while (m == null || k >= m.nValues) {
      if (!advance()) return false
      k = 0
    }
    true
  }

  override def get(): InternalRow = {
    val row = new Array[Any](colCodes.length)
    var c = 0
    while (c < colCodes.length) {
      row(c) = colCodes(c) match {
        case TimeC => timeMicros
        case LatC => if (regular) lats(k / m.ni) else m.latLonAt(k)._1
        case LonC => if (regular) lons(k % m.ni) else m.latLonAt(k)._2
        case ParamC => m.paramId
        case MemberC => if (m.member < 0) null else m.member
        case DerivedC => if (m.derived < 0) null else m.derived
        case LevelTypeC => if (m.levelType == 255) null else m.levelType
        case LevelC => if (m.level.isNaN) null else m.level
        case LevelToC => if (m.levelTo.isNaN) null else m.levelTo
        case RefTimeC => refTimeMicros
        case StepC => m.stepMinutes
        case StepStartC =>
          if (m.stepStartMinutes == Long.MinValue) null else m.stepStartMinutes
        case ProbTypeC => if (m.probType < 0) null else m.probType
        case ProbLoC => if (m.probLo.isNaN) null else m.probLo
        case ProbHiC => if (m.probHi.isNaN) null else m.probHi
        case PercentileC => if (m.percentile < 0) null else m.percentile
        case ValueC =>
          val v = cellValue(k)
          if (v.isNaN) null else v
      }
      c += 1
    }
    new GenericInternalRow(row)
  }

  override def close(): Unit = in.close()
}

/** Streaming offset: the natural-order key watermark of the last admitted
  * file (same convention as the NetCDF stream — part10 sorts after part9). */
final case class GribOffset(watermark: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = graft.meta.JStr(watermark).render
}

/** MICRO_BATCH_READ over a GRIB landing directory — the live-feed shape of
  * operational archives (MRMS/RTMA drop a new GRIB file per product cycle).
  * Same contract as [[graft.sources.nc.NcMicroBatchStream]]: files are
  * IMMUTABLE, the directory is append-only with naturally-increasing names,
  * offsets are filename watermarks that only move forward, and
  * `maxFilesPerTrigger` bounds each batch so attaching to a pre-populated
  * archive drains it incrementally. Message pruning and the positioned-slab
  * reader are the batch scan's, verbatim. */
final class GribMicroBatchStream(
    scan: GribScan,
    paths: Seq[String],
    @transient conf: Configuration,
    maxFilesPerTrigger: Option[Int])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  require(paths.nonEmpty, "grib streaming needs the source paths")

  private def key(p: String): String = graft.sources.Manifest.naturalKey(p)

  private def listing(): Seq[org.apache.hadoop.fs.FileStatus] =
    GribTable.listGribFiles(conf, paths)

  /** One listing per trigger: latestOffset selects the batch and caches it
    * for the planInputPartitions call that follows. */
  @volatile private var lastBatch: Option[(String, String,
    Seq[org.apache.hadoop.fs.FileStatus])] = None

  @volatile private var availableNowTarget: Option[String] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val files = listing()
    availableNowTarget = Some(
      if (files.isEmpty) "" else files.last.getPath.toString)
  }

  override def reportLatestOffset(): Offset = {
    val files = listing()
    GribOffset(if (files.isEmpty) "" else files.last.getPath.toString)
  }

  override def initialOffset(): Offset = GribOffset("")

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n): ReadLimit)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[GribOffset].watermark
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
      GribOffset(hi)
    }
  }

  override def deserializeOffset(json: String): Offset =
    graft.meta.JValue.parse(json) match {
      case graft.meta.JStr(w) => GribOffset(w)
      case other => throw new IllegalArgumentException(s"Bad GRIB offset $other")
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[GribOffset].watermark
    val hi = end.asInstanceOf[GribOffset].watermark
    val batch = lastBatch match {
      case Some((l, h, files)) if l == lo && h == hi => files // cached this trigger
      case _ => // checkpoint replay: re-derive from the (immutable) dir
        listing().filter { st =>
          val k = key(st.getPath.toString)
          k > key(lo) && k <= key(hi)
        }
    }
    batch.flatMap { st =>
      scan.partitionsOf(st.getPath.toString,
        GribTable.cachedMessages(conf, st))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.readerFactory // identical reader path as batch

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
