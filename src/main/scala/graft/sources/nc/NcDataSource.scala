package graft.sources.nc

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

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

import NcFormat._

/** DataSource V2 batch reader for classic NetCDF grids — S9's real form
  * (the reference scans NetCDF/GRIB via kerchunk byte-range references,
  * transform.py:119-279; this scan reads the byte ranges directly).
  *
  * `spark.read.format("netcdf").load(pathOrDir)` yields one row per grid
  * cell: one column per dimension (the coordinate variable's values; a
  * CF-style `units: "<u> since <epoch>"` time coordinate surfaces as
  * TIMESTAMP_NTZ) plus one column per data variable.
  *
  * Scale design:
  *  - **Column pruning is byte pruning**: every variable has its own file
  *    extent, so an unprojected variable is never read.
  *  - **Filter pushdown is index pruning**: predicates on monotonic
  *    coordinate axes become index ranges; whole files are skipped when a
  *    range is empty (the manifest-pruning analog, F6), the outer dimension
  *    range bounds which record slabs are ever seeked, and inner ranges
  *    bound each slab read to the covering span.
  *  - **Partitioning**: splits along the outermost dimension under the
  *    scan's [[graft.sources.SplitBudget]] (Spark's `maxSplitBytes` over
  *    the pruned bytes), so a year-long file fans out across executors
  *    instead of pinning one task.
  */
class NcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "netcdf"

  /** External metadata supported so a STREAMING query can start (or
    * restart from its checkpoint) against an EMPTY landing dir — the
    * normal state of a drained/pre-first-file source. Batch inference
    * still requires at least one file. */
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    NcTable.resolveAny(options, providedSchema = None).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    NcTable.resolveAny(new CaseInsensitiveStringMap(properties),
      providedSchema = Option(schema))
}

/** One grid axis of the scan, with its materialized (small, driver-read)
  * coordinate values shipped to executors inside each partition. */
sealed trait Axis extends Serializable {
  def name: String
  def n: Int
  def sparkType: DataType
  /** Catalyst-internal value at index i. */
  def emit(i: Int): Any
  /** Comparable value at index i (micros for time), for index pruning. */
  def key(i: Int): Double
  final def monotonic: Boolean = {
    val inc = (1 until n).forall(i => key(i - 1) < key(i))
    lazy val dec = (1 until n).forall(i => key(i - 1) > key(i))
    inc || dec
  }
  final def increasing: Boolean = n < 2 || key(0) < key(n - 1)
}

final case class TimeAxis(name: String, micros: Array[Long]) extends Axis {
  def n: Int = micros.length
  def sparkType: DataType = TimestampNTZType
  def emit(i: Int): Any = micros(i)
  def key(i: Int): Double = micros(i).toDouble
}

final case class NumAxis(name: String, vals: Array[Double], ncType: Int) extends Axis {
  def n: Int = vals.length
  def sparkType: DataType = NcTable.sparkType(ncType)
  def emit(i: Int): Any = ncType match {
    case NcByte => vals(i).toByte
    case NcUByte => vals(i).toShort
    case NcShort => vals(i).toShort
    case NcUShort => vals(i).toInt
    case NcInt => vals(i).toInt
    case NcUInt => vals(i).toLong
    case NcInt64 => vals(i).toLong
    case NcFloat => vals(i).toFloat
    case _ => vals(i)
  }
  def key(i: Int): Double = vals(i)
}

/** Dimension without a coordinate variable: a 0-based long index. */
final case class IndexAxis(name: String, n: Int) extends Axis {
  def sparkType: DataType = LongType
  def emit(i: Int): Any = i.toLong
  def key(i: Int): Double = i.toDouble
}

/** Per-file planning state: parsed header + axes (coordinates read once,
  * driver-side — they are tiny next to the data payload). */
final case class FileLayout(path: String, header: NcHeader, axes: Seq[Axis],
    dataVars: Seq[NcVar]) {
  def dims: Seq[NcDim] = header.dims
  def dataDimIds: Seq[Int] = dataVars.head.dimIds
}

object NcTable {
  def sparkType(ncType: Int): DataType = ncType match {
    case NcByte => ByteType
    case NcShort => ShortType
    case NcInt => IntegerType
    case NcFloat => FloatType
    case NcDouble => DoubleType
    // CDF-5 types: unsigned widens to the next signed type (Spark has no
    // unsigned); uint64 has no lossless Spark integral home → refused
    case NcUByte => ShortType
    case NcUShort => IntegerType
    case NcUInt => LongType
    case NcInt64 => LongType
    case NcUInt64 => throw new IllegalArgumentException(
      "NC_UINT64 (nc_type 11) unsupported: no lossless Spark integral type")
    case other => throw new IllegalArgumentException(
      s"nc_type $other has no scan column mapping (NC_CHAR vars unsupported)")
  }

  /** Scan field for a data variable, CF mask_and_scale-aware: packed vars
    * (scale_factor/add_offset present) surface unpacked as DOUBLE; vars
    * declaring _FillValue/missing_value surface as nullable, with the
    * sentinel decoded to null. The reference sees the same post-decode view
    * via xarray's decode_cf (transform.py:119-279). */
  def dataField(v: NcVar): StructField =
    StructField(v.name,
      if (v.unpack) DoubleType else sparkType(v.ncType),
      nullable = v.fillValue.isDefined)

  /** Route on the files' magic: classic CDF-1/2 goes through the record
    * reader; netCDF-4 (HDF5) goes through the kerchunk-manifest → zarr
    * scan, exactly the reference's own architecture (`kerchunkify` runs
    * SingleHdf5ToZarr + MultiZarrToZarr, transform.py:16, 84-155). One
    * `format("netcdf")` covers both, like xarray's open_dataset. */
  def resolveAny(options: CaseInsensitiveStringMap,
      providedSchema: Option[StructType]): Table with SupportsRead = {
    val conf = SparkSession.active.sparkContext.hadoopConfiguration
    val paths = graft.sources.FileScan.paths(options)
    require(paths.nonEmpty, "netcdf scan needs a path")
    val files = graft.sources.FileScan.listFiles(conf, paths,
      graft.sources.Manifest.isNetcdf)
    val hdf5 = files.headOption.exists { st =>
      val in = st.getPath.getFileSystem(conf).open(st.getPath)
      val magic = new Array[Byte](8)
      try { in.readFully(0L, magic); graft.sources.h5.H5Format.isHdf5(magic) }
      catch { case _: java.io.EOFException => false }
      finally in.close()
    }
    if (!hdf5) resolve(conf, paths, files, options, providedSchema)
    else {
      // xarray's group= addressing for grouped netCDF-4 files: scan ONE
      // group's variables; an unselected grouped file refuses by name
      val group = Option(options.get("group")).filter(_.nonEmpty)
      val filePaths = files.map(_.getPath.toString)
      // resolve runs twice per read (inferSchema, then getTable) and the
      // manifest walks every file's metadata — memoize per (path, mtime,
      // length) set like the classic-NC layout cache
      val key = files.map(st =>
        (st.getPath.toString + group.fold("")("#" + _),
          st.getModificationTime, st.getLen))
      val store = h5StoreCache.computeIfAbsent(key, _ =>
        graft.sources.zarr.ZarrMeta.resolveRefsDoc(
          graft.sources.h5.Hdf5Kerchunk.combineHdf5(conf, filePaths, group)))
      if (h5StoreCache.size > 1024) h5StoreCache.clear()
      val label = paths.mkString(",") +
        (if (filePaths.length > 1) s" (${filePaths.length} nc4 files)" else "")
      graft.sources.zarr.ZarrTable.fromStore(conf, label, store)
    }
  }

  private val h5StoreCache = new java.util.concurrent.ConcurrentHashMap[
    Seq[(String, Long, Long)], graft.sources.zarr.ZarrMeta.ResolvedStore]()

  private def resolve(conf: Configuration, paths: Seq[String],
      files: Seq[org.apache.hadoop.fs.FileStatus],
      options: CaseInsensitiveStringMap,
      providedSchema: Option[StructType]): NcTable = {
    val maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    maxFilesPerTrigger.foreach(n => require(n > 0,
      s"maxFilesPerTrigger must be positive, got $n (0 would stall the stream silently)"))
    if (files.isEmpty) {
      // only a user/checkpoint-provided schema can stand in for the files
      require(providedSchema.isDefined,
        s"No .nc files under ${paths.mkString(",")} and no schema provided")
      return new NcTable(Seq.empty, providedSchema.get, conf, paths,
        maxFilesPerTrigger)
    }
    val layouts = layoutsOf(conf, files)
    val first = layouts.head
    val schema = scanSchemaOf(first)
    // every file must present the same scan schema (a multi-file archive is
    // one dataset split along the record dim, like the reference's
    // multi-file kerchunk combine, S10)
    layouts.tail.foreach { l =>
      val s = scanSchemaOf(l)
      require(s == schema, s"${l.path} schema $s differs from ${first.path} $schema")
    }
    providedSchema.foreach(p => require(p == schema,
      s"Provided schema $p differs from the files' $schema"))
    new NcTable(layouts, schema, conf, paths, maxFilesPerTrigger)
  }

  /** Header+axis reads are one remote round-trip per file and `resolve`
    * runs twice per read (inferSchema, then getTable): memoize per
    * (path, mtime, length) and fan the cache misses out on a bounded pool
    * so planning a thousand-file archive is not O(files) SERIAL reads. */
  private[nc] def layoutsOf(conf: Configuration,
      files: Seq[org.apache.hadoop.fs.FileStatus]): Seq[FileLayout] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val misses = files.filter(st => !layoutCache.containsKey(cacheKey(st)))
    if (misses.nonEmpty) {
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(
        Future.traverse(misses) { st =>
          // blocking{}: these are blocking Hadoop IO calls — let the
          // global fork-join pool grow past CPU count instead of
          // deadlocking if resolve is ever entered from a global-EC thread
          Future(scala.concurrent.blocking {
            layoutCache.putIfAbsent(cacheKey(st),
              layout(conf, st.getPath.toString))
          })
        }, Duration.Inf)
    }
    val out = files.map(st => Option(layoutCache.get(cacheKey(st)))
      .getOrElse(layout(conf, st.getPath.toString)))
    // evict AFTER serving this resolve — clearing before the map would
    // re-read every header serially, defeating the cache exactly for the
    // large archives it exists for
    if (layoutCache.size > 4096) layoutCache.clear()
    out
  }

  private[nc] def scanSchemaOf(l: FileLayout): StructType = StructType(
    l.axes.map(a => StructField(a.name, a.sparkType, nullable = false)) ++
      l.dataVars.map(dataField))

  private val layoutCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), FileLayout]()

  private def cacheKey(st: org.apache.hadoop.fs.FileStatus): (String, Long, Long) =
    (st.getPath.toString, st.getModificationTime, st.getLen)

  private def layout(conf: Configuration, path: String): FileLayout = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try {
      val header = parseHeader(in)
      val byName = header.vars.map(v => v.name -> v).toMap
      def isCoord(v: NcVar) =
        v.dimIds.length == 1 && header.dims(v.dimIds.head).name == v.name
      val dataVars = header.vars.filterNot(isCoord)
      require(dataVars.nonEmpty, s"$path has no data variables")
      val dimIds = dataVars.head.dimIds
      dataVars.tail.foreach(v => require(v.dimIds == dimIds,
        s"$path: ${v.name} dims ${v.dimIds} differ from ${dataVars.head.name} $dimIds — " +
          "all data variables must share one grid"))
      require(dimIds.nonEmpty, s"$path: scalar variables are not a grid")
      val axes = dimIds.map { id =>
        val dim = header.dims(id)
        byName.get(dim.name) match {
          case Some(cv) if isCoord(cv) =>
            val raw = readCoordValues(in, header, cv)
            // A coordinate axis with missing values has no index semantics.
            cv.fillValue.foreach { f =>
              require(!raw.exists(v => NcFormat.fillMatches(v, f, cv.ncType)),
                s"$path: coordinate ${cv.name} contains its fill value $f")
            }
            val vals =
              if (cv.unpack) raw.map(v => v * cv.scaleFactor + cv.addOffset) else raw
            // CF `calendar`-aware decode: Gregorian-compatible AND
            // fixed-year calendars (noleap/365_day, all_leap/366_day,
            // 360_day — the CMIP shapes) decode to calendar-correct
            // timestamps; julian falls back to the raw numeric axis
            // rather than silently shifting dates.
            NcFormat.decodeTimeAxis(cv.attr("units"), cv.attr("calendar"),
                vals) match {
              case Some(micros) => TimeAxis(dim.name, micros)
              case None =>
                NumAxis(dim.name, vals, if (cv.unpack) NcDouble else cv.ncType)
            }
          case _ => IndexAxis(dim.name, dim.length)
        }
      }
      FileLayout(path, header, axes, dataVars)
    } finally in.close()
  }
}

final class NcTable(
    val layouts: Seq[FileLayout],
    val schema0: StructType,
    @transient val conf: Configuration,
    val paths: Seq[String],
    val maxFilesPerTrigger: Option[Int] = None) extends Table with SupportsRead {
  override def name(): String = layouts.headOption match {
    case Some(l) =>
      s"netcdf(${l.path}${if (layouts.length > 1) s" +${layouts.length - 1}" else ""})"
    case None => s"netcdf(${paths.mkString(",")} <empty>)"
  }
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new NcScanBuilder(this)
}

final class NcScanBuilder(table: NcTable) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = table.schema0
  private var pushed: Array[Filter] = Array.empty

  /** Axis monotonic in every file → an index range is an EXACT rewrite of
    * the predicate, so the filter is fully handled (no residual). An
    * empty-layout table (a bare streaming landing dir) claims nothing. */
  private val prunable: Set[String] =
    table.layouts.headOption.map(_.axes.map(_.name)
      .filter(n => table.layouts.forall(_.axes.find(_.name == n).exists(_.monotonic)))
      .toSet).getOrElse(Set.empty)

  /** Axis columns are never null; data columns CAN be (decoded _FillValue),
    * so IsNotNull is only claimed for axes. */
  private val axisCols: Set[String] =
    table.layouts.headOption.map(_.axes.map(_.name).toSet).getOrElse(Set.empty)

  private def handled(f: Filter): Boolean = f match {
    case sources.IsNotNull(a) => axisCols(a)
    case sources.EqualTo(a, v) => prunable(a) && comparable(v)
    case sources.GreaterThan(a, v) => prunable(a) && comparable(v)
    case sources.GreaterThanOrEqual(a, v) => prunable(a) && comparable(v)
    case sources.LessThan(a, v) => prunable(a) && comparable(v)
    case sources.LessThanOrEqual(a, v) => prunable(a) && comparable(v)
    case _ => false
  }

  private def comparable(v: Any): Boolean = NcScan.toKey(v).isDefined

  // NOTE a stream STARTED on an empty landing dir has no layouts, so
  // prunable stays empty and every filter remains residual for the
  // query's lifetime — correct (Spark re-filters) but unpruned; start
  // streams against a seeded dir when pushdown matters.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (h, residual) = filters.partition(handled)
    pushed = h
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new NcScan(table.layouts, required, pushed, table.conf,
      table.paths, table.schema0, table.maxFilesPerTrigger)
}

object NcScan {
  /** Filter literal → the axis key domain (micros for timestamps). */
  def toKey(v: Any): Option[Double] = v match {
    case n: Number => Some(n.doubleValue())
    case t: java.time.LocalDateTime =>
      Some(t.toEpochSecond(java.time.ZoneOffset.UTC) * 1e6 + t.getNano / 1000)
    case t: java.time.Instant =>
      Some(t.getEpochSecond * 1e6 + t.getNano / 1000)
    case t: java.sql.Timestamp => toKey(t.toLocalDateTime)
    case d: java.time.LocalDate => toKey(d.atStartOfDay())
    case d: java.sql.Date => toKey(d.toLocalDate)
    case _ => None
  }

  /** Exact index range [lo, hi] of `op v` on a monotonic axis; empty ranges
    * come back as lo > hi. */
  def axisRange(axis: Axis, f: Filter): (Int, Int) = {
    val inc = axis.increasing
    val n = axis.n
    def firstGe(v: Double) =
      if (inc) (0 until n).indexWhere(axis.key(_) >= v) match { case -1 => n; case i => i }
      else 0
    def firstGt(v: Double) =
      if (inc) (0 until n).indexWhere(axis.key(_) > v) match { case -1 => n; case i => i }
      else 0
    def lastLe(v: Double) =
      if (inc) (0 until n).lastIndexWhere(axis.key(_) <= v)
      else n - 1
    def lastLt(v: Double) =
      if (inc) (0 until n).lastIndexWhere(axis.key(_) < v)
      else n - 1
    // decreasing axes: the same predicate bounds the other end
    def decFirstLe(v: Double) = (0 until n).indexWhere(axis.key(_) <= v) match { case -1 => n; case i => i }
    def decFirstLt(v: Double) = (0 until n).indexWhere(axis.key(_) < v) match { case -1 => n; case i => i }
    def decLastGe(v: Double) = (0 until n).lastIndexWhere(axis.key(_) >= v)
    def decLastGt(v: Double) = (0 until n).lastIndexWhere(axis.key(_) > v)
    f match {
      case sources.EqualTo(_, v0) =>
        val v = toKey(v0).get
        if (inc) (firstGe(v), lastLe(v))
        else (decFirstLe(v), decLastGe(v))
      case sources.GreaterThan(_, v0) =>
        val v = toKey(v0).get
        if (inc) (firstGt(v), n - 1) else (0, decLastGt(v))
      case sources.GreaterThanOrEqual(_, v0) =>
        val v = toKey(v0).get
        if (inc) (firstGe(v), n - 1) else (0, decLastGe(v))
      case sources.LessThan(_, v0) =>
        val v = toKey(v0).get
        if (inc) (0, lastLt(v)) else (decFirstLt(v), n - 1)
      case sources.LessThanOrEqual(_, v0) =>
        val v = toKey(v0).get
        if (inc) (0, lastLe(v)) else (decFirstLe(v), n - 1)
      case _ => (0, n - 1)
    }
  }
}

final class NcScan(
    layouts: Seq[FileLayout],
    required: StructType,
    pushed: Array[Filter],
    @transient conf: Configuration,
    paths: Seq[String],
    tableSchema: StructType,
    maxFilesPerTrigger: Option[Int])
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required

  override def description(): String = {
    val ranges = layouts.headOption.map { first =>
      prunedRanges(first).map { r =>
        first.axes.zip(r).map { case (a, (lo, hi)) => s"${a.name}[$lo..$hi]" }
          .mkString(", ")
      }.getOrElse("<file pruned>")
    }.getOrElse("<no files>")
    s"graft-netcdf files=${layouts.length}, " +
      s"PushedFilters: [${pushed.mkString(", ")}], firstFileRanges: [$ranges], " +
      s"ReadSchema: ${required.simpleString}"
  }

  override def toBatch: Batch = this

  /** Streaming ingest of a landing directory — the reference's incremental
    * update loop (new files appear, get published) as a Structured
    * Streaming source. The offset is a FILENAME WATERMARK: a micro-batch
    * covers files whose sorted name exceeds it, so files must land with
    * monotonically increasing names — the same manifest naming convention
    * `checkIfNewData` and the reference rely on (convenience.py:473-504).
    * Filter pushdown and column pruning apply per micro-batch exactly as
    * in batch scans. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new graft.sources.FileMicroBatchStream(paths, conf,
      graft.sources.Manifest.isNetcdf, maxFilesPerTrigger,
      files => plan(NcTable.layoutsOf(conf, files).map { l =>
        // a late-landing file must present the stream's schema, like S10's
        // identical-dims assertion in the batch combine
        require(NcTable.scanSchemaOf(l) == tableSchema,
          s"${l.path} schema ${NcTable.scanSchemaOf(l)} drifted from the " +
            s"stream's $tableSchema")
        // …and axes backing CLAIMED pushed filters must stay monotonic: the
        // index-range rewrite is exact only then, and no residual filter
        // remains in the plan to catch an out-of-order late file
        pushed.flatMap(_.references).toSet.foreach { (ref: String) =>
          l.axes.find(_.name == ref).foreach(a => require(a.monotonic,
            s"${l.path}: axis $ref is not monotonic but a pushed filter " +
              "references it — refuse rather than return wrong rows"))
        }
        l
      }), createReaderFactory())

  /** Pruned [lo, hi] per data dim, or None when any axis range is empty —
    * the whole file is skipped (file-level pruning, the F6 analog). */
  private def prunedRanges(l: FileLayout): Option[Seq[(Int, Int)]] = {
    val init = l.axes.map(a => (0, a.n - 1)).toArray
    pushed.foreach {
      case f: sources.IsNotNull => ()
      case f =>
        f.references.headOption.foreach { ref =>
          val i = l.axes.indexWhere(_.name == ref)
          if (i >= 0) {
            val (lo, hi) = NcScan.axisRange(l.axes(i), f)
            init(i) = (math.max(init(i)._1, lo), math.min(init(i)._2, hi))
          }
        }
    }
    if (init.exists(r => r._1 > r._2)) None else Some(init.toSeq)
  }

  private def requiredVars(l: FileLayout): Seq[NcVar] =
    l.dataVars.filter(v => required.fieldNames.contains(v.name))

  /** Bytes one outer index of `l` reads: every required variable's inner
    * slab. */
  private def bytesPerOuter(l: FileLayout): Long = {
    val innerCells = l.dataDimIds.drop(1).map(l.dims(_).length.toLong).product
    math.max(1L, requiredVars(l).map(v => innerCells * typeSize(v.ncType)).sum)
  }

  /** Partitions of the files, split along the outermost dimension under
    * one [[graft.sources.SplitBudget]] over the pruned bytes of all of
    * them. */
  private def plan(files: Seq[FileLayout]): Seq[NcInputPartition] = {
    val kept = files.flatMap(l => prunedRanges(l).map(l -> _))
    val maxSplit = graft.sources.SplitBudget.maxSplitBytes(
      kept.map { case (l, r) => (r.head._2 - r.head._1 + 1) * bytesPerOuter(l) }.sum,
      kept.length)
    kept.flatMap { case (l, ranges) =>
      val vars = requiredVars(l)
      val innerSizes = l.dataDimIds.drop(1).map(l.dims(_).length)
      val outersPerSplit = math.max(1L, maxSplit / bytesPerOuter(l)).toInt
      val (outerLo, outerHi) = ranges.head
      val metas = vars.map(v =>
        VarMeta(v.name, v.ncType, v.begin, l.header.isRecordVar(v),
          v.scaleFactor, v.addOffset, v.fillValue, v.unpack))
      val cols: Seq[NcColSpec] = required.fieldNames.toSeq.map { f =>
        val ax = l.axes.indexWhere(_.name == f)
        if (ax >= 0) AxisCol(ax) else DataCol(metas.indexWhere(_.name == f))
      }
      (outerLo to outerHi by outersPerSplit).map { lo =>
        NcInputPartition(l.path, lo, math.min(lo + outersPerSplit - 1, outerHi),
          innerSizes.toArray, ranges.drop(1).map(_._1).toArray,
          ranges.drop(1).map(_._2).toArray, l.axes.toArray, metas.toArray,
          cols.toArray, l.header.recSize)
      }
    }
  }

  private lazy val partitions: Array[InputPartition] = plan(layouts).toArray

  override def planInputPartitions(): Array[InputPartition] = partitions

  private lazy val taskConf = graft.sources.BroadcastConf(conf)

  override def createReaderFactory(): PartitionReaderFactory =
    new NcReaderFactory(taskConf)

  override def estimateStatistics(): Statistics = new Statistics {
    private val rows: Long = layouts.flatMap(prunedRanges).map {
      _.map { case (lo, hi) => (hi - lo + 1).toLong }.product
    }.sum
    private val rowBytes: Long = required.fields.map(_.dataType.defaultSize.toLong).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(rows * math.max(1L, rowBytes))
    override def numRows(): OptionalLong = OptionalLong.of(rows)
  }
}

sealed trait NcColSpec extends Serializable
final case class AxisCol(dimPos: Int) extends NcColSpec
final case class DataCol(varIdx: Int) extends NcColSpec

final case class VarMeta(name: String, ncType: Int, begin: Long, isRecord: Boolean,
    scale: Double = 1.0, offset: Double = 0.0, fill: Option[Double] = None,
    unpack: Boolean = false)

final case class NcInputPartition(
    path: String,
    outerLo: Int,
    outerHi: Int,
    innerSizes: Array[Int],
    boxLo: Array[Int],
    boxHi: Array[Int],
    axes: Array[Axis],
    vars: Array[VarMeta],
    cols: Array[NcColSpec],
    recSize: Long) extends InputPartition

final class NcReaderFactory(conf: graft.sources.BroadcastConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new NcPartitionReader(partition.asInstanceOf[NcInputPartition], conf.value)
}

/** Reads one outer-index range: per outer step, one positioned read per
  * required variable covering exactly the pruned inner span. */
final class NcPartitionReader(part: NcInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val fs = new HPath(part.path).getFileSystem(conf)
  private val in = fs.open(new HPath(part.path))

  private val k = part.innerSizes.length
  private val strides: Array[Long] = {
    val s = new Array[Long](k)
    var acc = 1L
    var j = k - 1
    while (j >= 0) { s(j) = acc; acc *= part.innerSizes(j); j -= 1 }
    s
  }
  private val innerCells: Long = part.innerSizes.map(_.toLong).product
  private val linLo: Long =
    (0 until k).map(j => part.boxLo(j) * strides(j)).sum
  private val linHi: Long =
    (0 until k).map(j => part.boxHi(j) * strides(j)).sum
  private val spanCells: Int = (linHi - linLo + 1).toInt

  private val spans: Array[Array[Byte]] =
    part.vars.map(v => new Array[Byte](spanCells * NcFormat.typeSize(v.ncType)))

  private var outer = part.outerLo - 1
  private val idx = part.boxLo.clone()
  private var started = false
  private val row = new Array[Any](part.cols.length)

  private def loadOuter(): Unit = {
    var i = 0
    while (i < part.vars.length) {
      val v = part.vars(i)
      val ts = NcFormat.typeSize(v.ncType)
      val slabStart =
        if (v.isRecord) v.begin + outer.toLong * part.recSize
        else v.begin + outer.toLong * innerCells * ts
      in.readFully(slabStart + linLo * ts, spans(i))
      i += 1
    }
  }

  /** Odometer over the inner box; false when a full cycle completes. */
  private def advance(): Boolean = {
    var j = k - 1
    while (j >= 0) {
      if (idx(j) < part.boxHi(j)) { idx(j) += 1; return true }
      idx(j) = part.boxLo(j)
      j -= 1
    }
    false
  }

  override def next(): Boolean = {
    if (!started || !advance()) {
      started = true
      outer += 1
      if (outer > part.outerHi) return false
      loadOuter()
      var j = 0
      while (j < k) { idx(j) = part.boxLo(j); j += 1 }
    }
    true
  }

  override def get(): InternalRow = {
    var lin = 0L
    var j = 0
    while (j < k) { lin += idx(j) * strides(j); j += 1 }
    val rel = (lin - linLo).toInt
    var c = 0
    while (c < part.cols.length) {
      row(c) = part.cols(c) match {
        case AxisCol(0) => part.axes(0).emit(outer)
        case AxisCol(d) => part.axes(d).emit(idx(d - 1))
        case DataCol(i) =>
          val v = part.vars(i)
          val off = rel * NcFormat.typeSize(v.ncType)
          if (v.fill.isEmpty && !v.unpack) decodeTyped(spans(i), off, v.ncType)
          else {
            val raw = NcFormat.decodeOne(spans(i), off, v.ncType)
            if (v.fill.exists(f => NcFormat.fillMatches(raw, f, v.ncType))) null
            else if (v.unpack) raw * v.scale + v.offset
            else decodeTyped(spans(i), off, v.ncType)
          }
      }
      c += 1
    }
    new GenericInternalRow(row.clone())
  }

  private def decodeTyped(buf: Array[Byte], off: Int, ncType: Int): Any = {
    val bb = java.nio.ByteBuffer.wrap(buf)
    ncType match {
      case NcByte => buf(off)
      case NcUByte => (buf(off) & 0xFF).toShort
      case NcShort => bb.getShort(off)
      case NcUShort => bb.getShort(off) & 0xFFFF
      case NcInt => bb.getInt(off)
      case NcUInt => bb.getInt(off).toLong & 0xFFFFFFFFL
      case NcFloat => bb.getFloat(off)
      case NcDouble => bb.getDouble(off)
      case NcInt64 => bb.getLong(off)
      case other => throw new IllegalArgumentException(s"nc_type $other")
    }
  }

  override def close(): Unit = in.close()
}
