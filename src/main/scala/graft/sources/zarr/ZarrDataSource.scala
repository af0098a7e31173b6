package graft.sources.zarr

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration

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
import graft.sources.nc.{Axis, IndexAxis, NumAxis, TimeAxis}
import graft.sources.nc.NcFormat.parseTimeUnits
import ZarrMeta._

/** DataSource V2 batch reader for Zarr v2 stores — the reference's NATIVE
  * storage format (its whole write engine is `to_zarr`, publish.py:155-268,
  * and its inputs are kerchunk reference manifests over NetCDF/GRIB,
  * transform.py:119-279). `spark.read.format("zarr").load(storeDir)` yields
  * one row per grid cell, exactly like the NetCDF scan: one column per
  * dimension (CF time units decode to TIMESTAMP_NTZ) plus one column per
  * data variable.
  *
  * `spark.read.format("kerchunk").load(manifest.json)` reads the same grid
  * through a kerchunk reference manifest — chunk keys resolve to byte
  * ranges inside the ORIGINAL archive files (S7/S11's real form), so no
  * copy of the data ever exists.
  *
  * Scale design:
  *  - **Chunk pruning is the kerchunk analog**: predicates on monotonic
  *    coordinate axes become index ranges, and only chunks intersecting the
  *    pruned box are ever fetched; whole stores are skipped when a range is
  *    empty. The reader then bounds cell emission to the exact box, so
  *    claimed filters need no residual.
  *  - **Column pruning is object pruning**: each variable owns its chunk
  *    objects; an unprojected variable costs zero reads.
  *  - **Partitioning**: pruned chunks are batched into tasks under the
  *    scan's [[graft.sources.SplitBudget]] (decompressed size, one open
  *    cost per store), so a year-long store fans out across executors.
  */
class ZarrDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "zarr"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZarrTable.resolve(options, kerchunk = false).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    ZarrTable.resolve(new CaseInsensitiveStringMap(properties), kerchunk = false)
}

/** Same scan over a kerchunk reference manifest instead of a directory
  * store. */
class KerchunkDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "kerchunk"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZarrTable.resolve(options, kerchunk = true).schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    ZarrTable.resolve(new CaseInsensitiveStringMap(properties), kerchunk = true)
}

/** Planned grid: dimension axes + the data arrays sharing them. */
final case class ZarrGrid(
    source: String,
    dimNames: Seq[String],
    axes: Seq[Axis],
    dataArrays: Seq[ResolvedArray]) extends Serializable

object ZarrTable {

  def resolve(options: CaseInsensitiveStringMap, kerchunk: Boolean): ZarrTable = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("zarr scan needs a path"))
    val store =
      if (kerchunk) ZarrMeta.resolveRefs(conf, path)
      else ZarrMeta.resolveDirectory(conf, path)
    new ZarrTable(planGrid(conf, path, store), conf)
  }

  /** Scan table over an already-resolved store (the netCDF-4/HDF5 route —
    * its manifest is built in memory, not read from a file). */
  def fromStore(conf: Configuration, label: String, store: ResolvedStore): ZarrTable =
    new ZarrTable(planGrid(conf, label, store), conf)

  /** Coordinate arrays are 1-D arrays labeled with their own name
    * (xarray's `_ARRAY_DIMENSIONS` convention); everything else is data.
    * All data arrays must share one dimension list AND one chunk grid —
    * the reference's datasets satisfy both (one `to_zarr` writes them). */
  private[zarr] def planGrid(conf: Configuration, path: String,
      store: ResolvedStore): ZarrGrid = {
    def isCoord(a: ResolvedArray) =
      a.meta.ndim == 1 && a.meta.dimNames.contains(Seq(a.name))
    val (coords, data) = store.arrays.partition(isCoord)
    require(data.nonEmpty, s"$path: no data arrays (only coordinates)")
    val dimNames = data.head.meta.dimNames.getOrElse(
      throw new IllegalArgumentException(
        s"$path: ${data.head.name} lacks _ARRAY_DIMENSIONS"))
    data.foreach { a =>
      require(a.meta.dimNames.contains(dimNames),
        s"$path: ${a.name} dims ${a.meta.dimNames} differ from $dimNames — " +
          "all data variables must share one grid")
      require(a.meta.chunks == data.head.meta.chunks,
        s"$path: ${a.name} chunks ${a.meta.chunks} differ from " +
          s"${data.head.meta.chunks} — one chunk grid per store")
      require(a.meta.shape == data.head.meta.shape,
        s"$path: ${a.name} shape ${a.meta.shape} differs from ${data.head.meta.shape}")
    }
    val coordByName = coords.map(a => a.name -> a).toMap
    val axes: Seq[Axis] = dimNames.zipWithIndex.map { case (dim, i) =>
      val n = data.head.meta.shape(i)
      coordByName.get(dim) match {
        case Some(c) =>
          require(c.meta.shape == Seq(n),
            s"$path: coordinate $dim has shape ${c.meta.shape}, grid needs [$n]")
          val raw = readCoordDoubles(conf, c)
          c.meta.effectiveFill.foreach { f =>
            require(!raw.exists(v => fillMatches(v, f, c.meta.dtype)),
              s"$path: coordinate $dim contains its fill value $f")
          }
          val vals =
            if (c.meta.unpack) raw.map(v => v * c.meta.scaleFactor + c.meta.addOffset)
            else raw
          // CF calendar-aware decode (incl. noleap/all_leap/360_day);
          // see NcFormat.decodeTimeAxis
          graft.sources.nc.NcFormat.decodeTimeAxis(c.meta.attr("units"),
              c.meta.attr("calendar"), vals) match {
            case Some(micros) =>
              TimeAxis(dim, micros)
            case _ =>
              val numType = c.meta.dtype.sparkType match {
                case _ if c.meta.unpack => graft.sources.nc.NcFormat.NcDouble
                case DoubleType | LongType => graft.sources.nc.NcFormat.NcDouble
                case FloatType => graft.sources.nc.NcFormat.NcFloat
                case ShortType => graft.sources.nc.NcFormat.NcShort
                case ByteType => graft.sources.nc.NcFormat.NcByte
                case _ => graft.sources.nc.NcFormat.NcInt
              }
              NumAxis(dim, vals, numType)
          }
        case None => IndexAxis(dim, n)
      }
    }
    ZarrGrid(path, dimNames, axes, data)
  }

  /** Decode a whole 1-D coordinate array driver-side (axes are tiny next to
    * the data payload — the same planning trade the NC scan makes). */
  private def readCoordDoubles(conf: Configuration, a: ResolvedArray): Array[Double] = {
    val n = a.meta.shape.head
    val chunk = a.meta.chunks.head
    val out = new Array[Double](n)
    var c = 0
    while (c * chunk < n) {
      val buf = ZarrMeta.readChunk(conf, a.meta, a.chunkRef(conf, Seq(c))).getOrElse(
        throw new IllegalStateException(
          s"Coordinate ${a.name} chunk $c is missing — axes cannot have fill holes"))
      var i = 0
      val base = c * chunk
      while (i < chunk && base + i < n) {
        out(base + i) = a.meta.dtype.decodeDouble(buf, i)
        i += 1
      }
      c += 1
    }
    out
  }

  /** Fill comparison in the variable's own float width (same rule as
    * NcFormat.fillMatches — a double-width fill attr must still match
    * float-widened raw values). */
  def fillMatches(raw: Double, fill: Double, dtype: ZDtype): Boolean =
    (raw.isNaN && fill.isNaN) ||
      (if (dtype.kind == 'f' && dtype.size == 4) raw.toFloat == fill.toFloat
       else raw == fill)

  def dataField(a: ResolvedArray): StructField =
    StructField(a.name,
      if (a.meta.unpack) DoubleType else a.meta.dtype.sparkType,
      nullable = a.meta.effectiveFill.isDefined)

  def schemaOf(grid: ZarrGrid): StructType = StructType(
    grid.axes.map(a => StructField(a.name, a.sparkType, nullable = false)) ++
      grid.dataArrays.map(dataField))
}

final class ZarrTable(
    val grid: ZarrGrid,
    @transient val conf: Configuration) extends Table with SupportsRead {
  override def name(): String = s"zarr(${grid.source})"
  override def schema(): StructType = ZarrTable.schemaOf(grid)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZarrScanBuilder(this)
}

final class ZarrScanBuilder(table: ZarrTable) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = table.schema()
  private var pushed: Array[Filter] = Array.empty

  /** Monotonic axes admit an EXACT index-range rewrite (and the reader
    * re-bounds cells to the box), so these filters are fully handled. */
  private val prunable: Set[String] =
    table.grid.axes.filter(_.monotonic).map(_.name).toSet
  private val axisCols: Set[String] = table.grid.axes.map(_.name).toSet

  private def handled(f: Filter): Boolean = f match {
    case sources.IsNotNull(a) => axisCols(a)
    case sources.EqualTo(a, v) => prunable(a) && comparable(v)
    case sources.GreaterThan(a, v) => prunable(a) && comparable(v)
    case sources.GreaterThanOrEqual(a, v) => prunable(a) && comparable(v)
    case sources.LessThan(a, v) => prunable(a) && comparable(v)
    case sources.LessThanOrEqual(a, v) => prunable(a) && comparable(v)
    case _ => false
  }
  private def comparable(v: Any): Boolean =
    graft.sources.nc.NcScan.toKey(v).isDefined

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (h, residual) = filters.partition(handled)
    pushed = h
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new ZarrScan(table.grid, required, pushed, table.conf)
}

final class ZarrScan(
    grid: ZarrGrid,
    required: StructType,
    pushed: Array[Filter],
    @transient conf: Configuration)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Pruned [lo, hi] cell box per dimension, or None when empty — the whole
    * store is skipped (file-level pruning analog, F6). */
  private[zarr] def prunedBox: Option[Array[(Int, Int)]] = {
    val init = grid.axes.map(a => (0, a.n - 1)).toArray
    pushed.foreach {
      case _: sources.IsNotNull => ()
      case f =>
        f.references.headOption.foreach { ref =>
          val i = grid.axes.indexWhere(_.name == ref)
          if (i >= 0) {
            val (lo, hi) = graft.sources.nc.NcScan.axisRange(grid.axes(i), f)
            init(i) = (math.max(init(i)._1, lo), math.min(init(i)._2, hi))
          }
        }
    }
    if (init.exists(r => r._1 > r._2)) None else Some(init)
  }

  override def description(): String = {
    val box = prunedBox match {
      case Some(b) => grid.axes.zip(b).map { case (a, (lo, hi)) => s"${a.name}[$lo..$hi]" }
        .mkString(", ")
      case None => "<store pruned>"
    }
    val chunks = partitions.map(_.asInstanceOf[ZarrInputPartition].chunks.length).sum
    s"graft-zarr ${grid.source}, PushedFilters: [${pushed.mkString(", ")}], " +
      s"box: [$box], chunksRead: $chunks, ReadSchema: ${required.simpleString}"
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  // lazy: description() and planInputPartitions() both consult it — every
  // chunk ref resolves once per scan, not per call
  private lazy val partitions: Array[InputPartition] = prunedBox match {
    case None => Array.empty
    case Some(box) =>
      val vars = grid.dataArrays.filter(a => required.fieldNames.contains(a.name))
      val meta0 = grid.dataArrays.head.meta
      val chunkDims = meta0.chunks.toArray
      // chunk-coordinate ranges intersecting the box
      val cr = box.zip(chunkDims).map { case ((lo, hi), c) => (lo / c, hi / c) }
      val chunkCoords = cr.foldLeft(Seq(Seq.empty[Int])) { case (acc, (lo, hi)) =>
        acc.flatMap(prefix => (lo to hi).map(prefix :+ _))
      }
      val bytesPerChunk = math.max(1L,
        vars.map(_.meta.bytesPerChunk).sum)
      val maxSplit = graft.sources.SplitBudget.maxSplitBytes(
        chunkCoords.length * bytesPerChunk, files = 1)
      val perPart = math.max(1L, maxSplit / bytesPerChunk).toInt
      val cols: Array[ZColSpec] = required.fieldNames.map { f =>
        val ax = grid.axes.indexWhere(_.name == f)
        if (ax >= 0) ZAxisCol(ax)
        else ZDataCol(vars.indexWhere(_.name == f))
      }.toArray
      chunkCoords.grouped(perPart).map { group =>
        val chunks = group.map(_.toArray).toArray
        val varParts = vars.map { a =>
          ZVarPart(a.name, a.meta, group.map(c => a.chunkRef(conf, c)).toArray)
        }.toArray
        ZarrInputPartition(chunks, box.map { case (lo, hi) => Array(lo, hi) },
          chunkDims, grid.axes.toArray, varParts, cols)
      }.toArray
  }

  private lazy val taskConf = BroadcastConf(conf)

  override def createReaderFactory(): PartitionReaderFactory =
    new ZarrReaderFactory(taskConf)

  override def estimateStatistics(): Statistics = new Statistics {
    private val rows: Long = prunedBox match {
      case Some(b) => b.map { case (lo, hi) => (hi - lo + 1).toLong }.product
      case None => 0L
    }
    private val rowBytes: Long = required.fields.map(_.dataType.defaultSize.toLong).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(rows * math.max(1L, rowBytes))
    override def numRows(): OptionalLong = OptionalLong.of(rows)
  }
}

sealed trait ZColSpec extends Serializable
final case class ZAxisCol(dimPos: Int) extends ZColSpec
final case class ZDataCol(varIdx: Int) extends ZColSpec

/** One data variable inside a partition: refs aligned with the partition's
  * chunk list (None only for manifest stores whose key is absent). */
final case class ZVarPart(name: String, meta: ZArrayMeta,
    refs: Array[Option[ChunkRef]]) extends Serializable

final case class ZarrInputPartition(
    chunks: Array[Array[Int]],
    box: Array[Array[Int]],
    chunkDims: Array[Int],
    axes: Array[Axis],
    vars: Array[ZVarPart],
    cols: Array[ZColSpec]) extends InputPartition

final class ZarrReaderFactory(conf: BroadcastConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ZarrPartitionReader(partition.asInstanceOf[ZarrInputPartition], conf.value)
}

/** Emits the cells of each chunk that fall inside the pruned box. A missing
  * chunk object (or absent manifest key) is an all-fill chunk — zarr never
  * writes chunks whose every cell is fill. */
final class ZarrPartitionReader(part: ZarrInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val k = part.chunkDims.length
  // strides WITHIN a chunk (C order)
  private val strides: Array[Long] = {
    val s = new Array[Long](k)
    var acc = 1L
    var j = k - 1
    while (j >= 0) { s(j) = acc; acc *= part.chunkDims(j); j -= 1 }
    s
  }

  private var chunkIdx = -1
  private var bufs: Array[Option[Array[Byte]]] = Array.empty
  // iteration state: global coords + the chunk-local box
  private val gIdx = new Array[Int](k)
  private val lo = new Array[Int](k)
  private val hi = new Array[Int](k)
  private var haveCell = false
  private val row = new Array[Any](part.cols.length)

  /** Load the next chunk that intersects the box; false when done. */
  private def nextChunk(): Boolean = {
    while (true) {
      chunkIdx += 1
      if (chunkIdx >= part.chunks.length) return false
      val c = part.chunks(chunkIdx)
      var empty = false
      var j = 0
      while (j < k) {
        val base = c(j) * part.chunkDims(j)
        lo(j) = math.max(part.box(j)(0), base)
        hi(j) = math.min(part.box(j)(1),
          math.min(base + part.chunkDims(j) - 1, part.axes(j).n - 1))
        if (lo(j) > hi(j)) empty = true
        j += 1
      }
      if (!empty) {
        bufs = part.vars.map(v => ZarrMeta.readChunk(conf, v.meta, v.refs(chunkIdx)))
        var j2 = 0
        while (j2 < k) { gIdx(j2) = lo(j2); j2 += 1 }
        return true
      }
    }
    false
  }

  /** Odometer over the box∩chunk cells. */
  private def advance(): Boolean = {
    var j = k - 1
    while (j >= 0) {
      if (gIdx(j) < hi(j)) { gIdx(j) += 1; return true }
      gIdx(j) = lo(j)
      j -= 1
    }
    false
  }

  override def next(): Boolean = {
    if (!haveCell || !advance()) {
      if (!nextChunk()) return false
      haveCell = true
    }
    true
  }

  override def get(): InternalRow = {
    val c = part.chunks(chunkIdx)
    // chunk-local linear offset of the current cell
    var lin = 0L
    var j = 0
    while (j < k) {
      lin += (gIdx(j) - c(j) * part.chunkDims(j)) * strides(j)
      j += 1
    }
    val cell = lin.toInt
    var i = 0
    while (i < part.cols.length) {
      row(i) = part.cols(i) match {
        case ZAxisCol(d) => part.axes(d).emit(gIdx(d))
        case ZDataCol(v) =>
          val meta = part.vars(v).meta
          bufs(v) match {
            case None => // all-fill chunk
              if (meta.effectiveFill.isEmpty)
                throw new IllegalStateException(
                  s"${part.vars(v).name}: chunk ${meta.chunkKey(c.toSeq)} missing and no fill_value")
              null
            case Some(buf) =>
              val fill = meta.effectiveFill
              if (fill.isEmpty && !meta.unpack) meta.dtype.decode(buf, cell)
              else {
                val raw = meta.dtype.decodeDouble(buf, cell)
                if (fill.exists(f => ZarrTable.fillMatches(raw, f, meta.dtype))) null
                else if (meta.unpack) raw * meta.scaleFactor + meta.addOffset
                else meta.dtype.decode(buf, cell)
              }
          }
      }
      i += 1
    }
    new GenericInternalRow(row.clone())
  }

  override def close(): Unit = ()
}
