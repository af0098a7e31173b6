package graft.sources.tiff

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
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.BroadcastConf
import TiffFormat.TiffRaster

/** DataSource V2 batch reader for GeoTIFF / cloud-optimized GeoTIFF
  * (COG) — the raster shape CHIRPS-style archives publish next to
  * NetCDF. `spark.read.format("geotiff").load(pathOrDir)` yields one
  * row per (pixel, band):
  * (path STRING, latitude, longitude, band INT, value DOUBLE?) for
  * geographic rasters (GTModelType 2, and bare TIFFs), or
  * (path, northing, easting, band, value) for projected ones
  * (GTModelType 1 — UTM/Web-Mercator), so a projected grid is never
  * mislabeled as degrees and [[graft.ops.Projection]] unprojects it;
  * NODATA cells surface as null `value`, never as the sentinel. Time
  * is NOT in the format — per-file dates live in the filename, so the
  * `path` column feeds the C8 filename→coords kit downstream.
  *
  * Scale design (mirrors the GRIB scan):
  *  - **A tile is the pruning AND partition unit.** The affine
  *    geo-transform is monotone in both axes, so latitude/longitude
  *    range predicates invert to pixel ranges and prune whole tiles at
  *    PLANNING, header-only — the COG promise (HTTP range requests per
  *    tile) expressed as Spark partition pruning. Claimed lat/lon and
  *    band filters are EXACT: the reader re-applies them per cell with
  *    the same arithmetic the planner used.
  *  - **Planning is header-only**: the IFD walk (offsets, byte counts,
  *    geo tags) is memoized per (path, mtime, length) in a bounded
  *    LRU; tile payloads are fetched by one positioned read per tile
  *    inside the partition reader.
  *  - Value predicates stay residual (a tile's value range isn't in
  *    the header — no TIFF statistics tag in the COG baseline). */
class TiffDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "geotiff"
  override def supportsExternalMetadata(): Boolean = true

  /** Schema depends on the files' CRS class (header-only, memoized):
    * geographic rasters present latitude/longitude, projected ones
    * northing/easting — never a projected grid mislabeled as degrees.
    * The provider API calls inferSchema then getTable back-to-back for
    * one read; the resolved table is handed from the first call to the
    * second (consume-once) so planning stays at ONE listing + header
    * pass per read — the header-cache spec pins that bound. */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val t = TiffTable.resolve(options)
    pending.set((TiffTable.optionsKey(options), t))
    t.schema()
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val handoff = pending.getAndSet(null)
    val t = handoff match {
      case (k, cached) if k == TiffTable.optionsKey(options) => cached
      case _ => TiffTable.resolve(options)
    }
    require(schema == t.schema(),
      s"geotiff scan presents ${t.schema().simpleString}; got ${schema.simpleString}")
    t
  }

  private val pending =
    new java.util.concurrent.atomic.AtomicReference[(String, TiffTable)]()
}

object TiffTable {
  /** Geographic (GTModelType 2, and bare pixel-space TIFFs). */
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("latitude", DoubleType, nullable = false),
    StructField("longitude", DoubleType, nullable = false),
    // 1-based, GDAL band numbering
    StructField("band", IntegerType, nullable = false),
    // NODATA cells surface as null
    StructField("value", DoubleType, nullable = true)))

  /** Projected CRS (GTModelType 1 — UTM/Web-Mercator): model-space
    * metres under their own names; [[graft.ops.Projection]] unprojects
    * downstream (e.g. `unproject3857`). */
  val ProjectedSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("northing", DoubleType, nullable = false),
    StructField("easting", DoubleType, nullable = false),
    StructField("band", IntegerType, nullable = false),
    StructField("value", DoubleType, nullable = true)))

  /** Header-cache bound (files); `private[tiff] var` for the eviction
    * spec, like the GRIB cache. */
  private[tiff] var MaxCachedFiles = 4096
  private[tiff] val headerParses = new java.util.concurrent.atomic.AtomicLong

  private val rasterCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long, Long, Int), TiffRaster](
          256, 0.75f, /* accessOrder = */ true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long, Long, Int), TiffRaster]): Boolean =
          size() > MaxCachedFiles
      })
  private[tiff] def clearHeaderCache(): Unit = rasterCache.clear()

  /** Positioned header reads against one open stream per parse. */
  private[tiff] def parseFile(conf: Configuration,
      st: org.apache.hadoop.fs.FileStatus, overview: Int = 0): TiffRaster = {
    val key = (st.getPath.toString, st.getModificationTime, st.getLen, overview)
    val hit = rasterCache.get(key)
    if (hit != null) hit
    else {
      headerParses.incrementAndGet()
      val in = st.getPath.getFileSystem(conf).open(st.getPath)
      val r = try TiffFormat.parse((off, len) => {
        val n = math.min(len.toLong, st.getLen - off).toInt
        val b = new Array[Byte](math.max(0, n))
        if (n > 0) in.readFully(off, b)
        b
      }, st.getLen, overview) finally in.close()
      rasterCache.put(key, r)
      r
    }
  }

  private def isTiff(name: String): Boolean = {
    val n = name.toLowerCase
    n.endsWith(".tif") || n.endsWith(".tiff")
  }

  private[tiff] def listTiffFiles(conf: Configuration,
      paths: Seq[String]): Seq[org.apache.hadoop.fs.FileStatus] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(Future.traverse(paths) { p0 =>
      Future(scala.concurrent.blocking {
        val p = new HPath(p0)
        val fs = p.getFileSystem(conf)
        try {
          val st = fs.getFileStatus(p)
          if (st.isDirectory)
            fs.listStatus(p).toSeq.filter(_.isFile)
              .filter(f => isTiff(f.getPath.getName))
          else Seq(st)
        } catch {
          case _: java.io.FileNotFoundException =>
            Seq.empty[org.apache.hadoop.fs.FileStatus]
        }
      })
    }, Duration.Inf).flatten
      .sortBy(st => graft.sources.Manifest.naturalKey(st.getPath.toString))
  }

  /** Per-file band counts straight from the memoized HEADERS — zero
    * payload reads, for manager-level guards (the GRIB `windowKeys`
    * pattern). */
  private[graft] def bandCounts(conf: Configuration,
      paths: Seq[String]): Seq[(String, Int)] = {
    val files = listTiffFiles(conf, paths)
    files.map(st => st.getPath.toString -> parseFile(conf, st).bands)
  }

  /** Identity of a read for the inferSchema→getTable handoff. */
  private[tiff] def optionsKey(options: CaseInsensitiveStringMap): String =
    Seq("path", "overview", "maxFilesPerTrigger")
      .map(k => s"$k=${options.get(k)}").mkString("|")

  def resolve(options: CaseInsensitiveStringMap): TiffTable = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = Option(options.get("path")).toSeq
    require(paths.nonEmpty, "geotiff scan needs a path")
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    // COG pyramid level: 0 = full resolution (default); k = k-th
    // overview — a preview-scale scan plans 4^-k of the tile bytes
    val overview = Option(options.get("overview")).map(_.toInt).getOrElse(0)
    val files = listTiffFiles(conf, paths)
    // parse cache misses on a bounded pool — header-only, one remote
    // round trip per file, never serial O(files) on the driver
    locally {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      Await.result(Future.traverse(files)(st =>
        Future(scala.concurrent.blocking(parseFile(conf, st, overview)))), Duration.Inf)
    }
    val byFile = files.map(st =>
      st.getPath.toString -> parseFile(conf, st, overview))
    // one CRS class per scan: a directory mixing projected and
    // geographic rasters has no single honest schema — refuse by name
    val (proj, geo) = byFile.partition(_._2.projected)
    require(proj.isEmpty || geo.isEmpty,
      s"geotiff scan mixes projected and geographic rasters (e.g. " +
        s"${proj.headOption.map(_._1).getOrElse("")} is projected, " +
        s"${geo.headOption.map(_._1).getOrElse("")} is geographic) — " +
        "scan them separately")
    new TiffTable(byFile, conf, paths, maxFiles, overview)
  }
}

final class TiffTable(
    val byFile: Seq[(String, TiffRaster)],
    @transient val conf: Configuration,
    val paths: Seq[String] = Seq.empty,
    val maxFilesPerTrigger: Option[Int] = None,
    val overview: Int = 0) extends Table with SupportsRead {
  /** All files share one CRS class ([[TiffTable.resolve]] refuses a
    * mix); an empty listing scans as geographic. */
  val projected: Boolean = byFile.headOption.exists(_._2.projected)
  override def name(): String =
    s"geotiff(${byFile.length} files, ${byFile.map { case (_, r) =>
      r.tileOffsets.length }.sum} tiles)"
  override def schema(): StructType =
    if (projected) TiffTable.ProjectedSchema else TiffTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TiffScanBuilder(this)
}

final class TiffScanBuilder(table: TiffTable) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = table.schema()
  private var pushed: Array[Filter] = Array.empty
  // model-space axis names: (y, x) — latitude/longitude for geographic
  // scans, northing/easting for projected ones; the pruning math is the
  // same monotone affine either way
  private val yName = if (table.projected) "northing" else "latitude"
  private val xName = if (table.projected) "easting" else "longitude"

  /** Coordinate range predicates (lat/lon, or northing/easting on a
    * projected scan) prune TILES at planning and are re-applied per cell
    * with the planner's own arithmetic → fully handled; band equality is
    * enforced in the reader; `path` supports equality (one file per date
    * is the archive shape). Everything on `value` stays residual. */
  private def handled(f: Filter): Boolean = f match {
    case sources.IsNotNull(a) => a != "value" &&
      table.schema().fieldNames.contains(a)
    case sources.EqualTo("band", _: Integer) => true
    case sources.In("band", vs) => vs.forall(_.isInstanceOf[Integer])
    case sources.EqualTo("path", _: String) => true
    case sources.EqualTo(a, _: java.lang.Double) => a == yName || a == xName
    case sources.GreaterThan(a, _: java.lang.Double) => a == yName || a == xName
    case sources.GreaterThanOrEqual(a, _: java.lang.Double) => a == yName || a == xName
    case sources.LessThan(a, _: java.lang.Double) => a == yName || a == xName
    case sources.LessThanOrEqual(a, _: java.lang.Double) => a == yName || a == xName
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

  override def build(): Scan = new TiffScan(table.byFile, required, pushed,
    table.conf, table.paths, table.maxFilesPerTrigger, table.overview)
}

final class TiffScan(
    byFile: Seq[(String, TiffRaster)],
    required: StructType,
    pushed: Array[Filter],
    @transient conf: Configuration,
    paths: Seq[String] = Seq.empty,
    maxFilesPerTrigger: Option[Int] = None,
    overview: Int = 0)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new TiffMicroBatchStream(this, paths, conf, maxFilesPerTrigger, overview)

  /** Streaming batches reuse the batch pruning + packing verbatim (one
    * file per call, so the budget sees that file's surviving tiles). */
  private[tiff] def partitionsOf(path: String,
      r: TiffRaster): Seq[InputPartition] =
    fileTiles(path, r).toSeq.flatMap { f =>
      val openCost = graft.sources.SplitBudget.openCostInBytes
      val maxSplit = graft.sources.SplitBudget.maxSplitBytes(
        f._3.map(_.count).sum + openCost)
      packTiles(f, maxSplit, openCost)
    }
  private[tiff] def readerFactory: PartitionReaderFactory = createReaderFactory()

  // all rasters in one scan share a CRS class (resolve() refused a mix)
  private val projectedCrs = byFile.headOption.exists(_._2.projected)
  private val yName = if (projectedCrs) "northing" else "latitude"
  private val xName = if (projectedCrs) "easting" else "longitude"

  /** Pixel-space keep-bounds for one raster from the pushed coordinate
    * range predicates (lat/lon or northing/easting): [x0, x1] x [y0, y1]
    * inclusive, or None = nothing survives. Pixel centers are monotone
    * in x (lon/easting increasing) and y (lat/northing decreasing for
    * north-up rasters), so each bound maps to one end. */
  private def pixelBounds(r: TiffRaster): Option[(Int, Int, Int, Int)] = {
    var x0 = 0; var x1 = r.width - 1; var y0 = 0; var y1 = r.height - 1
    def firstX(pred: Int => Boolean): Int = { // smallest x satisfying
      var lo = 0; var hi = r.width
      while (lo < hi) { val m = (lo + hi) >>> 1; if (pred(m)) hi = m else lo = m + 1 }
      lo
    }
    def firstY(pred: Int => Boolean): Int = {
      var lo = 0; var hi = r.height
      while (lo < hi) { val m = (lo + hi) >>> 1; if (pred(m)) hi = m else lo = m + 1 }
      lo
    }
    pushed.foreach {
      // lon/easting increases with x
      case sources.GreaterThan(`xName`, v: java.lang.Double) =>
        x0 = math.max(x0, firstX(x => r.lonOf(x) > v.doubleValue()))
      case sources.GreaterThanOrEqual(`xName`, v: java.lang.Double) =>
        x0 = math.max(x0, firstX(x => r.lonOf(x) >= v.doubleValue()))
      case sources.LessThan(`xName`, v: java.lang.Double) =>
        x1 = math.min(x1, firstX(x => r.lonOf(x) >= v.doubleValue()) - 1)
      case sources.LessThanOrEqual(`xName`, v: java.lang.Double) =>
        x1 = math.min(x1, firstX(x => r.lonOf(x) > v.doubleValue()) - 1)
      case sources.EqualTo(`xName`, v: java.lang.Double) =>
        val x = firstX(x => r.lonOf(x) >= v.doubleValue())
        if (x < r.width && r.lonOf(x) == v.doubleValue()) {
          x0 = math.max(x0, x); x1 = math.min(x1, x)
        } else { x0 = 1; x1 = 0 }
      // lat/northing DECREASES with y for north-up rasters (scaleY > 0); a bare
      // TIFF's pixel-space transform (scaleY = -1) INCREASES — branch so
      // the claimed-exact pushdown is right either way
      case sources.LessThan(`yName`, v: java.lang.Double) =>
        if (r.scaleY > 0) y0 = math.max(y0, firstY(y => r.latOf(y) < v.doubleValue()))
        else y1 = math.min(y1, firstY(y => r.latOf(y) >= v.doubleValue()) - 1)
      case sources.LessThanOrEqual(`yName`, v: java.lang.Double) =>
        if (r.scaleY > 0) y0 = math.max(y0, firstY(y => r.latOf(y) <= v.doubleValue()))
        else y1 = math.min(y1, firstY(y => r.latOf(y) > v.doubleValue()) - 1)
      case sources.GreaterThan(`yName`, v: java.lang.Double) =>
        if (r.scaleY > 0) y1 = math.min(y1, firstY(y => r.latOf(y) <= v.doubleValue()) - 1)
        else y0 = math.max(y0, firstY(y => r.latOf(y) > v.doubleValue()))
      case sources.GreaterThanOrEqual(`yName`, v: java.lang.Double) =>
        if (r.scaleY > 0) y1 = math.min(y1, firstY(y => r.latOf(y) < v.doubleValue()) - 1)
        else y0 = math.max(y0, firstY(y => r.latOf(y) >= v.doubleValue()))
      case sources.EqualTo(`yName`, v: java.lang.Double) =>
        val y =
          if (r.scaleY > 0) firstY(y => r.latOf(y) <= v.doubleValue())
          else firstY(y => r.latOf(y) >= v.doubleValue())
        if (y < r.height && r.latOf(y) == v.doubleValue()) {
          y0 = math.max(y0, y); y1 = math.min(y1, y)
        } else { y0 = 1; y1 = 0 }
      case _ =>
    }
    if (x0 > x1 || y0 > y1) None else Some((x0, x1, y0, y1))
  }

  private def pathKept(p: String): Boolean = pushed.forall {
    case sources.EqualTo("path", v: String) => p == v
    case _ => true
  }

  private def bandsOf(r: TiffRaster): Seq[Int] = {
    val all = 1 to r.bands
    pushed.foldLeft(all: Seq[Int]) { (acc, f) =>
      f match {
        case sources.EqualTo("band", v: Integer) => acc.filter(_ == v.intValue())
        case sources.In("band", vs) =>
          acc.filter(b => vs.exists(_.asInstanceOf[Integer].intValue() == b))
        case _ => acc
      }
    }
  }

  // (path, raster, surviving tile refs, clip bounds, bands) per file
  private def fileTiles(p: String, r: TiffRaster): Option[
      (String, TiffRaster, Seq[TiffTileRef], (Int, Int, Int, Int), Array[Int])] =
    if (!pathKept(p)) None
    else {
      val bands = bandsOf(r)
      if (bands.isEmpty) None
      else pixelBounds(r) match {
        case None => None
        case Some((x0, x1, y0, y1)) =>
          val t0x = x0 / r.tileWidth; val t1x = x1 / r.tileWidth
          val t0y = y0 / r.tileHeight; val t1y = y1 / r.tileHeight
          // slim descriptor: a partition must NOT serialize the whole
          // tile index (O(tiles) per partition = O(tiles^2) shipped)
          val slim = r.copy(tileOffsets = Array.emptyLongArray,
            tileByteCounts = Array.emptyLongArray)
          val tiles = for {
            ty <- t0y to t1y
            tx <- t0x to t1x
            t = ty * r.tilesAcross + tx
          } yield TiffTileRef(tx, ty, r.tileOffsets(t), r.tileByteCounts(t))
          Some((p, slim, tiles, (x0, x1, y0, y1), bands.toArray))
      }
    }

  /** Greedy same-file pack of tile refs up to `maxSplit` bytes (open cost
    * charged once per split, like Spark's file-granular charging). */
  private def packTiles(
      f: (String, TiffRaster, Seq[TiffTileRef], (Int, Int, Int, Int), Array[Int]),
      maxSplit: Long, openCost: Long): Seq[TiffInputPartition] = {
    val (p, slim, tiles, (x0, x1, y0, y1), bands) = f
    val groups = Seq.newBuilder[Seq[TiffTileRef]]
    var cur = List.newBuilder[TiffTileRef]
    // the per-file open cost charges ONCE, into the file's first split
    // (Spark's file-granular charging) — charging it into every split
    // made each split start "full" and degenerate back to one tile each
    var curBytes = openCost
    var curEmpty = true
    tiles.foreach { t =>
      if (!curEmpty && curBytes + t.count > maxSplit) {
        groups += cur.result()
        cur = List.newBuilder[TiffTileRef]; curBytes = 0L; curEmpty = true
      }
      cur += t; curBytes += t.count; curEmpty = false
    }
    if (!curEmpty) groups += cur.result()
    groups.result().map(g => TiffInputPartition(p, slim, g.toArray,
      x0, x1, y0, y1, bands, required.fieldNames))
  }

  /** Surviving tiles packed into byte-budgeted partitions (SplitBudget —
    * Spark's maxSplitBytes formula at tile granularity): one partition per
    * tile made a million-tile COG archive a million tasks; consecutive
    * same-file tiles now share a task and one open stream. */
  private lazy val survivors: Seq[TiffInputPartition] = {
    val perFile = byFile.flatMap { case (p, r) => fileTiles(p, r) }
    if (perFile.isEmpty) Seq.empty
    else {
      val openCost = graft.sources.SplitBudget.openCostInBytes
      val totalBytes = perFile.map(f => f._3.map(_.count).sum + openCost).sum
      val maxSplit = graft.sources.SplitBudget.maxSplitBytes(totalBytes)
      perFile.flatMap(packTiles(_, maxSplit, openCost))
    }
  }

  override def description(): String =
    s"graft-geotiff tiles=${survivors.map(_.tiles.length).sum}/${byFile.map(_._2.tileOffsets.length).sum}, " +
      s"splits=${survivors.length}, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = survivors.toArray

  private lazy val taskConf = BroadcastConf(conf)

  override def createReaderFactory(): PartitionReaderFactory =
    new TiffReaderFactory(taskConf)

  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = survivors.map { p =>
      val r = p.raster
      p.tiles.map { t =>
        val w = math.min((t.tx + 1) * r.tileWidth - 1, p.x1) -
          math.max(t.tx * r.tileWidth, p.x0) + 1
        val h = math.min((t.ty + 1) * r.tileHeight - 1, p.y1) -
          math.max(t.ty * r.tileHeight, p.y0) + 1
        math.max(0L, w.toLong) * math.max(0L, h.toLong) * p.bands.length
      }.sum
    }.sum
    private val rowBytes = required.fields.map(_.dataType.defaultSize.toLong).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(rows * math.max(1L, rowBytes))
    override def numRows(): OptionalLong = OptionalLong.of(rows)
  }
}

/** One surviving tile's grid position + byte extent in its file. */
final case class TiffTileRef(tx: Int, ty: Int, offset: Long, count: Long)

final case class TiffInputPartition(
    path: String,
    raster: TiffRaster, // tile index arrays EMPTIED — see tiles' offsets
    tiles: Array[TiffTileRef],
    x0: Int, x1: Int, y0: Int, y1: Int,
    bands: Array[Int],
    cols: Array[String]) extends InputPartition

final class TiffReaderFactory(conf: BroadcastConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TiffPartitionReader(partition.asInstanceOf[TiffInputPartition], conf.value)
}

/** One positioned tile read + decompress per tile, then emit the clipped
  * cells band-interleaved; the partition's tiles share one open stream. */
final class TiffPartitionReader(part: TiffInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val r = part.raster
  private val in = {
    val p = new HPath(part.path)
    p.getFileSystem(conf).open(p)
  }

  // ---- per-tile state, loaded by advance() as the cursor moves ----
  private var ti = -1
  private var pix: Array[Double] = null
  private var tx = 0
  private var ty = 0
  private var cx0 = 0; private var cy0 = 0
  private var nx = 0
  private var total = 0L
  private val nb = part.bands.length

  /** Load the next tile's pixels + clip state; false when exhausted. */
  private def advance(): Boolean = {
    ti += 1
    if (ti >= part.tiles.length) return false
    val t = part.tiles(ti)
    val b = new Array[Byte](t.count.toInt)
    in.readFully(t.offset, b)
    tx = t.tx; ty = t.ty
    pix = TiffFormat.decodeTile(r, b, ty)
    // clip: intersection of the tile with the scan's pixel bounds
    cx0 = math.max(tx * r.tileWidth, part.x0)
    val cx1 = math.min((tx + 1) * r.tileWidth - 1, math.min(part.x1, r.width - 1))
    cy0 = math.max(ty * r.tileHeight, part.y0)
    val cy1 = math.min((ty + 1) * r.tileHeight - 1, math.min(part.y1, r.height - 1))
    nx = math.max(0, cx1 - cx0 + 1)
    val ny = math.max(0, cy1 - cy0 + 1)
    total = nx.toLong * ny * nb
    true
  }

  private val pathUtf = UTF8String.fromString(part.path)
  private val PathC = 0; private val LatC = 1; private val LonC = 2
  private val BandC = 3; private val ValueC = 4
  private val colCodes: Array[Int] = part.cols.map {
    case "path" => PathC
    case "latitude" | "northing" => LatC // model-space y either way
    case "longitude" | "easting" => LonC // model-space x either way
    case "band" => BandC
    case "value" => ValueC
  }
  private var k = -1L

  override def next(): Boolean = {
    k += 1
    while (pix == null || k >= total) {
      if (!advance()) return false
      k = 0
    }
    true
  }

  override def get(): InternalRow = {
    val b = (k % nb).toInt
    val cell = (k / nb).toInt
    val x = cx0 + cell % nx
    val y = cy0 + cell / nx
    val band = part.bands(b)
    val v = pix(((y - ty * r.tileHeight) * r.tileWidth +
      (x - tx * r.tileWidth)) * r.bands + (band - 1))
    val row = new Array[Any](colCodes.length)
    var c = 0
    while (c < colCodes.length) {
      row(c) = colCodes(c) match {
        case PathC => pathUtf
        case LatC => r.latOf(y)
        case LonC => r.lonOf(x)
        case BandC => band
        case ValueC =>
          if (r.noData.exists(nd => nd == v || (nd.isNaN && v.isNaN))) null
          else v
      }
      c += 1
    }
    new GenericInternalRow(row)
  }

  override def close(): Unit = in.close()
}

final case class TiffOffset(watermark: String)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = graft.meta.JStr(watermark).render
}

/** MICRO_BATCH_READ over a COG landing directory — the live-feed shape
  * (one raster lands per date): natural-order filename watermark, the
  * same admission-control / AvailableNow / checkpoint-replay protocol
  * as the GRIB and NC streams, batch pruning + partitioning reused
  * verbatim. */
final class TiffMicroBatchStream(
    scan: TiffScan,
    paths: Seq[String],
    @transient conf: Configuration,
    maxFilesPerTrigger: Option[Int],
    overview: Int = 0)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxFiles}

  require(paths.nonEmpty, "geotiff streaming needs the source paths")

  private def key(p: String): String = graft.sources.Manifest.naturalKey(p)

  private def listing(): Seq[org.apache.hadoop.fs.FileStatus] =
    TiffTable.listTiffFiles(conf, paths)

  /** One listing per trigger: latestOffset selects the batch and caches
    * it for the planInputPartitions call that follows. */
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
    TiffOffset(if (files.isEmpty) "" else files.last.getPath.toString)
  }

  override def initialOffset(): Offset = TiffOffset("")

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n): ReadLimit)
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(start, limit) is used (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val lo = start.asInstanceOf[TiffOffset].watermark
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
      TiffOffset(hi)
    }
  }

  override def deserializeOffset(json: String): Offset =
    graft.meta.JValue.parse(json) match {
      case graft.meta.JStr(w) => TiffOffset(w)
      case other => throw new IllegalArgumentException(s"Bad COG offset $other")
    }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[TiffOffset].watermark
    val hi = end.asInstanceOf[TiffOffset].watermark
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
        TiffTable.parseFile(conf, st, overview))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    scan.readerFactory // identical reader path as batch

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
