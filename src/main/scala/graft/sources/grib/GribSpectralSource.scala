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
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{BroadcastConf, FileScan, Manifest}
import graft.sources.nc.NcScan
import GribFormat.GribMessage

/** DataSource V2 batch reader for SPECTRAL GRIB2 fields (grid template
  * 3.50 + DRS template 5.50) — ERA5 model-level fields in the native MARS
  * archive are spherical-harmonic coefficients, not grids (reference
  * target: docs/etl_developers_manual.md:158-168).
  * `spark.read.format("grib-spectral").load(pathOrDir)` yields one row per
  * coefficient VALUE:
  * (time TIMESTAMP_NTZ, param INT, member INT?, m INT, n INT,
  *  part STRING 're'|'im', value DOUBLE)
  * under the m-major mode-1 ordering (m = 0..M, n = m..M). Output is
  * coefficient space by design — synthesis onto a Gaussian grid is a
  * regrid step, not a scan concern.
  *
  * Scale design mirrors [[GribDataSource]]: a message is both the pruning
  * unit (time/param/member predicates prune whole messages EXACTLY at
  * planning) and the partition unit (one positioned slab read + bit-unpack
  * per task); header parsing is memoized per (path, mtime, length) through
  * the shared [[GribTable]] message cache.
  */
class GribSpectralDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "grib-spectral"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GribSpectralTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(schema == GribSpectralTable.Schema,
      s"grib-spectral scans always present ${GribSpectralTable.Schema.simpleString}; " +
        s"got ${schema.simpleString}")
    GribSpectralTable.resolve(new CaseInsensitiveStringMap(properties))
  }
}

object GribSpectralTable {
  val Schema: StructType = StructType(Seq(
    StructField("time", TimestampNTZType, nullable = false),
    StructField("param", IntegerType, nullable = false),
    StructField("member", IntegerType, nullable = true),
    /** Vertical axis (ERA5 MODEL-LEVEL spectral fields repeat
      * (time, param) once per level — same hypercube key as the gridded
      * scan); null when the product carries no surface. */
    StructField("level_type", IntegerType, nullable = true),
    StructField("level", DoubleType, nullable = true),
    /** Forecast reference time + lead minutes (= time − step). */
    StructField("ref_time", TimestampNTZType, nullable = false),
    StructField("step", LongType, nullable = false),
    /** Zonal wavenumber. */
    StructField("m", IntegerType, nullable = false),
    /** Total wavenumber (n ≥ m under triangular truncation). */
    StructField("n", IntegerType, nullable = false),
    /** "re" | "im" — the complex coefficient component. */
    StructField("part", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  def resolve(options: CaseInsensitiveStringMap): GribSpectralTable = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = FileScan.paths(options)
    require(paths.nonEmpty, "grib-spectral scan needs a path")
    val byFile = GribTable.messagesOf(conf, FileScan.listFiles(conf, paths, Manifest.isGrib))
    // the shared header cache is LRU-bounded inline (GribTable
    // .cachedMessages) — no explicit eviction step needed here
    byFile.find(_._2.exists(_.spectral.isEmpty)).foreach { case (p, _) =>
      throw new IllegalArgumentException(
        s"$p holds gridded (lat/lon) fields — read them with " +
          "spark.read.format(\"grib1\"); grib-spectral serves only " +
          "template-3.50 spherical-harmonic messages")
    }
    // the spectral schema has no derived axis — a GEFS-style mean/spread
    // spectral file would silently collide two statistics onto one
    // (time, param, member) key, so refuse it by name
    byFile.find(_._2.exists(_.derived >= 0)).foreach { case (p, _) =>
      throw new IllegalArgumentException(
        s"$p holds derived-ensemble spectral fields (product template " +
          "4.2/4.12) — the spectral schema carries no derived-statistic " +
          "axis; read the gridded form or split the statistics into " +
          "separate files")
    }
    // same reasoning for LAYER fields: no level_to axis in this schema
    byFile.find(_._2.exists(m => !m.levelTo.isNaN)).foreach { case (p, _) =>
      throw new IllegalArgumentException(
        s"$p holds LAYER spectral fields (a second fixed surface) — the " +
          "spectral schema carries no level_to axis; split the layers " +
          "into separate files")
    }
    // a SINGLE accumulation window per key is unambiguous; but the
    // spectral schema has no step_start axis, so two windows sharing the
    // full spectral key (ending at one valid time) would silently blend
    // — refuse exactly that, across the whole union
    locally {
      val multi = byFile.flatMap(_._2)
        .groupBy(m => (m.baseTime, m.stepMinutes, m.paramId, m.member,
          m.levelType, java.lang.Double.doubleToLongBits(m.level)))
        .find(_._2.map(_.stepStartMinutes).distinct.lengthCompare(1) > 0)
      multi.foreach { case ((t, step, pid, _, _, _), ms) =>
        val named = ms.map(_.stepStartMinutes).distinct.sorted.map(v =>
          if (v == Long.MinValue) "point" else s"start ${v}min")
        throw new IllegalArgumentException(
          s"spectral fields carry ${named.length} time-processing " +
            s"variants on one key (refTime=$t, step=${step}min, " +
            s"param=$pid): ${named.mkString(", ")} — the spectral schema " +
            "has no step_start axis to separate them; read the gridded " +
            "form (its step_start column keys the windows)")
      }
    }
    new GribSpectralTable(byFile, conf)
  }
}

final class GribSpectralTable(
    val byFile: Seq[(String, Seq[GribMessage])],
    @transient val conf: Configuration) extends Table with SupportsRead {
  override def name(): String =
    s"grib-spectral(${byFile.map(_._2.length).sum} messages in ${byFile.length} files)"
  override def schema(): StructType = GribSpectralTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GribSpectralScanBuilder(this)
}

final class GribSpectralScanBuilder(table: GribSpectralTable) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = GribSpectralTable.Schema
  private var pushed: Array[Filter] = Array.empty

  /** time/param/member/level/step predicates prune whole messages EXACTLY
    * (all rows of a message share them); m/n/part predicates stay
    * residual. */
  private def handled(f: Filter): Boolean = f match {
    case sources.IsNotNull(a) => a != "member" &&
      a != "level" && a != "level_type" &&
      GribSpectralTable.Schema.fieldNames.contains(a)
    case sources.EqualTo("param", _: Integer) => true
    case sources.In("param", vs) => vs.forall(_.isInstanceOf[Integer])
    case sources.EqualTo("member", _: Integer) => true
    case sources.IsNull("member") => true
    case sources.EqualTo("level_type", _: Integer) => true
    case sources.IsNull("level_type") => true
    case sources.EqualTo("level", _: java.lang.Double) => true
    case sources.IsNull("level") => true
    case sources.EqualTo("step", _: java.lang.Long) => true
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

  override def build(): Scan = new GribSpectralScan(table.byFile, required,
    pushed, table.conf)
}

final class GribSpectralScan(
    byFile: Seq[(String, Seq[GribMessage])],
    required: StructType,
    pushed: Array[Filter],
    @transient conf: Configuration)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private def timeMicros(m: GribMessage): Double = NcScan.toKey(m.validTime).get
  private def refMicros(m: GribMessage): Double =
    NcScan.toKey(GribTable.baseOf(m)).get

  private def keep(m: GribMessage): Boolean = pushed.forall {
    case sources.IsNotNull(_) => true
    case sources.EqualTo("param", v: Integer) => m.paramId == v.intValue()
    case sources.In("param", vs) =>
      vs.exists(v => m.paramId == v.asInstanceOf[Integer].intValue())
    case sources.EqualTo("member", v: Integer) => m.member == v.intValue()
    case sources.IsNull("member") => m.member < 0
    case sources.EqualTo("level_type", v: Integer) =>
      m.levelType != 255 && m.levelType == v.intValue()
    case sources.IsNull("level_type") => m.levelType == 255
    case sources.EqualTo("level", v: java.lang.Double) =>
      m.level == v.doubleValue()
    case sources.IsNull("level") => m.level.isNaN
    case sources.EqualTo("step", v: java.lang.Long) =>
      m.stepMinutes == v.longValue()
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

  private lazy val survivors: Seq[(String, GribMessage)] =
    byFile.flatMap { case (p, ms) => ms.filter(keep).map(p -> _) }
  private lazy val packed = GribTable.pack(survivors, required.fieldNames)
  private lazy val taskConf = BroadcastConf(conf)

  override def description(): String =
    s"graft-grib-spectral messages=${survivors.length}/${byFile.map(_._2.length).sum}, " +
      s"splits=${packed.length}, " +
      s"PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] = packed.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new GribSpectralReaderFactory(taskConf)

  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = survivors.map(_._2.nValues.toLong).sum
    private val rowBytes = required.fields.map(_.dataType.defaultSize.toLong).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(rows * math.max(1L, rowBytes))
    override def numRows(): OptionalLong = OptionalLong.of(rows)
  }
}

final class GribSpectralReaderFactory(conf: BroadcastConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GribSpectralPartitionReader(
      partition.asInstanceOf[GribInputPartition], conf.value)
}

/** One positioned slab read per message; value k maps to pair k/2 and
  * component k%2 under the m-major mode-1 ordering. The partition's
  * messages share one open stream and decode in order. */
final class GribSpectralPartitionReader(part: GribInputPartition,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val in = {
    val p = new HPath(part.path)
    p.getFileSystem(conf).open(p)
  }

  // ---- per-message state, loaded by advance() as the cursor moves ----
  private var mi = -1
  private var msg: GribMessage = null
  private var cellValue: Int => Double = null
  private var pairMN: Array[(Int, Int)] = null
  private var timeMicros = 0L
  private var refTimeMicros = 0L

  private def micros(t: java.time.LocalDateTime): Long =
    t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000

  private def advance(): Boolean = {
    mi += 1
    if (mi >= part.messages.length) return false
    msg = part.messages(mi)
    val sp = msg.spectral.getOrElse(throw new IllegalStateException(
      s"${part.path}: non-spectral message in a grib-spectral partition"))
    val slab = new Array[Byte](msg.dataBytes)
    in.readFully(msg.dataOffset, slab)
    cellValue = msg.decoder(slab, null)
    pairMN = sp.pairMN
    timeMicros = micros(msg.validTime)
    refTimeMicros = micros(GribTable.baseOf(msg))
    true
  }
  private val Re = UTF8String.fromString("re")
  private val Im = UTF8String.fromString("im")
  private val TimeC = 0; private val ParamC = 1; private val MemberC = 2
  private val MC = 3; private val NC = 4; private val PartC = 5
  private val ValueC = 6
  private val LevelTypeC = 7; private val LevelC = 8
  private val RefTimeC = 9; private val StepC = 10
  private val colCodes: Array[Int] = part.cols.map {
    case "time" => TimeC
    case "param" => ParamC
    case "member" => MemberC
    case "level_type" => LevelTypeC
    case "level" => LevelC
    case "ref_time" => RefTimeC
    case "step" => StepC
    case "m" => MC
    case "n" => NC
    case "part" => PartC
    case "value" => ValueC
  }
  private var k = -1

  override def next(): Boolean = {
    k += 1
    while (msg == null || k >= msg.nValues) {
      if (!advance()) return false
      k = 0
    }
    true
  }

  override def get(): InternalRow = {
    val row = new Array[Any](colCodes.length)
    val (mWave, nWave) = pairMN(k / 2)
    var c = 0
    while (c < colCodes.length) {
      row(c) = colCodes(c) match {
        case TimeC => timeMicros
        case ParamC => msg.paramId
        case MemberC => if (msg.member < 0) null else msg.member
        case LevelTypeC => if (msg.levelType == 255) null else msg.levelType
        case LevelC => if (msg.level.isNaN) null else msg.level
        case RefTimeC => refTimeMicros
        case StepC => msg.stepMinutes
        case MC => mWave
        case NC => nWave
        case PartC => if (k % 2 == 0) Re else Im
        case ValueC => cellValue(k)
      }
      c += 1
    }
    new GenericInternalRow(row)
  }

  override def close(): Unit = in.close()
}
