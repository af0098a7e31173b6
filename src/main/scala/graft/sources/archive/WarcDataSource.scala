package graft.sources.archive

import java.util.OptionalLong

import org.apache.hadoop.conf.Configuration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Warc
import graft.sources.BroadcastConf

/** DataSource V2 batch reader for WARC archives —
  * `spark.read.format("warc").load(dirOrFile)` over `.warc` /
  * `.warc.gz` / `.warc.zst` (and the `.wet`/`.wat` variants): one row
  * per record, with MEMBER-granular intra-file parallelism.
  *
  * Scale design (the whole point — see [[ArchiveSplit]]):
  *  - files split into `maxSplitBytes` byte ranges (default 128 MiB);
  *    a task owns the records whose member START falls in its range and
  *    reads past the range end to finish the last one;
  *  - resync inside `.warc.gz`: scan for 1F 8B 08, validate with a real
  *    gzip-header parse + prefix-inflate ("WARC/") probe, and verify
  *    the member trailer CRC after full inflate — the Common Crawl
  *    per-record-member layout makes every record a split point. A
  *    mono-stream `.warc.gz` still parses (first range reads it all,
  *    later ranges find no member start) but a member inflating past
  *    `maxMemberBytes` (default 256 MiB) refuses BY NAME rather than
  *    silently rebuilding the whole-file heap spike;
  *  - resync inside `.warc.zst` (the Internet Archive layout): one
  *    zstd FRAME per record, validated by frame magic + a bounded
  *    block-header walk + prefix inflate ([[ZstdMember]]); the IIPC
  *    shared-DICTIONARY convention (leading 0x184D2A5D skippable frame,
  *    raw or zstd-wrapped payload) is read once per executor and every
  *    member decodes against it; other skippable frames skip at
  *    validated chain positions and are never trusted during resync;
  *  - resync inside plain `.warc`: a "WARC/" at line start that parses
  *    as a full record header block. (A payload embedding a verbatim
  *    WARC record at a line start can false-sync — the same documented
  *    residual every splittable text format accepts; record-level gzip
  *    members don't have it, which is one more reason Common Crawl
  *    ships them.)
  *  - per-task memory ≤ split range + one member overrun
  *    ([[GrowableSlab]] grows on demand), per-record decode bounded by
  *    `maxMemberBytes`;
  *  - column pruning reaches the reader: without `payload_text` in the
  *    required schema the HTTP envelope split/UTF-8 decode is skipped
  *    (headers must still be walked for framing).
  *
  * `rec_offset` is the FILE offset of the record's member start
  * (compressed offset for `.warc.gz`) — stable under any split size —
  * and `rec_seq` the record's ordinal within its member, so
  * (path, rec_offset, rec_seq) is a total, split-invariant order. */
class WarcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    require(schema == WarcTable.Schema,
      s"warc scans always present ${WarcTable.Schema.simpleString}; " +
        s"got ${schema.simpleString}")
    WarcTable.resolve(new CaseInsensitiveStringMap(properties))
  }
}

object WarcTable {
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("rec_offset", LongType, nullable = false),
    StructField("rec_seq", IntegerType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    StructField("warc_date", StringType, nullable = false),
    StructField("content_type", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("http_status", IntegerType, nullable = false),
    // revisit-resolution identity: WARC-Record-ID names a record,
    // revisit records point at their original via WARC-Refers-To and
    // carry the original payload's WARC-Payload-Digest ("" when absent)
    StructField("warc_record_id", StringType, nullable = false),
    StructField("warc_refers_to", StringType, nullable = false),
    StructField("payload_digest", StringType, nullable = false),
    StructField("payload_text", StringType, nullable = false)))

  private[archive] def isWarcName(n: String): Boolean = {
    val l = n.toLowerCase
    Seq(".warc", ".wet", ".wat").exists(b =>
      l.endsWith(b) || l.endsWith(b + ".gz") || l.endsWith(b + ".zst"))
  }

  /** Member codec from the file name: "gz" / "zst" / "none". */
  private[archive] def codecOf(path: String): String = {
    val l = path.toLowerCase
    if (l.endsWith(".gz")) "gz" else if (l.endsWith(".zst")) "zst" else "none"
  }

  def resolve(options: CaseInsensitiveStringMap): WarcTable = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val paths = Option(options.get("path")).toSeq
    require(paths.nonEmpty, "warc scan needs a path")
    val maxSplit = Option(options.get("maxSplitBytes"))
      .map(_.toLong).getOrElse(128L << 20)
    val maxMember = Option(options.get("maxMemberBytes"))
      .map(_.toLong).getOrElse(256L << 20)
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    val files = ArchiveSplit.listFiles(conf, paths, isWarcName)
      .map(st => (st.getPath.toString, st.getLen))
    new WarcTable(files, conf, maxSplit, maxMember, paths, maxFiles)
  }
}

final class WarcTable(
    val files: Seq[(String, Long)],
    @transient val conf: Configuration,
    val maxSplitBytes: Long,
    val maxMemberBytes: Long,
    val paths: Seq[String],
    val maxFilesPerTrigger: Option[Int]) extends Table with SupportsRead {
  override def name(): String = s"warc(${files.length} files)"
  override def schema(): StructType = WarcTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(this)
}

final class WarcScanBuilder(table: WarcTable) extends ScanBuilder
    with SupportsPushDownRequiredColumns {
  private var required: StructType = WarcTable.Schema
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new WarcScan(table, required)
}

final class WarcScan(table: WarcTable, required: StructType)
    extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Streaming over a landing dir: per-file admission, then the SAME
    * split partitions as the batch scan. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ArchiveMicroBatchStream(table.paths, table.conf,
      WarcTable.isWarcName, table.maxFilesPerTrigger,
      (path, len) => ArchiveSplit.ranges(len, table.maxSplitBytes)
        .map { case (s, e) => WarcInputPartition(path, s, e, len,
          WarcTable.codecOf(path), table.maxMemberBytes,
          required.fieldNames) },
      createReaderFactory())

  override def description(): String =
    s"graft-warc files=${table.files.length}, " +
      s"maxSplitBytes=${table.maxSplitBytes}, " +
      s"ReadSchema: ${required.simpleString}"

  override def planInputPartitions(): Array[InputPartition] =
    table.files.flatMap { case (path, len) =>
      ArchiveSplit.ranges(len, table.maxSplitBytes).map { case (s, e) =>
        WarcInputPartition(path, s, e, len,
          WarcTable.codecOf(path), table.maxMemberBytes,
          required.fieldNames)
      }
    }.toArray

  private lazy val taskConf = BroadcastConf(table.conf)

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(taskConf)

  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = table.files.map(_._2).sum
    override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
    override def numRows(): OptionalLong = OptionalLong.empty()
  }
}

final case class WarcInputPartition(
    path: String, start: Long, end: Long, fileLen: Long,
    codec: String, // "none" | "gz" | "zst" — per-record member layouts
    maxMemberBytes: Long, cols: Array[String]) extends InputPartition

final class WarcReaderFactory(conf: BroadcastConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(partition.asInstanceOf[WarcInputPartition], conf.value)
}

/** One byte-range worth of records. */
final class WarcPartitionReader(part: WarcInputPartition, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val hpath = new org.apache.hadoop.fs.Path(part.path)
  private val in = hpath.getFileSystem(conf).open(hpath)
  // base one byte early: the plain-file resync checks the byte BEFORE a
  // candidate record start for '\n' (line-start requirement)
  private val slab = new GrowableSlab(in, math.max(0L, part.start - 1), part.fileLen)
  private val WarcMagic = "WARC/".getBytes("US-ASCII")

  // column dispatch hoisted out of the per-row loop (the GRIB pattern)
  private val PathC = 0; private val OffC = 1; private val SeqC = 2
  private val TypeC = 3; private val UriC = 4; private val DateC = 5
  private val CtypeC = 6; private val ClenC = 7; private val StatusC = 8
  private val TextC = 9; private val RecIdC = 10; private val RefersC = 11
  private val DigestC = 12
  private val colCodes: Array[Int] = part.cols.map {
    case "path" => PathC
    case "rec_offset" => OffC
    case "rec_seq" => SeqC
    case "warc_type" => TypeC
    case "target_uri" => UriC
    case "warc_date" => DateC
    case "content_type" => CtypeC
    case "content_length" => ClenC
    case "http_status" => StatusC
    case "payload_text" => TextC
    case "warc_record_id" => RecIdC
    case "warc_refers_to" => RefersC
    case "payload_digest" => DigestC
    case other => throw new IllegalArgumentException(
      s"warc scan: unknown required column '$other' " +
        s"(schema is ${WarcTable.Schema.simpleString})")
  }
  private val pathUtf8 = UTF8String.fromString(part.path)

  // ------------------------------------------ gz / zst member layouts
  /** IIPC shared dictionary (leading 0x184D2A5D skippable frame), when
    * the archive carries one: bytes cached JVM-wide ([[ZstdDicts]]),
    * native handle task-local (closed with the reader). Loaded on first
    * use — a var, not a lazy val, so close() never triggers the load. */
  private var zstdDictLoaded = false
  private var zstdDictHandle: Option[com.github.luben.zstd.ZstdDictDecompress] = None
  private def zstdDict: Option[com.github.luben.zstd.ZstdDictDecompress] = {
    if (!zstdDictLoaded) {
      zstdDictHandle =
        if (part.codec != "zst") None
        else ZstdDicts.bytesFor(in, part.path, part.fileLen)
          .map(new com.github.luben.zstd.ZstdDictDecompress(_))
      zstdDictLoaded = true
    }
    zstdDictHandle
  }

  /** Magic of the configured member codec at `p`? */
  private def memberMagicAt(p: Long): Boolean =
    if (part.codec == "gz")
      p + 3 <= part.fileLen && slab.ensure(p + 3) &&
        (slab(p) & 0xFF) == 0x1F && (slab(p + 1) & 0xFF) == 0x8B &&
        (slab(p + 2) & 0xFF) == 8
    else ZstdMember.isFrameMagic(slab, p)

  /** Next VALIDATED member start at or after `p`, or -1. A bare
    * skippable-frame magic during resync is NOT trusted (random
    * compressed bytes match it ~2^-28 per offset) — it is simply not a
    * member and the scan continues; real skippable frames are handled
    * at validated chain positions by the synced walk. */
  private def nextMemberStart(p0: Long): Long = {
    var p = p0
    while (p < part.end) {
      if (!slab.ensure(math.min(part.end, p + 4))) return -1
      if (memberMagicAt(p) && (
          if (part.codec == "gz") GzipMember.probe(slab, p, WarcMagic)
          else ZstdMember.probe(slab, p, WarcMagic, part.maxMemberBytes, zstdDict)))
        return p
      p += 1
    }
    -1
  }

  private def inflateMember(m: Long): (Array[Byte], Long) =
    if (part.codec == "gz")
      GzipMember.inflate(slab, m, part.maxMemberBytes, s"warc ${part.path}")
    else
      ZstdMember.inflate(slab, m, part.maxMemberBytes, s"warc ${part.path}",
        zstdDict)

  // ----------------------------------------------------- plain records
  /** Next validated record start at or after `p` (plain files): "WARC/"
    * at a line start whose header block parses. */
  private def nextRecordStart(p0: Long): Long = {
    var p = p0
    while (p < part.end) {
      if (!slab.ensure(p + WarcMagic.length)) return -1
      val atLineStart = p == 0 || (slab.ensure(p) && slab(p - 1) == '\n')
      if (atLineStart && (0 until WarcMagic.length).forall(i =>
          slab(p + i) == WarcMagic(i)) && probeRecord(p)) return p
      p += 1
    }
    -1
  }

  /** Marker for "this is just not a record start" during resync
    * probing — SHAPE failures only. Failures of a block that already
    * matched the record shape (truncation mid headers, length bound,
    * payload past end) are REAL records going missing and always
    * propagate as named refusals: a resync that swallowed them would
    * silently drop rows with loss that depends on the split size. */
  private final class NotARecordStart extends RuntimeException

  private def probeRecord(p: Long): Boolean =
    try { headerBlockOf(p, probing = true); true }
    catch { case _: NotARecordStart => false }

  /** Parse the record FRAMING at absolute offset `p` in the slab:
    * (headers, payload start, payload length). Same semantics as
    * [[Warc.parseFraming]] (the equivalence spec pins parity). */
  private def headerBlockOf(p: Long,
      probing: Boolean = false): (Map[String, String], Long, Long) = {
    def shape(msg: => String): Nothing =
      if (probing) throw new NotARecordStart
      else throw new IllegalArgumentException(msg)
    var q = p
    def line(): String = {
      val start = q
      var ok = slab.ensure(q + 1)
      while (ok && slab(q) != '\n') { q += 1; ok = slab.ensure(q + 1) }
      // version line already matched when this can fire mid-headers →
      // real truncated record: ALWAYS a named refusal
      require(ok, s"warc ${part.path}: header line at $start runs past end")
      val s = new String(slab.raw, slab.rel(start), (q - start).toInt,
        "US-ASCII").stripSuffix("\r")
      q += 1
      s
    }
    val version =
      try line() catch {
        // truncation before the version line validated: shape failure
        case e: IllegalArgumentException => shape(e.getMessage)
      }
    if (!(version.startsWith("WARC/0.") || version.startsWith("WARC/1.")))
      shape(s"warc ${part.path}: record at $p has version line '$version', " +
        "not WARC/0.x or WARC/1.x")
    val headers = scala.collection.mutable.Map.empty[String, String]
    var done = false
    while (!done) {
      val l = line()
      if (l.isEmpty) done = true
      else {
        val colon = l.indexOf(':')
        if (colon <= 0)
          shape(s"warc ${part.path}: malformed header '$l' at $p")
        headers(l.substring(0, colon).trim.toLowerCase) =
          l.substring(colon + 1).trim
      }
    }
    val len = headers.get("content-length") match {
      case Some(v) =>
        // a false "WARC/" match during resync can parse header-shaped
        // lines with a non-numeric Content-Length: that is a SHAPE
        // failure (not-a-record), never a task crash
        try v.toLong catch {
          case _: NumberFormatException => shape(
            s"warc ${part.path}: record at $p has non-numeric " +
              s"Content-Length '$v'")
        }
      case None =>
        shape(s"warc ${part.path}: record at $p has no Content-Length")
    }
    require(len >= 0 && len <= part.maxMemberBytes,
      s"warc ${part.path}: record at $p claims $len payload bytes " +
        "(maxMemberBytes bound) — raise the option for jumbo records")
    require(slab.ensure(q + len),
      s"warc ${part.path}: record at $p claims $len payload bytes past end")
    (headers.toMap, q, len)
  }

  // ------------------------------------------------------- iteration
  private var pendingRows: Iterator[InternalRow] = Iterator.empty
  private var cursor: Long = part.start
  private var synced = false
  private var current: InternalRow = _

  /** `decoded` produces (http status, decoded payload) and runs ONLY
    * when a required column needs it — that is what makes column
    * pruning skip the per-record envelope decode on both layouts. */
  private def rowOf(recOffset: Long, seq: Int, headers: Map[String, String],
      decoded: () => (Int, Array[Byte], String)): InternalRow = {
    val contentType = headers.getOrElse("content-type", "")
    lazy val statusBody: (Int, Array[Byte], String) = decoded()
    val row = new Array[Any](colCodes.length)
    var c = 0
    while (c < colCodes.length) {
      row(c) = colCodes(c) match {
        case PathC => pathUtf8
        case OffC => recOffset
        case SeqC => seq
        case TypeC => UTF8String.fromString(headers.getOrElse("warc-type", ""))
        case UriC => UTF8String.fromString(headers.getOrElse("warc-target-uri", ""))
        case DateC => UTF8String.fromString(headers.getOrElse("warc-date", ""))
        case CtypeC => UTF8String.fromString(contentType)
        case ClenC => headers.getOrElse("content-length", "0").toLong
        case StatusC =>
          if (!contentType.startsWith("application/http")) -1
          else statusBody._1
        case TextC => UTF8String.fromString(
          Warc.decodeText(statusBody._3, statusBody._2))
        case RecIdC =>
          UTF8String.fromString(headers.getOrElse("warc-record-id", ""))
        case RefersC =>
          UTF8String.fromString(headers.getOrElse("warc-refers-to", ""))
        case DigestC =>
          UTF8String.fromString(headers.getOrElse("warc-payload-digest", ""))
      }
      c += 1
    }
    new GenericInternalRow(row)
  }

  /** All records of one decompressed member's bytes (gz path): FRAMED
    * with the in-memory reference parser for exact semantic parity,
    * payload decode deferred through [[rowOf]] so column pruning skips
    * the per-record dechunk/gunzip when nobody asked for the text. */
  private def memberRows(memberStart: Long, bytes: Array[Byte]): Iterator[InternalRow] =
    Warc.parseFraming(memberStart, bytes).iterator.zipWithIndex.map {
      case (f, i) => rowOf(memberStart, i, f.headers,
        decoded = () => Warc.decodePayload(memberStart, f, bytes))
    }

  override def next(): Boolean = {
    while (true) {
      if (pendingRows.hasNext) { current = pendingRows.next(); return true }
      if (cursor >= part.end) return false
      if (part.codec != "none") {
        // offset 0 is a member start by format contract, and once synced
        // the next member must start EXACTLY at the cursor (members are
        // back-to-back) — both parse directly, so malformed bytes REFUSE
        // by name instead of probe-skipping silently; only a mid-file
        // range start genuinely resyncs
        val m =
          if (synced || part.start == 0) cursor
          else nextMemberStart(cursor)
        if (m < 0 || m >= part.end) return false
        synced = true
        if (part.codec == "zst" && ZstdMember.isSkippableMagic(slab, m)) {
          // validated chain position: a skippable frame carries no
          // records (at offset 0 it is the IIPC dictionary, already
          // consumed via zstdDict) — skip it by its declared size
          cursor = m + ZstdMember.skippableSize(slab, m, s"warc ${part.path}")
        } else {
          val (data, memberEnd) = inflateMember(m)
          cursor = memberEnd
          pendingRows = memberRows(m, data)
        }
      } else {
        val r =
          if (synced || part.start == 0) {
            // skip blank separator lines, then the next record starts
            // HERE (offset 0 by format contract; afterwards records are
            // back-to-back) — parse directly so malformed bytes refuse
            // by name instead of resync-skipping silently
            var p = cursor
            var ok = slab.ensure(p + 1)
            while (ok && p < part.fileLen && (slab(p) == '\r' || slab(p) == '\n')) {
              p += 1; ok = slab.ensure(p + 1)
            }
            if (p >= part.fileLen || !ok) -1L else p
          } else nextRecordStart(cursor)
        if (r < 0 || r >= part.end) return false
        synced = true
        val (headers, payloadStart, len) = headerBlockOf(r)
        cursor = payloadStart + len
        val contentType = headers.getOrElse("content-type", "")
        val rows = Iterator.single(rowOf(r, 0, headers, { () =>
          val block = slab.copy(payloadStart, len.toInt)
          if (contentType.startsWith("application/http"))
            Warc.splitHttpEnvelope(0L, r, block)
          else (-1, block, "")
        }))
        pendingRows = rows
      }
    }
    false // unreachable
  }

  override def get(): InternalRow = current
  override def close(): Unit = {
    zstdDictHandle.foreach(_.close())
    in.close()
  }
}
