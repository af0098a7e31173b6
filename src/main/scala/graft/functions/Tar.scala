package graft.functions

import scala.collection.mutable.ArrayBuffer

/** USTAR tar reader + writer (POSIX.1-1988 ustar, the format
  * WebDataset shards use) — tar-of-samples is THE standard multimodal
  * training-data shard layout (image.jpg + image.cls + image.json per
  * sample key, thousands of samples per shard, shards streamed
  * sequentially), so reading it IS the ingestion front door for
  * image/audio-text corpora, the way [[Warc]] is for text crawls.
  *
  * In profile: ustar headers (both the POSIX "ustar\0" and GNU
  * "ustar  " magics), octal and GNU base-256 sizes, checksum
  * verification, prefix-field name joining, regular files and
  * directories, gzip-wrapped archives (.tar.gz sniffed by magic),
  * end-of-archive zero blocks, GNU long-name/long-link entries
  * ('L'/'K'), and PAX extended headers ('x' per-file, 'g' global) with
  * `path`/`size` record overrides — what modern tar emits for names
  * past the 100-byte ustar field, i.e. the URL-derived sample keys
  * real WebDataset shards carry. Precedence per GNU tar: PAX `path` >
  * GNU longname > header name+prefix. The WRITER emits PAX 'x'
  * headers for long names too, so export/ingest round-trips foreign
  * shards, not just its own. Out of profile and refused BY NAME:
  * GNU sparse files ('S'), checksum mismatches, truncated data,
  * malformed PAX records.
  *
  * [[webdatasetSamples]] applies the WebDataset convention on top: a
  * sample is every member sharing the basename up to the FIRST dot
  * (`dir/abc.seg.txt` → key `dir/abc`, extension `seg.txt`). */
object Tar {

  final case class TarEntry(
      name: String,
      typeflag: Char, // '0' file, '5' directory
      size: Long,
      offset: Long, // absolute offset of the entry's data
      data: Array[Byte])

  private def str(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    while (end < off + len && b(end) != 0) end += 1
    // names are byte strings; UTF-8 is the modern convention (ASCII
    // numeric fields decode identically)
    new String(b, off, end - off, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Octal field, or GNU base-256 when the top bit of the first byte is
    * set (sizes past 8 GiB). */
  private def numeric(id: Long, b: Array[Byte], off: Int, len: Int): Long =
    if ((b(off) & 0x80) != 0) {
      var v = (b(off) & 0x7FL)
      for (i <- 1 until len) v = (v << 8) | (b(off + i) & 0xFFL)
      v
    } else {
      val s = str(b, off, len).trim
      if (s.isEmpty) 0L
      else try java.lang.Long.parseLong(s, 8) catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"tar $id: unparseable octal field '$s' at $off")
      }
    }

  /** PAX extended-header payload: `"%d %s=%s\n"` records where the
    * leading decimal is the TOTAL record length (digits, space, '=',
    * newline included). Values are UTF-8. Malformed records refuse by
    * name. */
  private[graft] def parsePaxRecords(id: Long,
      data: Array[Byte]): Map[String, String] = {
    val out = scala.collection.mutable.Map.empty[String, String]
    var p = 0
    while (p < data.length) {
      var sp = p
      while (sp < data.length && data(sp) != ' ') sp += 1
      require(sp > p && sp < data.length,
        s"tar $id: PAX record at $p has no length field")
      val len =
        try new String(data, p, sp - p, "US-ASCII").toInt catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"tar $id: PAX record at $p has non-decimal length")
        }
      require(len > sp - p + 2 && p + len <= data.length &&
        data(p + len - 1) == '\n',
        s"tar $id: PAX record at $p claims $len bytes (malformed framing)")
      val kv = new String(data, sp + 1, p + len - 1 - (sp + 1),
        java.nio.charset.StandardCharsets.UTF_8)
      val eq = kv.indexOf('=')
      require(eq > 0, s"tar $id: PAX record at $p has no '=' separator")
      out(kv.substring(0, eq)) = kv.substring(eq + 1)
      p += len
    }
    out.toMap
  }

  /** One parsed 512-byte header block: magic/checksum verified, sparse
    * refused, name joined with the ustar prefix field. The shared core
    * of [[entries]] and the splittable scan
    * ([[graft.sources.archive.WebdatasetTable]]). */
  private[graft] final case class TarHeader(
      name: String, typeflag: Char, size: Long)

  /** Parse + verify the header block at `off`; refusals by name. */
  private[graft] def headerAt(id: Long, bytes: Array[Byte], off: Int,
      offInFile: Long): TarHeader = {
    val magic = str(bytes, off + 257, 6)
    require(magic == "ustar" || magic == "ustar ",
      s"tar $id: entry at $offInFile has magic '$magic', not ustar " +
        "(pre-POSIX v7 tar out of profile)")
    // checksum: header bytes with the chksum field read as spaces
    val stored = numeric(id, bytes, off + 148, 8)
    var sum = 0L
    for (i <- 0 until 512) {
      sum += (if (i >= 148 && i < 156) ' '.toInt else bytes(off + i) & 0xFF)
    }
    require(sum == stored,
      s"tar $id: checksum mismatch at $offInFile (stored $stored, computed $sum)")
    val typeflag = {
      val t = bytes(off + 156).toChar
      if (t == 0) '0' else t
    }
    require(typeflag != 'S',
      s"tar $id: GNU sparse entry ('S') out of profile")
    val prefix = if (magic == "ustar") str(bytes, off + 345, 155) else ""
    val name0 = str(bytes, off, 100)
    TarHeader(if (prefix.nonEmpty) s"$prefix/$name0" else name0,
      typeflag, numeric(id, bytes, off + 124, 12))
  }

  /** Is the 512-byte block at `off` a plausible ustar header? (magic +
    * checksum — the splittable scan's RESYNC test; checksum makes false
    * positives in member data statistically negligible.) */
  private[graft] def isHeaderAt(bytes: Array[Byte], off: Int): Boolean = {
    if (off + 512 > bytes.length) return false
    val m = str(bytes, off + 257, 6)
    if (m != "ustar" && m != "ustar ") return false
    try {
      val stored = numeric(0L, bytes, off + 148, 8)
      var sum = 0L
      for (i <- 0 until 512) {
        sum += (if (i >= 148 && i < 156) ' '.toInt else bytes(off + i) & 0xFF)
      }
      sum == stored
    } catch { case _: IllegalArgumentException => false }
  }

  /** Parse every entry of a .tar / .tar.gz payload, checksums verified. */
  def entries(id: Long, bytes0: Array[Byte]): Seq[TarEntry] = {
    val bytes = Gunzip.maybeInflate(bytes0)
    require(bytes.length >= 512, s"tar $id: ${bytes.length} bytes is no tar")
    val out = ArrayBuffer.empty[TarEntry]
    var off = 0
    var done = false
    // metadata entries apply to the NEXT regular entry ('x'/'L'/'K'),
    // or to all subsequent ones ('g') — 'x' beats 'g' beats the header
    var pendingLongName: String = null
    var pendingPax: Map[String, String] = Map.empty
    var globalPax: Map[String, String] = Map.empty
    while (!done && off + 512 <= bytes.length) {
      if ((0 until 512).forall(i => bytes(off + i) == 0)) done = true // end block
      else {
        val hdr = headerAt(id, bytes, off, off.toLong)
        val typeflag = hdr.typeflag
        val headerSize = hdr.size
        val dataOff = off + 512
        require(dataOff + headerSize <= bytes.length,
          s"tar $id: entry at $off claims $headerSize bytes past end")
        def dataCopy(): Array[Byte] = java.util.Arrays.copyOfRange(
          bytes, dataOff, (dataOff + headerSize).toInt)
        typeflag match {
          case 'L' => // GNU longname: data is the next entry's name (NUL-term)
            val d = dataCopy()
            pendingLongName = str(d, 0, d.length)
          case 'K' => // GNU longlink: next entry's linkname — not surfaced
            ()
          case 'x' =>
            pendingPax = pendingPax ++ parsePaxRecords(id, dataCopy())
          case 'g' =>
            globalPax = globalPax ++ parsePaxRecords(id, dataCopy())
          case _ =>
            val headerName = hdr.name
            val merged = globalPax ++ pendingPax
            val name = merged.get("path")
              .orElse(Option(pendingLongName)).getOrElse(headerName)
            val size = merged.get("size") match {
              case Some(s) =>
                try s.toLong catch {
                  case _: NumberFormatException =>
                    throw new IllegalArgumentException(
                      s"tar $id: PAX size '$s' for '$name' is not a number")
                }
              case None => headerSize
            }
            // a PAX size override re-bounds the data block
            require(dataOff + size <= bytes.length,
              s"tar $id: entry '$name' claims $size bytes past end")
            val data =
              if (typeflag == '0')
                java.util.Arrays.copyOfRange(bytes, dataOff, (dataOff + size).toInt)
              else Array.emptyByteArray
            out += TarEntry(name, typeflag, size, dataOff.toLong, data)
            pendingLongName = null
            pendingPax = Map.empty
        }
        // advance by the EFFECTIVE data size: a PAX size override
        // re-bounds the regular entry's block (the header field may be 0)
        val advance = typeflag match {
          case 'L' | 'K' | 'x' | 'g' => headerSize
          case _ => out.last.size
        }
        off = dataOff + (((advance + 511) / 512) * 512).toInt
      }
    }
    // a tar without end blocks is tolerated only when it ends EXACTLY at
    // the last entry's padded boundary — residual bytes mean a header or
    // padding was cut mid-block (a truncated shard silently losing
    // trailing samples is the failure mode this refuses)
    require(done || off == bytes.length,
      s"tar $id: archive truncated mid-entry " +
        s"(next block at $off, file ends at ${bytes.length})")
    out.toSeq
  }

  /** WebDataset view: one row per (sample key, extension) — the key is
    * the member name up to the FIRST dot after the last '/', so
    * `shard/0001.seg.txt` groups under `shard/0001` as ext `seg.txt`.
    * Directories are skipped; a file without a dot refuses by name
    * (not a WebDataset member). */
  def webdatasetSamples(df: org.apache.spark.sql.DataFrame, idCol: String,
      binCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("sample_key", StringType, nullable = false),
      StructField("ext", StringType, nullable = false),
      StructField("byte_size", LongType, nullable = false),
      StructField("payload", BinaryType, nullable = false)))
    df.select(col(idCol).cast(LongType), col(binCol))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          entries(id, bytes).iterator.filter(_.typeflag == '0').map { e =>
            val base = e.name.lastIndexOf('/') + 1
            val dot = e.name.indexOf('.', base)
            require(dot > base, s"tar $id: member '${e.name}' has no " +
              "extension — not a WebDataset sample member")
            Row(id, e.name.substring(0, dot), e.name.substring(dot + 1),
              e.size, e.data)
          }
        }
      }(Encoders.row(schema))
  }

  // ------------------------------------------------------------- write

  /** One raw 512-byte ustar header + data + block padding. `nameField`
    * must already fit the 100-byte field. */
  private def writeRawEntry(out: java.io.OutputStream, nameField: Array[Byte],
      typeflag: Char, data: Array[Byte]): Unit = {
    val hdr = new Array[Byte](512)
    nameField.copyToArray(hdr, 0)
    def put(off: Int, v: String): Unit =
      v.getBytes("US-ASCII").copyToArray(hdr, off)
    put(100, "0000644"); put(108, "0000000"); put(116, "0000000")
    put(124, f"${data.length}%011o")
    put(136, "00000000000")
    hdr(156) = typeflag.toByte
    put(257, "ustar"); put(263, "00"); put(265, "graft"); put(297, "graft")
    (148 until 156).foreach(i => hdr(i) = ' ')
    val sum = hdr.map(_ & 0xFF).sum
    put(148, f"$sum%06o"); hdr(154) = 0; hdr(155) = ' '
    out.write(hdr)
    out.write(data)
    val pad = (512 - data.length % 512) % 512
    if (pad > 0) out.write(new Array[Byte](pad))
  }

  /** UTF-8 bytes of `s` cut to at most `max` bytes at a CHARACTER
    * boundary (never mid-sequence — a split multibyte char would decode
    * as replacement garbage). */
  private def utf8Truncate(s: String, max: Int): Array[Byte] = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (b.length <= max) b
    else {
      var end = max
      // back off continuation bytes (10xxxxxx)
      while (end > 0 && (b(end) & 0xC0) == 0x80) end -= 1
      java.util.Arrays.copyOfRange(b, 0, end)
    }
  }

  /** One PAX record `"%d %s=%s\n"` — the leading decimal counts ITSELF
    * (digits + space + key + '=' + value + newline), so the length is a
    * fixpoint over its own digit count. */
  private[graft] def paxRecord(key: String, value: String): Array[Byte] = {
    val kv = key.getBytes("US-ASCII").length +
      value.getBytes(java.nio.charset.StandardCharsets.UTF_8).length + 3
    var len = kv + 1 // assume 1 digit
    while (len.toString.length + kv != len) len = len.toString.length + kv
    s"$len $key=$value\n".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  /** Write ONE tar entry (header + data + block padding) to `out` —
    * the streaming unit both [[encode]] and [[writeWebdatasetShards]]
    * are built from, so a shard is never buffered whole. Names are
    * UTF-8 bytes (non-ASCII keys survive the roundtrip); names longer
    * than the 100-byte ustar field get a preceding PAX 'x' header with
    * a `path` record (what modern tar emits — GNU/bsdtar/python all
    * read it), with the ustar field holding a truncated best-effort
    * name for pre-PAX readers. Deterministic bytes either way. */
  private def writeEntry(out: java.io.OutputStream, name: String,
      data: Array[Byte]): Unit = {
    val nameBytes = name.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (nameBytes.length > 100) {
      val rec = paxRecord("path", name)
      // the PAX header entry's own name is advisory; keep it recognizable
      val paxName = utf8Truncate(s"./PaxHeaders/$name", 100)
      writeRawEntry(out, paxName, 'x', rec)
      writeRawEntry(out, utf8Truncate(name, 100), '0', data)
    } else writeRawEntry(out, nameBytes, '0', data)
  }

  private def writeEndBlocks(out: java.io.OutputStream): Unit =
    out.write(new Array[Byte](1024))

  /** Emit a ustar archive of (name, data) files; `gzip = true` wraps it
    * (.tar.gz). Writer-beside-reader for the scan fixtures. */
  def encode(files: Seq[(String, Array[Byte])], gzip: Boolean = false): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val sink: java.io.OutputStream =
      if (gzip) new java.util.zip.GZIPOutputStream(bo) else bo
    files.foreach { case (name, data) => writeEntry(sink, name, data) }
    writeEndBlocks(sink)
    sink.close()
    bo.toByteArray
  }

  /** EXPORT a curated dataset as WebDataset shards — the output side of
    * the training pipeline (ingest is [[webdatasetSamples]]): rows of
    * (sample key, extension, payload bytes) land as `shard-<k>.tar[.gz]`
    * files under `dir`, shard k = xxhash64(sample_key) mod `nShards`,
    * so a sample's members ALWAYS co-shard and a re-run over the same
    * rows is byte-deterministic regardless of input partitioning
    * (members sort by (key, ext) within the shard).
    *
    * Scale shape: ONE shuffle — `repartitionAndSortWithinPartitions`
    * with an IDENTITY partitioner on the shard id (shard i goes to
    * task i: no balls-in-bins collisions leaving tasks idle) — then
    * each task STREAMS its shard's entries straight to the Hadoop FS
    * (no whole-shard buffer; a shard can exceed executor memory).
    * Writes go to an attempt-keyed hidden temp file and rename into
    * place; if the final file already exists, a prior attempt committed
    * the identical deterministic bytes and the temp is discarded — a
    * zombie speculative attempt can never delete a committed shard.
    * Orphaned `.tmp` files from killed attempts are hidden (binaryFile
    * ignores them) and safe to sweep. */
  def writeWebdatasetShards(
      df: org.apache.spark.sql.DataFrame,
      keyCol: String,
      extCol: String,
      payloadCol: String,
      dir: String,
      nShards: Int,
      gzip: Boolean = false): Unit = {
    import org.apache.spark.sql.functions._
    val keyed = df.select(
        pmod(xxhash64(col(keyCol)), lit(nShards.toLong)).as("__shard"),
        col(keyCol).cast("string").as("__key"),
        col(extCol).cast("string").as("__ext"),
        col(payloadCol).cast("binary").as("__payload"))
      .rdd.map { r =>
        ((r.getLong(0), r.getString(1), r.getString(2)),
          r.getAs[Array[Byte]](3))
      }
    ShardedArchiveWrite.run[java.io.OutputStream](
      keyed, dir, "shard", if (gzip) ".tar.gz" else ".tar", nShards,
      "webdataset",
      raw => if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw,
      (sink, key, ext, payload) => writeEntry(sink, s"$key.$ext", payload),
      sink => { writeEndBlocks(sink); sink.close() })
  }
}
