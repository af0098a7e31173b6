package graft.sources.archive

import org.apache.hadoop.fs.FSDataInputStream

/** Shared machinery of the SPLITTABLE archive scans (`format("warc")`,
  * `format("webdataset")`): byte-range planning and a lazily-grown
  * compressed-byte window.
  *
  * Why these sources exist at all: the composable relational stages
  * ([[graft.functions.Warc.records]], [[graft.functions.Tar.webdatasetSamples]])
  * ride Spark's `binaryFile` source — one ROW per archive, the whole
  * (inflated) file on one executor's heap, intra-file parallelism of 1.
  * Fine for in-memory byte columns; the wrong shape for a bucket of
  * ~1 GB Common Crawl segments. These DSv2 sources plan MEMBER-granular
  * byte-range partitions instead — WARC's per-record gzip members and
  * tar's 512-byte framing are both seekable resync points — so one
  * archive fans out across executors and per-task memory is bounded by
  * `maxSplitBytes` (+ one member overrun), not file size: the same
  * one-slab-per-partition discipline as the GRIB/NetCDF/COG scans. */
private[archive] object ArchiveSplit {

  /** Byte-range partitions of a file: [k·split, (k+1)·split) with the
    * last range ending at `len`. A reader owns the members whose START
    * lies in its range and reads past `end` to finish the last one. */
  def ranges(len: Long, split: Long): Seq[(Long, Long)] = {
    require(split > 0, s"maxSplitBytes $split")
    if (len == 0) Seq.empty
    else (0L until len by split).map(s => (s, math.min(s + split, len)))
  }
}

/** Zstd MEMBER walking over a [[GrowableSlab]] — the `.warc.zst` shape
  * (Internet Archive tooling): each record its own zstd frame, which
  * splits exactly like the gzip-member layout. A member boundary
  * validates as the 28 B5 2F FD frame magic + a parseable frame header
  * (`Zstd.findFrameCompressedSize`) + a decompressed prefix check.
  *
  * SKIPPABLE frames (0x184D2A5x) carry no records: at a VALIDATED
  * chain position (offset 0 or the synced cursor) the walk skips them
  * by their declared size, and the 0x184D2A5D variant at offset 0 is
  * the IIPC shared-DICTIONARY convention — its payload (raw, or
  * itself a standalone zstd frame) is loaded and every member decodes
  * against it ([[ZstdDicts]]). During resync over arbitrary interior
  * bytes a bare skippable-magic match is NOT trusted (random data hits
  * it ~2^-28 per offset): it is simply not a member, and scanning
  * continues. */
private[archive] object ZstdMember {

  def isFrameMagic(slab: GrowableSlab, p: Long): Boolean =
    p + 4 <= slab.fileLen && slab.ensure(p + 4) &&
      (slab(p) & 0xFF) == 0x28 && (slab(p + 1) & 0xFF) == 0xB5 &&
      (slab(p + 2) & 0xFF) == 0x2F && (slab(p + 3) & 0xFF) == 0xFD

  def isSkippableMagic(slab: GrowableSlab, p: Long): Boolean =
    p + 4 <= slab.fileLen && slab.ensure(p + 4) &&
      (slab(p) & 0xF0) == 0x50 && (slab(p + 1) & 0xFF) == 0x2A &&
      (slab(p + 2) & 0xFF) == 0x4D && (slab(p + 3) & 0xFF) == 0x18

  /** Total size (magic + 4-byte LE length + payload) of the skippable
    * frame at `p` — only meaningful at a VALIDATED chain position. */
  def skippableSize(slab: GrowableSlab, p: Long, what: String): Long = {
    require(slab.ensure(p + 8), s"$what: skippable zstd frame at $p truncated")
    val len = (slab(p + 4) & 0xFFL) | ((slab(p + 5) & 0xFFL) << 8) |
      ((slab(p + 6) & 0xFFL) << 16) | ((slab(p + 7) & 0xFFL) << 24)
    require(p + 8 + len <= slab.fileLen,
      s"$what: skippable zstd frame at $p declares $len payload bytes past end")
    8 + len
  }

  /** Compressed size of the frame at `p`, or -1 when the frame does not
    * parse within `maxFrameBytes` (resync probing).
    *
    * `findFrameCompressedSize` must walk EVERY block header of the
    * frame, so the loaded window is grown until the reported size fits
    * entirely inside `slab.loaded`: a size derived from bytes past the
    * window would have read the capacity array's zero-fill — the r13
    * boundary-crossing defect (spurious refusals, or silently skipped
    * members in the resync probe, on any frame straddling a 4 MiB
    * growth step). The walk is bounded with an EXPLICIT length so it
    * can never read past the loaded bytes. */
  def frameCompressedSize(slab: GrowableSlab, p: Long,
      maxFrameBytes: Long): Long = {
    val cap = math.min(slab.fileLen, p + maxFrameBytes)
    if (!slab.ensure(math.min(slab.fileLen, p + 18))) return -1
    while (true) {
      val n =
        try com.github.luben.zstd.Zstd.findFrameCompressedSize(
          slab.raw, slab.rel(p), (slab.loaded - p).toInt)
        catch { case _: com.github.luben.zstd.ZstdException => -1L }
      if (n > 0 && p + n <= slab.loaded) return n
      // not sizeable from the loaded bytes: grow (ensure advances by at
      // least one growStep) and re-walk; give up once the window covers
      // everything the frame could legally span
      if (slab.loaded >= cap) return -1
      slab.ensure(math.min(cap, slab.loaded + 1))
    }
    -1 // unreachable
  }

  /** Decompress the member at `p` fully; (data, offset past frame).
    * `maxOut` bounds the decompressed size by name; `dict` is the IIPC
    * shared dictionary when the archive carries one (harmless for
    * standalone frames — they never back-reference into it). */
  def inflate(slab: GrowableSlab, p: Long, maxOut: Long, what: String,
      dict: Option[com.github.luben.zstd.ZstdDictDecompress] = None)
      : (Array[Byte], Long) = {
    require(!isSkippableMagic(slab, p),
      s"$what: inflate called at a skippable zstd frame ($p) — walk bug")
    // compressed size can exceed maxOut only by raw-block overhead
    // (~3 bytes / 128 KiB block) plus header/checksum: 1 MiB of slack
    val csize = frameCompressedSize(slab, p, maxOut + (1L << 20))
    require(csize > 0,
      s"$what: zstd frame at $p truncated, corrupt, or larger than " +
        "maxMemberBytes — expected per-record frames")
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(slab.raw, slab.rel(p), csize.toInt))
    dict.foreach(in.setDict)
    try {
      val out = new java.io.ByteArrayOutputStream(64 << 10)
      val buf = new Array[Byte](64 << 10)
      var n = in.read(buf)
      while (n >= 0) {
        out.write(buf, 0, n)
        require(out.size() <= maxOut,
          s"$what: zstd frame at $p inflates past $maxOut bytes " +
            "(maxMemberBytes) — expected per-record frames")
        n = in.read(buf)
      }
      (out.toByteArray, p + csize)
    } catch {
      case e: java.io.IOException => throw new IllegalArgumentException(
        s"$what: corrupt zstd frame at $p: ${e.getMessage}")
    } finally in.close()
  }

  /** Is `p` a REAL member start? Magic + a full block-header walk +
    * a PREFIX-ONLY decode (resync cost is bounded by the prefix, not
    * the member size) checked against `expectPrefix`. */
  def probe(slab: GrowableSlab, p: Long, expectPrefix: Array[Byte],
      maxOut: Long,
      dict: Option[com.github.luben.zstd.ZstdDictDecompress] = None): Boolean =
    isFrameMagic(slab, p) && {
      val csize = frameCompressedSize(slab, p, maxOut + (1L << 20))
      csize > 0 && (try {
        val in = new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(slab.raw, slab.rel(p), csize.toInt))
        dict.foreach(in.setDict)
        try {
          val out = new Array[Byte](expectPrefix.length)
          var got = 0
          var n = 0
          while (got < out.length && n >= 0) {
            n = in.read(out, got, out.length - got)
            if (n > 0) got += n
          }
          got == out.length && java.util.Arrays.equals(out, expectPrefix)
        } finally in.close()
      } catch { case _: java.io.IOException => false })
    }
}

/** Per-JVM cache of IIPC `.warc.zst` shared dictionaries, keyed by
  * file path: the dictionary lives in a LEADING skippable frame with
  * the 0x184D2A5D magic (warc-specifications zstd proposal), its
  * payload either the raw dictionary or a standalone zstd frame
  * wrapping it. Every split partition of the same archive needs it, so
  * the (small) BYTES are cached JVM-wide and each reader builds — and
  * closes — its own native `ZstdDictDecompress`, keeping native
  * lifetime task-local while the head of the file is read once per
  * executor, not once per task. */
private[archive] object ZstdDicts {
  private val MaxDictBytes = 128L << 20
  /** Cache budget is BYTES, not entries: dictionaries run KBs to tens
    * of MBs, so a count-based LRU could pin entries × MaxDictBytes of
    * executor heap. Keyed by (path, fileLen) — the archive sources'
    * immutable-files contract, same as the zip directory memoization;
    * an overwritten file changes length in practice (and a stale dict
    * on a same-length rewrite fails the member prefix probes loudly). */
  private val MaxCacheBytes = 256L << 20
  private val cache =
    new java.util.LinkedHashMap[String, Option[Array[Byte]]](16, 0.75f, true)
  private var cachedBytes = 0L

  /** Dictionary bytes of the archive, or None when the file does not
    * start with a dictionary frame. Positioned reads; stream state
    * untouched. */
  def bytesFor(in: FSDataInputStream, path: String, fileLen: Long)
      : Option[Array[Byte]] = {
    val key = s"$path@$fileLen"
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit
    }
    val computed = read(in, path, fileLen)
    cache.synchronized {
      val prev = cache.put(key, computed)
      cachedBytes += computed.map(_.length.toLong).getOrElse(0L) -
        prevBytes(prev)
      val it = cache.entrySet().iterator()
      while (cachedBytes > MaxCacheBytes && it.hasNext) {
        val e = it.next()
        if (!(e.getKey == key)) { // never evict what we just computed
          cachedBytes -= e.getValue.map(_.length.toLong).getOrElse(0L)
          it.remove()
        }
      }
    }
    computed
  }

  private def prevBytes(prev: Option[Array[Byte]]): Long =
    if (prev == null) 0L else prev.map(_.length.toLong).getOrElse(0L)

  private def read(in: FSDataInputStream, path: String,
      fileLen: Long): Option[Array[Byte]] = {
    if (fileLen < 8) return None
    val head = new Array[Byte](8)
    in.readFully(0L, head)
    // 0x184D2A5D little-endian: 5D 2A 4D 18 — the dictionary variant
    // specifically; other skippable frames carry no dictionary (the
    // walk just skips them)
    if (!((head(0) & 0xFF) == 0x5D && (head(1) & 0xFF) == 0x2A &&
        (head(2) & 0xFF) == 0x4D && (head(3) & 0xFF) == 0x18)) return None
    val len = (head(4) & 0xFFL) | ((head(5) & 0xFFL) << 8) |
      ((head(6) & 0xFFL) << 16) | ((head(7) & 0xFFL) << 24)
    require(8 + len <= fileLen,
      s"warc $path: dictionary frame declares $len payload bytes past end")
    require(len <= MaxDictBytes,
      s"warc $path: dictionary frame of $len bytes exceeds the " +
        s"$MaxDictBytes dictionary bound")
    val payload = new Array[Byte](len.toInt)
    in.readFully(8L, payload)
    val isFrame = payload.length >= 4 &&
      (payload(0) & 0xFF) == 0x28 && (payload(1) & 0xFF) == 0xB5 &&
      (payload(2) & 0xFF) == 0x2F && (payload(3) & 0xFF) == 0xFD
    val dict =
      if (!isFrame) payload // raw-content dictionary
      else { // dictionary itself zstd-compressed as a standalone frame
        val n = com.github.luben.zstd.Zstd.getFrameContentSize(payload)
        require(n > 0 && n <= MaxDictBytes,
          s"warc $path: compressed dictionary frame has no usable " +
            s"content size ($n)")
        try com.github.luben.zstd.Zstd.decompress(payload, n.toInt)
        catch {
          case e: com.github.luben.zstd.ZstdException =>
            throw new IllegalArgumentException(
              s"warc $path: corrupt compressed dictionary frame: " +
                e.getMessage)
        }
      }
    Some(dict)
  }
}

/** A window of file bytes `[base, loadedEnd)` grown lazily by positioned
  * reads — the partition reader's working set. Growth is on demand in
  * `growStep` increments, so a task touches only the bytes its members
  * actually span: resident memory ≤ its split range + the last member's
  * overrun past the range end, never the file. */
private[archive] final class GrowableSlab(
    in: FSDataInputStream,
    val base: Long,
    val fileLen: Long,
    growStep: Int = 4 << 20) {

  private var buf: Array[Byte] = Array.emptyByteArray
  private var loadedEnd: Long = base

  def loaded: Long = loadedEnd

  /** Grow to cover absolute offsets `< absEnd`; false when `absEnd`
    * exceeds the file (nothing read). */
  def ensure(absEnd: Long): Boolean = {
    if (absEnd > fileLen) return false
    if (absEnd <= loadedEnd) return true
    val target = math.min(fileLen,
      math.max(absEnd, loadedEnd + growStep))
    val need = target - base
    require(need <= Int.MaxValue - 8,
      s"archive split window of $need bytes exceeds the 2 GiB array bound " +
        "— lower maxSplitBytes")
    if (buf.length < need)
      buf = java.util.Arrays.copyOf(buf,
        math.min(Int.MaxValue.toLong - 8,
          math.max(need, buf.length.toLong * 2)).toInt)
    in.readFully(loadedEnd, buf, (loadedEnd - base).toInt,
      (target - loadedEnd).toInt)
    loadedEnd = target
    true
  }

  /** Byte at absolute file offset (must be ensured). */
  def apply(abs: Long): Byte = buf((abs - base).toInt)

  def copy(absFrom: Long, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    System.arraycopy(buf, (absFrom - base).toInt, out, 0, len)
    out
  }

  /** Direct access for bulk scans over ensured ranges. */
  def raw: Array[Byte] = buf
  def rel(abs: Long): Int = (abs - base).toInt
}

/** Gzip MEMBER walking over a [[GrowableSlab]] — the Common Crawl
  * layout stores each WARC record as its own gzip member, which is
  * exactly what makes `.warc.gz` splittable: a member boundary is a
  * resync point, found by validating the 1F 8B 08 magic with a real
  * header parse + prefix inflate. Member length comes from the
  * `Inflater`'s own accounting (fed − remaining), so boundaries are
  * exact, and the trailer CRC32/ISIZE are VERIFIED — a false resync
  * cannot survive the checksum. */
private[archive] object GzipMember {

  /** End of the gzip header starting at `p` (RFC 1952: magic, CM=8,
    * FLG, MTIME, XFL, OS, optional FEXTRA/FNAME/FCOMMENT/FHCRC).
    * Throws when not a valid header. */
  def headerEnd(slab: GrowableSlab, p: Long): Long = {
    require(slab.ensure(p + 10), "gzip header past end")
    require((slab(p) & 0xFF) == 0x1F && (slab(p + 1) & 0xFF) == 0x8B &&
      (slab(p + 2) & 0xFF) == 8, "no gzip member magic")
    val flg = slab(p + 3) & 0xFF
    require((flg & 0xE0) == 0, "reserved gzip FLG bits set")
    var q = p + 10
    if ((flg & 4) != 0) { // FEXTRA
      require(slab.ensure(q + 2), "gzip FEXTRA past end")
      val xlen = (slab(q) & 0xFF) | ((slab(q + 1) & 0xFF) << 8)
      q += 2 + xlen
    }
    def skipZString(): Unit = {
      var ok = slab.ensure(q + 1)
      while (ok && slab(q) != 0) { q += 1; ok = slab.ensure(q + 1) }
      require(ok, "gzip header string past end")
      q += 1
    }
    if ((flg & 8) != 0) skipZString() // FNAME
    if ((flg & 16) != 0) skipZString() // FCOMMENT
    if ((flg & 2) != 0) q += 2 // FHCRC
    require(slab.ensure(q), "gzip header past end")
    q
  }

  /** Inflate the member at `p` fully. Returns (decompressed bytes,
    * absolute offset just past the member's 8-byte trailer). `maxOut`
    * bounds the decompressed size BY NAME — a mono-stream multi-GB
    * member would otherwise silently rebuild the whole-file heap spike
    * this source exists to avoid. */
  def inflate(slab: GrowableSlab, p: Long, maxOut: Long,
      what: String): (Array[Byte], Long) = {
    val dataStart = headerEnd(slab, p)
    val inf = new java.util.zip.Inflater(true)
    val out = new java.io.ByteArrayOutputStream(64 << 10)
    val outBuf = new Array[Byte](64 << 10)
    var fedEnd = dataStart
    try {
      while (!inf.finished()) {
        if (inf.needsInput()) {
          val chunk = math.min(64L << 10, slab.fileLen - fedEnd)
          require(chunk > 0, s"$what: gzip member at $p truncated")
          require(slab.ensure(fedEnd + chunk), s"$what: gzip member at $p truncated")
          inf.setInput(slab.raw, slab.rel(fedEnd), chunk.toInt)
          fedEnd += chunk
        }
        val n =
          try inf.inflate(outBuf) catch {
            case e: java.util.zip.DataFormatException =>
              throw new IllegalArgumentException(
                s"$what: corrupt deflate in gzip member at $p: ${e.getMessage}")
          }
        out.write(outBuf, 0, n)
        require(out.size() <= maxOut,
          s"$what: gzip member at $p inflates past $maxOut bytes " +
            "(maxMemberBytes) — expected per-record members (the Common " +
            "Crawl layout); re-compress record-granular or raise the option")
      }
      val memberEnd = fedEnd - inf.getRemaining + 8 // + CRC32 + ISIZE
      require(slab.ensure(memberEnd),
        s"$what: gzip member at $p missing its 8-byte trailer")
      val data = out.toByteArray
      // trailer verification kills false resyncs that survived inflate
      val crcOff = memberEnd - 8
      def u32(o: Long): Long = (slab(o) & 0xFFL) | ((slab(o + 1) & 0xFFL) << 8) |
        ((slab(o + 2) & 0xFFL) << 16) | ((slab(o + 3) & 0xFFL) << 24)
      val crc = new java.util.zip.CRC32
      crc.update(data)
      require(crc.getValue == u32(crcOff) &&
        (data.length & 0xFFFFFFFFL) == u32(crcOff + 4),
        s"$what: gzip member at $p trailer CRC/ISIZE mismatch")
      (data, memberEnd)
    } finally inf.end()
  }

  /** Is `p` a REAL member start? Validates the header and inflates a
    * small prefix, checking it begins with `expectPrefix` — deflate
    * data that happens to contain 1F 8B 08 fails one of the two. */
  def probe(slab: GrowableSlab, p: Long, expectPrefix: Array[Byte]): Boolean =
    try {
      val dataStart = headerEnd(slab, p)
      val inf = new java.util.zip.Inflater(true)
      try {
        val out = new Array[Byte](expectPrefix.length)
        var got = 0
        var fedEnd = dataStart
        while (got < out.length && !inf.finished()) {
          if (inf.needsInput()) {
            val chunk = math.min(4096L, slab.fileLen - fedEnd)
            if (chunk <= 0 || !slab.ensure(fedEnd + chunk)) return false
            inf.setInput(slab.raw, slab.rel(fedEnd), chunk.toInt)
            fedEnd += chunk
          }
          got += inf.inflate(out, got, out.length - got)
        }
        got == out.length && java.util.Arrays.equals(out, expectPrefix)
      } finally inf.end()
    } catch {
      case _: IllegalArgumentException => false
      case _: java.util.zip.DataFormatException => false
    }
}
