package graft.functions

import scala.collection.mutable.ArrayBuffer

/** WARC (ISO 28500) reader + writer — the container Common Crawl ships
  * (WARC/WET/WAT), i.e. THE input format of web-scale LLM training-data
  * pipelines. A WARC file is concatenated records, each: a `WARC/1.0`
  * version line, CRLF-terminated named headers (Content-Length
  * mandatory), an empty line, `Content-Length` payload bytes, and a
  * blank-line record separator. Common Crawl gzips each record as its
  * OWN gzip member and concatenates the members; the reader sniffs the
  * 1F 8B magic and inflates across members (`GZIPInputStream` handles
  * member concatenation), so both the .warc and .warc.gz shapes parse.
  * Record `offset` refers to the (decompressed) stream — the value a
  * re-fetch of the decompressed record needs.
  *
  * For `response` records carrying `application/http` payloads the HTTP
  * envelope is split off: status code, and the body AFTER the header
  * block — DECODED: `Transfer-Encoding: chunked` framing is removed and
  * `Content-Encoding: gzip` bodies inflate (Common Crawl stores payloads
  * as captured, so both are routine on legal inputs — the warcio
  * `content_stream()` contract). Payload text is decoded as UTF-8 with
  * replacement (crawl bytes are dirty by definition; decoding never
  * throws).
  *
  * Out of profile and refused BY NAME: records without Content-Length,
  * version lines that are not WARC/0.x-1.x, truncated payloads,
  * transfer-codings other than identity/chunked, content-codings other
  * than identity/gzip (brotli/deflate/compress). */
object Warc {

  final case class WarcRecord(
      offset: Long, // byte offset in the (decompressed) stream
      warcType: String, // warcinfo, response, request, conversion, ...
      targetUri: String, // "" when absent (warcinfo)
      warcDate: String,
      contentType: String,
      contentLength: Long,
      httpStatus: Int, // -1 when the payload is not an HTTP message
      payload: Array[Byte], // HTTP body for http payloads, else raw
      httpContentType: String = "") { // envelope Content-Type ("" if none)
    /** Charset-aware ([[Warc.sniffCharset]]: BOM > header charset= >
      * meta prescan > UTF-8), malformed bytes replaced. */
    def payloadText: String = Warc.decodeText(httpContentType, payload)
  }

  /** Record FRAMING only: headers + payload position, no envelope
    * decode — what [[parse]] builds on and what the splittable scan's
    * column pruning needs (a names/status inventory over `.warc.gz`
    * must not pay per-record dechunk/gunzip for text nobody asked
    * for). */
  private[graft] final case class Framed(
      offset: Long, headers: Map[String, String],
      payloadStart: Int, contentLength: Long)

  /** Frame every record of an (already decompressed) WARC byte run. */
  private[graft] def parseFraming(id: Long, bytes: Array[Byte]): Seq[Framed] = {
    val out = ArrayBuffer.empty[Framed]
    var off = 0
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < bytes.length && bytes(i) != '\n') i += 1
      i
    }
    def lineAt(from: Int): (String, Int) = {
      val e = lineEnd(from)
      val raw = new String(bytes, from, e - from, "US-ASCII")
      (raw.stripSuffix("\r"), math.min(e + 1, bytes.length))
    }
    while (off < bytes.length) {
      // tolerate blank separator lines between records
      if (bytes(off) == '\r' || bytes(off) == '\n') {
        off = lineAt(off)._2
      } else {
        val recOff = off
        val (version, afterVersion) = lineAt(off)
        require(version.startsWith("WARC/0.") || version.startsWith("WARC/1."),
          s"warc $id: record at $recOff has version line '$version', " +
            "not WARC/0.x or WARC/1.x")
        var p = afterVersion
        val headers = scala.collection.mutable.Map.empty[String, String]
        var done = false
        while (!done) {
          val (line, next) = lineAt(p)
          p = next
          if (line.isEmpty) done = true
          else {
            val colon = line.indexOf(':')
            require(colon > 0, s"warc $id: malformed header '$line' at $recOff")
            headers(line.substring(0, colon).trim.toLowerCase) =
              line.substring(colon + 1).trim
          }
        }
        val raw = headers.getOrElse("content-length",
          throw new IllegalArgumentException(
            s"warc $id: record at $recOff has no Content-Length"))
        // named refusal, never a bare NumberFormatException — parity
        // with the DSv2 reader's headerBlockOf
        val len =
          try raw.toLong catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"warc $id: record at $recOff has non-numeric " +
                s"Content-Length '$raw'")
          }
        require(p + len <= bytes.length,
          s"warc $id: record at $recOff claims $len payload bytes past end")
        out += Framed(recOff, headers.toMap, p, len)
        off = (p + len).toInt
      }
    }
    out.toSeq
  }

  /** Decode one framed record's payload: HTTP envelope split for
    * `application/http` (status + decoded body + the envelope's
    * Content-Type, which carries the charset), raw otherwise. */
  private[graft] def decodePayload(id: Long, f: Framed,
      bytes: Array[Byte]): (Int, Array[Byte], String) = {
    val block = java.util.Arrays.copyOfRange(bytes, f.payloadStart,
      (f.payloadStart + f.contentLength).toInt)
    if (f.headers.getOrElse("content-type", "").startsWith("application/http"))
      splitHttpEnvelope(id, f.offset, block)
    else (-1, block, "")
  }

  /** Parse every record of a .warc / .warc.gz payload. */
  def parse(id: Long, bytes0: Array[Byte]): Seq[WarcRecord] = {
    val bytes = Gunzip.maybeInflate(bytes0)
    parseFraming(id, bytes).map { f =>
      val (status, payload, httpCt) = decodePayload(id, f, bytes)
      WarcRecord(f.offset, f.headers.getOrElse("warc-type", ""),
        f.headers.getOrElse("warc-target-uri", ""),
        f.headers.getOrElse("warc-date", ""),
        f.headers.getOrElse("content-type", ""), f.contentLength,
        status, payload, httpCt)
    }
  }

  /** Split an `application/http` payload block into (status code,
    * DECODED body): the HTTP header block is PARSED (not skipped), and
    * the body is un-transfer-coded and un-content-coded the way warcio's
    * `content_stream()` does — Common Crawl stores payloads AS CAPTURED,
    * so `Transfer-Encoding: chunked` bodies and `Content-Encoding: gzip`
    * bodies are both routine on legal inputs. Handling them raw would
    * interleave chunk-size hex lines (or gzip binary) into the curated
    * text — silent garbage, the one failure mode this repo's
    * refuse-by-name contract forbids. `br`, `deflate`, `compress`, and
    * any transfer-coding other than `chunked`/`identity` refuse BY NAME
    * (no public decoder table for brotli worth hand-transcribing; see
    * README validation notes). */
  private[graft] def splitHttpEnvelope(id: Long, recOff: Long,
      block: Array[Byte]): (Int, Array[Byte], String) = {
    def bLineEnd(from: Int): Int = {
      var i = from
      while (i < block.length && block(i) != '\n') i += 1
      i
    }
    val se = bLineEnd(0)
    val statusLine = new String(block, 0, se, "US-ASCII").stripSuffix("\r")
    val code = statusLine.split(' ') match {
      case parts if parts.length >= 2 && parts(0).startsWith("HTTP/") =>
        try parts(1).toInt catch { case _: NumberFormatException => -1 }
      case _ => -1
    }
    var q = se + 1
    var transferEnc = "identity"
    var contentEnc = "identity"
    var httpContentType = ""
    var blank = false
    while (!blank && q < block.length) {
      val e = bLineEnd(q)
      blank = e == q || (e == q + 1 && block(q) == '\r')
      if (!blank) {
        val line = new String(block, q, e - q, "US-ASCII").stripSuffix("\r")
        val colon = line.indexOf(':')
        if (colon > 0) {
          val k = line.substring(0, colon).trim.toLowerCase
          if (k == "transfer-encoding")
            transferEnc = line.substring(colon + 1).trim.toLowerCase
          else if (k == "content-encoding")
            contentEnc = line.substring(colon + 1).trim.toLowerCase
          else if (k == "content-type")
            httpContentType = line.substring(colon + 1).trim
        }
      }
      q = e + 1
    }
    val raw = java.util.Arrays.copyOfRange(block, math.min(q, block.length),
      block.length)
    // transfer-coding first (applied last on the wire), then content-coding
    val unchunked = transferEnc match {
      case "identity" | "" => raw
      case "chunked" => dechunk(id, recOff, raw)
      case other => throw new IllegalArgumentException(
        s"warc $id: record at $recOff has Transfer-Encoding '$other' " +
          "— only identity/chunked are in profile")
    }
    val body = contentEnc match {
      case "identity" | "" => unchunked
      case "gzip" | "x-gzip" =>
        require(Gunzip.isGzip(unchunked),
          s"warc $id: record at $recOff claims Content-Encoding gzip " +
            "but the body has no gzip magic")
        try Gunzip.maybeInflate(unchunked) catch {
          case e: java.io.IOException => throw new IllegalArgumentException(
            s"warc $id: record at $recOff gzip body corrupt: ${e.getMessage}")
        }
      case other => throw new IllegalArgumentException(
        s"warc $id: record at $recOff has Content-Encoding '$other' " +
          "— only identity/gzip are in profile (brotli's static " +
          "dictionary is not transcribable from a trustworthy source)")
    }
    (code, body, httpContentType)
  }

  /** CHARSET of an HTTP body, by the standard sniffing precedence:
    * BOM (UTF-8 / UTF-16BE / UTF-16LE) > `charset=` parameter of the
    * HTTP `Content-Type` header > an HTML5-prescan-style `charset=`
    * inside the first 1024 bytes (covers `<meta charset="...">` and
    * `<meta http-equiv ... content="...; charset=...">`) > UTF-8.
    * Real crawls are a third windows-1252/latin-1; decoding
    * everything as UTF-8 turns their punctuation and accents into
    * replacement-char noise that poisons token counts and dedup
    * shingles. Unknown or illegal charset names fall back to UTF-8 —
    * crawl bytes are dirty by definition and sniffing never throws.
    * Returns (charset, BOM length to strip). */
  private[graft] def sniffCharset(httpContentType: String,
      body: Array[Byte]): (java.nio.charset.Charset, Int) = {
    import java.nio.charset.{Charset, StandardCharsets}
    def named(name: String): Option[Charset] = {
      val n0 = name.trim.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("'").stripSuffix("'").trim
      // the one HTML5 label the JDK lacks: x-user-defined decodes as
      // windows-1252 per the WHATWG encoding spec's document-decode
      // rule — browsers do this, so the legacy-page long tail must too
      val n = if (n0.equalsIgnoreCase("x-user-defined")) "windows-1252"
        else n0
      if (n.isEmpty) None
      else try {
        if (Charset.isSupported(n)) Some(Charset.forName(n)) else None
      } catch { case _: IllegalArgumentException => None }
    }
    def param(s: String): Option[Charset] = {
      // scan EVERY 'charset' occurrence: prose like "set the charset
      // in HTML" before a real <meta charset=...> must not end the
      // search (the first-hit bailout was a reviewed defect)
      val ls = s.toLowerCase
      var i = ls.indexOf("charset")
      while (i >= 0) {
        var j = i + 7
        while (j < s.length && (s.charAt(j) == ' ' || s.charAt(j) == '\t')) j += 1
        if (j < s.length && s.charAt(j) == '=') {
          j += 1
          while (j < s.length && (s.charAt(j) == ' ' || s.charAt(j) == '\t' ||
            s.charAt(j) == '"' || s.charAt(j) == '\'')) j += 1
          val start = j
          while (j < s.length && (s.charAt(j).isLetterOrDigit ||
            "._:-".indexOf(s.charAt(j)) >= 0)) j += 1
          val cs = named(s.substring(start, j))
          if (cs.isDefined) return cs
        }
        i = ls.indexOf("charset", i + 1)
      }
      None
    }
    if (body.length >= 3 && (body(0) & 0xFF) == 0xEF &&
        (body(1) & 0xFF) == 0xBB && (body(2) & 0xFF) == 0xBF)
      (StandardCharsets.UTF_8, 3)
    else if (body.length >= 2 && (body(0) & 0xFF) == 0xFE &&
        (body(1) & 0xFF) == 0xFF)
      (StandardCharsets.UTF_16BE, 2)
    else if (body.length >= 2 && (body(0) & 0xFF) == 0xFF &&
        (body(1) & 0xFF) == 0xFE)
      (StandardCharsets.UTF_16LE, 2)
    else param(httpContentType) match {
      case Some(cs) => (cs, 0)
      case None =>
        // HTML5-prescan simplification: 'charset=' anywhere in the
        // first 1024 bytes, read as ASCII (both meta spellings land
        // here; a lying body can only misdirect its own decode)
        val prefix = new String(body, 0,
          math.min(1024, body.length), StandardCharsets.US_ASCII)
        (param(prefix).getOrElse(StandardCharsets.UTF_8), 0)
    }
  }

  /** Decoded text of an HTTP body under [[sniffCharset]]: BOM
    * stripped, malformed sequences replaced (never a throw). */
  private[graft] def decodeText(httpContentType: String,
      body: Array[Byte]): String = {
    val (cs, bom) = sniffCharset(httpContentType, body)
    new String(body, bom, body.length - bom, cs)
  }

  /** Decode `Transfer-Encoding: chunked` framing (RFC 9112 §7.1):
    * `hex-size [;ext] CRLF data CRLF` repeated, a `0` chunk, then
    * optional trailer lines until a blank line. Malformed sizes and
    * truncated chunks refuse by name. */
  private[functions] def dechunk(id: Long, recOff: Long,
      raw: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(raw.length)
    var p = 0
    def lineEnd(from: Int): Int = {
      var i = from
      while (i < raw.length && raw(i) != '\n') i += 1
      i
    }
    var done = false
    while (!done) {
      val e = lineEnd(p)
      require(e < raw.length,
        s"warc $id: record at $recOff chunked body truncated mid-size-line")
      val sizeLine = new String(raw, p, e - p, "US-ASCII").stripSuffix("\r")
      // chunk extensions (";ext=val") are legal; size is before the ';'
      val sizeHex = sizeLine.split(';')(0).trim
      val size =
        try java.lang.Long.parseLong(sizeHex, 16) catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"warc $id: record at $recOff has unparseable chunk size " +
              s"'$sizeHex'")
        }
      p = e + 1
      if (size == 0) done = true
      else {
        // subtraction, not addition: `p + size + 2` overflows Long for
        // adversarial hex sizes (e.g. '7fffffffffffffff' — sizes past
        // Long take the unparseable-size refusal above) and parseLong
        // accepts negatives via '-' — both must hit the named refusal,
        // not an IndexOutOfBounds
        require(size > 0 && size <= raw.length.toLong - p - 2,
          s"warc $id: record at $recOff chunk of $size bytes runs past end")
        out.write(raw, p, size.toInt)
        p += size.toInt
        require(raw(p) == '\r' && raw(p + 1) == '\n',
          s"warc $id: record at $recOff chunk of $size bytes not " +
            "CRLF-terminated")
        p += 2
      }
    }
    // trailers (if any) run until a blank line; nothing to keep
    out.toByteArray
  }

  /** [[parse]] as a relational stage: one row per record, container
    * bytes partition-local (the demuxMp4/demuxMkv shape) — the first
    * stage of a Common-Crawl-style curation pipeline, feeding the text
    * operators (quality gates, dedup, language id) downstream. */
  def records(df: org.apache.spark.sql.DataFrame, idCol: String,
      binCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("rec_idx", IntegerType, nullable = false),
      StructField("rec_offset", LongType, nullable = false),
      StructField("warc_type", StringType, nullable = false),
      StructField("target_uri", StringType, nullable = false),
      StructField("warc_date", StringType, nullable = false),
      StructField("content_type", StringType, nullable = false),
      StructField("content_length", LongType, nullable = false),
      StructField("http_status", IntegerType, nullable = false),
      StructField("payload_text", StringType, nullable = false)))
    df.select(col(idCol).cast(LongType), col(binCol))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          parse(id, bytes).zipWithIndex.map { case (r, i) =>
            Row(id, i, r.offset, r.warcType, r.targetUri, r.warcDate,
              r.contentType, r.contentLength, r.httpStatus, r.payloadText)
          }
        }
      }(Encoders.row(schema))
  }

  /** Resolve WARC `revisit` records to their ORIGINAL's decoded
    * payload. Fetch-time-deduplicating crawlers (the Internet Archive
    * shape) emit a payload-free `revisit` record when a URL's content
    * matches something already stored, pointing back via
    * `WARC-Refers-To` (the original's `WARC-Record-ID`) or the shared
    * `WARC-Payload-Digest` — without resolution those crawls surface
    * as empty-ish rows and the corpus silently loses every re-fetched
    * page.
    *
    * Input is a `format("warc")` scan (or any frame with its columns);
    * output is the revisit rows joined to (`orig_uri`,
    * `resolved_text`), LEFT so a dangling reference survives with
    * nulls instead of vanishing. `by = "refers_to"` joins
    * `warc_refers_to` → `warc_record_id`; `by = "digest"` joins on the
    * shared payload digest (the WARC-profile for identical-digest
    * revisits). Originals are deduplicated per key with a
    * DETERMINISTIC min over (path, rec_offset, rec_seq) — dirty crawls
    * repeat IDs, and a nondeterministic pick would make the operator
    * unreplayable. Scale shape: one hash-keyed shuffle per side on the
    * join key; payload text rides the (deduplicated) originals only. */
  def resolveRevisits(scan: org.apache.spark.sql.DataFrame,
      by: String = "refers_to"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val origKey = by match {
      case "refers_to" => "warc_record_id"
      case "digest" => "payload_digest"
      case other => throw new IllegalArgumentException(
        s"resolveRevisits by '$other' — pick refers_to or digest")
    }
    val revKey = if (by == "refers_to") "warc_refers_to" else "payload_digest"
    val originals = scan
      .filter(col("warc_type") =!= "revisit" && col(origKey) =!= "")
      .groupBy(col(origKey).as("__key"))
      .agg(min_by(
        struct(col("target_uri"), col("payload_text")),
        struct(col("path"), col("rec_offset"), col("rec_seq"))).as("__o"))
      .select(col("__key"), col("__o.target_uri").as("orig_uri"),
        col("__o.payload_text").as("resolved_text"))
    scan.filter(col("warc_type") === "revisit")
      .join(originals,
        scan(revKey) === originals("__key") && scan(revKey) =!= "", "left")
      .drop("__key")
  }

  // ------------------------------------------------------------- write

  /** Writer-side record: headers assembled in canonical order; a
    * `Some(status)` wraps the payload in an HTTP/1.1 envelope with the
    * given status code (the `response` record shape). `chunked` frames
    * the body as `Transfer-Encoding: chunked` (32-byte chunks, lowercase
    * hex sizes); `gzipBody` compresses it as `Content-Encoding: gzip`
    * with LEVEL-0 (stored-block) deflate, whose encoded length is the
    * closed form `len + 23` for bodies under 64 KiB — what lets the
    * DuckDB oracle replay record Content-Lengths with zero gzip code. */
  final case class WRecord(
      warcType: String,
      targetUri: String = "",
      warcDate: String = "2024-01-01T00:00:00Z",
      httpStatus: Option[Int] = None,
      body: String = "",
      chunked: Boolean = false,
      gzipBody: Boolean = false,
      recordId: String = "", // WARC-Record-ID when nonempty
      refersTo: String = "", // WARC-Refers-To (revisit records)
      payloadDigest: String = "", // WARC-Payload-Digest
      bodyCharset: String = "UTF-8", // HTTP body encoding on the wire
      charsetHeader: Boolean = true, // emit '; charset=' when non-UTF-8
      charsetLabel: String = "") // advertised label when it differs from
                                 // bodyCharset (x-user-defined pages SAY
                                 // that but carry windows-1252 bytes)

  /** Emit records; `gzipPerRecord = true` compresses each record as its
    * own gzip member and concatenates — the Common Crawl layout;
    * `zstdPerRecord = true` uses one zstd frame per record instead (the
    * `.warc.zst` shape). `zstdDictionary` additionally emits the IIPC
    * convention (warc-specifications zstd proposal): a LEADING skippable
    * frame with magic 0x184D2A5D whose payload is the shared dictionary
    * — raw, or itself a standalone zstd frame when
    * `zstdDictCompressed` — and every record frame compressed AGAINST
    * it (raw-content dictionary; zstd auto-detects the load method). */
  def encode(records: Seq[WRecord], gzipPerRecord: Boolean = false,
      zstdPerRecord: Boolean = false,
      zstdDictionary: Option[Array[Byte]] = None,
      zstdDictCompressed: Boolean = false): Array[Byte] = {
    require(!(gzipPerRecord && zstdPerRecord),
      "pick ONE per-record compression")
    require(zstdDictionary.isEmpty || zstdPerRecord,
      "a zstd dictionary needs zstdPerRecord frames")
    def one(r: WRecord): Array[Byte] = {
      val blockBytes = r.httpStatus match {
        case Some(code) =>
          val reason = if (code == 200) "OK" else "Status"
          var body = r.body.getBytes(r.bodyCharset)
          val hdrs = new StringBuilder
          hdrs.append(s"HTTP/1.1 $code $reason\r\n")
          val label =
            if (r.charsetLabel.nonEmpty) r.charsetLabel else r.bodyCharset
          if (r.bodyCharset.equalsIgnoreCase("UTF-8") || !r.charsetHeader)
            hdrs.append("Content-Type: text/html\r\n")
          else
            hdrs.append(s"Content-Type: text/html; charset=$label\r\n")
          if (r.gzipBody) { // content-coding first, transfer-coding on top
            body = gzipStored(body)
            hdrs.append("Content-Encoding: gzip\r\n")
          }
          if (r.chunked) {
            body = chunkFrame(body)
            hdrs.append("Transfer-Encoding: chunked\r\n")
          }
          hdrs.append("\r\n")
          hdrs.toString.getBytes("US-ASCII") ++ body
        case None => r.body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      }
      val sb = new StringBuilder
      sb.append("WARC/1.0\r\n")
      sb.append(s"WARC-Type: ${r.warcType}\r\n")
      if (r.targetUri.nonEmpty) sb.append(s"WARC-Target-URI: ${r.targetUri}\r\n")
      sb.append(s"WARC-Date: ${r.warcDate}\r\n")
      if (r.recordId.nonEmpty) sb.append(s"WARC-Record-ID: ${r.recordId}\r\n")
      if (r.refersTo.nonEmpty) sb.append(s"WARC-Refers-To: ${r.refersTo}\r\n")
      if (r.payloadDigest.nonEmpty)
        sb.append(s"WARC-Payload-Digest: ${r.payloadDigest}\r\n")
      if (r.httpStatus.isDefined)
        sb.append("Content-Type: application/http; msgtype=response\r\n")
      else if (r.body.nonEmpty) sb.append("Content-Type: text/plain\r\n")
      sb.append(s"Content-Length: ${blockBytes.length}\r\n")
      sb.append("\r\n")
      sb.toString.getBytes("US-ASCII") ++ blockBytes ++ "\r\n\r\n".getBytes("US-ASCII")
    }
    val parts = records.map(one)
    if (zstdPerRecord) zstdDictionary match {
      case None =>
        parts.flatMap(p => com.github.luben.zstd.Zstd.compress(p, 3)).toArray
      case Some(dict) =>
        val payload =
          if (!zstdDictCompressed) dict
          else com.github.luben.zstd.Zstd.compress(dict, 3)
        val skippable = Array[Byte](0x5D, 0x2A, 0x4D, 0x18,
          (payload.length & 0xFF).toByte, ((payload.length >> 8) & 0xFF).toByte,
          ((payload.length >> 16) & 0xFF).toByte,
          ((payload.length >> 24) & 0xFF).toByte) ++ payload
        val ctx = new com.github.luben.zstd.ZstdCompressCtx()
        try {
          ctx.setLevel(3)
          ctx.loadDict(dict)
          skippable ++ parts.flatMap(ctx.compress(_)).toArray[Byte]
        } finally ctx.close()
    }
    else if (!gzipPerRecord) parts.flatten.toArray
    else parts.flatMap { p =>
      val bo = new java.io.ByteArrayOutputStream(p.length)
      val gz = new java.util.zip.GZIPOutputStream(bo)
      gz.write(p); gz.close()
      bo.toByteArray
    }.toArray
  }

  /** EXPORT a curated text corpus as WET-style WARC segments — the
    * text pipeline's OUTPUT side (ingest is `format("warc")` /
    * [[records]]), closing the crawl→curate→re-publish loop the way
    * [[Tar.writeWebdatasetShards]] closes the multimodal one: rows of
    * (target URI, extracted text) land as `segment-<k>.warc[.gz]`
    * files under `dir` as `conversion` records (the Common Crawl WET
    * shape), one gzip member per record when `gzipPerRecord` — i.e.
    * output that `format("warc")` (and warcio) re-ingests SPLITTABLY.
    *
    * Shard k = xxhash64(uri) mod `nShards`; bytes are deterministic
    * across runs and input partitionings (records sort by URI within
    * the shard), duplicate URIs refuse by name, and writes go through
    * the attempt-keyed temp+rename protocol — all via
    * [[ShardedArchiveWrite]]. Records stream straight to the Hadoop FS:
    * a segment is never buffered whole. */
  def writeWetSegments(
      df: org.apache.spark.sql.DataFrame,
      uriCol: String,
      textCol: String,
      dir: String,
      nShards: Int,
      gzipPerRecord: Boolean = true,
      warcDate: String = "2024-01-01T00:00:00Z"): Unit = {
    import org.apache.spark.sql.functions._
    val keyed = df.select(
        pmod(xxhash64(col(uriCol)), lit(nShards.toLong)).as("__shard"),
        col(uriCol).cast("string").as("__uri"),
        col(textCol).cast("string").as("__text"))
      .rdd.map { r =>
        ((r.getLong(0), r.getString(1), ""),
          r.getString(2).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    ShardedArchiveWrite.run[java.io.OutputStream](
      keyed, dir, "segment", if (gzipPerRecord) ".warc.gz" else ".warc",
      nShards, "wet",
      raw => raw, // members are self-contained; no stream-level wrapper
      (sink, uri, _, payload) => {
        val rec = Warc.encode(Seq(WRecord("conversion", targetUri = uri,
          warcDate = warcDate, body = new String(payload,
            java.nio.charset.StandardCharsets.UTF_8))),
          gzipPerRecord = gzipPerRecord)
        sink.write(rec)
      },
      _ => ())
  }

  /** Level-0 (stored-block) gzip: legal gzip any decoder inflates, with
    * the CLOSED-FORM encoded length `len + 23` for `len` < 64 KiB
    * (10-byte header + one 5-byte stored-block frame + data + 8-byte
    * trailer) — deterministic bytes (the JDK writes MTIME=0), so oracle
    * replay of record Content-Lengths needs zero gzip code. */
  private[functions] def gzipStored(data: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream(data.length + 32)
    val gz = new java.util.zip.GZIPOutputStream(bo) {
      `def`.setLevel(java.util.zip.Deflater.NO_COMPRESSION)
    }
    gz.write(data); gz.close()
    bo.toByteArray
  }

  /** `Transfer-Encoding: chunked` framing with fixed 32-byte chunks and
    * lowercase hex sizes — encoded length is closed-form from the body
    * length (38 bytes per full chunk, `hexdigits(rem) + rem + 4` for the
    * partial, 5 for the terminator). */
  private[functions] def chunkFrame(data: Array[Byte]): Array[Byte] = {
    val Chunk = 32
    val bo = new java.io.ByteArrayOutputStream(data.length + data.length / Chunk * 8 + 16)
    var p = 0
    while (p < data.length) {
      val n = math.min(Chunk, data.length - p)
      bo.write(f"$n%x\r\n".getBytes("US-ASCII"))
      bo.write(data, p, n)
      bo.write('\r'); bo.write('\n')
      p += n
    }
    bo.write("0\r\n\r\n".getBytes("US-ASCII"))
    bo.toByteArray
  }
}
