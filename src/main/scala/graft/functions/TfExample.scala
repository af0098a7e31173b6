package graft.functions

import scala.collection.mutable.ArrayBuffer

/** tf.Example protobuf decoder + encoder — the payload INSIDE TFRecord
  * shards ([[TfRecord]] gives the framing; this gives the features).
  * The protobuf wire format is tiny and fully public (varint keys,
  * wire types 0/2/5; `Example → Features → map<string, Feature>` with
  * `Feature = oneof {BytesList, FloatList, Int64List}`), so decoding
  * needs no generated code and no tables: a nested length-delimited
  * walk, the same stance as the container demuxers. Both PACKED and
  * unpacked repeated scalars parse (TensorFlow writes packed; hand
  * writers often don't).
  *
  * Out of profile and refused BY NAME: unknown wire types, truncated
  * varints/fields, a Feature carrying more than one list kind. Unknown
  * FIELD NUMBERS are skipped per proto semantics (forward
  * compatibility), never an error. */
object TfExample {

  /** One feature: exactly one of the three lists is non-empty (kind
    * tells which — "bytes", "float", "int64"). */
  final case class Feature(
      kind: String,
      bytesVals: Seq[Array[Byte]] = Nil,
      floatVals: Seq[Float] = Nil,
      int64Vals: Seq[Long] = Nil)

  private final class Reader(val bytes: Array[Byte], val id: Long) {
    var pos: Int = 0
    def varint(end: Int): Long = {
      var v = 0L
      var shift = 0
      var more = true
      while (more) {
        require(pos < end && shift < 64, s"tfexample $id: truncated varint at $pos")
        val b = bytes(pos) & 0xFF
        pos += 1
        v |= (b & 0x7FL) << shift
        shift += 7
        more = (b & 0x80) != 0
      }
      v
    }
    def f32(end: Int): Float = {
      require(pos + 4 <= end, s"tfexample $id: truncated float at $pos")
      val v = (bytes(pos) & 0xFF) | ((bytes(pos + 1) & 0xFF) << 8) |
        ((bytes(pos + 2) & 0xFF) << 16) | ((bytes(pos + 3) & 0xFF) << 24)
      pos += 4
      java.lang.Float.intBitsToFloat(v)
    }
    /** (fieldNumber, wireType) or None at end. */
    def tag(end: Int): Option[(Int, Int)] =
      if (pos >= end) None
      else {
        val k = varint(end)
        Some(((k >>> 3).toInt, (k & 0x7).toInt))
      }
    def lenDelimited(end: Int): (Int, Int) = {
      val len = varint(end).toInt
      require(len >= 0 && pos + len <= end,
        s"tfexample $id: length-delimited field of $len bytes past end at $pos")
      val r = (pos, pos + len)
      pos += len
      r
    }
    def skip(wireType: Int, end: Int): Unit = wireType match {
      case 0 => varint(end)
      case 1 => require(pos + 8 <= end, s"tfexample $id: truncated fixed64"); pos += 8
      case 2 => lenDelimited(end)
      case 5 => require(pos + 4 <= end, s"tfexample $id: truncated fixed32"); pos += 4
      case w => throw new IllegalArgumentException(
        s"tfexample $id: wire type $w out of profile at $pos")
    }
  }

  /** Decode one serialized `Example` into its feature map (insertion
    * order preserved). */
  def parse(id: Long, bytes: Array[Byte]): Seq[(String, Feature)] = {
    val r = new Reader(bytes, id)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Feature]

    def parseFeature(from: Int, until: Int): Feature = {
      r.pos = from
      var bytesVals = Seq.empty[Array[Byte]]
      var floatVals = Seq.empty[Float]
      var int64Vals = Seq.empty[Long]
      var kinds = Set.empty[String]
      var t = r.tag(until)
      while (t.isDefined) {
        t.get match {
          case (1, 2) => // BytesList
            val (f, u) = r.lenDelimited(until)
            val save = r.pos; r.pos = f
            var bt = r.tag(u)
            val acc = ArrayBuffer.empty[Array[Byte]]
            while (bt.isDefined) {
              bt.get match {
                case (1, 2) =>
                  val (bf, bu) = r.lenDelimited(u)
                  acc += java.util.Arrays.copyOfRange(bytes, bf, bu)
                case (_, w) => r.skip(w, u)
              }
              bt = r.tag(u)
            }
            // repeated occurrences of the same list field MERGE
            // (protobuf embedded-message semantics) — an encoder that
            // splits one BytesList across two field occurrences must
            // not lose the earlier values
            bytesVals = bytesVals ++ acc.toSeq; kinds += "bytes"; r.pos = save
          case (2, 2) => // FloatList
            val (f, u) = r.lenDelimited(until)
            val save = r.pos; r.pos = f
            var ft = r.tag(u)
            val acc = ArrayBuffer.empty[Float]
            while (ft.isDefined) {
              ft.get match {
                case (1, 2) => // packed
                  val (pf, pu) = r.lenDelimited(u)
                  require((pu - pf) % 4 == 0,
                    s"tfexample $id: packed float run of ${pu - pf} bytes")
                  val save2 = r.pos; r.pos = pf
                  while (r.pos < pu) acc += r.f32(pu)
                  r.pos = save2
                case (1, 5) => acc += r.f32(u) // unpacked
                case (_, w) => r.skip(w, u)
              }
              ft = r.tag(u)
            }
            floatVals = floatVals ++ acc.toSeq; kinds += "float"; r.pos = save
          case (3, 2) => // Int64List
            val (f, u) = r.lenDelimited(until)
            val save = r.pos; r.pos = f
            var it = r.tag(u)
            val acc = ArrayBuffer.empty[Long]
            while (it.isDefined) {
              it.get match {
                case (1, 2) => // packed
                  val (pf, pu) = r.lenDelimited(u)
                  val save2 = r.pos; r.pos = pf
                  while (r.pos < pu) acc += r.varint(pu)
                  r.pos = save2
                case (1, 0) => acc += r.varint(u) // unpacked
                case (_, w) => r.skip(w, u)
              }
              it = r.tag(u)
            }
            int64Vals = int64Vals ++ acc.toSeq; kinds += "int64"; r.pos = save
          case (_, w) => r.skip(w, until)
        }
        t = r.tag(until)
      }
      require(kinds.size <= 1,
        s"tfexample $id: Feature carries ${kinds.mkString("+")} — oneof violated")
      Feature(kinds.headOption.getOrElse("empty"),
        bytesVals, floatVals, int64Vals)
    }

    def parseFeaturesMap(from: Int, until: Int): Unit = {
      r.pos = from
      var t = r.tag(until)
      while (t.isDefined) {
        t.get match {
          case (1, 2) => // one map entry
            val (f, u) = r.lenDelimited(until)
            val save = r.pos; r.pos = f
            var key = ""
            var feat = Feature("empty")
            var et = r.tag(u)
            while (et.isDefined) {
              et.get match {
                case (1, 2) =>
                  val (kf, ku) = r.lenDelimited(u)
                  key = new String(bytes, kf, ku - kf,
                    java.nio.charset.StandardCharsets.UTF_8)
                case (2, 2) =>
                  val (vf, vu) = r.lenDelimited(u)
                  val save2 = r.pos
                  // repeated value-field occurrences MERGE (embedded
                  // message semantics), same as the list fields inside
                  val parsed = parseFeature(vf, vu)
                  feat =
                    if (feat.kind == "empty") parsed
                    else if (parsed.kind == "empty") feat
                    else {
                      require(feat.kind == parsed.kind,
                        s"tfexample $id: merged Feature occurrences carry " +
                          s"${feat.kind}+${parsed.kind} — oneof violated")
                      Feature(feat.kind,
                        feat.bytesVals ++ parsed.bytesVals,
                        feat.floatVals ++ parsed.floatVals,
                        feat.int64Vals ++ parsed.int64Vals)
                    }
                  r.pos = save2
                case (_, w) => r.skip(w, u)
              }
              et = r.tag(u)
            }
            out(key) = feat
            r.pos = save
          case (_, w) => r.skip(w, until)
        }
        t = r.tag(until)
      }
    }

    var t = r.tag(bytes.length)
    while (t.isDefined) {
      t.get match {
        case (1, 2) => // Features
          val (f, u) = r.lenDelimited(bytes.length)
          val save = r.pos
          parseFeaturesMap(f, u)
          r.pos = save
        case (_, w) => r.skip(w, bytes.length)
      }
      t = r.tag(bytes.length)
    }
    out.toSeq
  }

  /** Relational stage over a TFRecord shard column: frame with
    * [[TfRecord.records]], decode each record as a tf.Example, explode
    * one row per (record, feature key) with typed value columns —
    * bytes features surface as UTF-8 text (the usual label/text usage). */
  def featureTable(df: org.apache.spark.sql.DataFrame, idCol: String,
      binCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("rec_idx", IntegerType, nullable = false),
      StructField("key", StringType, nullable = false),
      StructField("kind", StringType, nullable = false),
      StructField("text_vals", ArrayType(StringType, containsNull = false),
        nullable = false),
      StructField("float_vals", ArrayType(FloatType, containsNull = false),
        nullable = false),
      StructField("int64_vals", ArrayType(LongType, containsNull = false),
        nullable = false)))
    df.select(col(idCol).cast(LongType), col(binCol))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          TfRecord.records(id, bytes).zipWithIndex.flatMap { case (rec, i) =>
            parse(id, rec.data).map { case (key, f) =>
              Row(id, i, key, f.kind,
                f.bytesVals.map(b => new String(b,
                  java.nio.charset.StandardCharsets.UTF_8)),
                f.floatVals, f.int64Vals)
            }
          }
        }
      }(Encoders.row(schema))
  }

  // ------------------------------------------------------------- write

  /** Serialize a feature map as a canonical `Example` (packed repeated
    * scalars, insertion order) — writer-beside-reader. */
  def encode(features: Seq[(String, Feature)]): Array[Byte] = {
    def varintBytes(v0: Long): Array[Byte] = {
      val out = ArrayBuffer.empty[Byte]
      var v = v0
      var more = true
      while (more) {
        val b = (v & 0x7F).toInt
        v = v >>> 7
        more = v != 0
        out += (if (more) b | 0x80 else b).toByte
      }
      out.toArray
    }
    def field(num: Int, wire: Int): Array[Byte] = varintBytes((num << 3) | wire)
    def lenField(num: Int, payload: Array[Byte]): Array[Byte] =
      field(num, 2) ++ varintBytes(payload.length.toLong) ++ payload

    val entries = features.map { case (key, f) =>
      val list = f.kind match {
        case "bytes" =>
          lenField(1, f.bytesVals.flatMap(b => lenField(1, b)).toArray)
        case "float" =>
          val packed = f.floatVals.flatMap { x =>
            val v = java.lang.Float.floatToIntBits(x)
            Seq.tabulate(4)(i => ((v >> (8 * i)) & 0xFF).toByte)
          }.toArray
          lenField(2, lenField(1, packed))
        case "int64" =>
          lenField(3, lenField(1, f.int64Vals.flatMap(varintBytes).toArray))
        case other => throw new IllegalArgumentException(s"feature kind '$other'")
      }
      lenField(1, lenField(1, key.getBytes(
        java.nio.charset.StandardCharsets.UTF_8)) ++ lenField(2, list))
    }
    lenField(1, entries.flatten.toArray)
  }

  /** EXPORT curated rows as sharded TFRecord files of `tf.Example`
    * protos — the tf.data training-shard shape, the third exporter on
    * the shared [[ShardedArchiveWrite]] protocol (WET segments for
    * text, WebDataset for multimodal, TFRecord for TF consumers): one
    * identity-partitioned shuffle, rows sorted by key within the
    * shard, byte-deterministic output, duplicate keys refused by name,
    * attempt-keyed temp+rename commit, records streamed (a shard is
    * never buffered whole).
    *
    * Each row becomes one Example whose features are the given columns
    * in the given order (`bytesCols` as UTF-8 BytesList, `int64Cols`
    * as Int64List, then `floatListCols` — each castable to
    * `array<float>`, the embedding/score shape — as FloatList),
    * encoded with [[encode]]'s canonical layout —
    * deterministic bytes, so the oracle-grade roundtrip holds. Output
    * is `shard-<k>.tfrecord` with both masked CRC32Cs per record, what
    * [[TfRecord.recordTable]] (and TF's own reader) re-ingests. */
  def writeExampleShards(
      df: org.apache.spark.sql.DataFrame,
      keyCol: String,
      bytesCols: Seq[String],
      int64Cols: Seq[String],
      dir: String,
      nShards: Int,
      floatListCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions._
    require(bytesCols.nonEmpty || int64Cols.nonEmpty || floatListCols.nonEmpty,
      "no feature columns")
    val nBytes = bytesCols.length
    val nInts = int64Cols.length
    val keyed = df.select(
        pmod(xxhash64(col(keyCol)), lit(nShards.toLong)).as("__shard"),
        col(keyCol).cast("string").as("__key"),
        struct(bytesCols.map(c => col(c).cast("string")) ++
          int64Cols.map(c => col(c).cast("long")) ++
          // embeddings and scores ride as FloatList (the tf.data shape)
          floatListCols.map(c => col(c).cast("array<float>")): _*).as("__v"))
      .rdd.map { r =>
        if (r.isNullAt(1)) throw new IllegalArgumentException(
          s"writeExampleShards: null key in column '$keyCol' — shard " +
            "routing and within-shard ordering need a non-null key")
        val v = r.getStruct(2)
        // refuse-by-name, the export path's convention: a null feature
        // cell must not surface as a bare NPE from deep inside proto
        // encoding (tf.Example has no null — the caller decides whether
        // to pre-filter or default)
        def requireSet(idx: Int, c: String): Unit =
          if (v.isNullAt(idx)) throw new IllegalArgumentException(
            s"writeExampleShards: null value in feature column '$c' for " +
              s"key '${r.getString(1)}' — tf.Example features cannot be " +
              "null; pre-filter or coalesce the column")
        val feats =
          bytesCols.zipWithIndex.map { case (c, i) =>
            requireSet(i, c)
            c -> Feature("bytes", bytesVals = Seq(v.getString(i).getBytes(
              java.nio.charset.StandardCharsets.UTF_8)))
          } ++ int64Cols.zipWithIndex.map { case (c, i) =>
            requireSet(nBytes + i, c)
            c -> Feature("int64", int64Vals = Seq(v.getLong(nBytes + i)))
          } ++ floatListCols.zipWithIndex.map { case (c, i) =>
            requireSet(nBytes + nInts + i, c)
            c -> Feature("float",
              floatVals = v.getSeq[Float](nBytes + nInts + i))
          }
        ((r.getLong(0), r.getString(1), ""), TfExample.encode(feats))
      }
    ShardedArchiveWrite.run[java.io.OutputStream](
      keyed, dir, "shard", ".tfrecord", nShards, "tfrecord",
      raw => raw,
      (sink, _, _, payload) => sink.write(TfRecord.encode(Seq(payload))),
      _ => ())
  }
}
