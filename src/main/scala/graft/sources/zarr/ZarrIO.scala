package graft.sources.zarr

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{JArr, JNum, JObj, JStr, JValue}
import graft.sources.BroadcastConf
import ZarrMeta._

/** Zarr v2 store writer: driver-side metadata/small-array writes plus a
  * DISTRIBUTED chunk writer for grid data (the `to_zarr` analog,
  * publish.py:155-268).
  *
  * Scale design: the data path is one Spark job — rows are repartitioned by
  * chunk id (each chunk lands WHOLLY in one task; a task may own many
  * chunks), sorted by (chunk, in-chunk offset), and streamed into
  * fill-initialized chunk buffers that are compressed and written as they
  * complete. No chunk is ever buffered twice and the driver never sees a
  * row. Coordinate arrays and JSON metadata are driver-side (a few KB).
  */
object ZarrIO {

  // ------------------------------------------------------- driver-side bits

  def writeUtf8(conf: Configuration, path: String, content: String): Unit = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def writeChunkBytes(conf: Configuration, path: String, meta: ZArrayMeta,
      raw: Array[Byte]): Unit = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(meta.encodeChunk(raw))
    finally out.close()
  }

  /** Write a small array (coordinates, fixtures) entirely from the driver:
    * `.zarray`, `.zattrs`, and its chunk objects. Values are doubles
    * narrowed per dtype. */
  def writeArray(conf: Configuration, root: String, name: String,
      meta: ZArrayMeta, data: Array[Double]): Unit = {
    require(data.length == meta.shape.map(_.toLong).product,
      s"$name: ${data.length} cells, shape ${meta.shape} implies ${meta.shape.product}")
    // v3 arrays (keyPrefix "c") keep ALL their metadata in one zarr.json;
    // v2 splits it across .zarray + .zattrs
    if (meta.keyPrefix.nonEmpty)
      writeUtf8(conf, s"$root/$name/zarr.json", meta.renderV3)
    else {
      writeUtf8(conf, s"$root/$name/.zarray", meta.render)
      if (meta.attrs.fields.nonEmpty)
        writeUtf8(conf, s"$root/$name/.zattrs", meta.attrs.render)
    }
    // iterate the chunk grid; gather each chunk's cells from the C-order data
    val grid = meta.gridShape
    val coordsList = grid.foldLeft(Seq(Seq.empty[Int])) { case (acc, g) =>
      acc.flatMap(prefix => (0 until g).map(prefix :+ _))
    }
    val k = meta.ndim
    val dataStrides = {
      val s = new Array[Long](k)
      var acc = 1L
      var j = k - 1
      while (j >= 0) { s(j) = acc; acc *= meta.shape(j); j -= 1 }
      s
    }
    val chunkStrides = {
      val s = new Array[Long](k)
      var acc = 1L
      var j = k - 1
      while (j >= 0) { s(j) = acc; acc *= meta.chunks(j); j -= 1 }
      s
    }
    coordsList.foreach { c =>
      val buf = new Array[Byte](meta.bytesPerChunk.toInt)
      meta.fill.foreach { f =>
        var i = 0
        val cells = meta.cellsPerChunk.toInt
        while (i < cells) { meta.dtype.encodeDouble(buf, i, f); i += 1 }
      }
      // odometer over in-chunk coords that are inside the shape
      val lo = c.zip(meta.chunks).map { case (ci, ch) => ci * ch }
      val hi = lo.zip(meta.chunks).zip(meta.shape).map { case ((l, ch), s) =>
        math.min(l + ch - 1, s - 1)
      }
      val idx = lo.toArray
      var done = false
      while (!done) {
        var dataLin = 0L; var chunkLin = 0L
        var j = 0
        while (j < k) {
          dataLin += idx(j) * dataStrides(j)
          chunkLin += (idx(j) - lo(j)) * chunkStrides(j)
          j += 1
        }
        meta.dtype.encodeDouble(buf, chunkLin.toInt, data(dataLin.toInt))
        // advance odometer
        var j2 = k - 1
        var moved = false
        while (j2 >= 0 && !moved) {
          if (idx(j2) < hi(j2)) { idx(j2) += 1; moved = true }
          else { idx(j2) = lo(j2); j2 -= 1 }
        }
        if (!moved) done = true
      }
      writeChunkBytes(conf, s"$root/$name/${meta.chunkKey(c)}", meta, buf)
    }
  }

  /** Write the group documents + consolidated metadata for the given arrays
    * (the reference consolidates on every publish so readers do ONE
    * metadata fetch). */
  def writeGroupMetadata(conf: Configuration, root: String, rootAttrs: JObj,
      arrays: Seq[(String, ZArrayMeta)]): Unit = {
    writeUtf8(conf, s"$root/.zgroup", JObj(Seq("zarr_format" -> JNum(2))).render)
    writeUtf8(conf, s"$root/.zattrs", rootAttrs.render)
    val entries = Seq[(String, JValue)](
      ".zgroup" -> JObj(Seq("zarr_format" -> JNum(2))),
      ".zattrs" -> rootAttrs) ++
      arrays.flatMap { case (name, meta) =>
        Seq[(String, JValue)](s"$name/.zarray" -> JValue.parse(meta.render)) ++
          (if (meta.attrs.fields.nonEmpty) Seq(s"$name/.zattrs" -> meta.attrs)
           else Seq.empty)
      }
    writeUtf8(conf, s"$root/.zmetadata", JObj(Seq(
      "metadata" -> JObj(entries),
      "zarr_consolidated_format" -> JNum(1))).render)
  }

  /** v3 analog of [[writeGroupMetadata]]: ONE root `zarr.json` group
    * document carrying the attributes and the consolidated per-array
    * documents (zarr-python writes `consolidated_metadata` the same way;
    * the reference consolidates v2 stores for the identical one-fetch
    * reason, store.py:229-262). */
  def writeGroupMetadataV3(conf: Configuration, root: String, rootAttrs: JObj,
      arrays: Seq[(String, ZArrayMeta)]): Unit = {
    val entries = arrays.map { case (name, meta) =>
      name -> JValue.parse(meta.renderV3)
    }
    writeUtf8(conf, s"$root/zarr.json", JObj(Seq(
      "zarr_format" -> JNum(3),
      "node_type" -> JStr("group"),
      "attributes" -> rootAttrs,
      "consolidated_metadata" -> JObj(Seq(
        "kind" -> JStr("inline"),
        "must_understand" -> graft.meta.JBool(false),
        "metadata" -> JObj(entries))))).render)
  }

  // -------------------------------------------------- distributed data path

  /** Distributed write/overwrite of data-variable chunks from long-form
    * rows.
    *
    * `df` must carry one column per dimension named by `axes` plus one
    * column per (data var, source column) in `vars`. Each row addresses one
    * grid cell; rows are mapped to (chunk id, in-chunk offset) via
    * BROADCAST axis-value→index lookups (axes are tiny), then shuffled so
    * every chunk is owned by exactly one task.
    *
    * `mergeExisting = true` turns the job into read-modify-write: a task
    * seeds each buffer from the existing chunk object before overlaying its
    * rows — the region-insert path (publish.py:406-450). With false, buffers
    * seed from fill — the initial-write path. Only chunks that RECEIVE rows
    * are touched either way; untouched chunks are never read or written.
    */
  def writeDataChunks(
      spark: SparkSession,
      root: String,
      axes: Seq[(String, Array[Double])], // dim name -> axis key per index
      vars: Seq[(String, String, ZArrayMeta)], // (array name, df column, meta)
      df: DataFrame,
      mergeExisting: Boolean): Unit =
    chunkWrites(spark, root, axes, vars, df, mergeExisting)
      .count() // materialize the write job

  /** The chunk-write job of [[writeDataChunks]], unrun: one element per
    * task, the number of chunks (or shards) it wrote. */
  private[sources] def chunkWrites(
      spark: SparkSession,
      root: String,
      axes: Seq[(String, Array[Double])],
      vars: Seq[(String, String, ZArrayMeta)],
      df: DataFrame,
      mergeExisting: Boolean): org.apache.spark.rdd.RDD[Long] = {
    require(vars.nonEmpty, "no data variables to write")
    val meta0 = vars.head._3
    val k = meta0.ndim
    require(axes.length == k, s"${axes.length} axes for rank-$k arrays")
    vars.foreach { case (n, _, m) =>
      require(m.chunks == meta0.chunks && m.shape == meta0.shape &&
        m.sharding == meta0.sharding,
        s"$n chunk grid differs — one grid per store")
    }
    val conf = BroadcastConf(spark.sparkContext.hadoopConfiguration)

    // axis value -> index maps, broadcast (axes are small by construction)
    val axisMaps = axes.map { case (_, vals) =>
      vals.zipWithIndex.map { case (v, i) => v -> i }.toMap
    }
    val bAxis = spark.sparkContext.broadcast(axisMaps)
    // sharded v3 arrays: the WRITE unit (task ownership, buffer, flush) is
    // the SHARD object — inner chunks are encoded at flush time
    val chunks = meta0.sharding.map(_.shardShape).getOrElse(meta0.chunks).toArray
    val gridShape = meta0.shape.zip(chunks)
      .map { case (s, c) => (s + c - 1) / c }.toArray
    val chunkStrides = {
      val s = new Array[Long](k); var acc = 1L; var j = k - 1
      while (j >= 0) { s(j) = acc; acc *= chunks(j); j -= 1 }; s
    }
    val gridStrides = {
      val s = new Array[Long](k); var acc = 1L; var j = k - 1
      while (j >= 0) { s(j) = acc; acc *= gridShape(j); j -= 1 }; s
    }

    val dimCols = axes.map(_._1)
    val varCols = vars.map(_._2)
    val projected = df.select((dimCols ++ varCols).map(col): _*)
    import org.apache.spark.sql.Row
    // (chunkId, offset, values...) — computed in one narrow pass
    val keyed = projected.rdd.map { row =>
      val maps = bAxis.value
      var chunkId = 0L
      var off = 0L
      var j = 0
      while (j < k) {
        val key = row.get(j) match {
          case t: java.time.LocalDateTime =>
            t.toEpochSecond(java.time.ZoneOffset.UTC) * 1e6 + t.getNano / 1000
          case t: java.sql.Timestamp =>
            t.toLocalDateTime.toEpochSecond(java.time.ZoneOffset.UTC) * 1e6 +
              t.toLocalDateTime.getNano / 1000
          case n: Number => n.doubleValue()
          case other => throw new IllegalArgumentException(
            s"Axis ${dimCols(j)} value $other is not comparable")
        }
        val idx = maps(j).getOrElse(key,
          throw new NoSuchElementException(
            s"Axis ${dimCols(j)} has no index for value $key — " +
              "update rows must land on existing axis points"))
        chunkId += (idx / chunks(j)) * gridStrides(j)
        off += (idx % chunks(j)) * chunkStrides(j)
        j += 1
      }
      val values = new Array[Double](varCols.length)
      var v = 0
      while (v < varCols.length) {
        values(v) = row.get(k + v) match {
          case null => Double.NaN // callers encode explicit-null as fill
          case n: Number => n.doubleValue()
          case other => throw new IllegalArgumentException(s"Bad cell value $other")
        }
        v += 1
      }
      (chunkId, off, values)
    }

    val varMetas = vars.map { case (name, _, m) => (name, m) }
    val nParts = math.max(1, math.min(
      spark.sessionState.conf.numShufflePartitions,
      // at most one task per chunk — tiny updates shouldn't fan to 32 tasks
      gridShape.map(_.toLong).product.min(Int.MaxValue.toLong).toInt))
    // partition by CHUNK (a chunk is wholly owned by one task), sort within
    // tasks by (chunk, offset) so buffers fill sequentially and flush once
    keyed
      .map { case (chunkId, off, values) => ((chunkId, off), values) }
      .repartitionAndSortWithinPartitions(new ChunkPartitioner(nParts))
      .mapPartitions { it =>
        writeTaskChunks(it, conf, root, varMetas, chunks, gridShape,
          chunkStrides, gridStrides, mergeExisting)
      }
  }

  /** Routes a (chunkId, offset) key by chunk id only — offsets ride along
    * purely as the secondary sort key. */
  private final class ChunkPartitioner(n: Int) extends org.apache.spark.Partitioner {
    override def numPartitions: Int = n
    override def getPartition(key: Any): Int = {
      val chunkId = key.asInstanceOf[(Long, Long)]._1
      ((chunkId.hashCode & Int.MaxValue) % n).toInt
    }
  }

  /** Task body: stream (chunkId, offset)-sorted rows into per-chunk
    * buffers, flush each chunk when its id changes. */
  private def writeTaskChunks(
      it: Iterator[((Long, Long), Array[Double])],
      conf: BroadcastConf,
      root: String,
      varMetas: Seq[(String, ZArrayMeta)],
      chunks: Array[Int],
      gridShape: Array[Int],
      chunkStrides: Array[Long],
      gridStrides: Array[Long],
      mergeExisting: Boolean): Iterator[Long] = {
    val k = chunks.length
    var currentChunk = -1L
    var bufs: Array[Array[Byte]] = null
    var written = 0L

    def chunkCoords(chunkId: Long): Array[Int] = {
      val c = new Array[Int](k)
      var rem = chunkId
      var j = 0
      while (j < k) { c(j) = (rem / gridStrides(j)).toInt; rem %= gridStrides(j); j += 1 }
      c
    }

    // cells per WRITE unit (= the shard when sharded, the chunk otherwise)
    val unitCells = chunks.map(_.toLong).product.toInt

    def open(chunkId: Long): Unit = {
      val c = chunkCoords(chunkId)
      bufs = varMetas.map { case (name, m) =>
        val existing =
          if (!mergeExisting) None
          else if (m.sharding.isDefined)
            readShardBuffer(conf.value, root, name, m, c, unitCells)
          else
            ZarrMeta.readChunk(conf.value, m,
              Some(FileChunk(s"$root/$name/${m.chunkKey(c.toIndexedSeq)}")))
        existing.getOrElse {
          val buf = new Array[Byte](unitCells * m.dtype.size)
          m.fill.foreach { f =>
            var i = 0
            while (i < unitCells) { m.dtype.encodeDouble(buf, i, f); i += 1 }
          }
          buf
        }
      }.toArray
    }

    def flush(chunkId: Long): Unit = {
      val c = chunkCoords(chunkId)
      varMetas.zipWithIndex.foreach { case ((name, m), v) =>
        val path = s"$root/$name/${m.chunkKey(c.toIndexedSeq)}"
        if (m.sharding.isDefined)
          writeRawBytes(conf.value, path, encodeShard(m, c, bufs(v)))
        else
          ZarrIO.writeChunkBytes(conf.value, path, m, bufs(v))
      }
      written += 1
    }

    it.foreach { case ((chunkId, off), values) =>
      if (chunkId != currentChunk) {
        if (currentChunk >= 0) flush(currentChunk)
        open(chunkId)
        currentChunk = chunkId
      }
      var v = 0
      while (v < values.length) {
        val m = varMetas(v)._2
        val value =
          if (values(v).isNaN) m.fill.getOrElse(Double.NaN) else values(v)
        m.dtype.encodeDouble(bufs(v), off.toInt, value)
        v += 1
      }
    }
    if (currentChunk >= 0) flush(currentChunk)
    Iterator.single(written)
  }

  // ------------------------------------------------------- shard write path

  private def writeRawBytes(conf: Configuration, path: String,
      bytes: Array[Byte]): Unit = {
    val p = new HPath(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(bytes)
    finally out.close()
  }

  /** Copy one inner chunk between its own buffer and the enclosing shard
    * buffer, `toShard` picking the direction. Runs are contiguous along the
    * last dimension in BOTH layouts (C-order), so the copy moves whole
    * rows. `ic` is the inner chunk's coords within the shard. */
  private def copyInnerRows(m: ZArrayMeta, ic: Array[Int],
      shardBuf: Array[Byte], innerBuf: Array[Byte], toShard: Boolean): Unit = {
    val k = m.ndim
    val inner = m.chunks.toArray
    val sh = m.sharding.get.shardShape.toArray
    val esize = m.dtype.size
    val shardCellStrides = {
      val s = new Array[Long](k); var acc = 1L; var j = k - 1
      while (j >= 0) { s(j) = acc; acc *= sh(j); j -= 1 }; s
    }
    val rowLen = inner(k - 1) * esize
    val rows = inner.take(k - 1).product
    val p = new Array[Int](math.max(k - 1, 0))
    var r = 0
    var innerOff = 0
    while (r < rows) {
      var shardCell = (ic(k - 1).toLong * inner(k - 1)) * shardCellStrides(k - 1)
      var j = 0
      while (j < k - 1) {
        shardCell += (ic(j).toLong * inner(j) + p(j)) * shardCellStrides(j)
        j += 1
      }
      val shardOff = (shardCell * esize).toInt
      if (toShard) System.arraycopy(innerBuf, innerOff, shardBuf, shardOff, rowLen)
      else System.arraycopy(shardBuf, shardOff, innerBuf, innerOff, rowLen)
      innerOff += rowLen
      // advance the row odometer (dims 0..k-2, last fastest)
      var j2 = k - 2
      var moved = false
      while (j2 >= 0 && !moved) {
        if (p(j2) < inner(j2) - 1) { p(j2) += 1; moved = true }
        else { p(j2) = 0; j2 -= 1 }
      }
      r += 1
    }
  }

  /** Seed a full shard buffer from an existing shard object: index read +
    * per-present-inner-chunk decode (missing inner chunks seed from fill).
    * None = the object does not exist at all. */
  private def readShardBuffer(conf: Configuration, root: String, name: String,
      m: ZArrayMeta, shardCoords: Array[Int], unitCells: Int): Option[Array[Byte]] = {
    val sh = m.sharding.get
    val path = s"$root/$name/${m.chunkKey(shardCoords.toIndexedSeq)}"
    ZarrMeta.readShardIndex(conf, FileChunk(path), sh, m.chunks).map { idx =>
      val buf = new Array[Byte](unitCells * m.dtype.size)
      m.fill.foreach { f =>
        var i = 0
        while (i < unitCells) { m.dtype.encodeDouble(buf, i, f); i += 1 }
      }
      val ratio = sh.ratio(m.chunks).toArray
      val k = m.ndim
      val ic = new Array[Int](k)
      var lin = 0
      val nInner = ratio.product
      while (lin < nInner) {
        val off = idx(2 * lin); val len = idx(2 * lin + 1)
        if (!(off == -1L && len == -1L)) {
          val innerBytes = ZarrMeta.readChunk(conf, m,
            Some(RangeChunk(path, off, len))).getOrElse(
            throw new IllegalStateException(s"$path: shard index points past object"))
          copyInnerRows(m, ic, buf, innerBytes, toShard = true)
        }
        var j = k - 1
        var moved = false
        while (j >= 0 && !moved) {
          if (ic(j) < ratio(j) - 1) { ic(j) += 1; moved = true }
          else { ic(j) = 0; j -= 1 }
        }
        lin += 1
      }
      buf
    }
  }

  /** Encode a full shard buffer as a `sharding_indexed` object: each inner
    * chunk codec-encoded in row-major order, plus the u64-LE
    * (offset, nbytes) index (CRC32C-guarded when declared), at the
    * declared end/start location. Inner chunks wholly OUTSIDE the array
    * shape are marked missing; partial edge chunks ship fill-padded. */
  private def encodeShard(m: ZArrayMeta, shardCoords: Array[Int],
      shardBuf: Array[Byte]): Array[Byte] = {
    val sh = m.sharding.get
    val inner = m.chunks.toArray
    val ratio = sh.ratio(m.chunks).toArray
    val k = m.ndim
    val nInner = ratio.product
    val esize = m.dtype.size
    val innerCells = inner.map(_.toLong).product.toInt
    val indexLen = sh.indexBytes(m.chunks)
    val data = new java.io.ByteArrayOutputStream()
    val pairs = new Array[Long](2 * nInner)
    java.util.Arrays.fill(pairs, -1L)
    var pos = if (sh.indexAtEnd) 0L else indexLen.toLong
    val ic = new Array[Int](k)
    var lin = 0
    while (lin < nInner) {
      var inside = true
      var j = 0
      while (j < k) {
        if ((shardCoords(j).toLong * ratio(j) + ic(j)) * inner(j) >= m.shape(j))
          inside = false
        j += 1
      }
      if (inside) {
        val innerBuf = new Array[Byte](innerCells * esize)
        copyInnerRows(m, ic, shardBuf, innerBuf, toShard = false)
        val enc = m.encodeChunk(innerBuf)
        pairs(2 * lin) = pos
        pairs(2 * lin + 1) = enc.length.toLong
        data.write(enc)
        pos += enc.length
      }
      var j2 = k - 1
      var moved = false
      while (j2 >= 0 && !moved) {
        if (ic(j2) < ratio(j2) - 1) { ic(j2) += 1; moved = true }
        else { ic(j2) = 0; j2 -= 1 }
      }
      lin += 1
    }
    val idx = java.nio.ByteBuffer.allocate(indexLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    pairs.foreach(idx.putLong)
    if (sh.indexCrc) {
      val crc = new java.util.zip.CRC32C
      crc.update(idx.array(), 0, indexLen - 4)
      idx.putInt(crc.getValue.toInt)
    }
    val body = data.toByteArray
    if (sh.indexAtEnd) body ++ idx.array() else idx.array() ++ body
  }
}
