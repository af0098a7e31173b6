package graft.functions

/** The shared distributed-archive-EXPORT protocol behind
  * [[Tar.writeWebdatasetShards]] and [[Warc.writeWetSegments]]:
  *
  *  - ONE shuffle: `repartitionAndSortWithinPartitions` with an
  *    IDENTITY partitioner on the shard id (shard i goes to task i —
  *    no balls-in-bins collisions leaving tasks idle), rows sorted by
  *    (shard, k1, k2) so output bytes are DETERMINISTIC regardless of
  *    input partitioning;
  *  - duplicate (k1, k2) identities refuse BY NAME (adjacent after the
  *    sort, so the check is free) — determinism is unsound otherwise;
  *  - per-task STREAMING writes to an attempt-keyed hidden temp file,
  *    renamed into place on shard completion; if the final file already
  *    exists, a prior attempt committed the IDENTICAL deterministic
  *    bytes and ours is discarded — a zombie speculative attempt can
  *    never delete a committed shard. Orphaned `.tmp` files from killed
  *    attempts are hidden (binaryFile and the DSv2 listings ignore
  *    dot-files) and safe to sweep. */
private[functions] object ShardedArchiveWrite {

  /** `sink` wraps the raw Hadoop stream once per shard; `writeOne`
    * appends one row's entry; `finish` writes the trailer (may be a
    * no-op) — the raw stream is closed by the protocol. */
  def run[S](
      rdd: org.apache.spark.rdd.RDD[((Long, String, String), Array[Byte])],
      dir: String,
      prefix: String,
      suffix: String,
      nShards: Int,
      what: String,
      sink: java.io.OutputStream => S,
      writeOne: (S, String, String, Array[Byte]) => Unit,
      finish: S => Unit): Unit = {
    require(nShards >= 1, s"nShards $nShards")
    val conf = graft.sources.BroadcastConf(rdd.sparkContext.hadoopConfiguration)
    val parted = rdd.repartitionAndSortWithinPartitions(
      new org.apache.spark.Partitioner {
        override def numPartitions: Int = nShards
        override def getPartition(key: Any): Int =
          key.asInstanceOf[(Long, String, String)]._1.toInt
      })
    parted.foreachPartition {
      it: Iterator[((Long, String, String), Array[Byte])] =>
        val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf.value)
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(_.taskAttemptId()).getOrElse(0L)
        var current = -1L
        var s: S = null.asInstanceOf[S]
        var raw: java.io.OutputStream = null
        var tmpP: org.apache.hadoop.fs.Path = null
        def commit(): Unit = if (raw != null) {
          finish(s)
          raw.close()
          raw = null
          val finalP = new org.apache.hadoop.fs.Path(
            s"$dir/$prefix-$current$suffix")
          // a prior successful attempt committed IDENTICAL bytes: never
          // touch the final file, just discard ours
          if (fs.exists(finalP)) fs.delete(tmpP, false)
          else if (!fs.rename(tmpP, finalP)) {
            fs.delete(tmpP, false) // lost the rename race to a twin attempt
            require(fs.exists(finalP),
              s"$what export: rename to $finalP failed and nothing committed it")
          }
        }
        var lastK1: String = null
        var lastK2: String = null
        it.foreach { case ((shard, k1, k2), payload) =>
          if (shard != current) {
            commit()
            current = shard
            lastK1 = null; lastK2 = null
            tmpP = new org.apache.hadoop.fs.Path(
              s"$dir/.$prefix-$current$suffix.attempt$attempt.tmp")
            raw = fs.create(tmpP, true)
            s = sink(raw)
          }
          require(!(k1 == lastK1 && k2 == lastK2),
            s"$what export: duplicate identity ($k1, $k2) — " +
              "identity must be unique (dedup or re-key upstream)")
          lastK1 = k1; lastK2 = k2
          writeOne(s, k1, k2, payload)
        }
        commit()
    }
  }
}
