package graft.sources.tiff

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** MICRO_BATCH_READ over a COG landing directory — the operational
  * live-feed shape (a new raster lands per date). Same watermark
  * contract as the GRIB and NC streams: natural filename order,
  * append-only dir, admission control, empty-dir start. */
class TiffStreamingSpec extends SparkSpec {

  private val W = 4; private val H = 2

  private def writeDay(path: String, day: Int): Unit =
    Files.write(Paths.get(path),
      TiffFormat.write(W, H, Array(Array.tabulate(W * H)(i => day * 100.0 + i)),
        3, 64, 0, 2, 1.0, 1.0, TiffFormat.WriteOpts(compression = 8)))

  test("readStream ingests newly-landed COGs incrementally (natural-order watermark)") {
    val dir = Files.createTempDirectory("tifstream").toString
    // part9 -> part10: natural order must win over lexicographic
    writeDay(s"$dir/part9.tif", 9)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("geotiff").load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.count() }; ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("tifstream_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(batches.synchronized(batches.sum) == W * H)
      writeDay(s"$dir/part10.tif", 10)
      q.processAllAvailable()
      assert(batches.synchronized(batches.sum) == 2L * W * H)
      // no new files -> no new rows
      q.processAllAvailable()
      assert(batches.synchronized(batches.sum) == 2L * W * H)
    } finally q.stop()
  }

  test("streaming honors option(overview, k) like the batch scan") {
    val dir = Files.createTempDirectory("tifstream_ov").toString
    Files.write(Paths.get(s"$dir/a.tif"),
      TiffFormat.write(8, 8, Array(Array.tabulate(64)(_.toDouble)),
        3, 64, 0, 8, 1.0, 1.0,
        TiffFormat.WriteOpts(tileSize = 16, compression = 8, overview = true)))
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("geotiff").option("overview", 1).load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.count() }; ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("tifstream_ov_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // overview rows (16), NOT full-res rows (64)
      assert(batches.synchronized(batches.sum) == 16)
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds each micro-batch; empty dir starts cleanly") {
    val dir = Files.createTempDirectory("tifstream_rate").toString
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("geotiff")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        if (n > 0) batchSizes.synchronized { batchSizes += n }; ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("tifstream_rate_ckpt").toString)
      .start()
    try {
      q.processAllAvailable() // empty landing dir: zero batches, no crash
      assert(batchSizes.synchronized(batchSizes.isEmpty))
      for (d <- 1 to 3) writeDay(s"$dir/f$d.tif", d)
      q.processAllAvailable()
      // 3 files x 8 cells, one file per batch
      assert(batchSizes.synchronized(batchSizes.toSeq) ==
        Seq(W * H.toLong, W * H.toLong, W * H.toLong))
    } finally q.stop()
  }

  test("a trigger of k files plans the splits of a batch read of those k files") {
    import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, MicroBatchScanExec}
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val dir = Files.createTempDirectory("tifstream_splits").toString
    (1 to 4).foreach { f =>
      Files.write(Paths.get(s"$dir/f$f.tif"),
        TiffFormat.write(64, 64, Array(Array.tabulate(64 * 64)(i => f * 1e4 + i)),
          3, 64, 0, 64, 1.0, 1.0, TiffFormat.WriteOpts(tileSize = 16)))
    }
    def splits(parts: Seq[org.apache.spark.sql.connector.read.InputPartition]) =
      parts.map { case p: TiffInputPartition => (p.path, p.tiles.length) }
    // a near-zero open cost makes the budget track the planned bytes: one
    // file budgeted alone splits in four, four files budgeted together
    // leave each file one split
    spark.conf.set("spark.sql.files.openCostInBytes", "1")
    spark.conf.set("spark.sql.files.minPartitionNum", "4")
    try {
      val batch = splits(spark.read.format("geotiff").load(dir)
        .queryExecution.executedPlan
        .collectFirst { case b: BatchScanExec => b.inputPartitions }.get)
      assert(batch.map(_._2).sum == 4 * 16)
      val q = spark.readStream.format("geotiff").load(dir)
        .writeStream.format("noop")
        .option("checkpointLocation",
          Files.createTempDirectory("tifstream_splits_ckpt").toString)
        .start()
      try {
        q.processAllAvailable()
        val streamed = splits(q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan
          .collectFirst { case s: MicroBatchScanExec => s.inputPartitions }.get)
        assert(streamed == batch)
      } finally q.stop()
    } finally {
      spark.conf.unset("spark.sql.files.openCostInBytes")
      spark.conf.unset("spark.sql.files.minPartitionNum")
    }
  }
}
