package graft.sources.grib

import java.nio.file.Files
import java.time.LocalDateTime

import graft.SparkSpec

/** MICRO_BATCH_READ over a GRIB landing directory — the operational
  * live-feed shape (a new GRIB file per product cycle). Same watermark
  * contract as the NetCDF stream: natural filename order, append-only
  * dir, admission control. */
class GribStreamingSpec extends SparkSpec {

  private def writeDay(path: String, day: Int, edition: Int = 2): Unit =
    GribFormat.writeFile(spark, path, Seq(
      (61, LocalDateTime.of(2024, 10, day, 0, 0), Seq(0.0, 1.0),
        Seq(0.0, 1.0, 2.0), Array.tabulate(6)(i => day * 100.0 + i))),
      edition = edition)

  test("readStream ingests newly-landed GRIB files incrementally (natural-order watermark)") {
    val dir = Files.createTempDirectory("gribstream").toString
    // part9 → part10: natural order must win over lexicographic
    writeDay(s"$dir/part9.grb2", 9)
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("grib1").load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.count() }; ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("gribstream_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(batches.synchronized(batches.sum) == 6)
      writeDay(s"$dir/part10.grb2", 10)
      q.processAllAvailable()
      assert(batches.synchronized(batches.sum) == 12)
      // no new files → no new rows
      q.processAllAvailable()
      assert(batches.synchronized(batches.sum) == 12)
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds each micro-batch; mixed editions stream together") {
    val dir = Files.createTempDirectory("gribstream_rate").toString
    writeDay(s"$dir/f1.grb", 1, edition = 1)
    writeDay(s"$dir/f2.grb2", 2)
    writeDay(s"$dir/f3.grb2", 3)
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("grib1")
      .option("maxFilesPerTrigger", "1").load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        if (n > 0) batchSizes.synchronized { batchSizes += n }; ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("gribstream_rate_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // 3 files × 6 cells, one file per batch
      assert(batchSizes.synchronized(batchSizes.toSeq) == Seq(6L, 6L, 6L))
    } finally q.stop()
  }

  test("micro-batches of one stream reuse one configuration broadcast") {
    import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val dir = Files.createTempDirectory("gribstream_bconf").toString
    writeDay(s"$dir/part1.grb2", 1)
    val q = spark.readStream.format("grib1").load(dir)
      .writeStream.format("noop")
      .option("checkpointLocation",
        Files.createTempDirectory("gribstream_bconf_ckpt").toString)
      .start()
    // each trigger plans a fresh scan node, which asks the stream for its
    // reader factory again
    def lastBatchBroadcast(): Long = {
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .lastExecution.executedPlan
      plan.collectFirst { case s: MicroBatchScanExec => s.readerFactory }
        .get.asInstanceOf[GribReaderFactory].conf.broadcastId
    }
    try {
      q.processAllAvailable()
      val first = lastBatchBroadcast()
      writeDay(s"$dir/part2.grb2", 2)
      q.processAllAvailable()
      assert(q.lastProgress.batchId == 1, "two micro-batches")
      assert(lastBatchBroadcast() == first)
    } finally q.stop()
  }
}
