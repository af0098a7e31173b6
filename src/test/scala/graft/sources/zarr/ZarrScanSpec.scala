package graft.sources.zarr

import java.time.LocalDateTime

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.meta.{JArr, JObj, JStr}
import graft.sources.zarr.ZarrMeta.ZArrayMeta

/** End-to-end `format("zarr")` scan: the reference repo's own
  * c-blosc-written fixture store (independent ground truth for the decode
  * chain), chunk pruning, and a write→scan round-trip through ZarrIO.
  */
class ZarrScanSpec extends SparkSpec {

  private val fixture = "/root/reference/tests/unit/inputs/timeseries_data.zarr"
  private def haveFixture: Boolean = new java.io.File(fixture).isDirectory

  /** The fixture's temperature values parsed STRAIGHT from the chunk bytes
    * (all four chunks are blosc memcpy mode: plain LE doubles at offset 16)
    * — ground truth independent of the decoder under test. */
  private def rawTemperatures: Array[Double] = {
    val out = Array.ofDim[Double](37)
    (0 to 3).foreach { c =>
      val bytes = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$fixture/temperature/$c"))
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val valid = math.min(10, 37 - c * 10)
      (0 until valid).foreach(i => out(c * 10 + i) = bb.getDouble(16 + i * 8))
    }
    out
  }

  test("zarr scan reads the reference fixture store exactly") {
    assume(haveFixture)
    val df = spark.read.format("zarr").load(fixture)
    assert(df.schema.fieldNames.toSeq == Seq("time", "temperature"))
    assert(df.schema("time").dataType == org.apache.spark.sql.types.TimestampNTZType)
    assert(df.schema("temperature").dataType == org.apache.spark.sql.types.DoubleType)
    val rows = df.orderBy("time").collect()
    assert(rows.length == 37)
    // time axis: "days since 2024-01-01", values 0..36
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[LocalDateTime]("time") ==
        LocalDateTime.parse("2024-01-01T00:00").plusDays(i), s"row $i")
    }
    val expect = rawTemperatures
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Double]("temperature") == expect(i), s"row $i")
    }
  }

  test("time predicate prunes chunks at planning time") {
    assume(haveFixture)
    val df = spark.read.format("zarr").load(fixture)
      .filter(col("time") >= lit(LocalDateTime.parse("2024-01-31T00:00")))
    val rows = df.orderBy("time").collect()
    assert(rows.length == 7) // Jan 31 .. Feb 6 = indices 30..36
    val expect = rawTemperatures
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getAs[Double]("temperature") == expect(30 + i))
    }
    // indices 30..36 all live in temperature chunk 3 (chunks of 10), so
    // exactly one chunk is fetched
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("chunksRead: 1"), plan)
    assert(plan.contains("time[30..36]"), plan)
  }

  test("store is skipped entirely when the pruned range is empty") {
    assume(haveFixture)
    val df = spark.read.format("zarr").load(fixture)
      .filter(col("time") >= lit(LocalDateTime.parse("2030-01-01T00:00")))
    assert(df.count() == 0)
    assert(df.queryExecution.executedPlan.toString().contains("chunksRead: 0"))
  }

  test("unprojected variables cost zero chunk reads (column pruning)") {
    assume(haveFixture)
    val df = spark.read.format("zarr").load(fixture).select("time")
    assert(df.count() == 37)
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ReadSchema: struct<time:timestamp_ntz>"), plan)
  }

  test("a written store (zlib) round-trips through the scan, fills surface as null") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_rt").toString
    val conf = spark.sparkContext.hadoopConfiguration
    val codec = ZarrCodec.ZlibCodec(1)
    // 2-D grid: time (5) × x (4), chunks 2×3 → 6 chunks incl. partials
    val tMeta = ZArrayMeta(Seq(5), Seq(5), ZarrMeta.parseDtype("<i8"), codec,
      None, ".", JObj(Seq("_ARRAY_DIMENSIONS" -> JArr(Seq(JStr("time"))),
        "units" -> JStr("hours since 2024-06-01T00:00:00"))))
    val xMeta = ZArrayMeta(Seq(4), Seq(4), ZarrMeta.parseDtype("<f8"), codec,
      None, ".", JObj(Seq("_ARRAY_DIMENSIONS" -> JArr(Seq(JStr("x"))))))
    val vMeta = ZArrayMeta(Seq(5, 4), Seq(2, 3), ZarrMeta.parseDtype("<f8"),
      codec, Some(Double.NaN), ".",
      JObj(Seq("_ARRAY_DIMENSIONS" -> JArr(Seq(JStr("time"), JStr("x"))))))
    ZarrIO.writeArray(conf, dir, "time", tMeta, Array.tabulate(5)(_.toDouble))
    ZarrIO.writeArray(conf, dir, "x", xMeta, Array(0.5, 1.5, 2.5, 3.5))
    // values: NaN marks (t=1, x=2) as a fill hole
    val vals = Array.tabulate(20) { i =>
      if (i == 1 * 4 + 2) Double.NaN else i * 10.0
    }
    ZarrIO.writeArray(conf, dir, "v", vMeta, vals)
    ZarrIO.writeGroupMetadata(conf, dir, JObj(Seq.empty),
      Seq("time" -> tMeta, "x" -> xMeta, "v" -> vMeta))

    val rows = spark.read.format("zarr").load(dir)
      .orderBy("time", "x").collect()
    assert(rows.length == 20)
    rows.zipWithIndex.foreach { case (r, i) =>
      val (t, x) = (i / 4, i % 4)
      assert(r.getAs[LocalDateTime]("time") ==
        LocalDateTime.parse("2024-06-01T00:00").plusHours(t))
      assert(r.getAs[Double]("x") == x + 0.5)
      if (i == 6) assert(r.isNullAt(r.fieldIndex("v")), "fill cell must be null")
      else assert(r.getAs[Double]("v") == i * 10.0, s"cell $i")
    }
    // description() and planInputPartitions() share one planning pass:
    // chunk refs resolve once per scan, not once per call
    val scan = spark.read.format("zarr").load(dir).queryExecution.executedPlan
      .collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b.scan
      }.get
    val parts = scan.toBatch.planInputPartitions()
    assert(scan.description().contains("chunksRead: 6"))
    assert(scan.toBatch.planInputPartitions() eq parts)
  }
}
