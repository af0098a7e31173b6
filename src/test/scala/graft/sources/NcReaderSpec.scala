package graft.sources

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.nc.NcFormat
import graft.sources.nc.NcFormat._

class NcReaderSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  /** A small record-dim grid: time(rec) × lat(3, DESCENDING) × lon(4),
    * vars t2m:double = t*1000 + y*100 + x and rh:float = t + y + x. */
  private def writeGrid(path: String, nt: Int, timeOffset: Int = 0): Unit = {
    val lat = Array(42.5, 42.0, 41.5) // descending, like real reanalyses
    val lon = Array.tabulate(4)(j => 10.0 + 0.5 * j)
    val t2m = for (t <- 0 until nt; y <- 0 until 3; x <- 0 until 4)
      yield ((t + timeOffset) * 1000 + y * 100 + x).toDouble
    val rh = for (t <- 0 until nt; y <- 0 until 3; x <- 0 until 4)
      yield ((t + timeOffset) + y + x).toDouble
    NcFormat.writeFile(spark, path,
      dims = Seq("time" -> nt, "lat" -> 3, "lon" -> 4),
      vars = Seq(
        WriteVar("time", Seq("time"), NcInt,
          Array.tabulate(nt)(t => (t + timeOffset).toDouble),
          attrs = Seq("units" -> "hours since 2024-03-01 00:00:00")),
        WriteVar("lat", Seq("lat"), NcDouble, lat,
          attrs = Seq("units" -> "degrees_north")),
        WriteVar("lon", Seq("lon"), NcDouble, lon),
        WriteVar("t2m", Seq("time", "lat", "lon"), NcDouble, t2m.toArray,
          attrs = Seq("units" -> "K")),
        WriteVar("rh", Seq("time", "lat", "lon"), NcFloat, rh.toArray)),
      recordDim = Some("time"),
      gattrs = Seq("title" -> "graft test grid"))
  }

  test("writer → parser header roundtrip (dims, attrs, types, record dim)") {
    val bos = new ByteArrayOutputStream()
    NcFormat.write(new DataOutputStream(bos),
      dims = Seq("time" -> 5, "lat" -> 3),
      vars = Seq(
        WriteVar("time", Seq("time"), NcInt, Array.tabulate(5)(_.toDouble),
          attrs = Seq("units" -> "days since 2020-01-01")),
        WriteVar("lat", Seq("lat"), NcFloat, Array(1.0, 2.0, 3.0)),
        WriteVar("v", Seq("time", "lat"), NcDouble,
          Array.tabulate(15)(_.toDouble))),
      recordDim = Some("time"),
      gattrs = Seq("title" -> "x"))
    val h = parseHeader(new ByteArrayInputStream(bos.toByteArray))
    assert(h.version == 1 && h.numRecs == 5)
    assert(h.dims.map(d => (d.name, d.length, d.isRecord)) ==
      Seq(("time", 5, true), ("lat", 3, false)))
    assert(h.gattrs("title").asText == "x")
    val time = h.vars.find(_.name == "time").get
    assert(time.ncType == NcInt && time.attr("units").contains("days since 2020-01-01"))
    assert(h.vars.find(_.name == "v").get.dimIds == Seq(0, 1))
    assert(h.isRecordVar(time) && h.isRecordVar(h.vars.find(_.name == "v").get))
  }

  test("CF time units parse: unit multipliers and epoch forms") {
    assert(parseTimeUnits("hours since 2024-03-01 00:00:00").contains(
      (3600000000L, java.time.LocalDateTime.parse("2024-03-01T00:00")
        .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L)))
    assert(parseTimeUnits("days since 2020-01-01").isDefined)
    assert(parseTimeUnits("SECONDS since 1970-01-01T00:00:00").isDefined)
    assert(parseTimeUnits("degrees_north").isEmpty)
  }

  test("CF calendar-aware decode: noleap skips Feb 29, 360_day maps its " +
      "own month lengths, unmappable dates refuse by name") {
    def micros(s: String): Long = java.time.LocalDateTime.parse(s)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    def decode(units: String, cal: String, vals: Double*): Seq[Long] =
      NcFormat.decodeTimeAxis(Some(units), Some(cal), vals.toArray).get.toSeq
    // noleap: day 1 after 2024-02-28 is Mar 1 (the Gregorian read says
    // Feb 29 — the exact divergence the calendar models)
    assert(decode("days since 2024-02-28", "noleap", 0, 1, 2) ==
      Seq(micros("2024-02-28T00:00"), micros("2024-03-01T00:00"),
        micros("2024-03-02T00:00")))
    assert(decode("days since 2024-02-28", "standard", 1) ==
      Seq(micros("2024-02-29T00:00")))
    // negative offsets walk backwards through the noleap year boundary
    assert(decode("days since 2024-01-01", "noleap", -1, -365) ==
      Seq(micros("2023-12-31T00:00"), micros("2023-01-01T00:00")))
    // sub-day units + epoch time-of-day survive
    assert(decode("hours since 2024-02-28 12:00:00", "365_day", 36) ==
      Seq(micros("2024-03-02T00:00")))
    // 360_day: every month is 30 days; day 30 since Jan 1 is Feb 1
    assert(decode("days since 2024-01-01", "360_day", 30) ==
      Seq(micros("2024-02-01T00:00")))
    // ...but 360_day Feb 30 has no Gregorian equivalent — refuse by name
    val e = intercept[IllegalArgumentException] {
      decode("days since 2024-01-01", "360_day", 59)
    }
    assert(e.getMessage.contains("360_day") &&
      e.getMessage.contains("no proleptic-Gregorian"))
    // all_leap maps Feb 29 in EVERY year — real in 2024, refused in 2023
    assert(decode("days since 2024-02-28", "all_leap", 1) ==
      Seq(micros("2024-02-29T00:00")))
    intercept[IllegalArgumentException] {
      decode("days since 2023-02-28", "366_day", 1)
    }
    // julian still falls back to the numeric axis (no same-tuple reading)
    assert(NcFormat.decodeTimeAxis(Some("days since 2024-01-01"),
      Some("julian"), Array(1.0)).isEmpty)
  }

  test("full scan: schema, CF timestamps, cell values, both variables") {
    val dir = Files.createTempDirectory("nc1").toString
    writeGrid(s"$dir/a.nc", nt = 6)
    val df = spark.read.format("netcdf").load(s"$dir/a.nc")
    assert(df.columns.toSeq == Seq("time", "lat", "lon", "t2m", "rh"))
    assert(df.schema("time").dataType.typeName == "timestamp_ntz")
    assert(df.schema("t2m").dataType.typeName == "double")
    assert(df.schema("rh").dataType.typeName == "float")
    assert(df.count() == 6 * 3 * 4)
    val r = df.filter(col("time") === lit(ts("2024-03-01T02:00:00")) &&
      col("lat") === 42.0 && col("lon") === 11.5).head()
    assert(r.getAs[Double]("t2m") == 2 * 1000 + 1 * 100 + 3)
    assert(r.getAs[Float]("rh") == (2 + 1 + 3).toFloat)
  }

  test("aggregates match the generating formula over every cell") {
    val dir = Files.createTempDirectory("nc2").toString
    writeGrid(s"$dir/a.nc", nt = 5)
    val df = spark.read.format("netcdf").load(s"$dir/a.nc")
    val expected = (for (t <- 0 until 5; y <- 0 until 3; x <- 0 until 4)
      yield (t * 1000 + y * 100 + x).toDouble).sum
    assert(df.agg(sum("t2m")).as[Double].head() == expected)
  }

  test("filter pushdown prunes time (increasing) and lat (decreasing) axes") {
    val dir = Files.createTempDirectory("nc3").toString
    writeGrid(s"$dir/a.nc", nt = 10)
    val df = spark.read.format("netcdf").load(s"$dir/a.nc")
      .filter(col("time") >= lit(ts("2024-03-01T03:00:00")) &&
        col("time") < lit(ts("2024-03-01T07:00:00")) &&
        col("lat") > 41.7)
    // 4 time steps × 2 lats (42.5, 42.0) × 4 lons
    assert(df.count() == 4 * 2 * 4)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft-netcdf"), s"expected netcdf scan in:\n$plan")
    assert(plan.contains("time[3..6]") && plan.contains("lat[0..1]"),
      s"expected pruned index ranges in:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(time"),
      s"expected pushed filter in:\n$plan")
    // values survive the pruned read
    val r = df.filter(col("lat") === 42.0 && col("lon") === 10.0 &&
      col("time") === lit(ts("2024-03-01T05:00:00"))).head()
    assert(r.getAs[Double]("t2m") == 5 * 1000 + 100)
  }

  test("column pruning reads only the projected variable's bytes") {
    val dir = Files.createTempDirectory("nc4").toString
    writeGrid(s"$dir/a.nc", nt = 4)
    val df = spark.read.format("netcdf").load(s"$dir/a.nc").select("time", "t2m")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<time:timestamp_ntz,t2m:double>"),
      s"expected pruned ReadSchema in:\n$plan")
    assert(df.count() == 4 * 3 * 4)
  }

  test("a directory is one dataset; a time filter skips non-overlapping files") {
    val dir = Files.createTempDirectory("nc5").toString
    writeGrid(s"$dir/part1.nc", nt = 6, timeOffset = 0)  // hours 0-5
    writeGrid(s"$dir/part2.nc", nt = 6, timeOffset = 6)  // hours 6-11
    val all = spark.read.format("netcdf").load(dir)
    assert(all.count() == 12 * 3 * 4)
    // monotonic across both files (each file's axis is checked separately)
    val filtered = all.filter(col("time") >= lit(ts("2024-03-01T08:00:00")))
    assert(filtered.count() == 4 * 3 * 4)
    // file-level pruning: only part2's partitions survive planning
    assert(filtered.rdd.getNumPartitions < all.rdd.getNumPartitions ||
      all.rdd.getNumPartitions == 1)
    val maxT2m = filtered.agg(max("t2m")).as[Double].head()
    assert(maxT2m == 11 * 1000 + 2 * 100 + 3)
  }

  test("the split budget fans a single file out across partitions along time") {
    val dir = Files.createTempDirectory("nc6").toString
    writeGrid(s"$dir/a.nc", nt = 8)
    // one record = 3*4*(8+4) bytes = 144 → 2 records per 300-byte split
    spark.conf.set("spark.sql.files.maxPartitionBytes", "300")
    try {
      val df = spark.read.format("netcdf").load(s"$dir/a.nc")
      assert(df.rdd.getNumPartitions == 4)
      assert(df.count() == 8 * 3 * 4)
      // a time filter narrows the outer range before splitting
      val filtered = spark.read.format("netcdf").load(s"$dir/a.nc")
        .filter(col("time") >= lit(ts("2024-03-01T06:00:00")))
      assert(filtered.rdd.getNumPartitions == 1)
      assert(filtered.count() == 2 * 3 * 4)
    } finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
  }

  test("fixed-size (no record dim) files scan identically") {
    val dir = Files.createTempDirectory("nc7").toString
    NcFormat.writeFile(spark, s"$dir/f.nc",
      dims = Seq("y" -> 2, "x" -> 3),
      vars = Seq(
        WriteVar("y", Seq("y"), NcDouble, Array(0.0, 1.0)),
        WriteVar("x", Seq("x"), NcDouble, Array(0.0, 1.0, 2.0)),
        WriteVar("v", Seq("y", "x"), NcInt,
          Array.tabulate(6)(i => (i * 10).toDouble))))
    val df = spark.read.format("netcdf").load(s"$dir/f.nc")
    assert(df.schema("v").dataType.typeName == "integer")
    assert(collectSet(df) == (for (y <- 0 until 2; x <- 0 until 3)
      yield Seq[Any](y.toDouble, x.toDouble, (y * 3 + x) * 10)).toSet)
  }

  test("CDF-2 (64-bit offset) files write and scan identically to CDF-1") {
    val dir = Files.createTempDirectory("nc_cdf2").toString
    def grid(path: String, v: Option[Int]): Unit =
      NcFormat.writeFile(spark, path,
        dims = Seq("y" -> 2, "x" -> 3),
        vars = Seq(
          WriteVar("y", Seq("y"), NcDouble, Array(0.0, 1.0)),
          WriteVar("x", Seq("x"), NcDouble, Array(0.0, 1.0, 2.0)),
          WriteVar("v", Seq("y", "x"), NcInt,
            Array.tabulate(6)(i => (i * 10).toDouble))),
        forceVersion = v)
    grid(s"$dir/v1.nc", Some(1))
    grid(s"$dir/v2.nc", Some(2))
    // magic bytes differ; decoded rows are identical
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def versionByte(p: String): Int = {
      val in = fs.open(new org.apache.hadoop.fs.Path(p))
      // readFully, not skip(3): InputStream.skip may legally skip fewer
      try { val b = new Array[Byte](4); in.readFully(b); b(3) & 0xFF }
      finally in.close()
    }
    assert(versionByte(s"$dir/v1.nc") == 1 && versionByte(s"$dir/v2.nc") == 2)
    val one = collectSet(spark.read.format("netcdf").load(s"$dir/v1.nc"))
    val two = collectSet(spark.read.format("netcdf").load(s"$dir/v2.nc"))
    assert(one == two && one.nonEmpty)
  }

  test("CF packed data: scale_factor/add_offset unpack to double; _FillValue → null") {
    val dir = Files.createTempDirectory("nc9").toString
    // packed NC_SHORT var: physical = raw * 0.01 + 100.0; raw -32767 = fill
    val raw = Array(0.0, 150.0, -32767.0, 2500.0, -150.0, -32767.0)
    NcFormat.writeFile(spark, s"$dir/p.nc",
      dims = Seq("y" -> 2, "x" -> 3),
      vars = Seq(
        WriteVar("y", Seq("y"), NcDouble, Array(0.0, 1.0)),
        WriteVar("x", Seq("x"), NcDouble, Array(0.0, 1.0, 2.0)),
        WriteVar("temp", Seq("y", "x"), NcShort, raw,
          nattrs = Seq(
            ("scale_factor", NcDouble, Array(0.01)),
            ("add_offset", NcDouble, Array(100.0)),
            ("_FillValue", NcShort, Array(-32767.0))))))
    val df = spark.read.format("netcdf").load(s"$dir/p.nc")
    val f = df.schema("temp")
    assert(f.dataType.typeName == "double" && f.nullable)
    val got = df.orderBy("y", "x").select("temp").collect().map(r =>
      if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(got.toSeq == Seq(Some(100.0), Some(101.5), None,
      Some(125.0), Some(98.5), None))
    // IsNotNull on a nullable data column must NOT be pushed (it would be
    // dropped as "handled" and fill rows would leak through)
    assert(df.filter(col("temp").isNotNull).count() == 4)
  }

  test("_FillValue without packing keeps the native type, nullable") {
    val dir = Files.createTempDirectory("nc10").toString
    NcFormat.writeFile(spark, s"$dir/f.nc",
      dims = Seq("x" -> 4),
      vars = Seq(
        WriteVar("x", Seq("x"), NcDouble, Array(0.0, 1.0, 2.0, 3.0)),
        WriteVar("v", Seq("x"), NcFloat, Array(1.5, -9999.0, 3.5, -9999.0),
          nattrs = Seq(("missing_value", NcFloat, Array(-9999.0))))))
    val df = spark.read.format("netcdf").load(s"$dir/f.nc")
    assert(df.schema("v").dataType.typeName == "float" && df.schema("v").nullable)
    assert(df.filter(col("v").isNull).count() == 2)
    assert(df.agg(sum("v")).head().getDouble(0) == 5.0)
  }

  test("_FillValue stored WIDER than the variable still masks (NC_FLOAT var, NC_DOUBLE attr)") {
    // 9.96921e36 is netCDF's default float fill; wild files often declare
    // the attr as NC_DOUBLE, whose widened value != the float-widened raw.
    val fill = 9.96921e36
    val dir = Files.createTempDirectory("nc12").toString
    NcFormat.writeFile(spark, s"$dir/w.nc",
      dims = Seq("x" -> 3),
      vars = Seq(
        WriteVar("x", Seq("x"), NcDouble, Array(0.0, 1.0, 2.0)),
        WriteVar("v", Seq("x"), NcFloat, Array(1.5, fill, 2.5),
          nattrs = Seq(("_FillValue", NcDouble, Array(fill))))))
    val df = spark.read.format("netcdf").load(s"$dir/w.nc")
    assert(df.filter(col("v").isNull).count() == 1)
    assert(df.agg(sum("v")).head().getDouble(0) == 4.0)
  }

  test("noleap decodes to calendar-correct timestamps in the scan; julian " +
      "falls back to a numeric axis (no silent shift)") {
    val dir = Files.createTempDirectory("nc11").toString
    NcFormat.writeFile(spark, s"$dir/c.nc",
      dims = Seq("time" -> 3),
      vars = Seq(
        WriteVar("time", Seq("time"), NcInt, Array(0.0, 1.0, 2.0),
          attrs = Seq("units" -> "days since 2000-02-28", "calendar" -> "noleap")),
        WriteVar("v", Seq("time"), NcDouble, Array(10.0, 20.0, 30.0))))
    val df = spark.read.format("netcdf").load(s"$dir/c.nc")
    assert(df.schema("time").dataType.typeName == "timestamp_ntz")
    // 2000 is a real leap year; the noleap axis skips its Feb 29
    assert(df.select(max("time")).head().getAs[java.time.LocalDateTime](0) ==
      java.time.LocalDateTime.parse("2000-03-02T00:00"))
    NcFormat.writeFile(spark, s"$dir/j.nc",
      dims = Seq("time" -> 3),
      vars = Seq(
        WriteVar("time", Seq("time"), NcInt, Array(0.0, 1.0, 2.0),
          attrs = Seq("units" -> "days since 2000-01-01", "calendar" -> "julian")),
        WriteVar("v", Seq("time"), NcDouble, Array(10.0, 20.0, 30.0))))
    val dj = spark.read.format("netcdf").load(s"$dir/j.nc")
    assert(dj.schema("time").dataType.typeName == "integer") // raw, not timestamp
    // a standard calendar attr still decodes
    NcFormat.writeFile(spark, s"$dir/g.nc",
      dims = Seq("time" -> 3),
      vars = Seq(
        WriteVar("time", Seq("time"), NcInt, Array(0.0, 1.0, 2.0),
          attrs = Seq("units" -> "days since 2000-01-01",
            "calendar" -> "proleptic_gregorian")),
        WriteVar("v", Seq("time"), NcDouble, Array(10.0, 20.0, 30.0))))
    val dg = spark.read.format("netcdf").load(s"$dir/g.nc")
    assert(dg.schema("time").dataType.typeName == "timestamp_ntz")
  }

  test("readStream ingests newly-landed NC files incrementally (natural-order watermark)") {
    val dir = Files.createTempDirectory("ncstream").toString
    // part9 → part10 is the ordering trap: lexicographically part10 < part9,
    // naturally part10 > part9 — the watermark must use natural order or
    // part10 would be silently stranded
    writeGrid(s"$dir/part9.nc", nt = 4, timeOffset = 0)
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = spark.readStream.format("netcdf").load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized { batches += ((id, df.count())) }; ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("ncstream_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      assert(batches.synchronized(batches.map(_._2).sum) == 4 * 3 * 4)
      writeGrid(s"$dir/part10.nc", nt = 3, timeOffset = 4)
      q.processAllAvailable()
      assert(batches.synchronized(batches.map(_._2).sum) == (4 + 3) * 3 * 4)
      // no new files → no new non-empty batch
      q.processAllAvailable()
      assert(batches.synchronized(batches.map(_._2).sum) == (4 + 3) * 3 * 4)
    } finally q.stop()
  }

  test("a stream can start on an EMPTY landing dir with a provided schema") {
    val dir = Files.createTempDirectory("ncstream_empty").toString
    val probe = Files.createTempDirectory("ncstream_probe").toString
    writeGrid(s"$probe/schema_probe.nc", nt = 1)
    val schema = spark.read.format("netcdf").load(probe).schema
    val counts = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("netcdf").schema(schema).load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        counts.addAndGet(df.count()); ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("ncstream_empty_ckpt").toString)
      .start()
    try {
      q.processAllAvailable() // nothing yet — must not throw
      assert(counts.get() == 0)
      writeGrid(s"$dir/a.nc", nt = 2)
      q.processAllAvailable()
      assert(counts.get() == 2 * 3 * 4)
    } finally q.stop()
  }

  test("a stream attached to a landing dir that does not exist yet waits, then ingests") {
    val root = Files.createTempDirectory("ncstream_notyet").toString
    val dir = s"$root/landing" // created only when the first file lands
    val probe = Files.createTempDirectory("ncstream_notyet_probe").toString
    writeGrid(s"$probe/schema_probe.nc", nt = 1)
    val schema = spark.read.format("netcdf").load(probe).schema
    val counts = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("netcdf").schema(schema).load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        counts.addAndGet(df.count()); ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("ncstream_notyet_ckpt").toString)
      .start()
    try {
      q.processAllAvailable() // the dir is missing — must not throw
      assert(counts.get() == 0)
      new java.io.File(dir).mkdirs()
      writeGrid(s"$dir/a.nc", nt = 2)
      q.processAllAvailable()
      assert(counts.get() == 2 * 3 * 4)
    } finally q.stop()
  }

  test("maxFilesPerTrigger bounds each micro-batch (admission control)") {
    val dir = Files.createTempDirectory("ncstream_rate").toString
    (1 to 3).foreach(i => writeGrid(s"$dir/f$i.nc", nt = 2, timeOffset = (i - 1) * 2))
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("netcdf").option("maxFilesPerTrigger", "1")
      .load(dir)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        if (n > 0) batchSizes.synchronized { batchSizes += n }; ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("ncstream_rate_ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      // a pre-populated archive drains in one-file batches, not one giant one
      assert(batchSizes.synchronized(batchSizes.toList) == List(24, 24, 24))
    } finally q.stop()
  }

  test("Trigger.AvailableNow + maxFilesPerTrigger drains the FULL backlog in bounded batches") {
    // without SupportsTriggerAvailableNow Spark would fall back to ONE
    // single batch of maxFilesPerTrigger files and terminate successfully
    // with the backlog stranded — this pins the multi-batch drain
    val dir = Files.createTempDirectory("ncstream_an").toString
    (1 to 3).foreach(i => writeGrid(s"$dir/f$i.nc", nt = 2, timeOffset = (i - 1) * 2))
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("netcdf").option("maxFilesPerTrigger", "1")
      .load(dir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        if (n > 0) sizes.synchronized { sizes += n }; ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("ncstream_an_ckpt").toString)
      .start()
    q.awaitTermination()
    assert(sizes.synchronized(sizes.toList) == List(24, 24, 24))
  }

  test("dims without coordinate variables surface as long indices") {
    val dir = Files.createTempDirectory("nc8").toString
    NcFormat.writeFile(spark, s"$dir/f.nc",
      dims = Seq("cell" -> 4),
      vars = Seq(WriteVar("v", Seq("cell"), NcFloat, Array(1.0, 2.0, 3.0, 4.0))))
    val df = spark.read.format("netcdf").load(s"$dir/f.nc")
    assert(df.schema("cell").dataType.typeName == "long")
    assert(df.filter(col("cell") === 2L).head().getAs[Float]("v") == 3.0f)
  }
}
