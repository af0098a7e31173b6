package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ManifestExtractSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  test("naturalKey sorts digit runs numerically (convenience.py natsort parity)") {
    val names = Seq("file10.nc", "file2.nc", "file1.nc")
    assert(names.sortBy(Manifest.naturalKey) == Seq("file1.nc", "file2.nc", "file10.nc"))
  }

  test("listInputFiles skips dotfiles and .idx, honors suffix allow-list") {
    val dir = Files.createTempDirectory("manifest_spec")
    Seq("a2.parquet", "a10.parquet", ".hidden.parquet", "b.idx", "c.txt")
      .foreach(n => Files.write(dir.resolve(n), "x".getBytes))
    val out = Manifest.listInputFiles(spark, dir.toString, Seq(".parquet"))
      .select("file_name").as[String].collect().toSeq
    assert(out == Seq("a2.parquet", "a10.parquet"))
  }

  test("filterManifest applies suffixes and substring filters (transform.py:72-84)") {
    val m = Seq(("x", "data_2024.nc"), ("y", "data_2024.grib"), ("z", "readme.txt"))
      .toDF("path", "file_name")
    val out = Manifest.filterManifest(m, Seq(".nc", ".grib"), Seq("2024"))
      .select("file_name").as[String].collect().toSet
    assert(out == Set("data_2024.nc", "data_2024.grib"))
  }

  test("parseFilenames extracts coordinates via regex (flat_to_nd.py:7-72)") {
    val m = Seq(Tuple1("precip-20240105-ens3.nc")).toDF("file_name")
    val out = Manifest.parseFilenames(m, Map(
      "date" -> "(\\d{8})", "ensemble" -> "ens(\\d+)")).head()
    assert(out.getAs[String]("date") == "20240105")
    assert(out.getAs[String]("ensemble") == "3")
  }

  test("missingCombinations finds the holes in an N-D file grid (flat_to_nd.py:75-239)") {
    val m = Seq(("a", 1), ("a", 2), ("b", 1)).toDF("x", "y") // (b,2) missing
    val out = Manifest.missingCombinations(m, Seq("x", "y")).collect()
    assert(out.map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("b", 2)))
    val complete = Seq(("a", 1), ("a", 2), ("b", 1), ("b", 2)).toDF("x", "y")
    assert(Manifest.missingCombinations(complete, Seq("x", "y")).isEmpty)
  }

  test("multiScan unions files and rejects schema drift (transform.py:335-343)") {
    val dir = Files.createTempDirectory("multiscan_spec")
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$dir/p1")
    Seq((2, "b")).toDF("k", "v").write.parquet(s"$dir/p2")
    Seq((3.5, "c")).toDF("k", "v").write.parquet(s"$dir/p3") // k is double
    val ok = Manifest.multiScan(spark, Seq(s"$dir/p1", s"$dir/p2"))
    assert(ok.count() == 2)
    assertThrows[IllegalArgumentException] {
      Manifest.multiScan(spark, Seq(s"$dir/p1", s"$dir/p3"))
    }
  }

  test("multiScan plans one relation over a GRIB archive, not a union of scans") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val dir = Files.createTempDirectory("multiscan_grib").toString
    val paths = (1 to 3).map { d =>
      val p = s"$dir/d$d.grb2"
      graft.sources.grib.GribFormat.writeFile(spark, p, Seq(
        (61, ts(f"2024-03-$d%02dT00:00:00"), Seq(0.0, 1.0), Seq(0.0, 1.0),
          Array.fill(4)(d.toDouble))), edition = 2)
      p
    }
    val df = Manifest.multiScan(spark, paths)
    assert(df.agg(sum("value")).head().getDouble(0) == 4.0 * (1 + 2 + 3))
    assert(!df.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union]))
    val scans = df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans.length == 1, df.queryExecution.executedPlan.toString)
    assert(scans.head.scan.description().contains("messages=3/3"))
  }

  test("multiScan and the manager's input guard refuse a mixed-format list by name") {
    val dir = Files.createTempDirectory("multiscan_mixed").toString
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$dir/p1")
    Files.write(Paths.get(s"$dir/t.tif"), graft.sources.tiff.TiffFormat.write(
      2, 2, Array(Array(1.0, 2.0, 3.0, 4.0)), 3, 64, 0, 2, 1.0, 1.0,
      graft.sources.tiff.TiffFormat.WriteOpts()))
    val e = intercept[IllegalArgumentException](
      Manifest.multiScan(spark, Seq(s"$dir/p1", s"$dir/t.tif")))
    assert(e.getMessage.contains("mixes input formats geotiff, parquet"), e.getMessage)
    assert(Manifest.formatOf("a.tif") == "geotiff")
    assert(Manifest.formatOf("a.grb2") == "grib1")
    assert(Manifest.formatOf("a.nc") == "netcdf")
    assert(Manifest.formatOf("a.parquet") == "parquet")
  }

  test("retryWithBackoff: exponential delays, fatal short-circuits") {
    var delays = Vector.empty[Long]
    var calls = 0
    val v = Extract.retryWithBackoff(maxRetries = 3, backoffSeconds = 1.0,
      sleeper = d => delays :+= d) { () =>
      calls += 1
      if (calls < 3) throw new RuntimeException("flaky") else 42
    }
    assert(v == 42 && calls == 3)
    assert(delays == Vector(1000L, 2000L))

    var linDelays = Vector.empty[Long]
    intercept[RuntimeException] {
      Extract.retryWithBackoff(maxRetries = 2, backoffSeconds = 2.0, linear = true,
        sleeper = d => linDelays :+= d) { () => throw new RuntimeException("always") }
    }
    assert(linDelays == Vector(2000L, 4000L))

    var fatalCalls = 0
    intercept[IllegalStateException] {
      Extract.retryWithBackoff(maxRetries = 5,
        ignorable = !_.isInstanceOf[IllegalStateException],
        sleeper = _ => ()) { () => fatalCalls += 1; throw new IllegalStateException("fatal") }
    }
    assert(fatalCalls == 1)
  }

  test("pool: all-success vs any-success semantics (extractor.py:50-124)") {
    val mixed = Seq[() => Int](() => 1, () => throw new RuntimeException("x"))
    assertThrows[RuntimeException](Extract.pool(mixed, concurrency = 2))
    val results = Extract.pool(mixed, concurrency = 2, acceptAnySuccess = true)
    assert(results.count(_.isSuccess) == 1)
    assertThrows[RuntimeException] {
      Extract.pool(Seq[() => Int](() => throw new RuntimeException("y")),
        acceptAnySuccess = true)
    }
  }

  test("getLinks scrapes, filters, absolutizes (extractor.py:422-475)") {
    val html = """<html><a href="f1.nc">x</a><A HREF='sub/f2.nc'>y</A>
      <a href="#anchor">z</a><a href="f1.nc">dup</a></html>"""
    val links = Extract.getLinks(html, "http://example.com/data",
      keep = _.endsWith(".nc"))
    assert(links == Seq("http://example.com/data/f1.nc", "http://example.com/data/sub/f2.nc"))
  }

  test("listingName handles NLST bare names, full paths, and LIST long rows") {
    assert(Extract.listingName("chirps.2024.01.nc") == Some("chirps.2024.01.nc"))
    assert(Extract.listingName("/pub/data/chirps.2024.01.nc") == Some("chirps.2024.01.nc"))
    assert(Extract.listingName(
      "-rw-r--r--   1 ftp ftp  123456 Jan 01 12:00 chirps.2024.01.nc")
      == Some("chirps.2024.01.nc"))
    assert(Extract.listingName("drwxr-xr-x 2 ftp ftp 4096 Jan 01 .") == None)
    assert(Extract.listingName("  ") == None)
  }

  test("FtpExtractor.find filters a cwd listing by regex (extractor.py:904-921)") {
    val ftp = new Extract.FtpExtractor(retries = 1)
    val listing = Seq("chirps-v2.0.2024.01.days_p05.nc", "chirps-v2.0.2024.02.days_p05.nc",
      "readme.txt", "old/chirps-v2.0.1999.01.days_p05.nc")
      .map(l => l.substring(l.lastIndexOf('/') + 1))
    val found = ftp.find("ftp://example.com/pub/",
      raw"chirps-v2\.0\.2024\.\d\d\.days_p05\.nc".r, lister = _ => listing)
    assert(found == Seq("chirps-v2.0.2024.01.days_p05.nc", "chirps-v2.0.2024.02.days_p05.nc"))
    assert(ftp.find("ftp://example.com/pub/", "nope".r, lister = _ => listing).isEmpty)
  }

  test("archiveOriginals moves files into <dir>_originals (transform.py:521-537)") {
    val root = java.nio.file.Files.createTempDirectory("arch").toString
    val in = java.nio.file.Paths.get(root, "input")
    java.nio.file.Files.createDirectories(in)
    val f1 = in.resolve("a.nc"); val f2 = in.resolve("b.nc")
    java.nio.file.Files.writeString(f1, "x"); java.nio.file.Files.writeString(f2, "y")
    val moved = Manifest.archiveOriginals(spark, Seq(f1.toString, f2.toString))
    assert(moved.forall(_.contains("input_originals/")))
    assert(!java.nio.file.Files.exists(f1) && !java.nio.file.Files.exists(f2))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "input_originals", "a.nc")))
  }
}
