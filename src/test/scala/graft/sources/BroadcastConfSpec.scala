package graft.sources

import java.io.{ByteArrayOutputStream, DataOutputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import graft.SparkSpec
import graft.functions.{Tar, Warc, Zip}
import graft.meta.{JArr, JObj, JStr}
import graft.sources.grib.GribFormat
import graft.sources.nc.NcFormat
import graft.sources.nc.NcFormat.{NcDouble, WriteVar}
import graft.sources.tiff.TiffFormat
import graft.sources.zarr.{ZarrCodec, ZarrIO, ZarrMeta}
import graft.sources.zarr.ZarrMeta.ZArrayMeta

/** What a task deserializes: scans and the zarr chunk write ship the
  * Hadoop configuration as a broadcast handle ([[BroadcastConf]]), never
  * by value, so task bytes do not grow by a configuration per file. */
class BroadcastConfSpec extends SparkSpec {

  /** Java serialization — the closure serializer that ships task
    * binaries. */
  private def javaBytes(o: AnyRef): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bos)
    out.writeObject(o)
    out.close()
    bos.toByteArray
  }

  /** True if the bytes carry a Hadoop property, i.e. a Configuration. */
  private def carriesConf(bytes: Array[Byte]): Boolean =
    new String(bytes, StandardCharsets.ISO_8859_1).contains("fs.defaultFS")

  private def writeGrib(path: String): Unit =
    GribFormat.writeFile(spark, path, (1 to 24).map { h =>
      (61, LocalDateTime.of(2024, 3, 1, 0, 0).plusHours(h), Seq(-45.5, -45.0),
        Seq(10.0, 10.5), Array.tabulate(4)(k => h * 10.0 + k))
    }, edition = 2)

  test("multiScan task bytes grow by a handle per file, not a configuration") {
    val dir = Files.createTempDirectory("bconf_multi").toString
    val paths = (1 to 12).map(i => f"$dir/f$i%02d.grb2")
    paths.foreach(writeGrib)
    val bytes = Seq(1, 3, 12).map { n =>
      val df = Manifest.multiScan(spark, paths.take(n))
      assert(df.count() == n * 24L * 4)
      n -> javaBytes(df.queryExecution.toRdd)
    }.toMap
    val sizes = bytes.view.mapValues(_.length).toMap
    // a by-value configuration is ~110 KB per file; the handle plus the
    // per-file plan is a few KB
    assert((sizes(3) - sizes(1)) / 2 < 16 * 1024, s"task bytes by file count: $sizes")
    assert((sizes(12) - sizes(1)) / 11 < 16 * 1024, s"task bytes by file count: $sizes")
    assert(!bytes.values.exists(carriesConf), s"task bytes by file count: $sizes")
  }

  test("a one-file read of every source ships no configuration") {
    val dir = Files.createTempDirectory("bconf_sources").toString
    writeGrib(s"$dir/a.grb2")
    val sp = new DataOutputStream(Files.newOutputStream(Paths.get(s"$dir/sp.grb2")))
    try GribFormat.writeSpectralMessage2(sp, LocalDateTime.of(2024, 3, 1, 0, 0), 2,
      Seq((61, 0, Array.tabulate(12)(_.toDouble))))
    finally sp.close()
    NcFormat.writeFile(spark, s"$dir/a.nc",
      dims = Seq("time" -> 2, "lat" -> 2),
      vars = Seq(
        WriteVar("time", Seq("time"), NcDouble, Array(0.0, 1.0),
          attrs = Seq("units" -> "hours since 2024-03-01 00:00:00")),
        WriteVar("lat", Seq("lat"), NcDouble, Array(1.0, 2.0)),
        WriteVar("v", Seq("time", "lat"), NcDouble, Array(1.0, 2.0, 3.0, 4.0))),
      recordDim = Some("time"))
    Files.write(Paths.get(s"$dir/a.tif"), TiffFormat.write(4, 3,
      Array(Array.tabulate(12)(_.toDouble)), 3, 64, -20, 50, 0.5, 0.5,
      TiffFormat.WriteOpts()))
    Files.write(Paths.get(s"$dir/a.warc"), Warc.encode(Seq(
      Warc.WRecord("response", targetUri = "https://x.test/0", body = "doc"))))
    Files.write(Paths.get(s"$dir/a.tar"), Tar.encode(Seq(
      "k0.txt" -> "text".getBytes("UTF-8"), "k0.cls" -> "1".getBytes("UTF-8"))))
    Files.write(Paths.get(s"$dir/a.zip"), Zip.encode(Seq(
      ("m.txt", "member".getBytes("UTF-8"), true))))
    val zarr = s"$dir/a.zarr"
    val conf = spark.sparkContext.hadoopConfiguration
    val codec = ZarrCodec.ZlibCodec(1)
    val xMeta = ZArrayMeta(Seq(4), Seq(4), ZarrMeta.parseDtype("<f8"), codec,
      None, ".", JObj(Seq("_ARRAY_DIMENSIONS" -> JArr(Seq(JStr("x"))))))
    val vMeta = ZArrayMeta(Seq(4), Seq(2), ZarrMeta.parseDtype("<f8"), codec,
      Some(Double.NaN), ".", JObj(Seq("_ARRAY_DIMENSIONS" -> JArr(Seq(JStr("x"))))))
    ZarrIO.writeArray(conf, zarr, "x", xMeta, Array(0.5, 1.5, 2.5, 3.5))
    ZarrIO.writeArray(conf, zarr, "v", vMeta, Array(1.0, 2.0, 3.0, 4.0))
    ZarrIO.writeGroupMetadata(conf, zarr, JObj(Seq.empty), Seq("x" -> xMeta, "v" -> vMeta))

    val reads = Seq(
      "grib1" -> (s"$dir/a.grb2", 24L * 4),
      "grib-spectral" -> (s"$dir/sp.grb2", 12L),
      "netcdf" -> (s"$dir/a.nc", 4L),
      "zarr" -> (zarr, 4L),
      "geotiff" -> (s"$dir/a.tif", 12L),
      "warc" -> (s"$dir/a.warc", 1L),
      "webdataset" -> (s"$dir/a.tar", 2L),
      "zip" -> (s"$dir/a.zip", 1L))
    val carrying = reads.flatMap { case (format, (path, rows)) =>
      val df = spark.read.format(format).load(path)
      assert(df.count() == rows, format)
      val bytes = javaBytes(df.queryExecution.toRdd)
      if (carriesConf(bytes)) Some(s"$format (${bytes.length} B)") else None
    }
    assert(carrying.isEmpty, s"task bytes carry a Hadoop Configuration: $carrying")
  }

  test("the zarr chunk-write task closure ships no configuration") {
    val root = Files.createTempDirectory("bconf_zarr").toString
    val vMeta = ZArrayMeta(Seq(4, 2), Seq(2, 2), ZarrMeta.parseDtype("<f8"),
      ZarrCodec.ZlibCodec(1), Some(Double.NaN), ".", JObj(Seq.empty))
    val sp = spark; import sp.implicits._
    val df = (for (t <- 0 until 4; x <- 0 until 2)
      yield (t.toDouble, x.toDouble, t * 10.0 + x)).toDF("t", "x", "v")
    val job = ZarrIO.chunkWrites(spark, root,
      Seq("t" -> Array(0.0, 1.0, 2.0, 3.0), "x" -> Array(0.0, 1.0)),
      Seq(("v", "v", vMeta)), df, mergeExisting = false)
    val bytes = javaBytes(job)
    assert(!carriesConf(bytes), s"${bytes.length} task bytes carry a Hadoop Configuration")
    assert(job.collect().sum == 2L, "two chunks written")
  }
}
