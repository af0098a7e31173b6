package graft.sources

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime

import graft.SparkSpec
import graft.functions.{Tar, Warc, Zip}
import graft.sources.grib.GribFormat
import graft.sources.nc.NcFormat
import graft.sources.nc.NcFormat.{NcDouble, WriteVar}
import graft.sources.tiff.TiffFormat

/** The file-source skeleton every DSv2 file scan shares: the `paths`
  * reader and the stream offset. */
class FileScanSpec extends SparkSpec {

  test("load(a, b) decodes paths holding a quote or a backslash, for every file source") {
    val root = Files.createTempDirectory("filescan_paths").toString
    val dirs = Seq(s"$root/q\"uote", s"$root/back\\slash")
    dirs.foreach(d => Files.createDirectories(Paths.get(d)))
    dirs.zipWithIndex.foreach { case (d, k) =>
      NcFormat.writeFile(spark, s"$d/a.nc",
        dims = Seq("time" -> 2),
        vars = Seq(
          WriteVar("time", Seq("time"), NcDouble, Array(2.0 * k, 2.0 * k + 1),
            attrs = Seq("units" -> "hours since 2024-03-01 00:00:00")),
          WriteVar("v", Seq("time"), NcDouble, Array(1.0, 2.0))),
        recordDim = Some("time"))
      GribFormat.writeFile(spark, s"$d/a.grb", Seq(
        (61, LocalDateTime.of(2024, 3, 1 + k, 0, 0), Seq(0.0, 1.0), Seq(0.0, 1.0),
          Array(1.0, 2.0, 3.0, 4.0))))
      Files.write(Paths.get(s"$d/a.tif"), TiffFormat.write(2, 2,
        Array(Array(1.0, 2.0, 3.0, 4.0)), 3, 64, 0, 2, 1.0, 1.0,
        TiffFormat.WriteOpts()))
      Files.write(Paths.get(s"$d/a.warc"), Warc.encode(Seq(
        Warc.WRecord("response", targetUri = s"https://x.test/$k", body = "doc"))))
      Files.write(Paths.get(s"$d/a.tar"), Tar.encode(Seq(
        "k0.txt" -> "text".getBytes("UTF-8"), "k0.cls" -> "1".getBytes("UTF-8"))))
      Files.write(Paths.get(s"$d/a.zip"), Zip.encode(Seq(
        ("m.txt", "member".getBytes("UTF-8"), true))))
    }
    val rowsPerFile = Seq("netcdf" -> ("nc", 2L), "grib1" -> ("grb", 4L),
      "geotiff" -> ("tif", 4L), "warc" -> ("warc", 1L),
      "webdataset" -> ("tar", 2L), "zip" -> ("zip", 1L))
    rowsPerFile.foreach { case (format, (ext, rows)) =>
      val df = spark.read.format(format).load(dirs.map(d => s"$d/a.$ext"): _*)
      assert(df.count() == 2 * rows, format)
    }
  }

  test("the stream offset is a bare JSON string, as every per-format offset was") {
    val dir = Files.createTempDirectory("filescan_offset").toString
    val stream = new FileMicroBatchStream(Seq(dir),
      spark.sparkContext.hadoopConfiguration, _ => true, None,
      _ => Seq.empty, null)
    val o = FileOffset("file:/landing/part10.nc")
    assert(o.json() == "\"file:/landing/part10.nc\"")
    assert(stream.deserializeOffset(o.json()) == o)
    assert(stream.initialOffset() == FileOffset(""))
  }
}
