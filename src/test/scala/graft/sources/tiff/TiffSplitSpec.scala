package graft.sources.tiff

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import TiffFormat.WriteOpts

/** Pins the r15 tile-packing optimization: partitions carry a packed tile
  * list byte-budgeted by SplitBudget (not one task per tile), packing
  * never crosses a file, and the reader decodes every tile of a
  * multi-tile partition (the tile-advance path). */
class TiffSplitSpec extends SparkSpec {

  test("many tiny tiles pack into few splits; every tile still decodes") {
    val dir = Files.createTempDirectory("tifsplit").toString
    val w = 64; val h = 64 // 16×16 tiles → 16 tiles
    val vals = Array.tabulate(w * h)(i => i.toDouble)
    Files.write(Paths.get(s"$dir/t.tif"),
      TiffFormat.write(w, h, Array(vals), 3, 64, -20.0, 50.0, 0.5, 0.5,
        WriteOpts(tileSize = 16)))
    val df = spark.read.format("geotiff").load(s"$dir/t.tif")
    // 16 tiny tiles pack under the open-cost quantum: one task, never 16
    // (pre-r15 behavior). The per-file open cost sizes the budget but is
    // not charged into the file's first split, which it would otherwise
    // fill on its own.
    val parts = df.rdd.getNumPartitions
    assert(parts == 1, s"expected 1 packed split for 16 tiny tiles, got $parts")
    // every tile's pixels survive the multi-tile reader
    assert(df.count() == w.toLong * h)
    val sum = df.agg(org.apache.spark.sql.functions.sum("value"))
      .head().getDouble(0)
    assert(sum == (0 until w * h).map(_.toDouble).sum)
  }

  test("packing never crosses a file boundary") {
    val dir = Files.createTempDirectory("tifsplit2").toString
    for (f <- Seq("a", "b")) {
      val w = 32; val h = 32
      val vals = Array.tabulate(w * h)(i => i.toDouble)
      Files.write(Paths.get(s"$dir/$f.tif"),
        TiffFormat.write(w, h, Array(vals), 3, 64, -20.0, 50.0, 0.5, 0.5,
          WriteOpts(tileSize = 16)))
    }
    val df = spark.read.format("geotiff").load(dir)
    // exactly one split per file: a split never spans files, and each
    // file fits one budget
    val parts = df.rdd.getNumPartitions
    assert(parts == 2, s"got $parts")
    assert(df.count() == 2L * 32 * 32)
  }
}
