package graft.perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.sources.grib.GribFormat
import graft.sources.nc.NcFormat

/** Checksums of a set of cells, computed the same way from the generator's
  * arrays and from a store: values are compared as integers at the
  * packing's stated precision (`q = round(value × 100)`), so the oracle is
  * exact, never a float tolerance. `t` is the cell's time index from the
  * archive start (hours for ERA5, days for CHIRPS). */
final case class Sums(rows: Long = 0, nans: Long = 0, q: Long = 0,
    qByTime: Long = 0, qNorth: Long = 0, qWest: Long = 0) {
  def +(o: Sums): Sums = Sums(rows + o.rows, nans + o.nans, q + o.q,
    qByTime + o.qByTime, qNorth + o.qNorth, qWest + o.qWest)
  def -(o: Sums): Sums = Sums(rows - o.rows, nans - o.nans, q - o.q,
    qByTime - o.qByTime, qNorth - o.qNorth, qWest - o.qWest)
}

object Sums {
  /** Standardized longitude, the same arithmetic the normalize step uses
    * (exact for the generators' binary-representable coordinates). */
  def stdLon(lon: Double): Double = {
    val m = (lon + 180.0) % 360.0
    (if (m < 0) m + 360.0 else m) - 180.0
  }

  def cell(q: Int, t: Long, lat: Double, lon: Double): Sums =
    if (q == Nan) Sums(rows = 1, nans = 1)
    else Sums(1, 0, q, q * (t + 1), if (lat > 0) q else 0,
      if (stdLon(lon) < 0) q else 0)

  /** Marker for a NaN cell in the generators' integer arrays. */
  val Nan: Int = Int.MinValue
}

/** ERA5-shaped archive: one GRIB2 file per day, 24 hourly messages of 2 m
  * temperature (paramId 167), JPEG 2000 packing at 2 decimals, on a
  * reduced Gaussian grid with 0–360 longitudes. Row lengths are powers of
  * two (`maxPl` at the equator, halving towards the poles), so every row's
  * longitudes sit on the `maxPl` circle and the dense lat × lon grid a zarr
  * store needs is `2N × maxPl`. */
final class Era5Archive(val seed: Long, val files: Int, val gaussN: Int,
    val maxPl: Int, val startDay: LocalDate = LocalDate.of(2020, 1, 1)) {
  val hoursPerFile = 24
  val lats: Array[Double] = GribFormat.gaussianLatitudes(gaussN)
  val pl: Array[Int] = lats.map { lat =>
    val a = math.abs(lat)
    val k = if (a < 35) 0 else if (a < 60) 1 else if (a < 75) 2 else 3
    math.max(4, maxPl >> k)
  }
  val cellsPerMessage: Int = pl.sum
  val cells: Long = cellsPerMessage.toLong * hoursPerFile * files
  val denseCells: Long = lats.length.toLong * maxPl * hoursPerFile * files

  def fileName(day: Int): String =
    f"era5_t2m_${startDay.plusDays(day).toString.replace("-", "")}.grb2"

  /** q values of one day's 24 messages, row-major per message. */
  def dayValues(day: Int): Array[Array[Int]] = {
    val rnd = new SplittableRandom(seed * 1000003L + day)
    Array.tabulate(hoursPerFile) { h =>
      val out = new Array[Int](cellsPerMessage)
      var i = 0; var r = 0
      while (r < lats.length) {
        val lat = lats(r); var c = 0
        while (c < pl(r)) {
          val lon = c * 360.0 / pl(r)
          val v = 273.15 + 25 * math.cos(math.toRadians(lat)) - 0.1 * math.abs(lat) +
            5 * math.sin(2 * math.Pi * (h + day * 24 + lon / 15) / 24) +
            rnd.nextDouble() * 2 - 1
          out(i) = math.round(v * 100).toInt
          i += 1; c += 1
        }
        r += 1
      }
      out
    }
  }

  /** Writes the archive into `dir`; returns the paths and the checksums of
    * every cell written. */
  def write(spark: SparkSession, dir: String): (Seq[String], Sums) = {
    var sums = Sums()
    val paths = (0 until files).map { day =>
      val vals = dayValues(day)
      val t0 = startDay.plusDays(day).atStartOfDay()
      val msgs = (0 until hoursPerFile).map { h =>
        (167, t0.plusHours(h), lats.toSeq, Seq(0.0),
          vals(h).map(_ / 100.0))
      }
      var i = 0; var r = 0
      (0 until hoursPerFile).foreach { h =>
        val t = day.toLong * hoursPerFile + h
        i = 0; r = 0
        while (r < lats.length) {
          var c = 0
          while (c < pl(r)) {
            sums = sums + Sums.cell(vals(h)(i), t, lats(r), c * 360.0 / pl(r))
            i += 1; c += 1
          }
          r += 1
        }
      }
      val p = s"$dir/${fileName(day)}"
      GribFormat.writeFile(spark, p, msgs, decimalScale = 2, edition = 2,
        jpegPacking = true, gaussianN = Some(gaussN), reducedRows = Some(pl.toSeq))
      p
    }
    (paths, sums)
  }
}

/** CHIRPS-shaped daily precipitation on a regular 0.25° box: mostly dry
  * cells, exponential rain amounts at 2 decimals, −9999 for missing cells
  * and real NaNs. Every value the generator ever emitted for a day is kept
  * (revisions replace the day), so store contents and any read can be
  * checked against it. */
final class ChirpsArchive(val seed: Long, val nLat: Int, val nLon: Int,
    val start: LocalDate = LocalDate.of(2000, 1, 1)) {
  val lats: Array[Double] = Array.tabulate(nLat)(i => -9.875 + 0.25 * i)
  val lons: Array[Double] = Array.tabulate(nLon)(j => 10.125 + 0.25 * j)
  val cellsPerDay: Int = nLat * nLon
  val Missing = -9999.0
  private val days = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
  private val daySums = scala.collection.mutable.ArrayBuffer.empty[Sums]
  private var total = Sums()

  def nDays: Int = days.length
  def sums: Sums = total
  def dayOf(d: Int): LocalDate = start.plusDays(d)
  def values(d: Int): Array[Int] = days(d)

  /** q values for day `d`, revision `rev` (0 = the original file). NaN
    * markers stand for both −9999 and real NaN cells (the store holds NaN
    * for either); which one a file carries is drawn separately. */
  private def gen(d: Int, rev: Int): (Array[Int], Array[Double]) = {
    val rnd = new SplittableRandom((seed * 7919L + d) * 31 + rev)
    val q = new Array[Int](cellsPerDay)
    val raw = new Array[Double](cellsPerDay)
    var i = 0
    while (i < cellsPerDay) {
      val u = rnd.nextDouble()
      if (u < 0.01) { q(i) = Sums.Nan; raw(i) = Missing }
      else if (u < 0.015) { q(i) = Sums.Nan; raw(i) = Double.NaN }
      else if (u < 0.6) { q(i) = 0; raw(i) = 0.0 }
      else {
        val mm = math.min(300.0, -8.0 * math.log(1 - rnd.nextDouble()))
        q(i) = math.round(mm * 100).toInt
        raw(i) = q(i) / 100.0
      }
      i += 1
    }
    (q, raw)
  }

  private def sumsOf(d: Int, q: Array[Int]): Sums = {
    var s = Sums(); var i = 0
    while (i < cellsPerDay) {
      s = s + Sums.cell(q(i), d, lats(i / nLon), lons(i % nLon)); i += 1
    }
    s
  }

  /** Records day `d` at revision `rev` as the current truth; returns the
    * raw file values. */
  private def land(d: Int, rev: Int): Array[Double] = {
    val (q, raw) = gen(d, rev)
    val s = sumsOf(d, q)
    if (d < days.length) { total = total - daySums(d) + s; days(d) = q; daySums(d) = s }
    else { require(d == days.length, s"day $d lands out of order"); days += q; daySums += s; total = total + s }
    raw
  }

  private def writeNc(spark: SparkSession, path: String, first: Int,
      raws: Seq[Array[Double]]): Unit = {
    val epoch = LocalDate.of(1980, 1, 1)
    val data = new Array[Double](raws.length * cellsPerDay)
    raws.zipWithIndex.foreach { case (r, k) =>
      System.arraycopy(r, 0, data, k * cellsPerDay, cellsPerDay) }
    NcFormat.writeFile(spark, path,
      dims = Seq("time" -> raws.length, "latitude" -> nLat, "longitude" -> nLon),
      vars = Seq(
        NcFormat.WriteVar("time", Seq("time"), NcFormat.NcInt,
          Array.tabulate(raws.length)(k =>
            (epoch.until(dayOf(first + k), java.time.temporal.ChronoUnit.DAYS)).toDouble),
          attrs = Seq("units" -> "days since 1980-01-01 00:00:00",
            "calendar" -> "gregorian")),
        NcFormat.WriteVar("latitude", Seq("latitude"), NcFormat.NcDouble, lats),
        NcFormat.WriteVar("longitude", Seq("longitude"), NcFormat.NcDouble, lons),
        NcFormat.WriteVar("precip", Seq("time", "latitude", "longitude"),
          NcFormat.NcFloat, data, attrs = Seq("units" -> "mm/day"))),
      recordDim = Some("time"),
      gattrs = Seq("title" -> "CHIRPS-shaped daily precipitation"))
  }

  /** The history: `days` days from the start in one classic NetCDF file,
    * the way CHIRPS ships its back catalogue in multi-day files. */
  def writeHistory(spark: SparkSession, dir: String, days: Int): String = {
    require(nDays == 0, "history is written once")
    val raws = (0 until days).map(land(_, 0))
    val p = s"$dir/chirps-v2.0.${start.getYear}.days_p25.nc"
    writeNc(spark, p, 0, raws)
    p
  }

  /** Lands one daily file: the next day (`day = nDays`) or a revision of a
    * past day. */
  def writeDaily(spark: SparkSession, dir: String, day: Int, rev: Int): String = {
    val raw = land(day, rev)
    val dt = dayOf(day)
    val p = f"$dir/chirps-v2.0.${dt.getYear}.${dt.getMonthValue}%02d.${dt.getDayOfMonth}%02d.r$rev.nc"
    writeNc(spark, p, day, Seq(raw))
    p
  }

  def time(d: Int): LocalDateTime = dayOf(d).atStartOfDay()
}
