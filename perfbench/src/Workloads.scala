package graft.perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.DatasetManager
import graft.managers.{ChirpsLikeManager, Era5LikeManager}
import graft.model.{DatasetDescriptor, TimeUnitKind}
import graft.ops.{Normalize, QcDrivers}
import graft.sources.Manifest
import graft.store.{GridStore, ZarrStore}

/** One timed operation of the closed loop. `layout` is "grid" (the parquet
  * GridStore) or "zarr"; `cells` is the work it did, for throughput. A
  * failed operation (exception or oracle mismatch) carries no timing. */
final case class OpResult(layout: String, kind: String, secs: Double,
    cells: Long, ok: Boolean, traced: Boolean)

/** Input sizes of a workload, for the report. */
final case class Sizes(files: Long, messages: Long, cells: Long, bytes: Long)

/** Everything a workload needs from the runner. */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
    val smoke: Boolean, val fault: Boolean, val traceRun: Boolean, val tr: Tracer) {
  def fs = GridStore.fileSystem(spark, dir)
  def rm(p: String): Unit = fs.delete(new HPath(p), true)
  def mkdirs(p: String): Unit = fs.mkdirs(new HPath(p))
  /** Bytes of every file under `p` whose path does not contain `skip`
    * (checksum sidecars included: they are on disk too). */
  def du(p: String, skip: String = ""): Long = {
    val it = fs.listFiles(new HPath(p), true)
    var b = 0L
    while (it.hasNext) {
      val f = it.next()
      if (skip.isEmpty || !f.getPath.toString.contains(skip)) b += f.getLen
    }
    b
  }
}

object Oracle {
  /** The checksums of a store frame, in one aggregation. NaN and null
    * values both count as NaN cells (a fill value reads as either). */
  def sums(df: DataFrame, valueCol: String, t0: LocalDateTime, unitSec: Long): Sums = {
    val v = col(valueCol).cast("double")
    val isNan = col(valueCol).isNull || isnan(v)
    val q = when(isNan, lit(0L)).otherwise(round(v * 100).cast("long"))
    val t0Sec = t0.toEpochSecond(java.time.ZoneOffset.UTC)
    val t = ((unix_seconds(col("time").cast("timestamp")) - lit(t0Sec)) / lit(unitSec))
      .cast("long")
    val r = df.agg(count(lit(1)), sum(when(isNan, 1L).otherwise(0L)), sum(q),
      sum(q * (t + 1)), sum(when(col("latitude") > 0, q).otherwise(0L)),
      sum(when(col("longitude") < 0, q).otherwise(0L))).head()
    def l(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
    Sums(l(0), l(1), l(2), l(3), l(4), l(5))
  }

  def check(what: String, got: Sums, want: Sums): Boolean = {
    val ok = got == want
    if (!ok) System.err.println(s"[perfbench] ORACLE MISMATCH $what: got $got want $want")
    ok
  }
}

/** A workload: repeated set-up, then a closed loop of steps with one
  * client. Each step runs its GridStore operation, then the same operation
  * on the ZarrStore. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def tr: Tracer = ctx.tr
  /** Builds inputs (and stores) from scratch under `dir`. */
  def setup(dir: String): Unit
  /** Set-ups per run; `setup_s` is their median. */
  def setupReps: Int = 3
  /** Untimed operations that fill caches and finish lazy set-up. */
  def warmup(): Unit
  def step(i: Int, traced: Boolean): Seq[OpResult]
  /** Steps per rotation of the workload's operation kinds. */
  def rotation: Int = 1
  /** Steps a run times even past `--seconds`: a median needs samples. */
  def minSteps: Int = 1
  /** Final oracle over the stores the loop left; false on mismatch. */
  def finalCheck(): Boolean
  /** Traced-run probes outside the timed operations (scan-only actions). */
  def probes(): Seq[(String, Double, String)] = Nil
  /** Consumer reads of the stores the loop left, after the loop; their
    * timings are reported apart from the loop's. */
  def readPhase(traced: Boolean): Seq[OpResult] = Nil
  def sizes: Sizes
  /** Decoded size of the working set: cells × one UnsafeRow of the
    * scanned (time, latitude, longitude, value) columns. */
  def decodedBytes: Long = sizes.cells * 40L
  /** (bytes on disk, cells published) per layout, after the run. */
  def storeFootprint: Map[String, (Long, Long)]
  /** Extra per-workload report lines (name, value, unit). */
  def extra: Seq[(String, Double, String)] = Nil

  /** Mean task count of the spans named `name`. */
  protected def meanTasks(name: String): Double = {
    val ss = tr.spans.filter(_.name == name)
    ss.map(s => Option(tr.counts.get(s.id)).map(_.tasks).getOrElse(0L)).sum /
      math.max(1, ss.length).toDouble
  }

  protected def timed(layout: String, kind: String, cells: Long, traced: Boolean)
      (body: => Boolean): OpResult = {
    val t0 = System.nanoTime()
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $layout $kind failed: $e")
        false
    }
    OpResult(layout, kind, (System.nanoTime() - t0) / 1e9, cells, ok, traced)
  }

  /** The body of `DatasetManager.run(postParseQc = true)` followed by
    * `publishMetadata`, as the public calls it composes, each inside its
    * layer span: the traced form of the GridStore operation. The traced and
    * untraced runs of a seed must publish identical checksums, which pins
    * this decomposition to `run`. */
  protected def tracedRun(mgr: DatasetManager): Unit = {
    val desc = mgr.desc
    val df = tr.span("manager.transform_plan") { mgr.transform() }
    tr.span("qc.pre_parse") {
      QcDrivers.preParseQualityCheck(df, desc, hasExisting = mgr.store.hasExisting)
    }
    tr.span("gridstore.publish") { mgr.store.publish(df) }
    tr.span("qc.post_parse") {
      val files = mgr.inputFiles()
      val bad = QcDrivers.postParseQualityCheck(spark, mgr.store.readRange, files,
        f => Normalize.normalize(Manifest.openInput(spark, f), desc,
          pre = mgr.preprocess, post = mgr.postprocess),
        desc.standardDims, desc.dataVar, desc, maxChecks = 100)
      if (bad.limit(1).count() > 0)
        throw new IllegalStateException("post-parse QC found mismatched cells")
    }
    tr.span("stac.publish_metadata") { mgr.publishMetadata() }
  }

  protected def untracedRun(mgr: DatasetManager): Unit = {
    mgr.run(postParseQc = true)
    mgr.publishMetadata()
  }
}

// ------------------------------------------------------------- era5_backfill

/** The initial ingest: an hourly GRIB2 archive (one day per file) scanned,
  * normalized, QC-gated and published into a new GridStore with STAC
  * metadata, then published again into a new ZarrStore. */
final class Era5Backfill(c: Ctx) extends Workload(c) {
  val arch = new Era5Archive(ctx.seed, files = 3, gaussN = 8, maxPl = 32)
  private var root = ""
  private var faultRoot = ""
  private var paths = Seq.empty[String]
  private var want = Sums()
  private var archiveBytes = 0L
  private val t0 = arch.startDay.atStartOfDay()
  // generating the archive takes a fraction of a second: more repetitions
  // keep its median steady
  override def setupReps: Int = 7
  override def minSteps: Int = 4
  private var lastGrid = (0L, 0L)
  private var lastZarr = (0L, 0L)

  def setup(dir: String): Unit = {
    root = s"$dir/era5"
    ctx.mkdirs(s"$root/input")
    val (p, s) = arch.write(spark, s"$root/input")
    paths = p; want = s
    archiveBytes = ctx.du(s"$root/input")
    if (ctx.fault) {
      // the same archive with one file cut mid-message
      faultRoot = s"$dir/era5_fault"
      ctx.mkdirs(s"$faultRoot/input")
      p.zipWithIndex.foreach { case (src, k) =>
        val in = ctx.fs.open(new HPath(src))
        val bytes = try in.readAllBytes() finally in.close()
        val keep = if (k == p.length / 2) bytes.length * 2 / 3 else bytes.length
        val out = ctx.fs.create(new HPath(s"$faultRoot/input/${new HPath(src).getName}"), true)
        try out.write(bytes, 0, keep) finally out.close()
      }
    }
  }

  def sizes: Sizes = Sizes(arch.files, arch.files.toLong * arch.hoursPerFile,
    arch.cells, archiveBytes)

  private def zarrFor(mgr: Era5LikeManager): ZarrStore =
    new ZarrStore(spark, s"${mgr.storePath}.zarr", mgr.desc, timeChunk = 24)

  private def gridOp(r: String, traced: Boolean): OpResult = {
    val mgr = new Era5LikeManager(spark, r)
    ctx.rm(mgr.storePath)
    val res = timed("grid", "backfill", arch.cells, traced) {
      if (traced) tr.span("op.grid_backfill") { tracedRun(mgr) } else untracedRun(mgr)
      true
    }
    if (res.ok && r == root) lastGrid = (ctx.du(mgr.storePath, "/_stac"), arch.cells)
    res
  }

  private def zarrOp(r: String, traced: Boolean): OpResult = {
    val mgr = new Era5LikeManager(spark, r)
    val z = zarrFor(mgr)
    ctx.rm(z.path)
    val res = timed("zarr", "backfill", arch.cells, traced) {
      if (traced) tr.span("op.zarr_backfill") {
        val df = tr.span("manager.transform_plan") { mgr.transform() }
        tr.span("zarrstore.publish") { z.publish(df) }
      } else z.publish(mgr.transform())
      true
    }
    if (res.ok && r == root) lastZarr = (ctx.du(z.path), arch.cells)
    res
  }

  // one untimed backfill of both layouts: the JIT is still compiling the
  // decode and write paths for tens of seconds after their first use
  def warmup(): Unit = Seq(gridOp(root, traced = false), zarrOp(root, traced = false))

  def step(i: Int, traced: Boolean): Seq[OpResult] = {
    val r = if (ctx.fault && i % 2 == 1) faultRoot else root
    val ops = Seq(gridOp(r, traced), zarrOp(r, traced))
    // a traced run checks every backfill, traced or not: both forms of the
    // lifecycle must publish the generator's checksums
    if (ctx.traceRun && r == root && ops.forall(_.ok) && !finalCheck())
      ops.map(_.copy(ok = false))
    else ops
  }

  /** The stores of the last clean backfill against the archive: the
    * GridStore holds exactly the archive's cells; the dense zarr grid holds
    * them plus fill (NaN) where a reduced row has no point. */
  def finalCheck(): Boolean = {
    val mgr = new Era5LikeManager(spark, root)
    val fill = arch.denseCells - arch.cells
    Oracle.check("gridstore after backfill",
      Oracle.sums(mgr.store.dataset(), "t2m", t0, 3600), want) &&
      Oracle.check("zarrstore after backfill",
        Oracle.sums(zarrFor(mgr).dataset(), "t2m", t0, 3600),
        want.copy(rows = want.rows + fill, nans = want.nans + fill))
  }

  def storeFootprint: Map[String, (Long, Long)] = Map("grid" -> lastGrid, "zarr" -> lastZarr)

  override def probes(): Seq[(String, Double, String)] = {
    val mgr = new Era5LikeManager(spark, root)
    def best(n: Int)(f: => Unit): Double =
      (0 until n).map { _ => val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }.min
    var files = Seq.empty[String]
    val listS = best(2) { files = tr.span("manifest.list") { mgr.inputFiles() } }
    val scanS = best(2) {
      tr.span("grib.scan") {
        Manifest.multiScan(spark, files).agg(count(lit(1)), sum("value")).collect()
      }
    }
    tr.drain()
    val scanTasks = meanTasks("grib.scan")
    val normS = best(2) {
      tr.span("normalize.scan") { mgr.transform().agg(count(lit(1)), sum("t2m")).collect() }
    }
    Seq(("manifest.files", files.length.toDouble, "count"),
      ("manifest.list_s", listS, "s"),
      ("grib.scan_s", scanS, "s"),
      ("grib.decode_mb_per_s", archiveBytes / 1e6 / scanS, "MB/s"),
      ("grib.cells_per_s", arch.cells / scanS, "1/s"),
      ("grib.tasks", scanTasks, "count"),
      ("normalize.extra_s", normS - scanS, "s"))
  }

  override def extra: Seq[(String, Double, String)] = Seq(
    ("input.dense_zarr_cells", arch.denseCells.toDouble, "count"),
    ("qc.post_parse.files", arch.files.toDouble, "count"))
}

// ---------------------------------------------------- CHIRPS-shaped stores

/** A manager with `ChirpsLikeManager`'s descriptor, bucket span and
  * postprocess hook, whose inputs are the default listing — classic
  * NetCDF landing files scanned natively. */
final class NcChirpsManager(val spark: SparkSession, root: String) extends DatasetManager {
  private val chirps = new ChirpsLikeManager(spark, root, (_, _) => ())
  val desc: DatasetDescriptor = chirps.desc
  val storePath: String = chirps.storePath
  val inputDir: String = chirps.inputDir
  override def bucketSpan: TimeUnitKind = chirps.bucketSpan
  override def postprocess(df: DataFrame): DataFrame = chirps.postprocess(df)
}

/** The incremental update: a half-year CHIRPS-shaped history is published
  * untimed to a GridStore (monthly buckets) and a ZarrStore (31-day time
  * chunks). Each timed cycle lands one daily file, runs the manager
  * (post-parse QC on), publishes metadata and archives the input; the same
  * delta then goes to the ZarrStore. Every fourth cycle is a revision of a
  * seeded past day (an insert that rewrites one bucket or chunk); the rest
  * append the next day. After the loop, consumers read the updated stores:
  * window, point-series and cold-reopen reads on both layouts. */
final class ChirpsNightly(c: Ctx) extends Workload(c) {
  val historyDays: Int = if (ctx.smoke) 92 else 183
  val nLat: Int = if (ctx.smoke) 12 else 32
  val nLon: Int = if (ctx.smoke) 16 else 40
  private var arch: ChirpsArchive = _
  private var mgr: NcChirpsManager = _
  private var zarr: ZarrStore = _
  private var historyBytes = 0L
  private var rnd: SplittableRandom = _
  private val revs = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
  private def t0: LocalDateTime = arch.time(0)

  private def zarrAt(path: String): ZarrStore =
    new ZarrStore(spark, path, mgr.desc, timeChunk = 31)

  def setup(dir: String): Unit = {
    arch = new ChirpsArchive(ctx.seed, nLat, nLon)
    mgr = new NcChirpsManager(spark, s"$dir/chirps")
    ctx.mkdirs(mgr.inputDir)
    arch.writeHistory(spark, mgr.inputDir, historyDays)
    historyBytes = ctx.du(mgr.inputDir)
    // the history goes straight to both stores (no QC gates): set-up
    // builds the state the timed cycles start from
    val history = mgr.transform()
    mgr.store.publish(history)
    zarr = zarrAt(s"${mgr.storePath}.zarr")
    zarr.publish(history)
    Manifest.archiveOriginals(spark, mgr.inputFiles())
    rnd = new SplittableRandom(ctx.seed ^ 0x5DEECE66DL)
    revs.clear()
  }

  def sizes: Sizes = Sizes(1, 0, historyDays.toLong * arch.cellsPerDay, historyBytes)

  def finalCheck(): Boolean =
    Oracle.check("gridstore", Oracle.sums(mgr.store.dataset(), "precip", t0, 86400), arch.sums) &&
      Oracle.check("zarrstore", Oracle.sums(zarr.dataset(), "precip", t0, 86400), arch.sums)

  def storeFootprint: Map[String, (Long, Long)] = {
    val cells = arch.nDays.toLong * arch.cellsPerDay
    Map("grid" -> (ctx.du(mgr.storePath, "/_stac"), cells),
      "zarr" -> (ctx.du(zarr.path), cells))
  }

  private def deltaFrame(path: String): DataFrame =
    Normalize.normalize(Manifest.openInput(spark, path), mgr.desc,
      pre = mgr.preprocess, post = mgr.postprocess)

  def warmup(): Unit = step(-1, traced = false)

  override def rotation: Int = 4
  override def minSteps: Int = 5

  def step(i: Int, traced: Boolean): Seq[OpResult] = {
    val insert = i % 4 == 3
    val day = if (insert) rnd.nextInt(arch.nDays - 1) else arch.nDays
    if (insert) revs(day) += 1
    val kind = if (insert) "insert" else "append"
    arch.writeDaily(spark, mgr.inputDir, day, revs(day))
    var archived = Seq.empty[String]
    val g = timed("grid", kind, arch.cellsPerDay, traced) {
      if (traced) tr.span("op.grid_" + kind) {
        val isNew = tr.span("manager.check_new_data") { mgr.checkIfNewData() }
        tracedRun(mgr)
        archived = tr.span("manifest.archive") {
          Manifest.archiveOriginals(spark, mgr.inputFiles()) }
        isNew == !insert
      } else {
        val isNew = mgr.checkIfNewData()
        untracedRun(mgr)
        archived = Manifest.archiveOriginals(spark, mgr.inputFiles())
        isNew == !insert
      }
    }
    if (!g.ok) System.err.println(s"[perfbench] cycle $kind of day $day: check failed")
    if (archived.isEmpty) // a failed run leaves the file in place
      archived = Manifest.archiveOriginals(spark, mgr.inputFiles())
    val z = timed("zarr", kind, arch.cellsPerDay, traced) {
      if (traced) tr.span("op.zarr_" + kind) {
        val df = tr.span("normalize.plan") { deltaFrame(archived.head) }
        tr.span("zarrstore.publish") { zarr.publish(df) }
      } else zarr.publish(deltaFrame(archived.head))
      true
    }
    Seq(g, z)
  }

  override def probes(): Seq[(String, Double, String)] = {
    val f = ctx.fs.listStatus(new HPath(s"${mgr.inputDir}_originals"))
      .filter(_.getPath.getName.endsWith(".nc")).maxBy(_.getModificationTime)
    val p = f.getPath.toString
    val times = (0 until 3).map { _ =>
      val t = System.nanoTime()
      tr.span("nc.scan") {
        spark.read.format("netcdf").load(p).agg(count(lit(1)), sum("precip")).collect()
      }
      (System.nanoTime() - t) / 1e9
    }
    tr.drain()
    Seq(("nc.scan_s", times.min, "s"), ("nc.decode_mb_per_s", f.getLen / 1e6 / times.min, "MB/s"),
      ("nc.tasks", meanTasks("nc.scan"), "count"))
  }

  override def extra: Seq[(String, Double, String)] = Seq(
    ("qc.post_parse.files", 1.0, "count"))

  // ------------------------------------------------------------ read phase

  /** Window reads of 1, 2 and 3 months, point-series reads and cold
    * reopens, each on both layouts with the same seeded parameters. */
  override def readPhase(traced: Boolean): Seq[OpResult] = {
    val kinds = Seq("window", "point", "reopen", "window", "point", "reopen", "window")
    kinds.zipWithIndex.flatMap { case (k, n) => read(k, n, traced) }
  }

  private def windowQuery(df: DataFrame, la: (Double, Double), lo: (Double, Double))
      : Map[Long, (Long, Long)] = {
    val v = col("precip").cast("double")
    df.filter(col("latitude").between(la._1, la._2) && col("longitude").between(lo._1, lo._2) &&
        col("precip").isNotNull && !isnan(v))
      .groupBy("time").agg(count(lit(1)), sum(round(v * 100).cast("long")))
      .collect().map { r =>
        val t = r.get(0) match {
          case x: LocalDateTime => x
          case x => throw new IllegalStateException(s"time $x")
        }
        java.time.Duration.between(t0, t).toDays -> (r.getLong(1), r.getLong(2))
      }.toMap
  }

  private def read(kind: String, n: Int, traced: Boolean): Seq[OpResult] = {
    val nDays = arch.nDays
    kind match {
      case "window" =>
        val months = 1 + n / 3
        val s = rnd.nextInt(nDays - 31 * months)
        val e = s + 30 * months
        val la0 = rnd.nextInt(nLat - nLat / 4); val lo0 = rnd.nextInt(nLon - nLon / 4)
        val la = (arch.lats(la0) - 0.01, arch.lats(la0 + nLat / 4 - 1) + 0.01)
        val lo = (arch.lons(lo0) - 0.01, arch.lons(lo0 + nLon / 4 - 1) + 0.01)
        val want = (s to e).flatMap { d =>
          val q = arch.values(d)
          var cnt = 0L; var sq = 0L
          for (a <- la0 until la0 + nLat / 4; b <- lo0 until lo0 + nLon / 4) {
            val x = q(a * nLon + b)
            if (x != Sums.Nan) { cnt += 1; sq += x }
          }
          if (cnt > 0) Some(d.toLong -> (cnt, sq)) else None
        }.toMap
        val cells = (e - s + 1).toLong * (nLat / 4) * (nLon / 4)
        Seq(readOp("grid", kind, cells, traced) {
          windowQuery(mgr.store.readRange(arch.time(s), arch.time(e)), la, lo) == want
        }, readOp("zarr", kind, cells, traced) {
          windowQuery(zarr.readRange(arch.time(s), arch.time(e)), la, lo) == want
        })
      case "point" =>
        val a = rnd.nextInt(nLat); val b = rnd.nextInt(nLon)
        val (lat, lon) = (arch.lats(a), arch.lons(b))
        var nan = 0L; var sq = 0L
        (0 until nDays).foreach { d =>
          val x = arch.values(d)(a * nLon + b)
          if (x == Sums.Nan) nan += 1 else sq += x
        }
        def series(df: DataFrame): Boolean = {
          val vals = df.filter(col("latitude") === lat && col("longitude") === lon)
            .select(col("precip").cast("double")).collect()
            .map(r => if (r.isNullAt(0)) Double.NaN else r.getDouble(0))
          vals.length == nDays && vals.count(_.isNaN) == nan &&
            vals.filterNot(_.isNaN).map(v => math.round(v * 100)).sum == sq
        }
        Seq(readOp("grid", kind, nDays, traced) { series(mgr.store.dataset()) },
          readOp("zarr", kind, nDays, traced) { series(zarr.dataset()) })
      case _ =>
        // the GridStore records the end date (yyyyMMddHH); the ZarrStore
        // only the last publish's update range, so it is checked by name
        val end = arch.dayOf(nDays - 1)
        def reopen(has: => Boolean, attrs: => Map[String, String], key: String, want: String,
            schema: => Seq[String]) =
          has && attrs.get(key).exists(_.startsWith(want)) &&
            Seq("time", "latitude", "longitude", "precip").forall(schema.contains)
        Seq(readOp("grid", kind, 0, traced) {
          val s = new GridStore(spark, mgr.storePath, mgr.desc, mgr.bucketSpan)
          reopen(s.hasExisting, s.readAttrs(), "date_range_end", end.toString.replace("-", ""),
            s.dataset().schema.fieldNames.toSeq)
        }, readOp("zarr", kind, 0, traced) {
          val s = zarrAt(zarr.path)
          reopen(s.hasExisting, s.readAttrs(), "dataset_name", mgr.desc.datasetName,
            s.dataset().schema.fieldNames.toSeq)
        })
    }
  }

  private def readOp(layout: String, kind: String, cells: Long, traced: Boolean)
      (body: => Boolean): OpResult = {
    val store = if (layout == "grid") "gridstore" else "zarrstore"
    val step = if (kind == "reopen") "reopen" else "read"
    timed(layout, kind, cells, traced) {
      if (traced) tr.span(s"read.${layout}_$kind") { tr.span(s"$store.$step") { body } }
      else body
    }
  }
}
