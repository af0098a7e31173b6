package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample. With ten or fewer samples it is the maximum (no
    * sample beyond). Returns (value, percentile, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) =
    if (xs.isEmpty) (Double.NaN, 0.0, 0)
    else {
      val s = xs.sorted; val n = s.length
      if (n >= 11) (s(n - 11), 100.0 * (n - 10) / n, 10) else (s.last, 100.0, 0)
    }
}

/** Gridded-ETL lifecycle benchmark: one workload per JVM, a closed loop
  * with a single client on `local[n]`.
  *
  * {{{
  * PerfBench --workload era5_backfill|chirps_nightly --seed N
  *   --seconds S --trace 0|1 --work DIR [--size full|smoke] [--fault truncate-grib]
  *   [--commit ID]
  * }}}
  *
  * Prints a report (one `metric <name> <value> <unit>` line per figure)
  * and, as its last line, one JSON object: end-to-end metrics with
  * `--trace 0`, per-layer metrics with `--trace 1`. */
object PerfBench {
  private val Formats = Seq("grib1", "netcdf", "zarr")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = need("work")
    val smoke = opt.get("size").contains("smoke")
    val fault = opt.get("fault").contains("truncate-grib")

    // pre-flight, before any timer: every scan format must resolve through
    // META-INF/services, else each format() call fails fast and a loop
    // would time failures
    val registered = java.util.ServiceLoader
      .load(classOf[org.apache.spark.sql.sources.DataSourceRegister])
      .asScala.map(_.shortName()).toSet
    val missing = Formats.filterNot(registered)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] data sources not registered: ${missing.mkString(", ")}")
      sys.exit(3)
    }

    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(spark, workload, seed, seconds, trace, work, smoke, fault,
      cores, opt.getOrElse("commit", "unknown"))
    finally spark.stop()
    sys.exit(code)
  }

  private def metric(name: String, v: Double, unit: String): Unit =
    println(f"metric $name%-40s ${fmt(v)}%s $unit")

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def peakRssMb: Double = {
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
    hwm.getOrElse {
      val m = java.lang.management.ManagementFactory.getMemoryMXBean
      (m.getHeapMemoryUsage.getCommitted + m.getNonHeapMemoryUsage.getCommitted) / 1048576.0
    }
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, smoke: Boolean, fault: Boolean, cores: Int,
      commit: String): Int = {
    val tr = new Tracer(spark, s"$workload-$seed")
    val ctx = new Ctx(spark, s"$work/data", seed, smoke, fault, trace, tr)
    val wl: Workload = workload match {
      case "era5_backfill" => new Era5Backfill(ctx)
      case "chirps_nightly" => new ChirpsNightly(ctx)
      case other => System.err.println(s"unknown workload $other"); return 2
    }
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val storageMem = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    println(s"env workload=$workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      s"size=${if (smoke) "smoke" else "full"} cores=$cores nproc=${Runtime.getRuntime.availableProcessors} " +
      s"heap_mb=${Runtime.getRuntime.maxMemory / 1048576} storage_memory_mb=${storageMem / 1048576} " +
      f"loadavg=${os.getSystemLoadAverage}%.2f commit=$commit")
    println("env load=closed loop, one client; each step runs the GridStore operation, then the ZarrStore one")

    // set-up, repeated: each repetition builds inputs (and stores) from
    // scratch; the last one is kept
    val setups = (0 until (if (smoke) 1 else wl.setupReps)).map { k =>
      ctx.rm(ctx.dir)
      val t0 = System.nanoTime()
      wl.setup(s"${ctx.dir}/setup$k")
      (System.nanoTime() - t0) / 1e9
    }
    println(s"env setup_s_each=${setups.map(x => f"$x%.3f").mkString(",")}")
    val warmT0 = System.nanoTime()
    wl.warmup()
    println(f"env warmup_s=${(System.nanoTime() - warmT0) / 1e9}%.3f")

    val results = scala.collection.mutable.ArrayBuffer.empty[OpResult]
    val loopStart = System.nanoTime()
    var i = 0
    // a traced run needs at least one traced and one untraced step
    val minSteps = math.max(if (trace) 2 else 1, if (smoke) 1 else wl.minSteps)
    while (i < minSteps || (System.nanoTime() - loopStart) / 1e9 < seconds) {
      // the traced run interleaves traced and untraced steps, so tracing
      // overhead is a paired figure from one process
      // steps rotate through the workload's kinds; shifting the parity
      // every rotation traces each kind as often as it leaves it untraced
      val traced = trace && (i + (if (wl.rotation > 1) i / wl.rotation else 0)) % 2 == 1
      if (traced) tr.enable()
      try results ++= wl.step(i, traced) finally if (traced) tr.disable()
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val finalOk = try wl.finalCheck() catch {
      case e: Throwable => System.err.println(s"[perfbench] final check failed: $e"); false
    }
    // consumer reads of what the loop left (traced in a traced run)
    val reads = {
      if (trace) tr.enable()
      try wl.readPhase(trace) finally tr.disable()
    }
    val probes = if (trace) {
      tr.enable()
      try wl.probes() finally tr.disable()
    } else Nil

    (results ++ reads).zipWithIndex.foreach { case (r, k) =>
      println(f"op $k%4d ${r.layout}%-4s ${r.kind}%-8s ${r.secs}%.4f s " +
        s"${if (r.ok) "ok" else "FAILED"}${if (r.traced) " traced" else ""}")
    }
    val attempted = results.length + reads.length
    val failed = (results ++ reads).count(!_.ok)
    val timedOps = results.toSeq.filter(r => r.ok && !r.traced)
    val sizes = wl.sizes
    println(s"env input files=${sizes.files} messages=${sizes.messages} cells=${sizes.cells} " +
      s"bytes=${sizes.bytes} decoded_bytes=${wl.decodedBytes} storage_memory_bytes=$storageMem " +
      s"working_set_exceeds_storage_memory=${wl.decodedBytes > storageMem}")
    println(f"env loop_s=$loopS%.3f steps=$i attempted=$attempted failed=$failed " +
      s"timed=${timedOps.length} traced=${results.count(_.traced)}")

    // end-to-end figures, from untraced operations only
    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    e2e("setup_s") = (Stats.median(setups), "s")
    Seq("grid", "zarr").foreach { l =>
      val ops = timedOps.filter(_.layout == l)
      val secs = ops.map(_.secs)
      e2e(s"${l}_op_p50_s") = (Stats.median(secs), "s")
      val work = ops.filter(_.cells > 0)
      e2e(s"${l}_cells_per_s") = (work.map(_.cells).sum / work.map(_.secs).sum, "1/s")
      val (bytes, cells) = wl.storeFootprint(l)
      e2e(s"${l}_bytes_per_cell") = (bytes.toDouble / cells, "B")
    }
    e2e("peak_rss_mb") = (peakRssMb, "MB")

    // the figures by the lifecycle's own names, per workload
    val named = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val timedReads = reads.filter(r => r.ok && !r.traced)
    def p50(ops: Seq[OpResult], l: String, k: String) =
      (Stats.median(ops.filter(r => r.layout == l && (k == "" || r.kind == k)).map(_.secs)), "s")
    // the highest percentile with ten samples beyond it: undefined (null)
    // below eleven samples
    def tailOf(ops: Seq[OpResult], l: String, name: String) = {
      val secs = ops.filter(_.layout == l).map(_.secs)
      val (v, p, beyond) = Stats.tail(secs)
      println(f"env $name percentile=p$p%.1f samples=${secs.length} beyond=$beyond")
      (if (beyond >= 10) v else Double.NaN, "s")
    }
    named("setup_s") = e2e("setup_s")
    workload match {
      case "era5_backfill" =>
        named("backfill_cells_per_s") = e2e("grid_cells_per_s")
        named("zarr_backfill_cells_per_s") = e2e("zarr_cells_per_s")
      case _ =>
        named("append_p50_s") = p50(timedOps, "grid", "append")
        named("insert_p50_s") = p50(timedOps, "grid", "insert")
        named("update_tail_s") = tailOf(timedOps, "grid", "update_tail_s")
        named("zarr_append_p50_s") = p50(timedOps, "zarr", "append")
        named("zarr_insert_p50_s") = p50(timedOps, "zarr", "insert")
        named("zarr_update_tail_s") = tailOf(timedOps, "zarr", "zarr_update_tail_s")
        Seq("window", "point", "reopen").foreach { k =>
          named(s"read_${k}_p50_s") = p50(timedReads, "grid", k)
          named(s"zarr_read_${k}_p50_s") = p50(timedReads, "zarr", k)
        }
        named("read_p50_s") = p50(timedReads, "grid", "")
        named("read_tail_s") = tailOf(timedReads, "grid", "read_tail_s")
        named("zarr_read_p50_s") = p50(timedReads, "zarr", "")
        named("zarr_read_tail_s") = tailOf(timedReads, "zarr", "zarr_read_tail_s")
    }
    named("store_bytes_per_cell") = e2e("grid_bytes_per_cell")
    named("zarr_store_bytes_per_cell") = e2e("zarr_bytes_per_cell")
    named("peak_rss_mb") = e2e("peak_rss_mb")
    named("failed_ratio") = (failed.toDouble / math.max(1, attempted), "ratio")
    named.foreach { case (k, (v, u)) => metric(k, v, u) }
    wl.extra.foreach { case (k, v, u) => metric(k, v, u) }

    val layer = if (trace) layerMetrics(tr, (results ++ reads).toSeq, cores) ++
      probes.map { case (k, v, u) => k -> (v, u) } else Map.empty[String, (Double, String)]
    layer.toSeq.sortBy(_._1).foreach { case (k, (v, u)) => metric(k, v, u) }
    if (trace) {
      val out = new java.io.PrintWriter(s"$work/trace_spans.json")
      try out.write(tr.toJson) finally out.close()
      println(s"env trace_spans=$work/trace_spans.json spans=${tr.spans.length}")
    }

    val chosen: Seq[(String, (Double, String))] =
      if (trace) PerLayer.map(k => k -> layer.getOrElse(k, (Double.NaN, "?")))
      else e2e.toSeq
    val allFinite = chosen.forall { case (_, (v, _)) => !v.isNaN && !v.isInfinite }
    val correct = failed == 0 && finalOk && allFinite
    val metricsJson = chosen.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "0" else fmt(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$metricsJson}}""")
    0
  }

  /** The per-layer metrics every workload produces (the JSON line of a
    * traced run); the rest are printed as report lines only. */
  val PerLayer: Seq[String] = Seq(
    "spark.plan_s", "spark.exec_s", "spark.queries", "spark.jobs", "spark.tasks",
    "spark.driver_gap_s", "spark.busy_ratio", "jvm.gc_s",
    "gridstore.self_s", "gridstore.jobs", "gridstore.tasks", "gridstore.bytes_read",
    "zarrstore.self_s", "zarrstore.jobs", "zarrstore.tasks", "zarrstore.bytes_read",
    "trace.overhead_ratio", "trace.attributed_ratio")

  /** Folds the traced operations' spans into per-layer figures. Per-op
    * figures are means over the traced operations; per-span figures
    * (`<layer>.<step>_s` and friends) are means per span. */
  def layerMetrics(tr: Tracer, results: Seq[OpResult], cores: Int)
      : Map[String, (Double, String)] = {
    tr.drain()
    val rep = new SpanReport(tr)
    // loop steps are "op.<layout>_<kind>" roots, read-phase reads
    // "read.<layout>_<kind>" roots; the JSON figures are per loop step
    val allRoots = tr.spans.filter(s => s.parent == 0 &&
      (s.name.startsWith("op.") || s.name.startsWith("read."))).sortBy(_.id).toSeq
    val roots = allRoots.filter(_.name.startsWith("op."))
    val tracedOps = results.filter(_.traced)
    val out = scala.collection.mutable.Map.empty[String, (Double, String)]
    if (roots.isEmpty) return out.toMap
    val n = roots.length.toDouble
    val qs = roots.flatMap(rep.queriesIn)
    out("spark.plan_s") = (qs.map(_.planMs).sum / 1000.0 / n, "s")
    out("spark.exec_s") = (qs.map(_.execNs).sum / 1e9 / n, "s")
    out("spark.queries") = (qs.length / n, "count")
    out("spark.jobs") = (roots.map(r => rep.jobsOf(rep.subtree(r).toSet).size).sum / n, "count")
    out("spark.tasks") = (roots.map(r => rep.subtree(r).map(id =>
      Option(tr.counts.get(id)).map(_.tasks).getOrElse(0L)).sum).sum / n, "count")
    out("spark.driver_gap_s") = (roots.map(rep.driverGapMs).sum / 1000.0 / n, "s")
    out("spark.busy_ratio") = (roots.map(rep.taskRunMs).sum.toDouble /
      (roots.map(r => r.endMs - r.startMs).sum.toDouble * cores), "ratio")
    out("jvm.gc_s") = (roots.map(_.gcMs).sum / 1000.0 / n, "s")
    // share of each step's wall time its named layer spans cover
    out("trace.attributed_ratio") = (roots.map(r => 1.0 - rep.selfNs(r).toDouble / r.durNs).sum / n,
      "ratio")

    // per store layer, per traced op of that layout
    Seq("gridstore" -> "op.grid_", "zarrstore" -> "op.zarr_").foreach { case (layer, pfx) =>
      val lr = roots.filter(_.name.startsWith(pfx))
      val m = math.max(1, lr.length).toDouble
      val ss = lr.flatMap(r => rep.subtree(r)).flatMap(rep.span)
        .filter(_.name.startsWith(layer + "."))
      out(s"$layer.self_s") = (ss.map(rep.selfNs).sum / 1e9 / m, "s")
      out(s"$layer.jobs") = (ss.map(rep.selfJobs).sum / m, "count")
      out(s"$layer.tasks") = (ss.map(s => rep.selfCounts(s).tasks).sum / m, "count")
      out(s"$layer.bytes_read") = (ss.map(_.fsBytesRead).sum / m, "B")
    }

    // every layer span by name, per span
    tr.spans.filterNot(s => allRoots.contains(s)).groupBy(_.name).foreach { case (name, ss) =>
      val k = ss.length.toDouble
      out(s"${name}_s") = (ss.map(rep.selfNs).sum / 1e9 / k, "s")
      out(s"$name.jobs") = (ss.map(rep.selfJobs).sum / k, "count")
      out(s"$name.tasks") = (ss.map(s => rep.selfCounts(s).tasks).sum / k, "count")
      out(s"$name.shuffle_bytes") = (ss.map(s => rep.selfCounts(s).shuffleWrite).sum / k, "B")
      out(s"$name.bytes_written") = (ss.map(_.fsBytesWritten).sum / k, "B")
      out(s"$name.bytes_read") = (ss.map(_.fsBytesRead).sum / k, "B")
      out(s"$name.write_ops") = (ss.map(_.fsWriteOps).sum / k, "count")
    }

    // ratios that need the op's work: write amplification of publishes
    // (bytes written over the delta's 4-byte values) and store bytes read
    // per row a read returned
    val opCells: Map[Int, Long] = Seq("grid", "zarr").flatMap { l =>
      allRoots.filter(_.name.split('.')(1).startsWith(s"${l}_")).map(_.id)
        .zip(tracedOps.filter(_.layout == l).map(_.cells))
    }.toMap
    def perOp(span: String, f: (Span, Long) => (Double, Double)): Option[Double] = {
      val pairs = allRoots.flatMap { r =>
        rep.subtree(r).flatMap(rep.span).filter(_.name == span).map(s => f(s, opCells.getOrElse(r.id, 0L)))
      }
      val den = pairs.map(_._2).sum
      if (den > 0) Some(pairs.map(_._1).sum / den) else None
    }
    Seq("gridstore", "zarrstore").foreach { layer =>
      perOp(s"$layer.publish", (s, c) => (s.fsBytesWritten.toDouble, c * 4.0))
        .foreach(v => out(s"$layer.publish.write_amp") = (v, "ratio"))
      perOp(s"$layer.read", (s, c) => (s.fsBytesRead.toDouble, c.toDouble))
        .foreach(v => out(s"$layer.read.bytes_read_per_row") = (v, "B"))
    }

    // tracing overhead: traced over untraced median op time, per layout
    // and kind
    val ratios = results.filter(_.ok).groupBy(r => (r.layout, r.kind)).values.toSeq.flatMap { rs =>
      val t = Stats.median(rs.filter(_.traced).map(_.secs))
      val u = Stats.median(rs.filterNot(_.traced).map(_.secs))
      if (t.isNaN || u.isNaN) None else Some(t / u)
    }
    if (ratios.nonEmpty) out("trace.overhead_ratio") = (ratios.sum / ratios.length, "ratio")
    out.toMap
  }
}
