package graft.ops

import java.time.{Instant, LocalDateTime}
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.TimestampNTZType

import graft.model.TimeSpan
import graft.store.PublishProtocol

/** Update planning — classify an incoming delta against the existing store
  * (SURVEY §2.5). This is the reference's core "query".
  */
object UpdatePlan {

  /** Split update times into inserts (∩ original) and appends (− original).
    *
    * Reference: `prepare_update_times` (utils/publish.py:377-404) — set
    * intersection/difference over the time coordinate, both sorted.
    * Spark-first: left-semi / left-anti joins on the time key. The distinct
    * time sets are tiny relative to the grid (one row per timestep), so
    * Catalyst broadcasts them; no full-grid shuffle occurs.
    */
  def prepareUpdateTimes(
      original: DataFrame,
      update: DataFrame,
      timeCol: String = "time"): (DataFrame, DataFrame) = {
    val origTimes = original.select(timeCol).distinct()
    val updTimes  = update.select(timeCol).distinct()
    val inserts = updTimes.join(origTimes, Seq(timeCol), "left_semi").orderBy(timeCol)
    val appends = updTimes.join(origTimes, Seq(timeCol), "left_anti").orderBy(timeCol)
    (inserts, appends)
  }

  /** Same classification as a single DataFrame with a `kind` column
    * ("insert" | "append") — convenient for one-pass planning.
    *
    * ONE left join replaces the former semi + anti pair (guide §2.4):
    * the pair scanned each side twice and unioned two joins of the same
    * inputs; a left join against the distinct original times (at most one
    * match per key, so no row multiplication) classifies both kinds in a
    * single pass — this runs inside every GridStore publish, where each
    * extra action is protocol latency. */
  def classifyUpdateTimes(
      original: DataFrame,
      update: DataFrame,
      timeCol: String = "time"): DataFrame = {
    val origTimes = original.select(timeCol).distinct()
      .withColumn("__orig", lit(1))
    update.select(timeCol).distinct()
      .join(origTimes, Seq(timeCol), "left")
      .select(col(timeCol),
        when(col("__orig").isNotNull, lit("insert"))
          .otherwise(lit("append")).as("kind"))
  }

  /** Group a set of timesteps into contiguous runs (gaps-and-islands).
    *
    * Reference: `calculate_update_time_ranges` (utils/publish.py:555-620) —
    * diff vs shifted self > resolution ⇒ run boundary; emits
    * (startDate, endDate) per run. Spark-first: `lag` over a time-ordered
    * window + running sum of boundary flags as the run id, then
    * groupBy(runId).agg(min, max, count).
    *
    * The window has no partition key — acceptable because the input is a
    * *time-coordinate* set (one row per timestep: thousands, not billions),
    * never the full grid. Output columns: run_id, run_start, run_end, n_steps.
    */
  def contiguousRanges(
      times: DataFrame,
      timeCol: String,
      resolution: TimeSpan): DataFrame = {
    // Global (single-partition) window — BOUNDED input by construction: it
    // runs over DISTINCT timesteps only (the .distinct() below), never over
    // grid cells. The largest real axis the reference targets is ERA5
    // hourly back to 1950 (docs/etl_developers_manual.md:158): ≤ ~0.7M
    // rows of one timestamp each, a few MB in one task. If a time axis
    // ever outgrew that, switch to the sessionization shape (partition by
    // coarse time bucket, stitch bucket edges).
    val w = Window.orderBy(col(timeCol))
    val stepMs = resolution.toMillis
    val tMs = unix_millis(col(timeCol).cast("timestamp"))
    val prevMs = lag(tMs, 1).over(w)
    times.select(col(timeCol)).distinct()
      .withColumn("is_start",
        when(prevMs.isNull || (tMs - prevMs) > lit(stepMs), lit(1)).otherwise(lit(0)))
      .withColumn("run_id", sum(col("is_start")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("run_id"))
      .agg(
        min(col(timeCol)).as("run_start"),
        max(col(timeCol)).as("run_end"),
        count(lit(1)).as("n_steps"))
      .orderBy("run_start")
  }

  /** Pad an insert slice out to chunk/bucket boundaries by filling absent
    * cells from the original dataset.
    *
    * Reference: `complete_insert_slice` / `combine_first`
    * (utils/publish.py:1341-1385). Spark-first: full-outer join on the key
    * columns + `coalesce(update.value, original.value)`. Callers bound
    * `original` to the affected buckets first so the join never touches the
    * whole store (partition pruning does the bounding).
    */
  def combineFirst(
      update: DataFrame,
      original: DataFrame,
      keyCols: Seq[String],
      valueCol: String): DataFrame = {
    val u = update.withColumnRenamed(valueCol, "__upd")
    val o = original.withColumnRenamed(valueCol, "__orig")
    u.join(o, keyCols, "full_outer")
      .withColumn(valueCol, coalesce(col("__upd"), col("__orig")))
      .drop("__upd", "__orig")
  }

  /** Expected-order / contiguity check: every consecutive delta must equal
    * the declared resolution (or fall within `cadenceBounds` for irregular
    * datasets). Returns the violating (time, delta_minutes) rows — empty
    * means pass.
    *
    * Reference: `check_if_update_is_contiguous` / expected-order check
    * (utils/publish.py:780-822).
    *
    * SCALE BOUND — like [[contiguousRanges]], the lag window has no
    * partition key and therefore sorts on a single task. That is correct
    * and cheap ONLY because the input contract is a time-COORDINATE set
    * (one row per distinct timestep — ERA5's full history is ~639k rows,
    * docs/etl_developers_manual.md:158). Never feed it cell-grain rows:
    * call `.select(timeCol).distinct()` first (this method re-applies
    * distinct defensively) and keep inputs under ~1e7 timesteps; beyond
    * that, pre-aggregate per year and run per-year windows.
    */
  def cadenceViolations(
      times: DataFrame,
      timeCol: String,
      resolution: TimeSpan,
      cadenceBounds: Option[(TimeSpan, TimeSpan)] = None): DataFrame = {
    // Single-partition window over DISTINCT timesteps — same ≤ ~0.7M-row
    // bound as contiguousRanges above (one timestamp per row, never cells).
    val w = Window.orderBy(col(timeCol))
    val tMin = unix_millis(col(timeCol).cast("timestamp")) / 60000L
    val deltaMin = tMin - lag(tMin, 1).over(w)
    // Materialize the window expression first: Spark disallows window
    // functions inside WHERE, so filter on the projected column.
    val d = col("delta_minutes")
    val ok = cadenceBounds match {
      case Some((lo, hi)) =>
        d.isNull || (d >= lit(lo.toMinutes) && d <= lit(hi.toMinutes))
      case None => d.isNull || d === lit(resolution.toMinutes)
    }
    times.select(col(timeCol)).distinct()
      .withColumn("delta_minutes", deltaMin)
      .filter(!ok)
  }

  /** The update gate's scalars (see [[graft.store.PublishProtocol.checkUpdate]])
    * in ONE aggregate action over a classified frame carrying kinds
    * `insert` / `append` / `existing_end` (the last being the store's end
    * time riding in the classification job — see
    * GridStore.existingEndFrame). Folding the counts, the first-append
    * probe, and the store end into one driver round-trip is what keeps
    * per-publish job counts flat. An instant (TIMESTAMP) compares as its
    * epoch, a wall time (TIMESTAMP_NTZ) as UTC wall time: neither passes
    * through a session or JVM zone. */
  def gateScalars(classified: DataFrame, timeCol: String): PublishProtocol.Gate = {
    val r = classified.agg(
      sum(when(col("kind") === "insert", 1L).otherwise(0L)),
      sum(when(col("kind") === "append", 1L).otherwise(0L)),
      min(when(col("kind") === "append", col(timeCol))),
      max(when(col("kind") === "existing_end", col(timeCol))))
      .head()
    def n(i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    def micros(i: Int): Option[Long] = Option(r.get(i)).map {
      case t: LocalDateTime => PublishProtocol.ldt2micros(t)
      case t: java.sql.Timestamp => ChronoUnit.MICROS.between(Instant.EPOCH, t.toInstant)
      case t: Instant => ChronoUnit.MICROS.between(Instant.EPOCH, t)
      case other => throw new IllegalArgumentException(s"Unexpected time value: $other")
    }
    PublishProtocol.Gate(n(0), n(1), micros(2), micros(3))
  }

  /** Update gates (utils/publish.py:730-778) over separate insert/append
    * frames and the store's end — the scalars come from [[gateScalars]],
    * the decision from the one copy of the gate in
    * [[graft.store.PublishProtocol.checkUpdate]]. Throws
    * IllegalStateException on violation. */
  def updateQualityCheck(
      spark: SparkSession,
      insertTimes: DataFrame,
      appendTimes: DataFrame,
      timeCol: String,
      existingEnd: java.sql.Timestamp,
      resolution: TimeSpan,
      cadenceBounds: Option[(TimeSpan, TimeSpan)]): Unit = {
    // BOTH sides must use the SAME convention. An LTZ column is an
    // instant, and so is the existing-end Timestamp: both compare as epoch.
    // An NTZ column is wall time, while the caller's java.sql.Timestamp was
    // built from wall time in the JVM zone (Timestamp.valueOf) — so for NTZ
    // inputs the end literal is its WALL time, or the gap skews by the
    // JVM zone's offset.
    val ntz = Seq(insertTimes, appendTimes).exists(df =>
      df.schema.fields.exists(f =>
        f.name == timeCol && f.dataType == TimestampNTZType))
    val end = spark.range(1).select(
      (if (ntz) lit(existingEnd.toLocalDateTime) else lit(existingEnd)).as(timeCol),
      lit("existing_end").as("kind"))
    def kind(df: DataFrame, k: String) = df.select(col(timeCol), lit(k).as("kind"))
    val classified = kind(insertTimes, "insert")
      .unionByName(kind(appendTimes, "append"))
      .unionByName(end)
    PublishProtocol.checkUpdate(gateScalars(classified, timeCol), resolution, cadenceBounds)
  }
}
