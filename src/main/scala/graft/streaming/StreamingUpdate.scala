package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StreamingQuery, Trigger}

import graft.model.TimeSpan
import graft.store.GridStore

/** Structured Streaming façade over the incremental update planner
  * (SURVEY §2.9): the reference is batch-incremental — each run
  * appends/inserts a delta — which maps 1:1 onto a file-source stream
  * driving `GridStore.publish` per micro-batch in `foreachBatch`.
  *
  * Late data (timestamps already in the store) become in-place inserts of
  * their time buckets; new timestamps append — exactly the semantics the
  * reference gates with `allow_overwrite` and cadence checks. Watermarking
  * is intentionally NOT applied before the store write: the store itself is
  * the stateful dedup (bucket overwrite is idempotent), so no streaming
  * state accumulates.
  */
object StreamingUpdate {

  /** Attach a streaming source (e.g. `spark.readStream.schema(s)
    * .parquet(dir)`) to a store. Each micro-batch runs the full classify →
    * insert/append protocol. */
  def attach(
      stream: DataFrame,
      store: graft.store.PublishProtocol,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) store.publish(batch)
      }
      .start()

  /** Watermarked tumbling-window aggregation over an event stream — the
    * streaming analog of the per-timestep grid aggregation (and the
    * tumbling-bucket counterpart of the store's chunk-aligned time buckets,
    * SURVEY §2.9). Late rows beyond `lateness` are dropped by the
    * watermark; everything inside it lands in its window via streaming
    * state, so no post-hoc insert pass is needed for mildly-late data.
    *
    * Returns window_start, window_end, n_rows, mean_value per window.
    */
  def windowedStats(
      stream: DataFrame,
      timeCol: String,
      valueCol: String,
      windowLength: String = "1 day",
      lateness: String = "1 hour"): DataFrame =
    stream
      .withWatermark(timeCol, lateness)
      .groupBy(window(col(timeCol), windowLength))
      .agg(count(lit(1)).as("n_rows"), avg(col(valueCol)).as("mean_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_rows"), col("mean_value"))

  /** Streaming exact dedup: drop rows whose content hash was already seen
    * within the watermark horizon. `dropDuplicatesWithinWatermark` is what
    * actually bounds state — a plain `dropDuplicates` on a non-event-time
    * subset NEVER evicts, growing state forever. The trade is the standard
    * one: duplicates separated by more than `lateness` can re-emit (cross-
    * horizon dedup belongs to the batch `Dedup.exactDedup` pass). The
    * hash, not the text, is what state stores. */
  def streamingExactDedup(
      stream: DataFrame,
      timeCol: String,
      textCol: String,
      lateness: String = "1 hour"): DataFrame =
    stream
      .withColumn("__content_hash", md5(col(textCol)))
      .withWatermark(timeCol, lateness)
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__content_hash")

  /** Streaming corpus curation — the subset of the batch curation pipeline
    * that runs ON the stream: the Gopher quality gate (per-row), PII scrub
    * (per-row), and exact dedup within the watermark horizon (bounded
    * state). Corpus-level passes (near-dup clustering, URL dedup, corpus
    * line dedup, semantic dedup) need corpus-wide joins and stay in the
    * batch layer over the landed output — the standard split between
    * streaming admission control and batch reprocessing. */
  def streamingCurate(
      stream: DataFrame,
      timeCol: String,
      textCol: String,
      lateness: String = "1 hour",
      minWords: Int = 50,
      maxWords: Int = 100000): DataFrame = {
    val gated = stream
      .filter(graft.functions.Text.gopherKeep(col(textCol),
        minWords = minWords, maxWords = maxWords))
      .withColumn(textCol, graft.functions.Text.scrubPii(col(textCol)))
    streamingExactDedup(gated, timeCol, textCol, lateness)
  }

  /** Streaming anomaly alerting against a PUBLISHED climatology — the
    * operational "flag cells departing from normal as data arrives" loop.
    * `climatology` is the batch-side product ([[graft.ops.GridAnalytics
    * .climatology]] over the opened store, bounded by periods×cells), so
    * it broadcasts; each micro-batch row joins its (calendar period, cell)
    * normal per-row — no streaming state at all beyond the source offsets,
    * which is what keeps the monitor trivially restartable. Emits rows
    * whose |value − climatology| exceeds `threshold`, with the departure
    * as `anomaly`. Cells with no climatology (a new grid point) pass
    * through flagged `no_baseline = true` rather than being dropped
    * silently. */
  def anomalyAlert(
      stream: DataFrame,
      climatology: DataFrame,
      timeCol: String,
      dims: Seq[String],
      valueCol: String,
      period: String = "month",
      threshold: Double = 0.0): DataFrame = {
    val p = period match {
      case "month"     => month(col(timeCol))
      case "dayofweek" => dayofweek(col(timeCol))
      case "dayofyear" => dayofyear(col(timeCol))
      case "hour"      => hour(col(timeCol))
      case other => throw new IllegalArgumentException(s"unsupported period: $other")
    }
    stream
      .withColumn(period, p)
      .join(broadcast(climatology), period +: dims, "left")
      .withColumn("anomaly", col(valueCol) - col("climatology"))
      .withColumn("no_baseline", col("climatology").isNull)
      .filter(col("no_baseline") || abs(col("anomaly")) > lit(threshold))
      .drop(period)
  }

  /** Continuous corpus admission — the incremental crawl loop as a stream.
    * Each micro-batch:
    *   1. canonical-dedups INTERNALLY (LSH → exact verify → connected
    *      components, min-id canonical survives);
    *   2. probes the persisted LSH index at `indexPath` for near-dups of
    *      everything already admitted (partition-pruned, batch-bounded —
    *      see [[graft.functions.Dedup.lshProbeNearDups]]);
    *   3. hands the admitted docs to `sink`;
    *   4. appends them to the index, so every LATER batch dedups against
    *      them.
    * Dedup state lives in the index LAYOUT, not executor memory — the
    * query restarts from the checkpoint with the corpus intact, and state
    * size is disk-bounded rather than watermark-bounded (this is what
    * makes unbounded-corpus near-dedup streamable at all; the
    * `streamingExactDedup` watermark approach caps state by time instead).
    * The first batch creates the index with the parameters given here;
    * later batches reuse the persisted family via the sidecar pin. */
  def startStreamingNearDedup(
      stream: DataFrame,
      indexPath: String,
      idCol: String,
      textCol: String,
      checkpointDir: String,
      threshold: Double = 0.9,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      nParts: Int = 64)(sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val keepIds = graft.functions.Dedup.clusterCanonicalDedup(
            batch, idCol, textCol, shingleSize, numHashes, bands, threshold)
          val selfKept = batch.join(keepIds, Seq(idCol), "left_semi")
          val admitted =
            if (graft.functions.Dedup.lshIndexExists(spark, indexPath)) {
              val dupIds = graft.functions.Dedup.lshProbeNearDups(
                spark, indexPath, selfKept, idCol, textCol, threshold)
                .select(col("doc_b").as(idCol)).distinct()
              selfKept.join(dupIds, Seq(idCol), "left_anti")
            } else selfKept
          admitted.persist()
          try {
            sink(admitted)
            if (graft.functions.Dedup.lshIndexExists(spark, indexPath))
              graft.functions.Dedup.lshIndexAppend(
                spark, indexPath, admitted, idCol, textCol)
            else
              graft.functions.Dedup.lshIndexWrite(admitted, idCol, textCol,
                indexPath, shingleSize, numHashes, bands, nParts)
          } finally {
            admitted.unpersist()
            // r15: the dedup/probe checkpoints backing this batch's plans
            // are dead once the sink + index append have run — without the
            // release they accumulate across micro-batches for the life of
            // the stream (there is no between-query sweep here)
            graft.Housekeeping.release(admitted)
          }
        }
      }
      .start()

  /** One observed cadence gap: consecutive timesteps of `key` further apart
    * than expected (the streaming A6 — UpdatePlan.cadenceViolations as a
    * continuous monitor). */
  final case class CadenceGap(key: String, from: java.sql.Timestamp,
    to: java.sql.Timestamp, deltaMinutes: Long)

  /** A closed session: emitted once its idle gap has definitively elapsed
    * (either the next event arrived past the gap, or the watermark did). */
  final case class ClosedSession(user_id: Long,
    session_start: java.sql.Timestamp, session_end: java.sql.Timestamp,
    n_events: Long)

  /** Streaming gap-based sessionization — `ops/Sessions` as a continuous
    * operator: `flatMapGroupsWithState` holds ONE open session per active
    * user and closes it either when an event lands beyond the idle gap
    * (emitted immediately) or when the event-time watermark passes the
    * session's horizon (`GroupStateTimeout.EventTimeTimeout` — so state
    * for idle users is reclaimed by the engine, never accumulated).
    *
    * State is three longs per ACTIVE user — bounded by concurrent users
    * within one gap horizon, not by history; exactly the state bound a
    * 100 TB/day event stream needs. `input` must carry `user_id` (long)
    * and an event-time `ts` with a watermark already applied (the
    * watermark is what drives both lateness semantics and timeouts).
    * Late events older than the watermark are dropped by the engine
    * before the state function runs (standard Append semantics). */
  def streamingSessionize(input: DataFrame, gapMinutes: Long): Dataset[ClosedSession] = {
    import input.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    // ts passes through UNCAST: re-aliasing the event-time column would
    // strip its watermark tag and EventTimeTimeout would refuse the plan
    input.select(col("user_id").cast("long").as("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long), ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (s0, e0, n) = state.get
            state.remove()
            Iterator.single(ClosedSession(user,
              new java.sql.Timestamp(s0), new java.sql.Timestamp(e0), n))
          } else {
            val sorted = rows.map(_._2.getTime).toArray.sorted
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { t =>
              cur = cur match {
                case Some((s0, e0, n)) if t - e0 <= gapMs =>
                  Some((s0, math.max(e0, t), n + 1))
                case Some((s0, e0, n)) =>
                  closed ::= ClosedSession(user,
                    new java.sql.Timestamp(s0), new java.sql.Timestamp(e0), n)
                  Some((t, t, 1L))
                case None => Some((t, t, 1L))
              }
            }
            cur.foreach { c =>
              state.update(c)
              state.setTimeoutTimestamp(c._2 + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Run [[streamingSessionize]] to a memory sink (testing/monitoring). */
  def startStreamingSessionize(
      input: DataFrame,
      gapMinutes: Long,
      queryName: String,
      checkpointDir: String): StreamingQuery =
    streamingSessionize(input, gapMinutes).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Custom streaming state via mapGroupsWithState: track the last-seen
    * timestamp per key and emit the gaps each micro-batch adds. State is
    * one timestamp per key — bounded by key cardinality, not stream length.
    */
  def cadenceMonitor(
      events: Dataset[(String, java.sql.Timestamp)],
      resolution: TimeSpan): Dataset[CadenceGap] = {
    import events.sparkSession.implicits._
    val expectedMin = resolution.toMinutes
    events.groupByKey(_._1)
      .mapGroupsWithState[Long, List[CadenceGap]](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          val sorted = rows.map(_._2.getTime).toSeq.sorted
          val start = state.getOption
          val all = start.toSeq ++ sorted
          val gaps = all.sliding(2).collect {
            case Seq(a, b) if (b - a) / 60000L != expectedMin =>
              CadenceGap(key, new java.sql.Timestamp(a),
                new java.sql.Timestamp(b), (b - a) / 60000L)
          }.toList
          if (all.nonEmpty) state.update(all.max)
          gaps
      }
      .flatMap(identity)
  }

  /** Run [[cadenceMonitor]] to a memory sink (testing/monitoring). */
  def startCadenceMonitor(
      events: Dataset[(String, java.sql.Timestamp)],
      resolution: TimeSpan,
      queryName: String,
      checkpointDir: String): StreamingQuery =
    cadenceMonitor(events, resolution).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** Continuous per-group distinct monitoring (dedup-rate dashboards over
    * an unbounded ingest): each micro-batch is HLL-sketched ALONE and
    * union-merged into the parquet sketch table at `sketchPath` — the
    * corpus is never rescanned and executor state is zero; all monitoring
    * state is the ~4 KB-per-group persisted table, so the query restarts
    * from its checkpoint with nothing to rebuild. The cumulative table is
    * replaced via a committed `.next` swap with recovery on every
    * trigger: a crash at ANY point leaves the committed data under
    * `sketchPath` or a committed `sketchPath.next` — never a half-written
    * only copy (the main path is briefly absent mid-swap; an external
    * reader that must never miss it coalesces the two, the recovery
    * rule). Replaying a batch after a crash merges it twice — harmless,
    * HLL register-max union is idempotent. `sink` receives the refreshed
    * estimates after each merge and must consume them eagerly (the
    * backing blocks are released when the batch ends). */
  def startStreamingDistinctMonitor(
      stream: DataFrame,
      sketchPath: String,
      groupCol: String,
      keyCol: String,
      checkpointDir: String,
      lgK: Int = 12)(sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val spark = batch.sparkSession
        val conf = spark.sparkContext.hadoopConfiguration
        val main = new org.apache.hadoop.fs.Path(sketchPath)
        val next = new org.apache.hadoop.fs.Path(sketchPath + ".next")
        val fs = main.getFileSystem(conf)
        // crash recovery runs on EVERY trigger (even dataless ones): a
        // committed .next (write finished, swap did not) supersedes main —
        // finish the swap before anything reads. The cumulative table is
        // therefore always recoverable from main or a committed .next.
        def recover(): Unit =
          if (fs.exists(new org.apache.hadoop.fs.Path(next, "_SUCCESS"))) {
            require(!fs.exists(main) || fs.delete(main, true),
              s"could not clear $main to finish the sketch-table swap")
            require(fs.rename(next, main), s"rename $next -> $main failed")
          } else if (fs.exists(next)) fs.delete(next, true) // uncommitted
        recover()
        if (!batch.isEmpty) {
          val batchSk = graft.functions.Sketch.distinctSketches(
            batch, groupCol, col(keyCol), lgK)
          val merged =
            if (fs.exists(main)) graft.functions.Sketch.unionSketchTables(
              spark.read.parquet(sketchPath), batchSk, groupCol)
            else batchSk
          val mat = merged.localCheckpoint(true)
          try {
            // versioned swap: main stays intact until .next is committed;
            // recover() performs the same delete+rename, so a crash (or a
            // false return, surfaced by the requires) between the steps
            // heals on the next trigger. The main path is briefly absent
            // mid-swap — a reader that must never miss it coalesces main
            // with a committed .next, exactly recover()'s rule.
            mat.write.mode("overwrite").parquet(next.toString)
            recover()
            sink(graft.functions.Sketch.distinctEstimates(mat, groupCol))
          } finally graft.Housekeeping.release(mat)
        }
      }
      .start()
}
