package graft.store

import java.nio.charset.StandardCharsets

import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType

import graft.meta.JObj
import graft.model.{DatasetDescriptor, TimeUnitKind}
import graft.ops.UpdatePlan
import graft.store.PublishProtocol.{Gate, Planned, Summary}

/** Incremental grid store on bucket-partitioned parquet — the Spark-native
  * re-expression of the reference's Zarr write engine
  * (gridded_etl_tools/utils/publish.py + store.py).
  *
  * Layout: one parquet dataset partitioned by a coarse time bucket column
  * (`__bucket`, e.g. one directory per month). The bucket is the unit of
  * in-place replacement: appends only create new bucket directories, inserts
  * dynamically overwrite only the touched buckets (publish.py:406-478), and
  * partition pruning keeps every read bounded. Within buckets rows are
  * sorted by the standard dims and split at `maxRecordsPerFile` — the
  * two-level dask-chunk / zarr-chunk sizing analog
  * (docs/etl_developers_manual.md:135-152).
  *
  * Scale notes (100 TB): all data paths are single `df.write` jobs — no
  * driver-side row handling. The only driver I/O is the attrs sidecar (a few
  * KB of JSON via the Hadoop FS API, so file:// and s3a:// behave alike).
  *
  * The guard, gate, commit marker and attrs assembly are the shared
  * [[PublishProtocol]]; this layout supplies the attrs sidecar, one stats
  * aggregate plus one gate aggregate (overlapped with the padding read) as
  * its planning, and the dynamic bucket overwrite as its write.
  */
final class GridStore(
    val spark: SparkSession,
    val path: String,
    val desc: DatasetDescriptor,
    /** Bucket granularity; must be ≥ the dataset resolution. */
    val bucketSpan: TimeUnitKind = TimeUnitKind.Months,
    /** Storage-chunk analog: rows per parquet file within a bucket. */
    val maxRecordsPerFile: Long = 5000000L,
    /** W13 — compression codec (`use_compression` toggle + Blosc LZ4
      * default, metadata.py:939-959): any Spark parquet codec name, or
      * "none"/"uncompressed" to disable. */
    val compression: String = "lz4",
    /** W12, parquet-native: encrypt NEW stores with Parquet Modular
      * Encryption — footer + every data column keyed under the registered
      * master key named by this SHA3-256 hash (see
      * [[graft.functions.Encryption.registerEncryptionKey]]), wrapped
      * through [[GraftKmsClient]]. The hash is persisted in the attrs
      * sidecar, so reopening for reads or updates only needs the key
      * REGISTERED — an unregistered hash fails with the hash named, and a
      * wrong key fails the AEAD unwrap, never as wrong rows. An EXISTING
      * store's persisted profile governs reads and updates: updates to a
      * plaintext store stay plaintext, updates to an encrypted store keep
      * its key, and a constructor hash that CONTRADICTS the profile fails
      * with both named rather than being silently ignored. The one way to
      * change the profile is a full rebuild ([[writeInitial]] /
      * `publish(rebuild = true)`), which rewrites every data file and so
      * adopts the constructor's key. */
    val encryptionKeyHash: Option[String] = None) extends PublishProtocol {

  // fail at construction, with the hash named, not mid-publish
  encryptionKeyHash.foreach(graft.functions.Encryption.requireKey)

  import GridStore._

  private def timeCol = desc.timeDim

  // -------------------------------------------- parquet modular encryption

  /** The key hash this store's data files are (to be) encrypted under:
    * the persisted attr for an EXISTING store (its profile wins — a
    * plaintext store never gains mixed encrypted files and an encrypted
    * store never silently drops its key), the constructor's choice when
    * creating one. A constructor hash that CONTRADICTS an existing
    * store's profile fails with both named (ADVICE r8: silently ignoring
    * it handed plaintext data to a user who asked for encryption, and
    * kept the old key on an attempted rotation); the one path that may
    * legitimately change the profile is a full rebuild, because it
    * rewrites every data file — [[writeInitial]] adopts the constructor
    * key before this resolution runs. */
  private var resolvedEncryptionHash: Option[Option[String]] = None
  private def effectiveEncryptionHash: Option[String] =
    // cached per handle: the profile is immutable once resolved (a new
    // store adopts the constructor key, which writeInitial persists
    // before any data write), and every read/write path consults this —
    // re-reading the sidecar each time would be 4+ extra GETs per publish
    resolvedEncryptionHash.getOrElse {
      val resolved =
        if (hasExisting) {
          val persisted = readAttrs().get(EncryptionKeyHashAttr)
          if (encryptionKeyHash.isDefined && encryptionKeyHash != persisted)
            throw new IllegalStateException(
              s"Store at $path is ${persisted.fold("not encrypted")(h =>
                s"encrypted under key hash $h")} but this handle was " +
                s"constructed with key hash ${encryptionKeyHash.get}: an " +
                "existing store's persisted profile governs reads and " +
                "updates. To change the profile, rebuild the store " +
                "(publish(rebuild = true) / writeInitial), which rewrites " +
                "every data file and adopts the constructor's key")
          persisted
        } else encryptionKeyHash
      resolvedEncryptionHash = Some(resolved)
      resolved
    }

  /** Reader with decryption wired when the store is encrypted: the crypto
    * factory + the registry-backed KMS client; the master-key hash itself
    * rides in each file's key material, so readers only need the key
    * registered. */
  private def encryptedRead: org.apache.spark.sql.DataFrameReader =
    effectiveEncryptionHash match {
      case None => spark.read
      case Some(_) => spark.read.options(CryptoFactoryOptions)
    }

  /** Writer-side options for one job: footer + EVERY column of the frame
    * keyed under the master key (the `__bucket` partition column never
    * reaches the data pages). */
  private def cryptoWriteOptions(dataCols: Seq[String]): Map[String, String] =
    effectiveEncryptionHash match {
      case None => Map.empty
      case Some(kh) => CryptoFactoryOptions ++ Map(
        "parquet.encryption.footer.key" -> kh,
        "parquet.encryption.column.keys" ->
          s"$kh:${dataCols.filterNot(_ == "__bucket").mkString(",")}")
    }

  /** Date pattern of the time bucket's directory key; bucket strings sort
    * chronologically. */
  private def bucketPattern: String = bucketSpan match {
    case TimeUnitKind.Days => "yyyy-MM-dd"
    case TimeUnitKind.Months => "yyyy-MM"
    case TimeUnitKind.Years => "yyyy"
    case other => throw new IllegalArgumentException(
      s"Unsupported bucket span: $other (use days/months/years)")
  }

  /** Directory-key expression for the time bucket. */
  private def bucketExpr = date_format(col(timeCol), bucketPattern)

  // ------------------------------------------------------------- existence

  /** S12 guard — `has_existing` (store.py:388-396): a store exists when its
    * attrs sidecar does. */
  def hasExisting: Boolean = {
    val fs = fileSystem(spark, path)
    fs.exists(new HPath(attrsPath))
  }

  /** S12 — open the existing store (store.py:182-198). NOTE: `__bucket` is
    * dropped here, so a time filter on this frame prunes via row-group
    * stats only; time-BOUNDED reads should use [[readRange]] /
    * [[readBuckets]], which filter the partition column before the drop and
    * skip unlisted bucket directories entirely. */
  def dataset(): DataFrame = {
    require(hasExisting, s"No existing store at $path")
    encryptedRead.parquet(dataPath)
      .withColumn(timeCol, col(timeCol).cast(TimestampNTZType))
      .drop("__bucket")
  }

  /** Partition-pruned read of specific buckets: the `__bucket` predicate is
    * applied to the partition column itself, so unselected directories are
    * never listed or footer-read — the mechanism every update-path read of
    * the existing store uses. */
  def readBuckets(buckets: Set[String]): DataFrame =
    encryptedRead.parquet(dataPath)
      .filter(col("__bucket").isin(buckets.toSeq: _*))
      .withColumn(timeCol, col(timeCol).cast(TimestampNTZType))
      .drop("__bucket")

  /** F1 at store level — time-range read with bucket-level partition
    * pruning (bucket strings sort chronologically) plus the exact time
    * predicate for row-group pruning within the edge buckets. */
  def readRange(start: java.time.LocalDateTime,
      end: java.time.LocalDateTime): DataFrame = {
    val fmt = java.time.format.DateTimeFormatter.ofPattern(bucketPattern)
    encryptedRead.parquet(dataPath)
      .filter(col("__bucket") >= start.format(fmt) &&
        col("__bucket") <= end.format(fmt))
      .withColumn(timeCol, col(timeCol).cast(TimestampNTZType))
      .filter(col(timeCol).between(lit(start), lit(end)))
      .drop("__bucket")
  }

  // ----------------------------------------------------------- attrs (W8)

  def attrsPath: String = s"$path/_graft_metadata/attrs.json"
  private def dataPath: String = s"$path/data"

  /** The attrs sidecar (W8). */
  def readAttrsJson(): JObj = readJsonDoc(attrsPath).getOrElse(JObj(Seq.empty))

  def writeAttrsJson(attrs: JObj): Unit = {
    val out = fileSystem(spark, path).create(new HPath(attrsPath), true)
    try out.write(attrs.render.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  // -------------------------------------------------------------- writes

  private def layout(df: DataFrame): DataFrame = {
    val sortCols = (timeCol +: desc.standardDims.filter(df.columns.contains))
      .distinct.map(col)
    // Range-partition on (bucket, sort dims): a plain repartition(bucket)
    // would cap write parallelism at one task per bucket — a hot bucket of
    // a 100 TB store would funnel through a single task. Range partitioning
    // splits large buckets across tasks by sort-dim ranges (files within a
    // bucket stay sorted and non-overlapping — the chunk-grid analog) while
    // small buckets still coalesce into few files.
    df.withColumn("__bucket", bucketExpr)
      .repartitionByRange((col("__bucket") +: sortCols): _*)
      .sortWithinPartitions(sortCols: _*)
  }

  private def writeJob(df: DataFrame, mode: String, dynamic: Boolean = false): Unit = {
    // The overwrite mode rides on the writer, not the session conf: inside
    // foreachBatch the batch frame belongs to streaming's CLONED session, so
    // a session-conf toggle on the captured session would silently leave the
    // write in static mode and wipe every untouched partition.
    layout(df).write
      .mode(mode)
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .option("compression",
        if (compression == "none") "uncompressed" else compression)
      .options(cryptoWriteOptions(df.columns.toSeq))
      .partitionBy("__bucket")
      .parquet(dataPath)
    // Spark caches the file listing per path; after an in-place partition
    // overwrite a reader holding the stale index hits FILE_NOT_EXIST.
    spark.catalog.refreshByPath(dataPath)
  }

  /** Sever plan lineage from the store's files before overwriting them:
    * a frame that reads the same buckets it is about to replace must be
    * materialized first (executor-local, bucket-bounded — never the whole
    * store). */
  private def materialize(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** W3 — initial write (publish.py:301-318): the encryption profile, the
    * attrs stats aggregate started alongside the write, and the write. */
  protected def planInitial(df: DataFrame): Planned = {
    // A full (re)build rewrites EVERY data file, so it is the one path
    // that may change the profile: an explicit constructor key is adopted
    // (encrypting a plaintext store, or rotating an encrypted one);
    // omitting the key keeps the persisted profile, so a rebuild never
    // silently decrypts.
    //
    // WHEN the adopted hash persists differs by case (ADVICE r9):
    //  - NEW store: before the commit marker creates the sidecar, so the
    //    store never "exists" without its profile (a failed first write
    //    leaves attrs and partial files agreeing on the same key).
    //  - EXISTING store whose profile CHANGES: only with the post-write
    //    attrs, inside the marker. The rebuild job already encrypts under
    //    the new key via the in-memory resolution below; persisting the
    //    hash early meant a failed job left the sidecar advertising a key
    //    the surviving files don't carry, and later updates from a fresh
    //    handle would silently produce a mixed-key store. With the old
    //    hash still persisted, a failed rotation reads as loud AEAD
    //    errors until the rebuild is retried.
    val persisted =
      if (hasExisting) readAttrs().get(EncryptionKeyHashAttr) else None
    val adopted = encryptionKeyHash.orElse(persisted)
    if (!hasExisting) adopted.foreach(kh =>
      patchAttrs(Map(EncryptionKeyHashAttr -> kh)))
    resolvedEncryptionHash = Some(adopted)
    val rotation: Map[String, String] =
      if (hasExisting && adopted != persisted)
        Map(EncryptionKeyHashAttr -> adopted.get)
      else Map.empty
    // Overlap the attrs stats aggregate with the data write (guide §2.6):
    // both read df independently, and the aggregate's scalars are only
    // consumed AFTER the write succeeds (the protocol reads the summary
    // after the write) — so the formerly-serial stats job back-fills while
    // the write's tail drains. A failed write just abandons the
    // (read-only) stats job.
    val stats = PublishProtocol.async(spark)(label("initial attrs stats")(updateStats(df)))
    new Planned(PublishProtocol.await(stats).summary,
      () => label("initial write")(writeJob(df, "overwrite")), attrs = rotation)
  }

  /** Pad the delta back to bucket completeness with `combineFirst` (J3,
    * publish.py:1341-1385) — this both completes a partial tail bucket on
    * append (the chunk-butt-join analog of publish.py:520-553) and
    * preserves unreplaced cells on insert. The original side is bounded to
    * the touched buckets FIRST, so the full-outer join never sees the rest
    * of the store. When padding applies, the result is MATERIALIZED here
    * (read-only — severs lineage from the store files the write will
    * replace), so [[planUpdate]] can run this job CONCURRENTLY with the
    * gate's aggregate (guide §2.6). Returns the padded frame, None when
    * no touched bucket exists yet — its checkpoint blocks are the caller's
    * to release after the write lands. */
  private def paddedDelta(df: DataFrame, touched: Set[String]): Option[DataFrame] = {
    val overlap = existingBuckets.intersect(touched)
    if (overlap.isEmpty) None
    else {
      // partition-pruned: only the overlapping bucket dirs are listed
      val original = readBuckets(overlap)
      val keys = desc.standardDims.filter(df.columns.contains)
      Some(materialize(UpdatePlan.combineFirst(df, original, keys, desc.dataVar)))
    }
  }

  // W4 + W5 note: the delta write itself is ONE dynamic-partition-overwrite
  // job (see planUpdate), because dynamic overwrite replaces touched buckets
  // (inserts, publish.py:406-450) and creates brand-new ones (appends,
  // publish.py:452-478) in the same pass.

  /** Maintenance — compact the given buckets (default: all): incremental
    * appends accumulate small files per bucket; compaction rewrites each
    * selected bucket as maxRecordsPerFile-sized sorted files via the same
    * dynamic-overwrite path as inserts, under the commit marker, leaving
    * attrs untouched. The store-layout "gardening" analog of the
    * reference's offline rechunking (metadata.py:961-1072). */
  def compact(buckets: Set[String] = Set.empty): Unit = {
    checkNotInProgress()
    val target = if (buckets.isEmpty) existingBuckets else buckets
    if (target.isEmpty) return
    withCommitMarker(Map.empty) {
      val data = materialize(readBuckets(target))
      writeJob(data, "overwrite", dynamic = true)
      graft.Housekeeping.release(data)
    }
  }

  /** Update planning (publish.py:322-356): one stats aggregate, then the
    * gate's aggregate overlapped with the padding read; the write is one
    * dynamic bucket overwrite. */
  protected def planUpdate(updateDf0: DataFrame, dryRun: Boolean): (Gate, Planned) = {
    // Materialize the delta ONCE: classification, gate checks, bucket
    // discovery, and both write paths all re-read it, and its lineage may be
    // an arbitrary upstream pipeline. An update is a bounded delta relative
    // to the store (the reference holds it in memory too), so this is an
    // executor-local checkpoint of the small side, never the store. LAZY
    // (r16): the stats aggregate right below is the first action and
    // materializes the blocks as it folds — an eager checkpoint was a
    // whole extra job per publish.
    val updateDf = updateDf0.localCheckpoint(false)
    // the combine-first frame, when padding applies; released with the delta
    var padded: Option[DataFrame] = None
    val release = () => (padded.toSeq :+ updateDf).foreach(graft.Housekeeping.release)
    try {
      // Classification only needs the store's times INSIDE the update
      // window (a time can only be an insert if both sides contain it), so
      // the existing side is a bucket-pruned range read — never a
      // full-store scan, even of just the time column. The ONE updateStats
      // action also serves attrs assembly and bucket planning below.
      val stats = label("update stats")(updateStats(updateDf))
      // The gate's ONE aggregate action, scoped so `classified` — whose
      // plan reads the CURRENT store files — cannot gain a post-write
      // consumer (the write replaces those files). The protocol spec pins
      // the ordering at the job level. `classified` is one row per
      // distinct update timestep plus ONE `existing_end` row — the store's
      // last-bucket max time rides in the same job instead of its own scan
      // action.
      def gate(): Gate = label("update gate") {
        val existing = readRange(stats.uLo, stats.uHi)
        UpdatePlan.gateScalars(
          UpdatePlan.classifyUpdateTimes(existing, updateDf, timeCol)
            .unionByName(existingEndFrame), timeCol)
      }
      val g =
        // an empty update has no time bounds: the gate refuses it as is
        if (stats.uLo == null) Gate(0, 0, None, None)
        else if (dryRun) gate()
        else {
          // Overlap the gate with the padding read (guide §2.6): both are
          // INDEPENDENT read-only jobs over pre-write store files, and both
          // finish before the protocol decides the gate, so both precede
          // any write.
          val padF = PublishProtocol.async(spark)(
            label("padding read")(paddedDelta(updateDf, stats.touched)))
          val g = Try(gate())
          // the padding job must complete either way — a failed gate must
          // not leave its checkpoint job racing a caller's retry
          padded = PublishProtocol.await(padF)
          g.get
        }
      (g, new Planned(stats.summary, () => label("delta write")(
        writeJob(padded.getOrElse(updateDf), "overwrite", dynamic = true)), release))
    } catch { case e: Throwable => release(); throw e }
  }

  // ------------------------------------------------------------- helpers

  /** Max time of the existing store as a ONE-ROW PLAN (no action), read
    * from the LAST bucket only — partition pruning makes this one
    * directory's footers, not a full-store scan (the
    * binary-search-the-manifest analog, publish.py:897-949). Shaped as a
    * `(timeCol, kind="existing_end")` row so it unions into the classified
    * frame and rides the classification job. */
  private def existingEndFrame: DataFrame = {
    val bounded = existingBuckets.toSeq.sorted.lastOption match {
      case Some(last) =>
        encryptedRead.parquet(dataPath).filter(col("__bucket") === last)
      case None => encryptedRead.parquet(dataPath)
    }
    bounded.agg(max(col(timeCol).cast(TimestampNTZType)).as(timeCol))
      .select(col(timeCol), lit("existing_end").as("kind"))
  }

  private def existingBuckets: Set[String] = {
    val fs = fileSystem(spark, path)
    val p = new HPath(dataPath)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith("__bucket="))
      .map(_.stripPrefix("__bucket="))
      .toSet
  }

  private def updateStats(df: DataFrame): UpdateStats = {
    val withBbox = hasBbox && Seq("latitude", "longitude").forall(df.columns.contains)
    val aggs = Seq(
      min(col(timeCol).cast(TimestampNTZType)).as("raw_lo"),
      max(col(timeCol).cast(TimestampNTZType)).as("raw_hi"),
      collect_set(bucketExpr).as("touched")) ++
      (if (withBbox) Seq(
        round(min(col("longitude")), desc.bboxRounding).as("bb0"),
        round(min(col("latitude")), desc.bboxRounding).as("bb1"),
        round(max(col("longitude")), desc.bboxRounding).as("bb2"),
        round(max(col("latitude")), desc.bboxRounding).as("bb3"))
      else Seq.empty)
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    UpdateStats(
      uLo = r.getAs[java.time.LocalDateTime]("raw_lo"),
      uHi = r.getAs[java.time.LocalDateTime]("raw_hi"),
      bbox = if (!withBbox) None
        else Some((r.getAs[Double]("bb0"), r.getAs[Double]("bb1"),
          r.getAs[Double]("bb2"), r.getAs[Double]("bb3"))),
      touched = r.getAs[Seq[String]]("touched").toSet)
  }
}

object GridStore {
  val UpdateInProgressKey: String = PublishProtocol.UpdateInProgressKey

  /** Attrs key persisting the store's master-key hash (never the key) —
    * the parquet analog of the zarr filter chain's key_hash config. */
  val EncryptionKeyHashAttr = "encryption_key_hash"

  /** Parquet Modular Encryption plumbing shared by every encrypted read
    * and write: parquet-mr's properties-driven factory + the
    * registry-backed KMS client. */
  val CryptoFactoryOptions: Map[String, String] = Map(
    "parquet.crypto.factory.class" ->
      "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory",
    "parquet.encryption.kms.client.class" -> "graft.store.GraftKmsClient")

  /** One multi-aggregate over the update frame serving EVERY scalar the
    * layout's planning needs — time bounds (classification window and
    * attrs date range), bbox (attrs), and the touched bucket set
    * (dynamic-overwrite planning). Folding these into a single action is
    * what keeps the per-publish driver job count flat: each extra scalar
    * round-trip is protocol latency, not data volume. */
  private final case class UpdateStats(
      uLo: java.time.LocalDateTime, uHi: java.time.LocalDateTime,
      bbox: Option[(Double, Double, Double, Double)],
      touched: Set[String]) {
    def summary: Summary = Summary(uLo, uHi, bbox)
  }

  def fileSystem(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
