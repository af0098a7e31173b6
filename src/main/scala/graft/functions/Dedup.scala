package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

import graft.expressions.{MinHashSignature, ShinglePairHashes, SimHash64Expr}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard.
  *
  * Scale design: every method is a groupBy/join over *derived keys* (hashes,
  * band signatures), never an O(n²) cross product. At 100 TB the shuffle key
  * is always a short hash, and candidate verification only touches the
  * LSH-bucketed pairs.
  */
object Dedup {

  /** Exact duplicate groups by content hash: md5 groupBy, keep the minimum
    * id as the canonical survivor. One shuffle on the 128-bit hash — the
    * text itself never shuffles when `textCol` is dropped before the agg. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(md5(col(textCol)).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keeper_id"))
      .filter(col("n_dups") > 1)

  /** Deduplicated view: one row per distinct content hash (minimum id wins). */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col(textCol)))
      .orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct shingle hash pairs via the native [[ShinglePairHashes]]
    * expression — one tight codegen'd loop per row instead of interpreted
    * higher-order functions. Values are bit-identical to
    * `xxhash64(shingle)` / `xxhash64(lit(1), shingle)`. */
  def shinglePairHashes(textCol: Column, n: Int): Column =
    ColumnBridge.column(ShinglePairHashes(ColumnBridge.expression(textCol), n))

  /** MinHash signatures for a corpus: one row per doc, `sig` =
    * ArrayType(Long) of length `numHashes`, computed SHUFFLE-FREE by the
    * native [[MinHashSignature]] expression (one codegen'd loop per row,
    * independent full-width permutations — see the expression's scaladoc
    * for why an arithmetic double-hashing family loses LSH recall). */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int,
      numHashes: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      ColumnBridge.column(MinHashSignature(
        ColumnBridge.expression(col(textCol)), shingleSize, numHashes)).as("sig"))

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band; docs sharing any band hash are candidate pairs. */
  def bandHashes(signature: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(signature, b * rowsPerBand + 1, rowsPerBand)).as("h"))
    }: _*)

  /** MinHash-LSH candidate duplicate pairs.
    *
    * Pipeline: shingle → signature → band hashes → explode bands →
    * self-join on (band, hash) → distinct (a < b) pairs → estimate Jaccard
    * from signature agreement. The only shuffle keys are band hashes;
    * bucket sizes stay small because a band hash is 64 bits.
    */
  def minhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16,
      bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands): " +
        "a truncated rowsPerBand would silently leave signature slots unused")
    val rowsPerBand = numHashes / bands
    // Shingle-less documents (< shingleSize tokens) carry the sentinel
    // signature — drop them before banding or every such pair would
    // band-collide as a spurious candidate.
    val sigs = minhashSignatures(df, idCol, textCol, shingleSize, numHashes)
      .filter(element_at(col("sig"), 1) =!= lit(Long.MaxValue))
      .withColumn("band", explode(bandHashes(col("sig"), bands, rowsPerBand)))
      .select(col("doc_id"), col("sig"), col("band.band").as("band"), col("band.h").as("h"))
    val a = sigs.select(col("band"), col("h"), col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("band"), col("h"), col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "h"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), id => id))
          .cast("double") / lit(numHashes.toDouble)).as("est_jaccard"))
      .distinct()
  }

  /** Near-duplicate pairs: MinHash-LSH candidate generation composed with
    * exact shingle-Jaccard verification — the scale-correct shape. The
    * skew-prone exact join only ever sees LSH candidate pairs (a tiny set),
    * never the full corpus; recall for pairs at `threshold`≥0.9 with the
    * default 64 hashes / 16 bands is 1 − (1−j⁴)¹⁶ ≈ 1−1e-9.
    *
    * ONE pass over the text (r15, guide §1.2/§2.3): signature (candidate
    * side) and shingle-hash set (verify side) materialize together into an
    * eager `localCheckpoint`, so tokenize+shingle+64-permutation hashing
    * runs exactly once per document. The previous composition re-scanned
    * the corpus for each side of the band self-join AND for each verify
    * join (4 text scans), and Catalyst's filter pushdown additionally
    * duplicated the signature expression below the sentinel filter —
    * 8 signature evaluations per doc where one suffices. The candidate
    * join also no longer carries the 64-long signatures through the
    * exchange (they were only used for an `est_jaccard` this operator
    * discards); band/hash/id is the whole payload. The checkpoint backs
    * the returned plan — release it via `Housekeeping.release(result)`
    * (or the session sweep) once the result is consumed.
    *
    * `jaccard` is rounded to 6 before the threshold filter, matching
    * [[ngramJaccardPairs]].
    */
  def nearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands): " +
        "a truncated rowsPerBand would silently leave signature slots unused")
    val rowsPerBand = numHashes / bands
    val hashed = df.select(col(idCol).as("doc_id"),
        ColumnBridge.column(MinHashSignature(
          ColumnBridge.expression(col(textCol)), shingleSize, numHashes)).as("sig"),
        shinglePairHashes(col(textCol), shingleSize).getField("a").as("__sh"))
      .localCheckpoint(true)
    // Shingle-less documents (< shingleSize tokens) carry the sentinel
    // signature — drop them before banding or every such pair would
    // band-collide as a spurious candidate.
    val banded = hashed
      .filter(element_at(col("sig"), 1) =!= lit(Long.MaxValue))
      .select(col("doc_id"),
        explode(bandHashes(col("sig"), bands, rowsPerBand)).as("__b"))
      .select(col("doc_id"), col("__b.band").as("band"), col("__b.h").as("h"))
    val cands = banded.select(col("band"), col("h"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("h"), col("doc_id").as("doc_b")),
        Seq("band", "h"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    // Verification compares hashed shingle sets (8 bytes/shingle in the join
    // payload instead of the string): set sizes — and hence Jaccard — are
    // collision-exact in practice, matching the string-set computation.
    val sh = hashed.select(col("doc_id"), col("__sh"))
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("__sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("__sh").as("sh_b")), Seq("doc_b"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  // Shared decontamination inputs. ShinglePairHashes dedupes per row, so
  // the corpus stream is already per-doc distinct.
  private def shingleStream(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
      explode(shinglePairHashes(col(textCol), n).getField("a")).as("__sh"))
  // benchmark side needs only the text column — no id required
  private def shingleSet(df: DataFrame, textCol: String, n: Int): DataFrame =
    df.select(explode(shinglePairHashes(col(textCol), n).getField("a")).as("__sh"))
      .distinct()

  /** The INCREMENTAL near-dedup scale path: hash and band the corpus ONCE
    * into a persisted LSH index, then dedup each new crawl batch against it
    * with partition-pruned reads — the corpus is never rescanned.
    *
    * Layout under `path`:
    *   - `bands/`  one skinny row per (band, band-hash, doc), partitioned by
    *     `__hb = pmod(h, nParts)` — a probe touches at most nParts
    *     directories, and only the ones its own band hashes land in;
    *   - `docs/`   one row per doc carrying its 8-byte shingle hashes,
    *     partitioned by `__db = pmod(xxhash64(doc_id), nParts)` — the exact
    *     verify reads only the partitions holding candidate ids;
    *   - `_lsh_params.json` pins (shingleSize, numHashes, bands, nParts) so
    *     probes and appends can never mix incompatible hash families.
    *
    * Probe cost scales with the BATCH: the batch's band hashes broadcast
    * into a pruned `bands/` scan, candidates bound the verify join, and
    * the per-pair exact Jaccard matches [[nearDupPairs]] bit for bit. After
    * a batch is admitted, [[lshIndexAppend]] grows both tables in place
    * (parquet append — new files only, no rewrite). */
  def lshIndexWrite(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      nParts: Int = 64,
      mode: String = "overwrite"): Unit = {
    require(numHashes % bands == 0,
      s"numHashes ($numHashes) must be divisible by bands ($bands)")
    require(nParts >= 1, s"nParts $nParts")
    val rowsPerBand = numHashes / bands
    // ONE pass over the text (r15): signatures and shingle-hash sets
    // materialize together, then BOTH table writes read the checkpoint —
    // previously each write re-scanned the corpus and re-ran the hash
    // expressions. The two writes land in disjoint directories and are
    // independent, so they run CONCURRENTLY (guide §2.6): the docs write
    // back-fills executors freed by the bands write's tail.
    val hashed = df.select(col(idCol).as("doc_id"),
        ColumnBridge.column(MinHashSignature(
          ColumnBridge.expression(col(textCol)), shingleSize, numHashes)).as("sig"),
        shinglePairHashes(col(textCol), shingleSize).getField("a").as("__sh"))
      .localCheckpoint(true)
    try {
      import graft.store.PublishProtocol.{async, await}
      // Cluster each table by its partition column before the partitioned
      // write (guide §6: "REBALANCE hint before the write"): without the
      // exchange every write task opens a file in up to nParts directories,
      // so the index accumulates O(tasks × nParts) small files — a
      // million-task corpus with nParts=64 is 64M tiny files, and the probe
      // pays per-file open cost inside every pruned partition it reads.
      // REBALANCE (vs a plain keyed repartition) lets AQE size the layout
      // from actual bytes BOTH ways: small partitions coalesce (few files
      // locally) and a large partition splits into advisory-sized tasks
      // (write parallelism is not capped at nParts, files stay right-sized
      // at scale). The shuffle payload is the skinny band rows / per-doc
      // shingle arrays that were about to be written anyway.
      val bandsJob = async(df.sparkSession) {
        hashed
          .filter(element_at(col("sig"), 1) =!= lit(Long.MaxValue))
          .withColumn("__b", explode(bandHashes(col("sig"), bands, rowsPerBand)))
          .select(col("doc_id"), col("__b.band").as("band"), col("__b.h").as("h"))
          .withColumn("__hb", pmod(col("h"), lit(nParts.toLong)))
          .hint("rebalance", col("__hb"))
          .write.partitionBy("__hb").mode(mode).parquet(s"$path/bands")
      }
      val docsJob = async(df.sparkSession) {
        hashed.select(col("doc_id"), col("__sh"))
          .filter(size(col("__sh")) > 0)
          .withColumn("__db", pmod(xxhash64(col("doc_id")), lit(nParts.toLong)))
          .hint("rebalance", col("__db"))
          .write.partitionBy("__db").mode(mode).parquet(s"$path/docs")
      }
      await(bandsJob)
      await(docsJob)
    } finally graft.Housekeeping.release(hashed)
    Similarity.writeSidecar(df.sparkSession, s"$path/_lsh_params.json",
      graft.meta.JObj(Seq(
        "shingleSize" -> graft.meta.JNum(shingleSize.toDouble),
        "numHashes" -> graft.meta.JNum(numHashes.toDouble),
        "bands" -> graft.meta.JNum(bands.toDouble),
        "nParts" -> graft.meta.JNum(nParts.toDouble))))
  }

  /** True when `path` holds a committed LSH index (its params sidecar
    * exists) — the "is this the first batch" test for incremental loops. */
  def lshIndexExists(spark: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_lsh_params.json")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def lshParams(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Int, Int) = {
    val p = Similarity.readSidecar(spark, s"$path/_lsh_params.json")
      .asInstanceOf[graft.meta.JObj]
    def n(k: String) = p.get(k).collect { case graft.meta.JNum(v) => v.toInt }
      .getOrElse(sys.error(s"LSH index at $path missing param $k"))
    (n("shingleSize"), n("numHashes"), n("bands"), n("nParts"))
  }

  /** Grow a persisted LSH index with an admitted batch, reusing the
    * index's pinned hash-family parameters. */
  def lshIndexAppend(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      df: DataFrame,
      idCol: String,
      textCol: String): Unit = {
    val (shingleSize, numHashes, bands, nParts) = lshParams(spark, path)
    lshIndexWrite(df, idCol, textCol, path, shingleSize, numHashes, bands,
      nParts, mode = "append")
  }

  /** Near-duplicate pairs (index doc, batch doc, exact jaccard) between a
    * persisted LSH index and a new batch. Both the candidate scan and the
    * verify scan are partition-pruned by the driver-side (≤ nParts)
    * partition-value sets the batch actually touches; the batch side
    * broadcasts. Batch-internal duplicates are out of scope by design —
    * run [[nearDupPairs]] on the batch itself for those. */
  def lshProbeNearDups(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.9): DataFrame = {
    val (shingleSize, numHashes, bands, nParts) = lshParams(spark, path)
    val rowsPerBand = numHashes / bands
    // ONE pass over the batch text (r15): signature + shingle hashes
    // materialize together; the probe's band stream, the bucket-set
    // collect, and the verify side all read the checkpoint instead of
    // re-scanning and re-hashing the batch. The checkpoint backs the
    // returned plan — the caller releases it (Housekeeping) when done.
    val hashed = batch.select(col(idCol).as("doc_b"),
        ColumnBridge.column(MinHashSignature(
          ColumnBridge.expression(col(textCol)), shingleSize, numHashes)).as("sig"),
        shinglePairHashes(col(textCol), shingleSize).getField("a").as("sh_b"))
      .localCheckpoint(true)
    val probe = hashed
      .filter(element_at(col("sig"), 1) =!= lit(Long.MaxValue))
      .withColumn("__b", explode(bandHashes(col("sig"), bands, rowsPerBand)))
      .select(col("doc_b"), col("__b.band").as("band"), col("__b.h").as("h"))
    val hbs = probe.select(pmod(col("h"), lit(nParts.toLong)).as("hb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val empty = spark.emptyDataFrame
      .select(lit(0L).as("doc_a"), lit(0L).as("doc_b"),
        lit(0.0).as("jaccard")).limit(0)
    if (hbs.isEmpty) { graft.Housekeeping.release(hashed); return empty }
    // the candidate set is read twice (verify-partition discovery + the
    // verify join itself); both reads are the PRUNED bands scan joined to
    // the broadcast probe — recomputing it keeps the __hb partition
    // pruning visible in the returned plan (pinned by TextDedupSpec), and
    // the expensive per-doc hashing it consumes comes from the checkpoint
    val cands = spark.read.parquet(s"$path/bands")
      .filter(col("__hb").isin(hbs: _*))
      .join(broadcast(probe), Seq("band", "h"))
      .filter(col("doc_id") =!= col("doc_b"))
      .select(col("doc_id").as("doc_a"), col("doc_b")).distinct()
    val dbs = cands.select(pmod(xxhash64(col("doc_a")), lit(nParts.toLong)).as("db"))
      .distinct().collect().map(_.getLong(0)).toSeq
    if (dbs.isEmpty) { graft.Housekeeping.release(hashed); return empty }
    val idxSh = spark.read.parquet(s"$path/docs")
      .filter(col("__db").isin(dbs: _*))
      .select(col("doc_id").as("doc_a"), col("__sh").as("sh_a"))
    val batchSh = hashed.select(col("doc_b"), col("sh_b"))
    cands.join(idxSh, Seq("doc_a")).join(broadcast(batchSh), Seq("doc_b"))
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Benchmark decontamination: corpus documents sharing at least one
    * word-`n`-gram with any benchmark document — the standard training-data
    * hygiene check before evaluation. One shuffle on 8-byte shingle hashes;
    * the benchmark side's distinct shingle set is broadcast when small.
    * Returns the contaminated corpus ids (one row each). */
  def contaminatedDocs(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame =
    shingleStream(corpus, idCol, textCol, n)
      .join(shingleSet(benchmark, textCol, n), Seq("__sh"), "left_semi")
      .select("doc_id").distinct()

  /** Benchmark decontamination at the scale where the benchmark's distinct
    * shingle set is too large to broadcast as a hash set: a Bloom filter of
    * the benchmark shingles (a few bits per element) broadcasts instead and
    * prunes the corpus side BEFORE the exact join, which then only verifies
    * the pruned survivors.
    *
    * The OUTPUT is exactly [[contaminatedDocs]]: Bloom false positives are
    * eliminated by the exact verify, and false negatives are impossible —
    * so this shares q58's oracle while exercising the scale path. `fpp`
    * trades filter size against wasted verify work only. */
  def contaminatedDocsBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    // materialize the (large) benchmark shingle set ONCE: the size count,
    // the Bloom aggregation, and the exact verify join all read the
    // checkpoint instead of re-running tokenize+shingle+distinct three times
    // this checkpoint is referenced by the RETURNED plan (the exact-verify
    // join), so it must outlive the call — the caller releases it with
    // Housekeeping once the result is consumed
    val benchShingles = shingleSet(benchmark, textCol, n)
      .localCheckpoint(true)
    val expected = math.max(benchShingles.count(), 1L)
    val bf = benchShingles.stat.bloomFilter("__sh", expected, fpp)
    val bfBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    // Spark's native might_contain expression (the runtime-filter codegen
    // path) instead of an interpreted Scala UDF — no whole-stage-codegen
    // barrier, no per-shingle boxing on the hot corpus scan
    val mightContain = ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bfBytes, org.apache.spark.sql.types.BinaryType),
        ColumnBridge.expression(col("__sh"))))
    shingleStream(corpus, idCol, textCol, n)
      .filter(mightContain)
      .join(benchShingles, Seq("__sh"), "left_semi")
      .select("doc_id").distinct()
  }

  /** Per-document contamination FRACTION (not just the boolean flag): the
    * share of a corpus document's distinct word-`n`-grams that appear in
    * the benchmark set — the signal a pipeline thresholds on instead of
    * hard-dropping every touching doc. Documents with fewer than `n`
    * tokens have no shingles and emit no row. Same shuffle shape as
    * [[contaminatedDocs]] (8-byte shingle hashes; benchmark side distinct
    * + broadcastable). */
  def contaminationOverlap(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    val benchSh = shingleSet(benchmark, textCol, n)
      .withColumn("__hit", lit(1L))
    // single pass: one corpus explode, one left join flagging benchmark
    // hits, one per-doc aggregate computing both counts together
    shingleStream(corpus, idCol, textCol, n)
      .join(benchSh, Seq("__sh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_common"))
      .withColumn("overlap", round(
        col("n_common").cast("double") / col("n_shingles").cast("double"), 6))
  }

  /** 64-bit SimHash over tokens: for each bit, sum ±1 votes weighted by the
    * token hash's bit value; bit set when the vote is positive. Near-dups
    * have small Hamming distance. Native [[SimHash64Expr]]: one codegen'd
    * tokenize→hash→vote loop per row (the 64-pass HOF formulation it
    * replaces ran interpreted; a parity spec pins bit-identity). */
  def simhash64(textCol: Column): Column =
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(textCol)))

  /** Hamming distance between two 64-bit simhashes via bit_count(xor). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** CCNet-style corpus-level line dedup: drop every line that appears in
    * ≥ `minDocs` DISTINCT documents (boilerplate headers/footers/nav), and
    * reconstruct each document from its kept lines in original order.
    * Returns (idCol, cleaned, n_removed).
    *
    * Scale shape: the shuffle key is the line string only while counting
    * document frequency (the classic inverted count); the common-line set
    * is then the small side of the membership join. Reconstruction is a
    * per-document sort_array over (position, line) structs — no window. */
  def corpusLineDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Int): DataFrame = {
    // split ONCE (r15, guide §5): the document-frequency count and the
    // reconstruction join both read the materialized per-doc line arrays
    // instead of re-scanning and re-splitting the corpus per reference;
    // caller/sweep releases the checkpoint
    val lineArr = df.select(col(idCol).as("__id"),
        split(col(textCol), "\n").as("__ls"))
      .localCheckpoint(true)
    val lines = lineArr.select(col("__id"),
      posexplode(col("__ls")).as(Seq("__pos", "__line")))
    val common = lines.filter(col("__line") =!= "")
      .groupBy("__line")
      .agg(countDistinct(col("__id")).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("__line"), lit(true).as("__drop"))
    lines.join(common, Seq("__line"), "left")
      .groupBy(col("__id"))
      .agg(
        array_join(transform(
          array_sort(collect_list( // collect_list drops the nulled (removed) rows
            when(col("__drop").isNull, struct(col("__pos"), col("__line"))))),
          x => x.getField("__line")), "\n").as("cleaned"),
        sum(when(col("__drop"), 1L).otherwise(0L)).as("n_removed"))
      .withColumnRenamed("__id", idCol)
  }

  /** Connected components over a near-duplicate pair graph, via alternating
    * large-star / small-star rounds (the classic MapReduce construction:
    * Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14). Returns `(node, component)` for every node appearing in
    * `pairs`, where `component` is the MINIMUM node id in the component —
    * the canonical cluster id a dedup pass keeps.
    *
    * Scale shape: each round is two hash aggregations + joins keyed on node
    * ids (8 bytes); no adjacency list is ever collected, and the edge set
    * only shrinks toward one star per component. Convergence is O(log n)
    * rounds on any graph (per the paper), each round a constant number of
    * shuffles. Lineage is truncated per round with an eager
    * `localCheckpoint` so the plan does not grow with the round count.
    *
    * Dedup pipelines chain this after [[nearDupPairs]]: pairs → components
    * → keep the member equal to its component id (see
    * [[clusterCanonicalDedup]]).
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxRounds: Int = 30): DataFrame = {
    // materialize the (possibly expensive — LSH + exact verify) pair
    // pipeline ONCE; the node derivation and the edge iteration derive from
    // the checkpoint, never from the original lineage (exchange reuse does
    // not span the separate actions below)
    var base: DataFrame = null
    var edges: DataFrame = null
    try {
    base = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .localCheckpoint(true)

    // canonical undirected edges (u < v), self-loops dropped. LAZY
    // checkpoint (r15): the round-0 digest below is the first action and
    // materializes the blocks as it folds — no separate checkpoint job.
    // `base` stays alive until the final labeling (the node set derives
    // from it there), so releasing happens at the end, not here.
    edges = base
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("u"), greatest(col("x"), col("y")).as("v"))
      .distinct()
      .localCheckpoint(false)

    // order-independent edge-set digest: (count, xor of pair hashes). Equal
    // digests across a round ⇒ the set is (up to a 2⁻⁶⁴ collision) stable —
    // at the fixpoint every component is a star centered at its minimum.
    def digest(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), coalesce(
        // BIT_XOR via sum-free fold: xor is exposed as an aggregate through
        // expr; xxhash64 over both endpoints keys the digest to the pair
        expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    var prev = digest(edges)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // LARGE-STAR: for each center u over the SYMMETRIC adjacency, link
      // every strictly larger neighbor to m = min(u, Γ(u)).
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(least(col("u"), min(col("v"))).as("m"))
      // no distinct here: duplicate (m, v) edges are absorbed by the
      // small-star groupBy/join and the final distinct — dropping the
      // extra shuffle stage per round is worth the bounded dup carry
      val large = sym.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))
      // SMALL-STAR: center = the larger endpoint of each canonical edge;
      // link all of its ≤ neighbors (and itself) to their minimum. ONE
      // join (r15): each joined (v, u, m) row emits BOTH output edges —
      // (m, u) for the neighbor and (m, v) for the center — via explode,
      // where the former union of two identical joins shuffled twice.
      // LAZY checkpoint: the digest below is the round's SINGLE driver
      // action — it materializes the checkpoint blocks as it folds the
      // convergence digest, so a round costs one job, not checkpoint+probe.
      val ssMin = large.groupBy(col("v")).agg(min(col("u")).as("m"))
      val small = large.join(ssMin, "v")
        .select(explode(array(
          struct(col("m").as("u"), col("u").as("v")),
          struct(col("m").as("u"), col("v").as("v")))).as("__e"))
        .select(col("__e.u").as("u"), col("__e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false)
      val cur = digest(small)
      converged = cur == prev
      prev = cur
      // the new round is materialized (the digest ran): the previous
      // round's edge blocks are dead — release them before they pile up
      graft.Housekeeping.release(edges)
      edges = small
      rounds += 1
    }
    require(converged, s"connectedComponents did not converge in $maxRounds rounds")

    // at the fixpoint, edges are (componentMin, member): map members
    // directly, centers (and nodes that lost all edges to self-loop
    // dropping) to themselves. The node set derives from the still-live
    // `base` checkpoint right here — it is only ever read once, so the
    // former upfront node materialization was a whole job for nothing.
    // Materialize the labeling, then release the base and edge frames —
    // the caller receives ONE persisted frame (and releases it via
    // Housekeeping when done).
    val nodes = base.select(col("x").as("n"))
      .union(base.select(col("y").as("n"))).distinct()
    val out = nodes
      .join(edges.select(col("v").as("n"), col("u").as("c")), Seq("n"), "left")
      .select(col("n").as("node"), coalesce(col("c"), col("n")).as("component"))
      .localCheckpoint(true)
    graft.Housekeeping.release(base)
    graft.Housekeeping.release(edges)
    out
    } catch {
      case t: Throwable =>
        // a failed round (or non-convergence) must not strand the live
        // checkpoints — the caller's retry would stack a fresh set on top.
        // Double-release of already-freed frames is a no-op.
        Seq(base, edges).filter(_ != null)
          .foreach(graft.Housekeeping.release)
        throw t
    }
  }

  /** Cluster-canonical near-dedup: the full pipeline a corpus-scale dedup
    * actually runs — LSH candidates → exact verify ([[nearDupPairs]]) →
    * [[connectedComponents]] → keep ONE doc per component (the minimum id)
    * plus every doc in no near-dup pair. Returns the kept `(idCol)` rows. */
  def clusterCanonicalDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.9): DataFrame = {
    val pairs = nearDupPairs(df, idCol, textCol, shingleSize, numHashes, bands, threshold)
    val cc = connectedComponents(pairs, "doc_a", "doc_b")
    df.select(col(idCol))
      .join(cc.filter(col("node") =!= col("component"))
        .select(col("node").as(idCol)), Seq(idCol), "left_anti")
  }

  /** Exact-substring deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every K-token span that
    * occurs MORE THAN ONCE anywhere in the corpus (across documents or
    * within one) is removed from every document carrying it; surviving
    * tokens are rejoined. Unlike pair-grain near-dedup this rewrites the
    * text itself — the suffix-array step of the paper re-expressed as a
    * gram-frequency shuffle.
    *
    * Returns (idCol, n_tokens, n_removed, clean_text).
    *
    * Scale: the one corpus-wide shuffle is the gram-hash count (8-byte
    * xxhash64 keys, map-side combined); flagged positions return via a
    * join on the hash and a doc-keyed aggregation whose payload is bounded
    * by document length; reconstruction is a per-row index filter. Skew is
    * bounded by the hottest duplicated gram — at K ≥ 50 (the paper's
    * setting) hot grams are exactly the boilerplate this op exists to
    * delete.
    */
  def exactSubstringDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"span length $k: a 1-token span would delete every repeated word")
    // tokenize ONCE (r15, guide §5): the gram stream (referenced by both
    // the duplicate count and the flagged-position join) and the final
    // reconstruction all read the materialized per-doc token arrays —
    // previously each reference re-scanned and re-tokenized the corpus;
    // caller/sweep releases the checkpoint
    val toks = df.select(col(idCol), graft.functions.Text.tokens(col(textCol)).as("toks"))
      .localCheckpoint(true)
    // gram hash per start position; sequence(0, n-k) is DESCENDING when
    // n < k, so short documents must produce an empty gram list explicitly
    val grams = toks.select(col(idCol), posexplode(
        graft.functions.Text.bind(col("toks")) { t =>
          when(size(t) >= k,
            transform(sequence(lit(0), size(t) - k),
              i => xxhash64(array_join(slice(t, i + 1, lit(k)), " "))))
            .otherwise(array().cast("array<bigint>"))
        }).as(Seq("pos", "gh")))
    val dup = grams.groupBy("gh").agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .select("gh")
    val flagged = grams.join(dup, Seq("gh"))
      .groupBy(idCol).agg(sort_array(collect_set(col("pos"))).as("rm"))
    val rm = coalesce(col("rm"), array().cast("array<int>"))
    // bind the KEPT array (a computed filter tree) so its two consumers
    // read a bound variable instead of re-evaluating the filter
    toks.join(flagged, Seq(idCol), "left")
      .select(col(idCol),
        size(col("toks")).cast("long").as("n_tokens"),
        graft.functions.Text.bind(filter(col("toks"),
          (_, i) => !exists(rm, p => p <= i && i < p + k))) { kept =>
          struct(
            (size(col("toks")) - size(kept)).cast("long").as("n_removed"),
            array_join(kept, " ").as("clean_text"))
        }.as("r"))
      .select(col(idCol), col("n_tokens"),
        col("r.n_removed"), col("r.clean_text"))
  }

  /** Exact n-gram Jaccard similar pairs above `threshold`.
    *
    * Explode distinct shingles → self-join on shingle → per-pair common
    * count → Jaccard with per-doc shingle counts. The shingle join is the
    * classic "inverted index" plan: shuffle keys are shingles, so skew is
    * bounded by the most common shingle — acceptable for ≥3-gram shingles;
    * for larger corpora use `minhashCandidatePairs` first and verify only
    * candidates, OR set `maxShingleDocFreq`.
    *
    * `maxShingleDocFreq = Some(cap)` is the STOP-SHINGLE mitigation for
    * that skew bound: shingles appearing in more than `cap` documents are
    * excluded from CANDIDATE GENERATION (the self-join), capping the
    * hottest key's pair fan-out at cap²/2 — candidates are then verified
    * against the FULL shingle sets, so every reported Jaccard is still
    * exact. The trade is recall on pairs whose every shared shingle is
    * ubiquitous: boilerplate-only overlaps, which sit far below any
    * near-dup threshold at realistic n. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Option[Long] = None): DataFrame = {
    // Shuffle 8-byte shingle hashes, not shingle strings: the join key and
    // every exchange shrink ~4×, and Jaccard counts are unchanged short of
    // an xxhash64 collision (~n²/2⁶⁵ — negligible at any realistic corpus).
    // ONE pass over the text (r15): the per-doc shingle-hash arrays
    // materialize once into an eager checkpoint; the exploded stream, the
    // per-doc stats, and the exact verify all read it instead of
    // re-tokenizing the corpus per plan reference (the capped branch held
    // five such references). The checkpoint backs the returned plan —
    // released by `Housekeeping.release(result)` / the session sweep.
    val shArr = df.select(col(idCol).as("doc_id"),
        shinglePairHashes(col(textCol), n).getField("a").as("__sh"))
      .localCheckpoint(true)
    val sh = shArr.select(col("doc_id"), explode(col("__sh")).as("shingle"))
    // per-doc shingle counts are size(__sh) on the materialized arrays
    // (ShinglePairHashes already dedupes per row) — the former
    // explode+groupBy recounted them through a full corpus-shingle
    // exchange (r16, guide §2.4: remove shuffles outright)
    val docCounts = shArr.select(col("doc_id"),
      size(col("__sh")).cast("long").as("__n"))
    maxShingleDocFreq match {
      case None =>
        val counts = docCounts.withColumnRenamed("__n", "n_shingles")
        val pairs = sh.toDF("doc_a", "shingle")
          .join(sh.toDF("doc_b", "shingle"), Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_common"))
        pairs
          .join(counts.toDF("doc_a", "n_a"), Seq("doc_a"))
          .join(counts.toDF("doc_b", "n_b"), Seq("doc_b"))
          .withColumn("jaccard",
            round(col("n_common").cast("double") /
              (col("n_a") + col("n_b") - col("n_common")).cast("double"), 6))
          .filter(col("jaccard") >= threshold)
          .select("doc_a", "doc_b", "jaccard")
      case Some(cap) =>
        require(cap >= 2, s"maxShingleDocFreq must be >= 2, got $cap")
        val rare = sh.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .filter(col("__df") <= cap).select("shingle")
        // the join key moves FIRST in the joined frame — re-select before
        // positional renames
        val shRare = sh.join(rare, Seq("shingle"))
          .select("doc_id", "shingle")
        // per-doc totals: n = all shingles (free via size(__sh) above),
        // r = rare shingles; h = n − r hot ones (each doc's shingles are
        // already distinct). __r derives from shRare so the rare join's
        // subplan exists ONCE in the plan.
        val docStats = docCounts
          .join(shRare.groupBy("doc_id").agg(count(lit(1)).as("__r")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("__n"),
            coalesce(col("__r"), lit(0L)).as("__r"))
        // candidate pairs WITH their rare-common count c_r in one pass
        // (groupBy replaces the former distinct — same exchange)
        val cands = shRare.toDF("doc_a", "shingle")
          .join(shRare.toDF("doc_b", "shingle"), Seq("shingle"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("__cr"))
        // conservative prune before the expensive array verify: the true
        // common count is c_r + c_h with c_h ≤ min(h_a, h_b), and jaccard
        // is increasing in c_h, so
        //   jaccard ≤ (c_r + min(h_a,h_b)) / (n_a + n_b − c_r − min(h_a,h_b))
        // — an upper bound; pairs it already disqualifies (the bulk:
        // random single-shingle overlaps) never reach the verify join,
        // while every surviving pair is still verified EXACTLY below.
        val pruned = cands
          .join(docStats.select(col("doc_id").as("doc_a"),
            col("__n").as("__na"), (col("__n") - col("__r")).as("__ha")), Seq("doc_a"))
          .join(docStats.select(col("doc_id").as("doc_b"),
            col("__n").as("__nb"), (col("__n") - col("__r")).as("__hb")), Seq("doc_b"))
          .withColumn("__maxc", col("__cr") + least(col("__ha"), col("__hb")))
          // the verify below filters on round(jaccard, 6) ≥ threshold,
          // which admits exact jaccards as low as threshold − 5e-7 — the
          // prune threshold backs off by that much (plus 1e-9 for double
          // rounding of the product) so it can only ever be conservative:
          // extra survivors are re-checked exactly; a dropped true pair
          // would be a recall bug
          .filter(col("__maxc").cast("double") >=
            lit(threshold - 5e-7) *
              (col("__na") + col("__nb") - col("__maxc")).cast("double")
              - lit(1e-9))
          .select("doc_a", "doc_b")
        // exact verify over the full sets — the nearDupPairs shape, with
        // stop-shingle candidates instead of LSH candidates; the sets come
        // from the same checkpoint (no re-tokenize)
        pruned
          .join(shArr.select(col("doc_id").as("doc_a"), col("__sh").as("sh_a")), Seq("doc_a"))
          .join(shArr.select(col("doc_id").as("doc_b"), col("__sh").as("sh_b")), Seq("doc_b"))
          .withColumn("jaccard", round(
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
              size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6))
          .filter(col("jaccard") >= threshold)
          .select("doc_a", "doc_b", "jaccard")
    }
  }
}
