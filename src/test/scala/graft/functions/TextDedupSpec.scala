package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TextDedupSpec extends SparkSpec {
  private val sp = spark
  import sp.implicits._

  test("tokens split on any whitespace and drop empties") {
    val out = Seq("a b\tc\nd  e ", "").toDF("t")
      .select(Text.tokens(col("t"))).as[Seq[String]].collect()
    assert(out(0) == Seq("a", "b", "c", "d", "e"))
    assert(out(1) == Seq.empty)
  }

  test("shingles produce n-grams in order") {
    val out = Seq("a b c d").toDF("t")
      .select(Text.shingles(col("t"), 3)).as[Seq[String]].head()
    assert(out == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(Text.shingles(col("t"), 3)).as[Seq[String]].head()
    assert(short == Seq.empty)
  }

  test("quality metrics: ratios in [0,1], empty text safe") {
    val df = Seq("the cat sat on the mat", "", "zzz zzz zzz zzz").toDF("t")
    val rows = df.select(
      Text.distinctRatio(col("t")),
      Text.stopwordRatio(col("t"), Text.DefaultStopwords),
      Text.punctRatio(col("t")),
      Text.qualityScore(col("t"))).collect()
    rows.foreach { r =>
      (0 until 4).foreach { i =>
        val v = r.getDouble(i)
        assert(v >= 0.0 && v <= 1.0)
      }
    }
    // diverse natural text beats repeated garbage
    assert(rows(0).getDouble(3) > rows(2).getDouble(3))
  }

  test("langIdNgram identifies obvious English and German") {
    val out = Seq("the quick brown fox and the lazy dog of the farm",
        "ich bin ein berliner und die schule ist schön")
      .toDF("t").select(Text.langIdNgram(col("t"))).as[String].collect()
    assert(out(0) == "en")
    assert(out(1) == "de")
  }

  test("fingerprint is deterministic, order-sensitive, no ANSI overflow") {
    val out = Seq("alpha beta gamma delta epsilon", "beta alpha gamma delta epsilon",
        "alpha beta gamma delta epsilon")
      .toDF("t").select(Text.fingerprint(col("t"))).as[Long].collect()
    assert(out(0) == out(2))
    assert(out(0) != out(1))
  }

  test("exactDupGroups finds duplicate texts; exactDedup keeps min id") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("id", "t")
    val groups = Dedup.exactDupGroups(df, "id", "t").collect()
    assert(groups.length == 1 && groups.head.getAs[Long]("n_dups") == 2
      && groups.head.getAs[Long]("keeper_id") == 1L)
    val kept = Dedup.exactDedup(df, "id", "t").select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("minhash: identical docs collide in every band; signature length respected") {
    val df = Seq((1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w6"),
      (3L, "x1 x2 x3 x4 x5 x6")).toDF("id", "t")
    val pairs = Dedup.minhashCandidatePairs(df, "id", "t", 3, 16, 4).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs.head.getAs[Double]("est_jaccard") == 1.0)
  }

  test("minhash rejects non-divisible banding") {
    val df = Seq((1L, "a b c d")).toDF("id", "t")
    assertThrows[IllegalArgumentException] {
      Dedup.minhashCandidatePairs(df, "id", "t", 3, 16, 5)
    }
  }

  test("nearDupPairs verifies candidates with exact jaccard") {
    val df = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),    // identical → jaccard 1.0
      (3L, "a b c d e f g zz"),   // near dup
      (4L, "p q r s t u v w"))    // unrelated
      .toDF("id", "t")
    val out = Dedup.nearDupPairs(df, "id", "t", 3, 16, 4, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)))
    assert(!out.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("simhash: identical text → distance 0, related text close, unrelated far") {
    val df = Seq(
      ("a b c d e f g h i j", "a b c d e f g h i j"),
      ("a b c d e f g h i j", "k l m n o p q r s t"))
      .toDF("x", "y")
    val d = df.select(Dedup.hamming64(Dedup.simhash64(col("x")), Dedup.simhash64(col("y"))))
      .as[Int].collect()
    assert(d(0) == 0)
    assert(d(1) > 10)
  }

  test("ngramJaccardPairs computes exact jaccard above threshold") {
    val df = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "v w x y z")).toDF("id", "t")
    val out = Dedup.ngramJaccardPairs(df, "id", "t", 2, 0.9).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Double]("jaccard") == 1.0)
  }

  test("ngramJaccardPairs stop-shingle cap: hot-only overlaps drop from " +
      "candidates, surviving pairs keep the EXACT full-set jaccard") {
    // docs 1/2 identical; every doc shares the hot shingle "x y". With
    // cap = 2, "x y" (df = 3) is barred from candidate generation: the
    // 1-2 pair still surfaces via its rare shingles at jaccard 1.0 (full
    // sets, hot shingle included), while 3 — overlapping ONLY via the hot
    // shingle — pairs with nobody.
    val df = Seq(
      (1L, "x y a b c"), (2L, "x y a b c"), (3L, "x y q r s")).toDF("id", "t")
    val capped = Dedup.ngramJaccardPairs(df, "id", "t", 2, 0.0,
      maxShingleDocFreq = Some(2L)).collect()
    assert(capped.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(capped.head.getAs[Double]("jaccard") == 1.0)
    // a cap above every doc-frequency reproduces the uncapped pair set
    val uncapped = Dedup.ngramJaccardPairs(df, "id", "t", 2, 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
    val wide = Dedup.ngramJaccardPairs(df, "id", "t", 2, 0.0,
      maxShingleDocFreq = Some(100L)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
    assert(wide == uncapped)
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(df, "id", "t", 2, 0.5, maxShingleDocFreq = Some(1L))
    }
  }

  test("stop-shingle cap at a NONZERO threshold: the upper-bound prune keeps " +
      "every true pair and kills hot-bounded ones") {
    // a corpus where pairs straddle the threshold: 1-2 near-identical
    // (J = 4/6), 1-3 share exactly one rare shingle (J = 1/9 — the prune
    // must reject it without the array verify), 4-5 share only the
    // ubiquitous hot shingle (never candidates at all)
    val df = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e z"),
      (3L, "a b q r s t"),
      (4L, "x y m1 m2 m3"),
      (5L, "x y k1 k2 k3"),
      (6L, "x y p1 p2 p3")).toDF("id", "t")
    for (thr <- Seq(0.5, 0.66, 0.9)) {
      val uncapped = Dedup.ngramJaccardPairs(df, "id", "t", 2, thr).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
      val wide = Dedup.ngramJaccardPairs(df, "id", "t", 2, thr,
        maxShingleDocFreq = Some(100L)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard"))).toSet
      assert(wide == uncapped, s"thr=$thr: $wide vs $uncapped")
    }
    // at threshold 0.5 with cap 2 ("x y" barred, df = 3): only 1-2 survive
    val capped = Dedup.ngramJaccardPairs(df, "id", "t", 2, 0.5,
      maxShingleDocFreq = Some(2L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
  }

  test("contaminatedDocs flags corpus docs sharing an n-gram with the benchmark") {
    val sp2 = spark; import sp2.implicits._
    val bench = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("id", "t")
    val corpus = Seq(
      (10L, "prefix alpha beta gamma delta epsilon zeta suffix"), // contains the 6-gram
      (11L, "totally unrelated words in this one here now"),
      (12L, "alpha beta gamma delta DIFFERENT epsilon zeta")      // no shared 6-gram
    ).toDF("id", "t")
    val out = Dedup.contaminatedDocs(corpus, bench, "id", "t", 6)
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(10L))
  }

  test("chunkDocument windows tokens with overlap; edge cases") {
    val sp2 = spark; import sp2.implicits._
    val doc = (1 to 10).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc), (2L, "a b"), (3L, "")).toDF("id", "t")
    val out = df.select(col("id"), Text.chunkDocument(col("t"), 4, 1).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](0 + 1)).toMap
    // stride 3: ceil((10-1)/3) = 3 windows — t1-t4, t4-t7, t7-t10 cover all
    assert(out(1L) == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(out(2L) == Seq("a b")) // shorter than one chunk
    assert(out(3L) == Seq.empty)  // empty doc
  }

  test("repetition filters: duplicate lines and top-bigram coverage") {
    val sp2 = spark; import sp2.implicits._
    val df = Seq(
      (1L, "line one\nline two\nline one\nline three"),   // 1 dup of 4 lines
      (2L, "spam spam spam spam spam"),                      // one bigram repeated
      (3L, "all distinct lines\nno repeats here"),
      (4L, "")
    ).toDF("id", "t")
    val out = df.select(col("id"),
        Text.duplicateLineFraction(col("t")).as("dl"),
        Text.topBigramCoverage(col("t")).as("tb"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L)._1 == 0.25)
    assert(out(2L)._2 == 1.0) // "spam spam" is every bigram
    assert(out(3L)._1 == 0.0)
    assert(out(4L) == ((0.0, 0.0)))
  }

  test("corpusLineDedup drops corpus-frequent lines, keeps order, counts removals") {
    val sp2 = spark; import sp2.implicits._
    val docs = (1 to 5).map(i =>
      (i.toLong, s"unique head $i\nCOMMON FOOTER\nbody line $i\nCOMMON FOOTER")) :+
      (6L, "all alone here")
    val out = Dedup.corpusLineDedup(docs.toDF("id", "t"), "id", "t", minDocs = 5)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // the footer (in 5 distinct docs) is dropped — BOTH occurrences per doc
    assert(out(1L) == (("unique head 1\nbody line 1", 2L)))
    assert(out(3L) == (("unique head 3\nbody line 3", 2L)))
    assert(out(6L) == (("all alone here", 0L)))
    // below the threshold nothing is dropped
    val none = Dedup.corpusLineDedup(docs.toDF("id", "t"), "id", "t", minDocs = 6)
      .filter(col("n_removed") > 0).count()
    assert(none == 0)
  }

  test("scrubPii masks emails then URLs, leaves clean text alone") {
    val sp2 = spark; import sp2.implicits._
    val df = Seq(
      "write to a.user+tag@sub.example.org today",
      "docs at https://example.com/a/b?x=1&y=2#frag now",
      "both bob@example.com and http://example.com/z",
      "nothing to scrub here").toDF("t")
    val got = df.select(Text.scrubPii(col("t"))).as[String].collect()
    assert(got(0) == "write to <EMAIL> today")
    assert(got(1) == "docs at <URL> now")
    assert(got(2) == "both <EMAIL> and <URL>")
    assert(got(3) == "nothing to scrub here")
  }

  test("charPairCounts: BPE pair frequencies with deterministic ordering") {
    val sp2 = spark; import sp2.implicits._
    val df = Seq("abab ab", "x").toDF("t")
    // "abab" → ab, ba, ab; "ab" → ab; "x" → nothing
    val out = Text.charPairCounts(df, "t").as[(String, Long)].collect().toSeq
    assert(out == Seq(("ab", 3L), ("ba", 1L)))
  }

  test("contaminatedDocsBloom equals the exact contaminatedDocs set") {
    val sp2 = spark; import sp2.implicits._
    val shared = "one two three four five six seven eight nine ten"
    val corpus = Seq(
      (10L, s"prefix words $shared suffix words"),
      (11L, "totally unrelated text with completely different tokens here now"),
      (12L, s"another hit $shared trailing")).toDF("doc_id", "text")
    val bench = Seq((1L, s"benchmark doc containing $shared inside")).toDF("doc_id", "text")
    val exact = Dedup.contaminatedDocs(corpus, bench, "doc_id", "text", n = 8)
      .as[Long].collect().toSet
    val bloom = Dedup.contaminatedDocsBloom(corpus, bench, "doc_id", "text", n = 8)
      .as[Long].collect().toSet
    assert(bloom == exact && exact == Set(10L, 12L))
  }

  test("unigramSurprisal: rare tokens score higher; order-stable") {
    val sp2 = spark; import sp2.implicits._
    val df = Seq(
      (1L, "common common common common"),
      (2L, "common common rare1 rare2")).toDF("doc_id", "text")
    val out = Text.unigramSurprisal(df, "doc_id", "text")
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    assert(out.map(_._3).toSeq == Seq(4L, 4L))
    assert(out(1)._2 > out(0)._2) // the rare-token doc is more surprising
    // repartitioning must not change a single rounded score
    val again = Text.unigramSurprisal(df.repartition(7), "doc_id", "text")
      .as[(Long, Double, Long)].collect().sortBy(_._1)
    assert(again.toSeq == out.toSeq)
  }

  test("packSequences fills shard-local bins contiguously") {
    val sp2 = spark; import sp2.implicits._
    // one shard, budget 5: docs of 3,3,3 tokens → exclusive prefixes 0,3,6
    // → bins 0,0,1
    val df = Seq((0L, "a b c"), (1L, "d e f"), (2L, "g h i")).toDF("doc_id", "text")
    val out = Text.packSequences(df, "doc_id", "text", budgetTokens = 5, shards = 1)
      .select("doc_id", "shard", "n_tokens", "bin")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((0L, 0L, 3L, 0L), (1L, 0L, 3L, 0L), (2L, 0L, 3L, 1L)))
    // sharding keeps windows partition-local: same docs, 3 shards → each
    // doc is alone in its shard, all bins 0
    val sharded = Text.packSequences(df, "doc_id", "text", 5, 3)
      .select("bin").as[Long].collect()
    assert(sharded.forall(_ == 0L))
  }

  test("contaminationOverlap: fraction of shingles shared with the benchmark") {
    val sp2 = spark; import sp2.implicits._
    val run = "w1 w2 w3 w4 w5 w6 w7 w8"
    val corpus = Seq(
      (10L, s"$run x1 x2 x3 x4 x5 x6 x7"),   // 8 shingles, 1 shared
      (11L, "z1 z2 z3 z4 z5 z6 z7 z8 z9")).toDF("doc_id", "text")
    val bench = Seq((1L, run)).toDF("doc_id", "text")
    val out = Dedup.contaminationOverlap(corpus, bench, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(out(0) == ((10L, 8L, 1L, 0.125)))
    assert(out(1) == ((11L, 2L, 0L, 0.0)))
  }

  test("gopherQualityFilter: each rule trips on its crafted violator") {
    val sp2 = spark; import sp2.implicits._
    val prose = ("the cat sat and the dog ran to the mat " * 3).trim // 30 words, stopwords
    val docs = Seq(
      (1L, prose),                                      // passes everything
      (2L, "too short"),                                // fails words (< 5)
      (3L, ("a " * 40).trim),                           // fails mean len (1 char)
      (4L, (("0 1 2 " * 10) + "the a it").trim),        // fails alpha (30/33 numeric)
      (5L, ("cat dog mat bird " * 8).trim),             // fails stopwords (none)
      (6L, Seq.fill(10)("same line of the text a b").mkString("\n")), // dup lines
      (7L, (("# " * 20) + prose).trim),                 // fails symbols
      (8L, (1 to 10).map(i => s"- bullet the a $i").mkString("\n")),  // bullets
      (9L, (1 to 10).map(i => s"line the a $i...").mkString("\n")))   // ellipsis lines
      .toDF("doc_id", "text")
    val out = Text.gopherQualityFilter(docs, "doc_id", "text",
        minWords = 5, maxWords = 1000, minMeanLen = 2, maxMeanLen = 10)
      .collect().map(r => r.getLong(0) ->
        r.schema.fieldNames.drop(1).map(f => f -> r.getAs[Boolean](f)).toMap).toMap
    assert(out(1L).values.forall(identity))
    assert(!out(2L)("pass_words") && out(2L)("pass_alpha"))
    assert(!out(3L)("pass_mean_len"))
    assert(!out(4L)("pass_alpha"))
    assert(!out(5L)("pass_stopwords"))
    assert(!out(6L)("pass_dup_lines"))
    assert(!out(7L)("pass_symbols"))
    assert(!out(8L)("pass_bullets"))
    assert(!out(9L)("pass_ellipsis"))
    assert(out.filter(_._1 != 1L).values.forall(m => !m("keep")))
  }

  test("bigramSurprisal matches an independent driver-side bigram LM") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "a b a b c"), (2L, "a b"), (3L, "solo"), (4L, "c c"))
    val res = graft.functions.Text.bigramSurprisal(docs.toDF("doc_id", "text"),
      "doc_id", "text").orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    // independent formulation over plain collections
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }
    val allToks = toks.flatMap(_._2)
    val c1 = allToks.groupBy(identity).view.mapValues(_.size).toMap
    val c2 = toks.flatMap(_._2.sliding(2).filter(_.size == 2))
      .groupBy(identity).view.mapValues(_.size).toMap
    val v = c1.size.toDouble
    for ((id, ts) <- toks) {
      val bigrams = ts.sliding(2).filter(_.size == 2).toSeq
      val expect = bigrams.map(b =>
        -math.log((c2(b) + 1.0) / (c1(b.head) + v))).sum
      assert(math.abs(res(id)._1 - math.rint(expect * 10000) / 10000.0) < 1e-9,
        s"doc $id")
      assert(res(id)._2 == bigrams.size.toLong)
    }
    assert(res(3L) == ((0.0, 0L)))
  }

  test("exactSubstringDedup cuts every >1x K-span, keeps unique flanks, handles short docs") {
    val sp = spark; import sp.implicits._
    // the 4-token span "a b c d" appears in docs 1 and 2 (cross-doc dup);
    // doc 3 repeats "p q r s" twice INTERNALLY; doc 4 is unique; doc 5 is
    // shorter than K and must pass through untouched
    val df = Seq(
      (1L, "u1 u2 a b c d v1 v2"),
      (2L, "w1 a b c d w2 w3 w4"),
      (3L, "p q r s x1 p q r s"),
      (4L, "all of these tokens appear once only here"),
      (5L, "too short")
    ).toDF("doc_id", "text")
    val out = graft.functions.Dedup.exactSubstringDedup(df, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
    val byId = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(byId(1L) == ((8L, 4L, "u1 u2 v1 v2")))
    assert(byId(2L) == ((8L, 4L, "w1 w2 w3 w4")))
    // doc 3: both occurrences of the internal dup vanish; x1 survives
    assert(byId(3L) == ((9L, 8L, "x1")))
    assert(byId(4L)._2 == 0L && byId(4L)._3.startsWith("all of these"))
    assert(byId(5L) == ((2L, 0L, "too short")))
    // overlapping flagged spans merge rather than double-count
    val ov = Seq(
      (10L, "m1 m2 m3 m4 m5 tail1"),
      (11L, "m1 m2 m3 m4 m5 tail2")).toDF("doc_id", "text")
    val o2 = graft.functions.Dedup.exactSubstringDedup(ov, "doc_id", "text", k = 4)
      .orderBy("doc_id").collect()
    // spans [0,4) and [1,5) both duplicated -> tokens 0-4 removed, tail kept
    assert(o2.map(_.getString(3)).toSeq == Seq("tail1", "tail2"))
    assert(o2.map(_.getLong(2)).toSeq == Seq(5L, 5L))
  }

  test("lshIndexWrite jobs carry the caller's local properties") {
    val root = java.nio.file.Files.createTempDirectory("lsh_props").toString
    val corpus = (0 until 20).map(i => (i.toLong, s"doc $i token$i other$i words"))
      .toDF("doc_id", "text")
    // the helper threads must exist BEFORE the property is set: a pooled
    // thread that merely inherited the property at creation proves nothing
    Dedup.lshIndexWrite(corpus, "doc_id", "text", s"$root/warm", nParts = 2)
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val tagged = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        tagged.add(Option(e.properties).flatMap(p => Option(p.getProperty("graft.test.caller"))))
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.test.caller", tag)
    try {
      Dedup.lshIndexWrite(corpus, "doc_id", "text", s"$root/idx", nParts = 2)
      Thread.sleep(500) // listener bus drain
    } finally {
      sc.setLocalProperty("graft.test.caller", null)
      sc.removeSparkListener(listener)
    }
    val seen = tagged.toArray(Array.empty[Option[String]]).toSeq
    assert(seen.nonEmpty)
    assert(seen.forall(_.contains(tag)),
      s"${seen.count(!_.contains(tag))} of ${seen.size} jobs lacked the caller's property")
  }

  test("lshIndexWrite → lshProbeNearDups: equals nearDupPairs restricted to index×batch; pruned scans; append grows") {
    val root = java.nio.file.Files.createTempDirectory("lsh_idx").toString
    val path = s"$root/idx"
    // doc i's 40 tokens are unique to i → corpus docs are mutually disjoint,
    // twins share everything
    def mk(n: Int, off: Long) = (0 until n).map { i =>
      (off + i, (0 until 40).map(j => s"d${i}tok$j").mkString(" "))
    }
    val corpus = mk(60, 0).toDF("doc_id", "text")
    // batch: 10 verbatim re-crawls + 10 near-dups (one appended token,
    // jaccard 38/39 ≈ 0.974) + 10 unrelated
    val batch = (mk(10, 1000) ++
      mk(10, 2000).map { case (id, t) => (id, t + " tailtok") } ++
      (0 until 10).map(i => (3000L + i, s"unique snowflake number $i entirely other"))).toDF("doc_id", "text")
    Dedup.lshIndexWrite(corpus, "doc_id", "text", path, shingleSize = 3,
      numHashes = 64, bands = 16, nParts = 8)
    val got = Dedup.lshProbeNearDups(spark, path, batch, "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // reference: nearDupPairs on the union, restricted to (index, batch) pairs
    val union = corpus.unionByName(batch)
    val want = Dedup.nearDupPairs(union, "doc_id", "text", 3, 64, 16, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 1000 && b >= 1000 }.sorted.toSeq
    assert(got == want && got.nonEmpty)
    // verbatim re-crawls land at jaccard 1.0
    assert(got.count(_._3 == 1.0) >= 10)
    // the bands scan is partition-pruned: PartitionFilters carries __hb
    val plan = Dedup.lshProbeNearDups(spark, path, batch, "doc_id", "text", 0.9)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__hb"), plan)
    // append the admitted batch, then a fresh probe sees its docs too:
    // probe doc 9000+i (text of corpus doc i) hits corpus i, verbatim
    // re-crawl 1000+i, and near-dup 2000+i
    Dedup.lshIndexAppend(spark, path, batch, "doc_id", "text")
    val again = Dedup.lshProbeNearDups(spark, path,
      mk(5, 9000).toDF("doc_id", "text"), "doc_id", "text", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(again.map(_._2).distinct.sorted == Seq(9000L, 9001L, 9002L, 9003L, 9004L))
    assert(again.count(_._1 < 1000) == 5 && again.count(_._1 >= 1000) == 10)
    // the sidecar pins the hash family for appends and probes
    val p2 = Similarity.readSidecar(spark, s"$path/_lsh_params.json")
      .asInstanceOf[graft.meta.JObj]
    assert(p2.get("numHashes").collect { case graft.meta.JNum(v) => v.toInt }.contains(64))
  }

  test("c4LineFilter: every C4 rule trips on its crafted line/doc") {
    val docs = Seq(
      // doc 0: two good lines + one no-punct line + one short line → kept
      (0L, "this line ends well.\nno terminal punct here\nshort.\nalso a fine line!"),
      // doc 1: javascript line dropped, leaving 2 good lines → kept
      (1L, "click javascript here.\none good line stays.\nquoted line survives \""),
      // doc 2: enough lines but a curly brace → dropped
      (2L, "good line number one.\ngood line number two.\nvar x = { }"),
      // doc 3: lorem ipsum page → dropped
      (3L, "good line number one.\ngood line number two.\nlorem ipsum dolor sit."),
      // doc 4: only one surviving line → below minLines, dropped
      (4L, "just one good line.\nnothing else survives"),
      // doc 5: empty text → dropped
      (5L, "")
    ).toDF("doc_id", "text")
    val out = Text.c4LineFilter(docs, "text", minWordsPerLine = 3, minLines = 2)
      .orderBy("doc_id").collect()
    assert(out.map(_.getBoolean(3)).toSeq ==
      Seq(true, true, false, false, false, false))
    assert(out.map(_.getInt(2)).toSeq == Seq(2, 2, 2, 3, 1, 0))
    assert(out(0).getString(4) == "this line ends well.\nalso a fine line!")
    assert(out(1).getString(4) == "one good line stays.\nquoted line survives \"")
    assert(out(2).isNullAt(4) && out(5).isNullAt(4))
    // no shuffle: the whole filter is per-row
    val plan = Text.c4LineFilter(docs, "text").queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }
}
