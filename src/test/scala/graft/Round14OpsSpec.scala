package graft

import org.apache.spark.sql.functions._

/** Round-14 additions: the four ADVICE items (bloomSemiJoin key typing,
  * weightedBernoulli's >=2^31 overflow + exact integer-div HT factor,
  * simhashPairsOf's tightened banding bound), the bloom size guard with
  * its plain-semi-join fallback, the SimHash dedup GROUPS composition
  * (F2c + F11), the hybrid auto-selecting CC engine, the F18b
  * weighted-sampling curation stage, the C6c bloom-accelerated anti
  * join, the bipartite Jaccard join + F28 incremental (delta) dedup,
  * the F18c A-ES weighted per-stratum top-k, F29 BM25 scoring, F30
  * duplicated-span removal, and F31 keep-best-representative dedup.
  */
class Round14OpsSpec extends SparkSpec {

  import spark.implicits._

  // ---- C6b: bloomSemiJoin key typing + guard -------------------------

  test("bloomSemiJoin on STRING keys ≡ plain semi join") {
    val big = (0 until 500).map(i => (i.toLong, s"url_${i % 97}")).toDF("id", "k")
    val keys = (0 until 97 by 3).map(i => s"url_$i").toDF("k")
    val got = Relational.bloomSemiJoin(big, "k", keys, "k")
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = big.join(keys.select(col("k").as("kk")),
        col("k") === col("kk"), "left_semi")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  test("bloomSemiJoin on INT (non-long) keys works and matches the semi join") {
    // the round-13 guard admitted int keys but the probe exploded at
    // analysis (BloomFilterMightContain accepts exactly (binary, long));
    // round 14 casts both sides to long — assert the whole path RUNS
    val big = (0 until 300).map(i => (i, s"r$i")).toDF("k", "v")
    val keys = (0 until 300 by 7).map(i => i).toDF("k")
    val got = Relational.bloomSemiJoin(big, "k", keys, "k")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == (0 until 300 by 7).toSeq)
    // mixed integral widths (long big side, int keys) also fine
    val bigL = (0L until 300L).map(i => (i, i * 2)).toDF("k", "v")
    val gotL = Relational.bloomSemiJoin(bigL, "k", keys, "k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(gotL == (0 until 300 by 7).map(_.toLong).toSeq)
  }

  test("bloomSemiJoin rejects mismatched non-integral key types up front") {
    val big = Seq((1L, "a")).toDF("k", "v")
    val keys = Seq(1).toDF("k")
    val e = intercept[IllegalArgumentException] {
      Relational.bloomSemiJoin(big, "v", keys, "k")
    }
    assert(e.getMessage.contains("SAME type"))
  }

  test("bloomSemiJoin size guard falls back to the identical plain semi join") {
    // spark.range, not toDF: ConvertToLocalRelation would evaluate the
    // bloom probe over a LocalRelation at OPTIMIZATION time and the plan
    // asserts below would see no filter either way
    val big = spark.range(0, 1000).select(col("id").as("k"), (col("id") % 13).as("m"))
    val keys = (0L until 1000L by 11L).toDF("k")
    // a forced budget of 0 trips the guard for ANY key count
    val guarded = DriverPull.forcingFallbacks(Relational.bloomSemiJoin(big, "k", keys, "k"))
    assert(!guarded.queryExecution.executedPlan.toString.contains("might_contain"),
      "guard tripped but a bloom probe survived in the plan")
    val got = guarded.collect().map(_.getLong(0)).sorted.toSeq
    val want = (0L until 1000L by 11L).toSeq
    assert(got == want)
    // un-guarded run on the same inputs: same rows, probe present
    val pruned = Relational.bloomSemiJoin(big, "k", keys, "k")
    assert(pruned.queryExecution.executedPlan.toString.contains("might_contain"))
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == want)
  }

  test("bloomBitmapBytes prices the guard sanely") {
    // ~9.6 bits/key at fpp 0.01 → 1e9 keys ≈ 1.2 GB (the verdict's
    // hazard case) must trip the default guard; the graded query's
    // ~100-key frame must not
    assert(Relational.bloomBitmapBytes(1000000000L, 0.01) > Relational.maxBloomBytes)
    assert(Relational.bloomBitmapBytes(1000L, 0.01) < 4096L)
  }

  // ---- C6c: bloomAntiJoin --------------------------------------------

  test("bloomAntiJoin ≡ plain anti join, including NULL big keys") {
    val big = ((0 until 400).map(i => (i.toLong, s"k${i % 50}")) :+
      ((999L, null.asInstanceOf[String]))).toDF("id", "k")
    val keys = (0 until 50 by 3).map(i => s"k$i").toDF("k")
    val got = Relational.bloomAntiJoin(big, "k", keys, "k")
      .collect().map(_.getLong(0)).sorted.toSeq
    val want = big.join(keys.select(col("k").as("kk")),
        col("k") === col("kk"), "left_anti")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.contains(999L),
      s"NULL-keyed row must survive the anti join: ${got.take(5)}...")
    // guard fallback: identical rows with no bloom built
    val guarded = DriverPull.forcingFallbacks(Relational.bloomAntiJoin(big, "k", keys, "k"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(guarded == want)
    // empty keys: everything survives
    val all = Relational.bloomAntiJoin(big, "k",
        Seq.empty[String].toDF("k"), "k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(all == big.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("bloomAntiJoin survivor split: definite-absent rows bypass the join") {
    val big = spark.range(0, 1000).select(col("id").as("k"))
    val keys = (0L until 1000L by 17L).toDF("k")
    val out = Relational.bloomAntiJoin(big, "k", keys, "k")
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain") && plan.contains("Union"),
      s"expected the not-might-contain ∪ anti-join split, got:\n$plan")
    val got = out.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 1000L).filter(_ % 17L != 0L).toSeq)
  }

  // ---- bipartite Jaccard join + incremental dedup --------------------

  test("jaccardPairsBetween ≡ the self-join restricted to cross-frame pairs") {
    val rnd = new scala.util.Random(41)
    val pool = (1 to 26).map(i => s"w$i")
    def text() = rnd.shuffle(pool).take(12 + rnd.nextInt(8)).mkString(" ")
    val docs = (0L until 60L).map { i =>
      if (i % 5 == 4) (i, null.asInstanceOf[String]) else (i, text())
    } ++ (0L until 60L by 6L).map(i => (i + 100L, text())) // extra rights
    val all = docs.toDF("doc_id", "text")
    val left = all.filter(col("doc_id") < 50)
    val right = all.filter(col("doc_id") >= 50)
    val got = Dedup.jaccardPairsBetween(spark, left, right, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // reference: canonical self-join over the union, keep cross pairs only
    val self = Dedup.jaccardPairsOf(spark, all, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => p._1 < 50 && p._2 >= 50).sorted.toSeq
    assert(got == self)
  }

  test("incrementalDedupVerdicts labels by priority; dedupIncrement ≡ the kept set") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    def mut(k: Int) = (1 to 30).map(i => if (i == k) "zzz" else s"tok$i").mkString(" ")
    val corpus = Seq(
      (2L, base),                                  // exact twin of inc 7
      (3L, (1 to 30).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val increment = Seq(
      (7L, base),          // exact_corpus (also near-dup of corpus — priority)
      (14L, base),         // exact_corpus wins over exact_increment(7)
      (21L, mut(5)),       // neardup_corpus (jaccard vs base high)
      (28L, mut(5)),       // exact_increment (same text as 21)
      (35L, mut(9)),       // neardup_increment? near 21/28 AND near corpus base
      (42L, (1 to 30).map(i => s"uniq$i").mkString(" ")), // kept
      (49L, null.asInstanceOf[String]))                   // kept (null)
      .toDF("doc_id", "text")
    val v = Dedup.incrementalDedupVerdicts(spark, corpus, increment, 0.6)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(v(7L) == "exact_corpus" && v(14L) == "exact_corpus", v.toString)
    assert(v(21L) == "neardup_corpus", v.toString)
    assert(v(28L) == "exact_increment", v.toString)
    assert(v(35L) == "neardup_corpus", // corpus reason outranks increment
      v.toString)
    assert(v(42L) == "kept" && v(49L) == "kept", v.toString)
    val kept = v.filter(_._2 == "kept").keys.toSeq.sorted
    val surv = Dedup.dedupIncrement(spark, corpus, increment, 0.6)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(surv == kept, s"facade $surv vs verdict-kept $kept")
    // survivor schema is the increment's schema (helper column dropped)
    assert(Dedup.dedupIncrement(spark, corpus, increment, 0.6).columns.toSeq
      == Seq("doc_id", "text"))
  }

  // ---- F18b: weightedBernoulli overflow + exact HT factor ------------

  test("weightedBernoulli survives weights >= 2^31 (clamped, not overflowed)") {
    // w >= scale is CERTAIN inclusion; pre-fix, w*2^32 overflowed Long
    // and flipped the comparison, silently dropping rows
    val big = Seq((1L, 3000000000L), (2L, Long.MaxValue / 2), (3L, 5L),
      (4L, -7L), (5L, Long.MinValue)).toDF("id", "w")
    val out = TextOps.weightedBernoulli(big, "id", "w", 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(out.contains(1L) && out(1L) == 1000000L,
      s"w=3e9 must be certain inclusion with p=1e6: $out")
    assert(out.contains(2L) && out(2L) == 1000000L)
    assert(!out.contains(4L) && !out.contains(5L),
      s"non-positive weights are certain exclusion: $out")
  }

  test("weightedBernoulli p_millionths is the exact floor for adversarial weights") {
    // weights chosen so w*1e6/scale lands JUST below an integer — where
    // double division rounds up and floor() then overstates by 1
    val scale = 999999937L // large prime scale
    val rows = (1L to 400L).map(i => (i, i * 2499999 % scale))
    val out = TextOps.weightedBernoulli(rows.toDF("id", "w"), "id", "w", scale)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    out.foreach { case (_, w, p) =>
      val exact = (BigInt(w.min(scale).max(0L)) * 1000000 / scale).toLong
      assert(p == exact, s"w=$w: p_millionths=$p, exact floor=$exact")
    }
  }

  test("weightedBernoulli inclusion is unchanged for in-range weights (clamp is semantics-free)") {
    val docs = Tables.documents(spark, sf001)
    val got = TextOps.weightedBernoulli(docs, "doc_id", "n_chars", 1000L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    // the pre-clamp formulation, inlined (safe here: n_chars < 2^31)
    val want = docs.filter(
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") * 1000L < col("n_chars") * 4294967296L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  // ---- F2c: tightened banding bound ----------------------------------

  test("simhashPairsOf rejects maxHamming > 7 (degenerate 4-bit bands)") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      MinHash.simhashPairsOf(docs, 8)
    }
    assert(e.getMessage.contains("[0, 7]"))
  }

  // ---- F2c groups: SimHash dedup clusters ----------------------------

  test("simhashDedupGroups chains pairs into one cluster (A≈B≈C, A far from C)") {
    // planted CHAIN M1 — base — M2 with hamming(M1, M2) > maxHamming:
    // exactly the case where keep-one-per-PAIR over-keeps and groups are
    // required. A one-token mutation flips a DATA-DEPENDENT number of
    // signature bits (every token votes ±1 on every bit), so the chain is
    // constructed from MEASURED signatures: generate single-token mutants
    // of one base text and pick two within 3 bits of the base but > 3
    // bits apart — deterministic under the fixed seed.
    import org.apache.spark.unsafe.types.UTF8String
    def sig(t: String): Long =
      graft.functions.ShingleOps.simhash64(UTF8String.fromString(t))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val base = (1 to 48).map(i => s"tok$i").mkString(" ")
    val mutants = (0 until 300).map { j =>
      (1 to 48).map(i => if (i == j % 48 + 1) s"mut${j}_z" else s"tok$i").mkString(" ")
    }
    val near = mutants.filter(m => ham(sig(base), sig(m)) <= 3)
    val chainOpt = (for {
      m1 <- near; m2 <- near
      if ham(sig(m1), sig(m2)) > 3
    } yield (m1, m2)).headOption
    assert(chainOpt.isDefined,
      s"no chain triple among ${near.size} near mutants — widen the pool")
    val (m1, m2) = chainOpt.get
    val df = Seq((0L, base), (1L, m1), (2L, m2),
      (100L, (1 to 48).map(i => s"other$i").mkString(" ")),
      (101L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val pairs = MinHash.simhashPairsOf(df, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)) && pairs.contains((0L, 2L)) &&
      !pairs.contains((1L, 2L)),
      s"chain construction broke: $pairs")
    val groups = MinHash.simhashDedupGroups(spark, df, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L to 2L).foreach(k => assert(groups(k) == 0L,
      s"chained doc $k must label 0, got ${groups(k)}"))
    assert(groups(100L) == 100L, "unrelated doc must be a singleton")
    assert(groups(101L) == 101L, "null-text doc must still get a singleton row")
  }

  test("simhashPairsOf emits every dup-blob pair through the rep-set expansion") {
    // 40 identical copies + 2 distinct docs: the md5 rep-set must band ONE
    // representative yet still emit all 40·39/2 within-group pairs at
    // hamming 0, plus nothing across unrelated texts
    val blob = (0L until 40L).map(i => (i, "copy copy copy of the same page"))
    val docs = (blob ++ Seq((100L, (1 to 30).map(i => s"uniq$i").mkString(" ")),
      (101L, (1 to 30).map(i => s"alia$i").mkString(" ")))).toDF("doc_id", "text")
    val pairs = MinHash.simhashPairsOf(docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val withinBlob = pairs.filter(p => p._1 < 40L && p._2 < 40L)
    assert(withinBlob.length == 40 * 39 / 2, s"got ${withinBlob.length} blob pairs")
    assert(withinBlob.forall(_._3 == 0L), "blob pairs must report hamming 0")
    assert(!pairs.exists(p => p._1 >= 100L || p._2 >= 100L && p._1 < 40L),
      s"unrelated docs must not pair with the blob")
    // and the groups composition collapses the blob to one cluster with
    // LINEAR star edges, labels ≡ CC over the all-pairs expansion
    val groups = MinHash.simhashDedupGroups(spark, docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (0L until 40L).foreach(i => assert(groups(i) == 0L))
    assert(groups(100L) == 100L && groups(101L) == 101L)
  }

  test("simhash twins beside a dup blob: exactly the signature-near twins, every blob pair, one blob cluster") {
    // 1,000 synthetic titles, a one-token-mutated twin of every 10th and
    // 60 copies of one page. Banding recall is exact (pigeonhole), so the
    // twins found are exactly those whose signatures sit within 3 bits
    val n = 1000L
    def textOf(mutPos: Int) = concat_ws(" ",
      transform(sequence(lit(0), (pmod(hash(col("id")), lit(8)) + lit(11)).cast("int")), { i =>
        val tok = concat(lit("w"),
          lower(conv(pmod(hash(col("id") * 31 + i), lit(50000)).cast("string"), 10, 36)))
        if (mutPos >= 0) when(i === mutPos, lit("ZMUTX")).otherwise(tok) else tok
      }))
    val corpus = spark.range(0, n).select(col("id").as("doc_id"), textOf(-1).as("text"))
      .unionByName(spark.range(0, n).filter(col("id") % 10 === 0)
        .select((col("id") + 10000000L).as("doc_id"), textOf(2).as("text")))
      .unionByName(spark.range(0, 60).select((col("id") + 20000000L).as("doc_id"),
        lit("copy of the one hot boilerplate page body").as("text")))
      .localCheckpoint(eager = true)
    val sig = corpus.select(col("doc_id"), call_function("simhash64", col("text")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val near = (0L until n by 10)
      .filter(k => java.lang.Long.bitCount(sig(k) ^ sig(k + 10000000L)) <= 3)
    val pairs = MinHash.simhashPairsOf(corpus, 3).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.nonEmpty)
    assert(pairs.collect { case (a, b) if b == a + 10000000L => a }.sorted.toSeq == near)
    assert(pairs.count { case (a, b) => a >= 20000000L && b >= 20000000L } == 60 * 59 / 2)
    val blob = MinHash.simhashDedupGroups(spark, corpus, 3).filter(col("doc_id") >= 20000000L)
      .select("cluster_id").distinct().collect().map(_.getLong(0))
    assert(blob.toSeq == Seq(20000000L))
  }

  test("simhashDedupGroups labels ≡ both pure CC formulations on the graded corpus") {
    val docs = Tables.documents(spark, sf001)
    val edges = MinHash.simhashPairsOf(docs, 3).select(col("a_id"), col("b_id"))
      .localCheckpoint(eager = true)
    val nodes = docs.select(col("doc_id"))
    val hybrid = MinHash.simhashDedupGroups(spark, docs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val minLabel = DriverPull.forcingFallbacks(
      Dedup.connectedComponentsWithRounds(spark, nodes, edges)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    val star = DriverPull.forcingFallbacks(
      Dedup.connectedComponentsStarWithRounds(spark, nodes, edges)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    assert(hybrid == minLabel && hybrid == star)
    assert(hybrid.nonEmpty)
  }

  // ---- hybrid CC: auto-select correctness ----------------------------

  test("hybrid CC labels ≡ min-label on a DEEP chain (forces the star hand-off)") {
    val chain = (0L until 300L).sliding(2).map(s => (s(0), s(1))).toSeq
    val clique = for (a <- 400L until 410L; b <- (a + 1) until 410L) yield (a, b)
    val edges = (chain ++ clique).toDF("a_id", "b_id")
    val nodes = ((0L until 300L) ++ (400L until 412L)).toDF("doc_id")
    val (hyb, hybRounds) = DriverPull.forcingFallbacks(
      Dedup.connectedComponentsHybridWithRounds(spark, nodes, edges, starSwitchAfter = 4))
    val got = hyb.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val want = Dedup.connectedComponentsWithRounds(spark, nodes, edges)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == want, s"hybrid labels diverged (rounds=$hybRounds)")
    // the 300-chain cannot converge in 4 min-label rounds, so the star
    // phase must actually have run
    assert(hybRounds > 4, s"expected a star phase after 4 rounds, got $hybRounds")
  }

  test("hybrid CC on a shallow graph never leaves min-label") {
    // near-clique components (the near-dup norm: every member adjacent to
    // the min) finish in the seed round and the first convergence check
    // (round 3) certifies it — the hybrid must exit there, star untouched
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val nodes = (1L to 12L).toDF("doc_id")
    val (df, rounds) = DriverPull.forcingFallbacks(
      Dedup.connectedComponentsHybridWithRounds(spark, nodes, edges))
    assert(rounds <= 3, s"shallow graph must converge at the first check: $rounds")
    val labels = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(labels(3L) == 1L && labels(11L) == 10L && labels(5L) == 5L)
    // a diameter-3 chain legitimately hands off at the first check and
    // star closes it in one round — correct labels, tiny budget
    val (df2, rounds2) = DriverPull.forcingFallbacks(Dedup.connectedComponentsHybridWithRounds(
      spark, nodes, Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a_id", "b_id")))
    val l2 = df2.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(l2(4L) == 1L && rounds2 <= 5, s"chain hand-off: rounds=$rounds2")
  }

  test("hybrid CC with a reliable checkpointDir survives total block loss across the hand-off") {
    val chain = (0L until 200L).sliding(2).map(s => (s(0), s(1))).toSeq
    val edges = chain.toDF("a_id", "b_id")
    val nodes = (0L until 200L).toDF("doc_id")
    Dedup.testBlockLossHook = Some { s =>
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    try {
      val dir = tmpDir("cchybrid_loss_ckpt")
      val (labels, rounds) = withCheckpointDir(dir) {
        val (df, rounds) = DriverPull.forcingFallbacks(
          Dedup.connectedComponentsHybridWithRounds(spark, nodes, edges, starSwitchAfter = 4))
        (df.as[(Long, Long)].collect().toMap, rounds)
      }
      assert(rounds > 4 && labels.size == 200 && labels(199L) == 0L,
        s"hybrid reliable-checkpoint run mislabeled (rounds=$rounds)")
    } finally Dedup.testBlockLossHook = None
  }

  // ---- F18b curation stage -------------------------------------------

  test("weighted_sample curation stage ≡ the standalone operator on the gate survivors") {
    val rnd = new scala.util.Random(14)
    val docs = (0 until 300).map { i =>
      val n = 20 + rnd.nextInt(40)
      (i.toLong, (1 to n).map(j => s"w${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    val gate = Graft.QualityGate(minTokens = 1, maxTokens = 100,
      stopwords = Seq("zzz"), maxStopwordRatio = 1.0)
    val wk = Graft.WeightedKeep(octet_length(col("text")).cast("long"), 400L)
    val (packed, audit) = Graft.curateCorpusAudited(spark, docs, Nil,
      quality = gate, weighted = Some(wk))
    val stages = audit.map(_.stage)
    assert(stages.last == "weighted_sample", s"stage order: $stages")
    val row = audit.last
    assert(row.kept > 0 && row.dropped > 0,
      s"the 400-byte scale over 20-60-token docs must both keep and drop: $row")
    // kept set ≡ standalone weightedBernoulli over the pre-sample pool:
    // replay the pipeline WITHOUT the stage, sample its output directly
    val (noSample, _) = Graft.curateCorpusAudited(spark, docs, Nil, quality = gate)
    val poolIds = noSample.select("doc_id")
    val survivors = docs.join(poolIds, Seq("doc_id"), "left_semi")
    val standalone = TextOps.weightedBernoulli(
        survivors.withColumn("w", octet_length(col("text")).cast("long")),
        "doc_id", "w", 400L)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val viaStage = packed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaStage == standalone,
      s"stage kept ${viaStage.size} ids, standalone kept ${standalone.size}")
  }

  // ---- F18c: A-ES weighted top-k per stratum -------------------------

  test("weightedTopKPerGroup ≡ independent A-ES recomputation; heap, not window") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      (s"g${i % 5}", i.toLong + 1000L, 1L + rnd.nextInt(500).toLong)
    } :+ (("g0", 9999L, 0L)) :+ (("g1", 9998L, -3L)) // never drawn
    val df = rows.toDF("grp", "id", "w")
    val got = TextOps.weightedTopKPerGroup(df, "grp", "id", "w", 3)
    // independent recomputation of the A-ES key in plain Scala
    def key(id: Long, w: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      val h = java.lang.Long.parseLong(hex, 16)
      math.floor(math.log((h + 1L) / 4294967296.0) / w * 1000000.0).toLong
    }
    val want = rows.filter(_._3 > 0)
      .map { case (g, id, w) => (g, id, w, key(id, w)) }
      .groupBy(_._1).flatMap { case (_, rs) =>
        rs.sortBy(r => (-r._4, r._2)).take(3)
      }.toSeq.sorted
    val gotRows = got.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted
    assert(gotRows == want, s"got $gotRows\nwant $want")
    // zero/negative weights never appear
    assert(!gotRows.exists(r => r._2 == 9999L || r._2 == 9998L))
    // scale shape: bounded-heap aggregate, no WindowExec sort
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && plan.contains("collect_top_k"), plan)
  }

  // ---- F30: duplicated-span removal ----------------------------------

  test("stripDuplicatedSpans removes exactly the covered tokens, in order") {
    val docs = Seq(
      (1L, "A B C D E F G H x1 x2"),            // span at pos 1-8 (shared with 2, 6)
      (2L, "y1 A B C D E F G H y2"),            // span at pos 2-9
      (3L, "P Q R S T U V W P Q R S T U V W"),  // within-doc repeat covers all 16
      (4L, "s1 s2 s3"),                         // shorter than one window: verbatim
      (5L, null.asInstanceOf[String]),          // excluded (null text)
      (6L, "A B C D E F G H I"),                // covered 1-8, survivor "I"
      (7L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"))       // all windows unique: verbatim
      .toDF("doc_id", "text")
    val got = TextOps.stripDuplicatedSpans(docs, 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(
      1L -> (("x1 x2", 8L)),
      2L -> (("y1 y2", 8L)),
      3L -> (("", 16L)),
      4L -> (("s1 s2 s3", 0L)),
      6L -> (("I", 8L)),
      7L -> (("u1 u2 u3 u4 u5 u6 u7 u8 u9", 0L))), got.toString)
    // scale shape: the rebuild is a per-doc aggregate, never a WindowExec
    val plan = TextOps.stripDuplicatedSpans(docs, 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("stripDuplicatedSpans position alignment survives empty tokens (double space)") {
    // the codegen window kernel splits on EVERY space byte (empty tokens
    // preserved) — exactly split(text, ' '); a double space must not
    // shift coverage positions
    val docs = Seq(
      (1L, "A  B C D E F G tail1"),  // tokens: A,'',B,C,D,E,F,G,tail1 → window pos1 = A..G (8 tokens incl. '')
      (2L, "A  B C D E F G tail2"))  // same 8-token prefix window → duplicated
      .toDF("doc_id", "text")
    val got = TextOps.stripDuplicatedSpans(docs, 8)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> (("tail1", 8L)), 2L -> (("tail2", 8L))), got.toString)
  }

  // ---- F31: keep-best-representative dedup ---------------------------

  test("dedupKeepBest picks (weight DESC, doc_id ASC) per cluster") {
    val t = (1 to 30).map(i => s"tok$i").mkString(" ")
    def mut(k: Int) = (1 to 30).map(i => if (i == k) "zzz" else s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, t, 10L),          // cluster {1,2,3}: 3 has max weight
      (2L, mut(4), 50L),
      (3L, mut(9), 50L),     // ties 2 on weight → smaller id 2 wins
      (7L, (1 to 30).map(i => s"solo$i").mkString(" "), 1L)) // singleton
      .toDF("doc_id", "text", "w")
    val got = Dedup.dedupKeepBest(spark, docs, 0.6, col("w"))
      .select("doc_id", "cluster_id", "cluster_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((2L, 1L, 3L), (7L, 7L, 1L)), got.toString)
    // representative rows carry the input schema plus cluster columns
    val best = Dedup.dedupKeepBest(spark, docs, 0.6, col("w"))
    assert(best.columns.toSet ==
      Set("doc_id", "text", "w", "cluster_id", "cluster_size"))
    // scale shape: the argmax is a struct-max aggregate, never a WindowExec
    assert(!best.queryExecution.executedPlan.toString.contains("Window"))
  }

  // ---- LSH band auto-tuner -------------------------------------------

  test("tuneBands minimizes S-curve error mass and tracks the threshold") {
    // pinned outputs (independent midpoint-rule recomputation, MMDS §3.4)
    assert(MinHash.tuneBands(32, 0.6) == ((8, 4)))   // the module default
    assert(MinHash.tuneBands(32, 0.4) == ((8, 4)))
    assert(MinHash.tuneBands(32, 0.2) == ((16, 2)))  // low t → more bands
    assert(MinHash.tuneBands(32, 0.8) == ((4, 8)))   // high t → more rows
    assert(MinHash.tuneBands(32, 0.9) == ((2, 16)))
    assert(MinHash.tuneBands(64, 0.5) == ((16, 4)))
    assert(MinHash.tuneBands(128, 0.5) == ((32, 4)))
    // law: the winner's error mass is <= every other factorization's
    def mass(b: Int, r: Int, t: Double): Double = {
      val n = 1000
      (0 until n).map { i =>
        val s = (i + 0.5) / n
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        if (s < t) p else 1.0 - p
      }.sum / n
    }
    for (t <- Seq(0.3, 0.5, 0.7); sig <- Seq(24, 32, 48)) {
      val (b, r) = MinHash.tuneBands(sig, t)
      assert(b * r == sig)
      val others = (1 to sig).filter(sig % _ == 0).map(bb => (bb, sig / bb))
      assert(others.forall { case (ob, or_) => mass(b, r, t) <= mass(ob, or_, t) },
        s"t=$t sig=$sig picked ($b,$r)")
    }
    intercept[IllegalArgumentException](MinHash.tuneBands(32, 0.0))
    intercept[IllegalArgumentException](MinHash.tuneBands(1, 0.5))
  }

  test("candidatePairsTuned: default-identity at 0.6; narrower bands are a recall superset") {
    val rnd = new scala.util.Random(19)
    val pool = (1 to 40).map(i => s"t$i")
    def text() = rnd.shuffle(pool).take(20).mkString(" ")
    val docs = ((0L until 40L).map(i => (i, text())) ++
      (0L until 40L by 4L).map { i =>  // moderate-overlap twins
        (i + 100L, rnd.shuffle(pool).take(8).mkString(" ") + " " +
          pool.take(12).mkString(" "))
      }).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // tuneBands(32, 0.6) = (8, 4) = the module default → identical rows
    assert(pairs(MinHash.candidatePairsTuned(docs, 0.6)) ==
      pairs(MinHash.candidatePairs(docs, 0.6)))
    // at 0.2 the tuner picks 16×2; every aligned 4-run contains aligned
    // 2-runs, so the default banding's candidates are a subset
    assert(MinHash.tuneBands(32, 0.2) == ((16, 2)))
    val wide = pairs(MinHash.candidatePairsTuned(docs, 0.2))
    val deflt = pairs(MinHash.candidatePairs(docs, 0.2))
    assert(deflt.subsetOf(wide), s"default \\ tuned = ${deflt.diff(wide)}")
    intercept[IllegalArgumentException](MinHash.candidatePairs(docs, 0.5, 5))
  }

  // ---- F29: BM25 scoring ---------------------------------------------

  test("bm25Scores ≡ brute-force BM25 recomputation on a hand corpus") {
    val docs = Seq(
      (1L, "spark query engine spark spark"),
      (2L, "query plan for the engine"),
      (3L, "a b c d e f g h i j k l"),
      (4L, "spark spark spark spark spark spark spark spark"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val terms = Seq("spark", "query", "missing").toDF("term")
    val got = TextOps.bm25Scores(docs, terms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // brute force in plain Scala, same association + micro-quantization
    val corpus = Map(
      1L -> "spark query engine spark spark",
      2L -> "query plan for the engine",
      3L -> "a b c d e f g h i j k l",
      4L -> "spark spark spark spark spark spark spark spark")
    val toks = corpus.map { case (id, t) => id -> t.split(" ").toSeq }
    val n = toks.size.toLong
    val avgdl = toks.values.map(_.size.toLong).sum.toDouble / n
    def idf6(df: Long): Double =
      math.floor(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6) / 1e6
    val want = toks.flatMap { case (id, ts) =>
      val dl = ts.size.toLong
      val cs = Seq("spark", "query", "missing").flatMap { term =>
        val tf = ts.count(_ == term).toLong
        val df = toks.values.count(_.contains(term)).toLong
        if (tf == 0) None else Some(math.floor(
          idf6(df) * ((tf * 2.25) /
            (tf + 1.25 * (1.0 - 0.75 + 0.75 * dl / avgdl))) * 1e6).toLong)
      }
      if (cs.isEmpty) None else Some(id -> cs.sum)
    }
    assert(got == want, s"got $got\nwant $want")
    // doc 3 has no query term → absent, as is the null-text doc
    assert(!got.contains(3L) && !got.contains(5L))
    // duplicated query terms must not double-count tf/idf — BM25 is
    // defined over the term SET (the operator dedups internally)
    val dupTerms = Seq("spark", "spark", "query", "missing").toDF("term")
    val got2 = TextOps.bm25Scores(docs, dupTerms)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 == got, s"dup terms changed scores: $got2 vs $got")
    // tf SATURATION is the point of BM25: the 2-distinct-term doc 1
    // outranks doc 4's 8× single-term repetition (raw tf would invert)
    assert(got(1L) > got(4L))
  }
  // ---- F32: seed-trained NB quality classifier -----------------------

  test("nbFit + nb_score ≡ independent NB recomputation on a hand corpus") {
    val seed = Seq(
      (0L, "good", "alpha beta alpha"), (1L, "good", "beta gamma"),
      (2L, "bad", "zeta zeta beta"), (3L, "bad", "zeta"))
      .toDF("doc_id", "label", "text")
    val m = TextOps.nbFit(seed, vocabN = 3)
    // vocabulary: totals beta 3, zeta 3, alpha 2, gamma 1 → (tc DESC,
    // term ASC) top-3 = beta, zeta, alpha (gamma falls to OOV)
    assert(m.labels == Seq("bad", "good"))
    assert(m.vocab.sorted == Seq("alpha", "beta", "zeta"))
    // independent recomputation, straight from the formulas: T_l = 4
    // both labels, V = 3, priors ln(2/4)
    def mic(x: Double): Long = math.floor(math.log(x) * 1e6).toLong
    val pm = mic(2 * 1.0 / 4)
    assert(m.priorMicros == Seq(pm, pm))
    val condWant = Map( // (term, label) → micros, c from the seed counts
      ("alpha", "bad") -> mic(1.0 / 8), ("alpha", "good") -> mic(3.0 / 8),
      ("beta", "bad") -> mic(2.0 / 8), ("beta", "good") -> mic(3.0 / 8),
      ("zeta", "bad") -> mic(4.0 / 8), ("zeta", "good") -> mic(1.0 / 8))
    m.vocab.zip(m.condMicros).foreach { case (t, ms) =>
      assert(ms == m.labels.map(l => condWant((t, l))), s"cond for $t")
    }
    assert(m.oovMicros == Seq(mic(1.0 / 8), mic(1.0 / 8)))
    // kernel scoring: "alpha beta delta" (delta is OOV) — expected sums
    // computed independently; multibyte text walks fine (no 0x20 bytes
    // inside UTF-8 continuation sequences)
    val scored = Seq((10L, "alpha beta delta"), (11L, "héllo wörld zeta"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), m.scoreCol(col("text")).as("p"))
      .select(col("doc_id"), col("p.predicted"), col("p.score_micros"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val goodScore = pm + mic(3.0 / 8) + mic(3.0 / 8) + mic(1.0 / 8)
    val badScore = pm + mic(1.0 / 8) + mic(2.0 / 8) + mic(1.0 / 8)
    assert(goodScore > badScore)
    assert(scored(10L) == ("good", goodScore))
    // héllo/wörld are OOV both labels; zeta splits bad over good
    val badScore11 = pm + mic(1.0 / 8) * 2 + mic(4.0 / 8)
    assert(scored(11L) == ("bad", badScore11))
  }

  test("nb_score: empty text is ONE empty token; exact ties break label ASC") {
    val seed = Seq((0L, "good", "x y"), (1L, "bad", "z w"))
      .toDF("doc_id", "label", "text")
    val m = TextOps.nbFit(seed, vocabN = 10)
    // "" is not in the vocabulary, so the empty doc scores prior + one
    // OOV contribution under BOTH labels — symmetric seed ⇒ an exact
    // tie, broken by label ASC ("bad"), exactly like the oracle's
    // row_number() ORDER BY score DESC, label
    val got = Seq((0L, ""), (1L, "a  b"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), m.scoreCol(col("text")).as("p"))
      .select(col("doc_id"), col("p.predicted"), col("p.score_micros"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    def mic(x: Double): Long = math.floor(math.log(x) * 1e6).toLong
    val oneOov = mic(1.0 / 2) + mic(1.0 / 7) // prior + OOV (T=2, V=4)
    assert(got(0L) == ("bad", oneOov))
    // "a  b" splits to [a, "", b] — THREE tokens (empty middle kept),
    // the split(text, ' ') / string_split contract
    assert(got(1L) == ("bad", mic(1.0 / 2) + 3 * mic(1.0 / 7)))
  }

  test("nb_score kernel ≡ declarative explode+join scoring on the graded corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("text").isNotNull)
    val labeled = docs.select(col("doc_id"),
      when(col("n_chars") >= 300, lit("good")).otherwise(lit("bad")).as("label"),
      col("text"))
    val m = TextOps.nbFit(labeled, vocabN = 20, seedPred = col("doc_id") % 7 < 3)
    // declarative twin: the SAME frozen micros, but scored by explode →
    // left-join against the cond table → exact long sums → argmax window
    // — the formulation the kernel replaced; equality proves the kernel's
    // byte-walk tokenization and argmax against the join semantics
    val cond = m.vocab.zip(m.condMicros).flatMap { case (t, ms) =>
      m.labels.zip(ms).map { case (l, v) => (t, l, v) }
    }.toDF("term", "label", "m")
    val lab = m.labels.zip(m.priorMicros).zip(m.oovMicros)
      .map { case ((l, p), o) => (l, p, o) }.toDF("label", "pm", "oov")
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val joinScores = toks.crossJoin(broadcast(lab))
      .join(broadcast(cond), Seq("term", "label"), "left")
      .groupBy(col("doc_id"), col("label"), col("pm"))
      .agg(sum(coalesce(col("m"), col("oov"))).as("s"))
      .select(col("doc_id"), col("label"), (col("s") + col("pm")).as("score"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("label"))
    val viaJoin = joinScores
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("label"), col("score"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val viaKernel = docs
      .select(col("doc_id"), m.scoreCol(col("text")).as("p"))
      .collect().map(r => r.getLong(0) ->
        (r.getStruct(1).getString(0), r.getStruct(1).getLong(1))).toMap
    assert(viaKernel == viaJoin)
    assert(viaKernel.nonEmpty)
  }

  test("nbFit fails loudly on an empty seed; ClassifierGate on a disjoint keep set") {
    val e = intercept[IllegalArgumentException] {
      TextOps.nbFit(Seq.empty[(String, String)].toDF("label", "text"))
    }
    assert(e.getMessage.contains("empty seed"))
    val seed = Seq(("good", "x"), ("bad", "y")).toDF("label", "text")
    val g = intercept[IllegalArgumentException] {
      Graft.ClassifierGate(seed, keep = Set("pristine")).model
    }
    assert(g.getMessage.contains("matches none"))
  }

  test("classifier_gate curation stage ≡ the standalone kernel filter on survivors") {
    val rnd = new scala.util.Random(32)
    val docs = (0 until 200).map { i =>
      val good = i % 3 != 0
      val words = if (good) Seq("alpha", "beta", "gamma") else Seq("zeta", "eta")
      val n = 5 + rnd.nextInt(10)
      (i.toLong, (1 to n).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val seed = Seq(("keep", "alpha beta gamma alpha beta"),
      ("drop", "zeta eta zeta eta")).toDF("label", "text")
    val gate = Graft.QualityGate(minTokens = 1, maxTokens = 100,
      stopwords = Seq("zzz"), maxStopwordRatio = 1.0)
    val cg = Graft.ClassifierGate(seed, keep = Set("keep"))
    val (packed, audit) = Graft.curateCorpusAudited(spark, docs, Nil,
      quality = gate, classifier = Some(cg))
    val row = audit.find(_.stage == "classifier_gate").get
    assert(row.kept > 0 && row.dropped > 0, s"gate must both keep and drop: $row")
    // stage survivors ≡ standalone kernel filter over the pre-gate pool
    val (noGate, _) = Graft.curateCorpusAudited(spark, docs, Nil, quality = gate)
    val pool = docs.join(noGate.select("doc_id"), Seq("doc_id"), "left_semi")
    val standalone = pool
      .filter(cg.model.predictCol(col("text")) === "keep")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val viaStage = packed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaStage == standalone)
  }

  // ---- F33: token-budget mix construction ----------------------------

  test("tokenBudgetMix ≡ brute-force greedy fill on a hand corpus") {
    val docs = Seq(
      (1L, "web", "a b c"), (2L, "web", "d e"), (3L, "web", "f g h i"),
      (4L, "web", "j"), (5L, "wiki", "k l m n o p"), (6L, "wiki", "q r"),
      (7L, "books", "s t u"), (8L, "web", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
    val budgets = Map("web" -> 6L, "wiki" -> 0L) // books absent → dropped
    val got = TextOps.tokenBudgetMix(docs, budgets)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    // independent recomputation: same draw, one sequential fold
    def h(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString, 16)
    val want = Seq(1L -> 3L, 2L -> 2L, 3L -> 4L, 4L -> 1L)
      .map { case (id, n) => (id, n, h(id)) }
      .sortBy { case (id, _, hh) => (hh, id) }
      .scanLeft((0L, 0L, 0L, 0L)) { case ((_, _, _, cum), (id, n, _)) =>
        (id, n, cum, cum + n)
      }.drop(1)
      .filter { case (_, _, before, _) => before < 6L }
      .map { case (id, n, before, _) => (id, "web", n, before) }
      .sortBy(_._1)
    assert(got == want, s"got $got, want $want")
    // wiki budget 0 keeps nothing, absent books keeps nothing
    assert(!got.exists(r => r._2 == "wiki" || r._2 == "books"))
    // the greedy fill must actually CUT (6 < 10 web tokens) yet keep the
    // boundary-crossing doc (cum_before < 6 admits overshoot)
    val kept = got.map(_._3).sum
    assert(kept >= 6L && kept < 10L, s"kept $kept of 10 web tokens")
  }

  test("tokenBudgetMix is bucket-count invariant and respects total budgets") {
    val rnd = new scala.util.Random(33)
    val docs = (0 until 500).map { i =>
      (i.toLong, s"src${i % 5}", (1 to 3 + rnd.nextInt(12)).map(j => s"t$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val budgets = (0 until 5).map(k => s"src$k" -> (k * 120L)).toMap
    def run(b: Int) = TextOps.tokenBudgetMix(docs, budgets, buckets = b)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val one = run(1) // single bucket ≡ the plain one-window definition
    assert(run(7) == one && run(256) == one)
    // src0 has budget 0 → absent; every source stays within budget + one doc
    assert(!one.exists(_._2 == "src0"))
    (1 until 5).foreach { k =>
      val rows = one.filter(_._2 == s"src$k")
      val toks = rows.map(_._3).sum
      assert(rows.last._4 < k * 120L, s"src$k last cum_before")
      assert(toks < k * 120L + 15L, s"src$k kept $toks vs budget ${k * 120}")
    }
    // budget >= total keeps every doc of that source
    val all = TextOps.tokenBudgetMix(docs, Map("src2" -> 1000000L))
    assert(all.count() == docs.filter(col("source") === "src2").count())
  }

  private def drawH(id: Long): Long = java.lang.Long.parseLong(
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString, 16)

  test("epochMix ≡ brute-force integer copy counts on a hand corpus") {
    val docs = Seq(
      (1L, "web", "a b c"), (2L, "web", "d e"), (3L, "web", "f g"),
      (4L, "wiki", "h i j k"), (5L, "wiki", "l"), (6L, "code", "m n"),
      (7L, "drop", "o"), (8L, "web", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
    // web 2.5 epochs, wiki exactly 1, code 0 — drop absent
    val w = Map("web" -> 2500000L, "wiki" -> 1000000L, "code" -> 0L)
    val got = TextOps.epochMix(docs, w)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(r => (r._1, r._4)).toSeq
    val want = Seq((1L, "web", 3L), (2L, "web", 2L), (3L, "web", 2L),
      (4L, "wiki", 4L), (5L, "wiki", 1L))
      .flatMap { case (id, src, n) =>
        val e = w(src)
        val copies = e / 1000000L +
          (if (drawH(id) * 1000000L < (e % 1000000L) * 4294967296L) 1L else 0L)
        (1L to copies).map(k => (id, src, n, k))
      }
    assert(got == want, s"got $got, want $want")
    // exactly-1.0-epoch source is the identity: one copy per doc
    assert(got.filter(_._2 == "wiki").map(_._1) == Seq(4L, 5L))
    // weight-0 and absent sources vanish; null text never multiplies
    assert(!got.exists(r => r._2 == "code" || r._2 == "drop" || r._1 == 8L))
    // the fractional half of 2.5 kept SOME web docs twice, not all thrice
    val webCopies = got.filter(_._2 == "web").groupBy(_._1).view.mapValues(_.size)
    assert(webCopies.values.forall(c => c == 2 || c == 3))
  }

  test("epochMix and assignBroadcast fail LOUDLY on unit mix-ups") {
    val docs = Seq((1L, "s", "a b")).toDF("doc_id", "source", "text")
    // 5_000_000_000 micros = 5000 epochs: almost certainly "epochs where
    // micros were meant" — must refuse, not explode a 5000-long array
    val e = intercept[IllegalArgumentException] {
      TextOps.epochMix(docs, Map("s" -> 5000000000L))
    }
    assert(e.getMessage.contains("unit mix-up"))
    // an unfitted model must not silently assign nothing
    val e2 = intercept[IllegalArgumentException] {
      Similarity.KmeansModel(Seq.empty)
        .assignBroadcast(Seq((1L, Array(0.1f))).toDF("vec_id", "embedding"))
    }
    assert(e2.getMessage.contains("fitted model"))
  }

  test("epochMix expected-copy law on a uniform corpus (1.5 epochs ≈ ×1.5)") {
    val docs = (0 until 2000).map(i => (i.toLong, "s", "x y z"))
      .toDF("doc_id", "source", "text")
    val out = TextOps.epochMix(docs, Map("s" -> 1500000L))
    val n = out.count()
    // every doc ≥ 1 copy; the fractional extra hits ≈ half (md5-uniform)
    assert(out.select(col("doc_id")).distinct().count() == 2000)
    assert(n > 2000 + 800 && n < 2000 + 1200, s"got $n copies for 1.5 epochs")
    // rerun is bit-identical (pure function of the corpus)
    val again = TextOps.epochMix(docs, Map("s" -> 1500000L))
    assert(again.exceptAll(out).isEmpty && out.exceptAll(again).isEmpty)
  }

  test("shuffleShards ≡ the one-window rank; bucket-count invariant; permutation per shard") {
    val docs = (0 until 700).map(i => Tuple1(i.toLong)).toDF("doc_id")
    def run(b: Int) = TextOps.shuffleShards(docs, nShards = 4, seed = 7L, buckets = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val one = run(1) // single bucket ≡ the plain one-window definition
    assert(run(5) == one && run(256) == one)
    // every doc placed exactly once; positions are 0..n-1 within a shard
    assert(one.size == 700 && one.map(_._1).distinct.size == 700)
    one.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted == (0L until rows.size.toLong),
        s"shard $shard positions not a dense permutation")
    }
    // a different seed is a genuinely different permutation
    val reseeded = TextOps.shuffleShards(docs, nShards = 4, seed = 8L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(reseeded != one)
  }

  test("curriculumShards: level-major order, bucket-invariant, dense per shard") {
    val docs = (0 until 600).map(i => (i.toLong, (i % 4).toLong))
      .toDF("doc_id", "lvl")
    def run(b: Int) = TextOps.curriculumShards(docs, nShards = 3,
        levelCol = "lvl", seed = 11L, buckets = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val one = run(1) // single bucket ≡ the plain one-window definition
    assert(run(7) == one && run(256) == one)
    // dense 0..n-1 per shard, and the order is LEVEL-MAJOR descending:
    // every level-3 doc precedes every level-2 doc in its shard, etc.
    one.groupBy(_._3).foreach { case (shard, rows) =>
      assert(rows.map(_._4).sorted == (0L until rows.size.toLong))
      val byPos = rows.sortBy(_._4).map(_._2)
      assert(byPos == byPos.sortBy(-_), s"shard $shard not level-major: $byPos")
    }
    // null level drops; a different seed reorders within levels
    val withNull = docs.union(docs.limit(1)
      .select(lit(999L).as("doc_id"), lit(null).cast("long").as("lvl")))
    assert(TextOps.curriculumShards(withNull, 3, "lvl").count() == 600)
    val reseeded = TextOps.curriculumShards(docs, nShards = 3,
        levelCol = "lvl", seed = 12L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(reseeded != one)
  }

  test("mixManifest composes budget → epochs → copy-salted shuffle") {
    val docs = (0 until 300).map { i =>
      (i.toLong, if (i % 3 == 0) "big" else "small",
        (1 to 2 + i % 5).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
    // budget halves `big`; epochs double `small` exactly
    val budgets = Map(
      "big" -> 200L,
      "small" -> Long.MaxValue / 4)
    val epochs = Map("big" -> 1000000L, "small" -> 2000000L)
    val m = Graft.mixManifest(docs, budgets, epochs, nShards = 3, seed = 5L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    // the kept set ≡ the standalone budget fill; copies ≡ standalone epochMix
    val keptIds = TextOps.tokenBudgetMix(docs, budgets)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(m.map(_._1).toSet == keptIds)
    val wantCopies = TextOps.epochMix(
      docs.filter(col("doc_id").isin(keptIds.toSeq: _*)), epochs)
      .collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(m.map(r => (r._1, r._4)).sorted == wantCopies)
    // every small doc appears exactly twice — and its two copies got
    // INDEPENDENT draws: across the corpus they cannot all share a shard
    val smallPairs = m.filter(_._2 == "small").groupBy(_._1)
    assert(smallPairs.values.forall(_.size == 2))
    assert(smallPairs.values.exists(c => c.map(_._5).distinct.size == 2))
    // per-shard positions are a dense 0..n-1 permutation over COPIES
    m.groupBy(_._5).foreach { case (shard, rows) =>
      assert(rows.map(_._6).sorted == (0L until rows.size.toLong),
        s"shard $shard positions not dense")
    }
    // pure function: rerun is row-identical
    val again = Graft.mixManifest(docs, budgets, epochs, nShards = 3, seed = 5L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(again.sorted == m.sorted)
  }

  // ---- F37/F38: overlap diagnostics ----------------------------------

  test("evalOverlapReport ≡ hand-computed window containment") {
    graft.functions.VectorFunctions.register(spark)
    val span = (1 to 8).map(i => s"c$i").mkString(" ") // one 8-token window
    val train = Seq(
      (10L, s"t a $span"),         // contains the span
      (11L, s"u v $span w"))       // contains it too → train_df 2
      .toDF("doc_id", "text")
    val eval = Seq(
      (1L, s"$span x y"),          // 10 toks → 3 windows, 1 hit
      (2L, "p q r s t u v w x"),   // 9 toks → 2 windows, clean
      (3L, "short doc"),           // < 8 toks → 0-window row (round 15)
      (4L, s"$span $span"))        // span twice → 2 hits of 9 windows
      .toDF("doc_id", "text")
    val got = TextOps.evalOverlapReport(train, eval)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getDouble(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (1L, 3L, 1L, true, math.floor(1.0 / 3 * 1e6) / 1e6, 2L),
      (2L, 2L, 0L, false, 0.0, 0L),
      // round-15 ADVICE fix: sub-w docs report a 0-window row instead of
      // silently vanishing from the report
      (3L, 0L, 0L, false, 0.0, 0L),
      (4L, 9L, 2L, true, math.floor(2.0 / 9 * 1e6) / 1e6, 2L)))
  }

  test("sourceOverlapMatrix: distinct presence, no diagonal, exact fractions") {
    graft.functions.VectorFunctions.register(spark)
    def w8(tag: String) = (1 to 8).map(i => s"$tag$i").mkString(" ")
    val docs = Seq(
      (1L, "A", w8("s1")), (2L, "A", w8("s2")),
      (3L, "A", w8("s1")),            // dup window within A — collapses
      (4L, "B", w8("s1")),
      (5L, "C", w8("s2")), (6L, "C", w8("s3")),
      (7L, "D", w8("s4")))            // disjoint → n_shared = 0 row (round 15)
      .toDF("doc_id", "source", "text")
    val got = TextOps.sourceOverlapMatrix(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    // round-15 ADVICE fix: the full unordered pair spine — zero-overlap
    // pairs report n_shared = 0 instead of vanishing from the matrix
    assert(got == Seq(
      ("A", "B", 1L, 2L, 1L, 0.5, 1.0),
      ("A", "C", 1L, 2L, 2L, 0.5, 0.5),
      ("A", "D", 0L, 2L, 1L, 0.0, 0.0),
      ("B", "C", 0L, 1L, 2L, 0.0, 0.0),
      ("B", "D", 0L, 1L, 1L, 0.0, 0.0),
      ("C", "D", 0L, 2L, 1L, 0.0, 0.0)), s"got $got")
  }

  // ---- F36: exact frozen k-means + F36b SemDeDup ---------------------

  /** Brute-force reference for the ENTIRE F36 contract, independent of
    * the Spark implementation: quantization, seeded init, argmin with the
    * (dist, index) tie order, and the integer-mean update. */
  private object KmeansRef {
    def quant(v: Seq[Double]): Seq[Long] =
      v.map(x => math.floor((math.max(-1.0, math.min(1.0, x)) + 1.0) * 1e6).toLong)
    def dist(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def assign(q: Seq[Long], cents: Seq[Seq[Long]]): (Long, Int) =
      cents.zipWithIndex.map { case (c, i) => (dist(q, c), i) }.min
    def fit(vecs: Seq[(Long, Seq[Double])], k: Int, iters: Int): Seq[Seq[Long]] = {
      val qs = vecs.map { case (id, v) => (id, quant(v)) }
      var cents = qs.sortBy { case (id, _) => (drawH(id), id) }.take(k).map(_._2)
      require(cents.length == k)
      for (_ <- 1 to iters) {
        val byC = qs.groupBy { case (_, q) => assign(q, cents)._2 }
        cents = cents.zipWithIndex.map { case (old, c) =>
          byC.get(c) match {
            case Some(rows) =>
              old.indices.map(i => rows.map(_._2(i)).sum / rows.length)
            case None => old
          }
        }
      }
      cents
    }
  }

  test("kmeansFitExact ≡ brute-force integer Lloyd on a hand corpus") {
    val vecs = (0 until 40).map { i =>
      (i.toLong, Seq(math.sin(i * 1.7), math.cos(i * 2.3),
        math.sin(i * 0.9 + 1), math.cos(i * 1.1 + 2)))
    }
    val df = vecs.map { case (id, v) => (id, v.map(_.toFloat).toArray) }
      .toDF("vec_id", "embedding")
    val model = Similarity.kmeansFitExact(df, k = 3, iters = 2)
    val want = KmeansRef.fit(vecs, k = 3, iters = 2)
    assert(model.centroidsMicros == want,
      s"centroids ${model.centroidsMicros} != $want")
    // final assignments agree too (argmin + the (dist, index) tie order)
    val got = df.select(col("vec_id"), model.assignCol(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, v) =>
      assert(got(id) == KmeansRef.assign(KmeansRef.quant(v), want)._2.toLong)
    }
    // pure function of the corpus: a different partitioning fits the
    // SAME model bit-for-bit (the determinism the oracle hash relies on)
    val again = Similarity.kmeansFitExact(df.repartition(7), k = 3, iters = 2)
    assert(again.centroidsMicros == model.centroidsMicros)
  }

  test("KmeansModel: clamp law, exact-tie → lowest index, empty-cluster hold") {
    graft.functions.VectorFunctions.register(spark) // model used without a fit
    // clamp: out-of-range components pin to the [0, 2·10⁶] micro grid
    val m1 = Similarity.KmeansModel(Seq(Seq(0L, 0L)))
    val q = Seq((1L, Array(5.0f, -3.0f))).toDF("vec_id", "embedding")
      .select(m1.quantCol(col("embedding"))).head.getSeq[Long](0)
    assert(q == Seq(2000000L, 0L))
    // a point exactly equidistant from two centroids takes the LOWER index
    val m2 = Similarity.KmeansModel(Seq(Seq(0L, 1000000L), Seq(2000000L, 1000000L)))
    val tie = Seq((1L, Array(0.0f, 0.0f))).toDF("vec_id", "embedding")
      .select(m2.bestCol(col("embedding")).as("b")).head.getStruct(0)
    assert(tie.getLong(1) == 0L && tie.getLong(0) == 1000000L * 1000000L)
    // an init vector duplicated: both become centroids, every point ties
    // to the lower, and iterating keeps the starved centroid unchanged
    // (the empty-cluster hold) instead of crashing or emitting nulls
    val dup = Seq((1L, Array(0.5f, 0.5f)), (2L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val m3 = Similarity.kmeansFitExact(dup, k = 2, iters = 2)
    assert(m3.centroidsMicros(0) == m3.centroidsMicros(1))
    // fewer vectors than k fails LOUDLY (the nbFit/LangGate convention)
    val e = intercept[IllegalArgumentException] {
      Similarity.kmeansFitExact(dup, k = 5, iters = 1)
    }
    assert(e.getMessage.contains("only 2 vectors"))
  }

  test("assignBroadcast ≡ the plan-literal assignment, row for row") {
    // the large-k variant must agree with bestCol EXACTLY — distances,
    // cluster indices, and the (dist, index) tie order — including on a
    // corpus with duplicated vectors (ties) and out-of-range components
    val vecs = (0 until 60).map { i =>
      (i.toLong, Array(
        (math.sin(i * 0.7) * 1.4).toFloat, // some components clamp
        math.cos(i * 1.3).toFloat,
        (if (i % 5 == 0) 0.5f else math.sin(i * 2.1).toFloat),
        math.cos(i * 0.4).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val model = Similarity.kmeansFitExact(df, k = 4, iters = 2)
    val lit = df.select(col("vec_id"), model.bestCol(col("embedding")).as("b"))
      .select(col("vec_id"), col("b.i").as("cluster"), col("b.d").as("dist_sq"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val bc = model.assignBroadcast(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(bc == lit)
    // and the null-embedding row is dropped by both contracts
    val withNull = df.union(Seq((999L, null.asInstanceOf[Array[Float]]))
      .toDF("vec_id", "embedding"))
    assert(model.assignBroadcast(withNull).count() == 60)
  }

  test("plan shapes: epochMix is exchange-free; frozen assignment is a pure scan") {
    // probes run over a parquet SCAN (a local relation would be
    // constant-folded into a LocalTableScan, hiding the plan shape)
    val d = tmpDir("planshape")
    (0 until 50).map(i => (i.toLong, "s", "a b c"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$d/docs.parquet")
    // F34's ZERO-shuffle claim, pinned: the copy materialization is a
    // per-row map + explode — no Exchange anywhere in the plan
    val p34 = TextOps.epochMix(
        spark.read.parquet(s"$d/docs.parquet"), Map("s" -> 1500000L))
      .queryExecution.executedPlan.toString
    assert(!p34.contains("Exchange"), s"epochMix plan shuffles:\n$p34")
    // F36's frozen-assignment claim: scoring a corpus against a fitted
    // model is a scan — no Exchange, and the codegen kernel (not a SQL
    // lambda) carries the argmin
    graft.functions.VectorFunctions.register(spark)
    val m = Similarity.KmeansModel(Seq(Seq(0L, 0L), Seq(2000000L, 2000000L)))
    (0 until 50).map(i => (i.toLong, Array(0.1f * (i % 10), 0.5f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$d/embs.parquet")
    val scored = spark.read.parquet(s"$d/embs.parquet")
      .select(col("vec_id"), m.bestCol(col("embedding")).as("b"))
    val p36 = scored.queryExecution.executedPlan.toString
    assert(!p36.contains("Exchange"), s"assignment plan shuffles:\n$p36")
    assert(p36.contains("kmeans_best_q") && p36.contains("quant_micros"),
      s"assignment is not on the codegen kernels:\n$p36")
  }

  test("semanticClustersClustered merges within clusters and forgoes straddling pairs") {
    // two tight groups near orthogonal axes; k = 2 separates them. Every
    // within-group cosine is ≈1 (well above 0.35), across-group ≈0 (well
    // below) — margins far from the threshold so float rounding can't
    // flip an edge between the engine and this reference.
    val vecs: Seq[(Long, Seq[Double])] = (0 until 12).map { i =>
      val base = if (i % 2 == 0) Seq(1.0, 0.002 * i, 0.0, 0.0)
                 else Seq(0.002 * i, 1.0, 0.0, 0.0)
      (i.toLong, base)
    }
    val df = vecs.map { case (id, v) => (id, v.map(_.toFloat).toArray) }
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticClustersClustered(spark, df, minCos = 0.35, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // reference: brute-force fit + within-cluster-only edges + union-find
    val cents = KmeansRef.fit(vecs, k = 2, iters = 2)
    val kc = vecs.map { case (id, v) =>
      id -> KmeansRef.assign(KmeansRef.quant(v), cents)._2 }.toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val af = a.map(_.toFloat); val bf = b.map(_.toFloat)
      val d = af.zip(bf).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(af.map(x => x.toDouble * x).sum) *
        math.sqrt(bf.map(x => x.toDouble * x).sum))
    }
    val parent = scala.collection.mutable.Map(vecs.map(v => v._1 -> v._1): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      (i, vi) <- vecs; (j, vj) <- vecs
      if i < j && kc(i) == kc(j) && cos(vi, vj) >= 0.35
    } { val (ri, rj) = (find(i), find(j)); if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj) }
    val label = vecs.map(v => v._1 -> find(v._1)).toMap
    val sizes = label.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = vecs.map(v => (v._1, label(v._1), sizes(label(v._1)))).sorted
    assert(got == want, s"got $got, want $want")
    // the contract's trade is real here: the two groups stay separate
    // even though k-means could have put them in one cluster
    assert(got.map(_._2).distinct.size >= 2)
    // and WITHIN a cluster, near-identical vectors did merge
    assert(got.count(_._3 > 1) > 0)
  }
}
