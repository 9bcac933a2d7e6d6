package graft

import org.apache.spark.sql.functions._

/** Round-13 additions: the three ADVICE items (strip_accents
  * mark-category parity — asserted in Round12OpsSpec's parity test —
  * Tables.events' session-timezone independence, cmsHeavyHitters'
  * native-type probing), the curation facade's F27 normalize + F26
  * language-gate stages, the F26 kernel≡join scoring equivalence, the
  * two-phase (large-star/small-star) CC vs min-label label identity +
  * its reliable-checkpoint block-loss tolerance, the C6b bloom-pruned
  * semi join, the F18b weighted Bernoulli sample, and the F2c SimHash
  * banded hamming pair join.
  */
class Round13OpsSpec extends SparkSpec {

  import spark.implicits._

  // ---- Tables.events: no session-timezone dependence or mutation -----

  test("events NTZ→epoch cast is session-timezone-free and mutates no session conf") {
    val tzKey = "spark.sql.session.timeZone"
    val utcRows = Tables.events(spark, sf001)
      .select(col("event_id"), col("ts")).orderBy(col("event_id")).limit(50).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val before = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "Asia/Tokyo")
      val tokyoRows = Tables.events(spark, sf001)
        .select(col("event_id"), col("ts")).orderBy(col("event_id")).limit(50).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(tokyoRows.sameElements(utcRows),
        "epoch-nanos contract must not shift with the caller's session timezone")
      assert(spark.conf.get(tzKey) == "Asia/Tokyo",
        "Tables.events must not silently rewrite the caller's session timezone")
    } finally spark.conf.set(tzKey, before)
  }

  // ---- cmsHeavyHitters: native-type probe ----------------------------

  test("cmsHeavyHitters probes string keys natively (no long cast)") {
    val df = (Seq.fill(500)("alpha") ++ Seq.fill(300)("beta") ++
      Seq.fill(100)("gamma") ++ (0 until 200).map(i => s"tail_$i"))
      .toDF("k")
    val out = Relational.cmsHeavyHitters(spark, df, "k", k = 3,
      eps = 0.001, confidence = 0.99).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("alpha", "beta", "gamma"))
    out.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      // CMS never undercounts; with eps=0.001 over 1100 rows the
      // overcount bound is ~2, so the estimate must be ≈ exact
      assert(est >= exact && est <= exact + 3,
        s"${r.getString(0)}: exact=$exact est=$est")
    }
  }

  test("cmsHeavyHitters keeps the integral path's long output column") {
    val df = (Seq.fill(50)(7L) ++ Seq.fill(30)(9L) ++ (0L until 20L)).toDF("k")
    val out = Relational.cmsHeavyHitters(spark, df, "k", k = 2)
    assert(out.schema("k").dataType == org.apache.spark.sql.types.LongType)
    val rows = out.collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(7L, 9L))
    rows.foreach(r => assert(r.getLong(2) >= r.getLong(1)))
  }

  // ---- curation facade: F27 normalize + F26 language gate ------------

  private val langVocab = Map(
    "aa" -> Seq("aiea", "eiae", "aeia", "iaea"),
    "bb" -> Seq("boub", "obub", "bubo", "oubo"))
  /** Language-marked doc text: language words interleaved with doc-UNIQUE
    * tokens, so every word 3-gram shingle contains a unique token — docs
    * share zero shingles and the near-dup stage provably keeps all of
    * them, while the trigram profiles still separate the languages. */
  private val uniqCtr = new java.util.concurrent.atomic.AtomicInteger(0)
  private def langText(lang: String, rnd: scala.util.Random): String = {
    val u = uniqCtr.incrementAndGet()
    Seq.tabulate(24)(j =>
      if (j % 2 == 0) langVocab(lang)(rnd.nextInt(4)) else s"u${u}x$j").mkString(" ")
  }

  test("curation normalize stage folds composed/decomposed duplicates before exact dedup") {
    val tail = (1 to 30).map(i => s"w$i").mkString(" ")
    val comp = s"caf\u00e9 $tail"    // NFC rendering
    val decomp = s"cafe\u0301 $tail" // NFD rendering of the SAME visible string
    assert(comp != decomp)
    val docs = Seq((1L, comp), (2L, decomp)).toDF("doc_id", "text")
    // stage off: different byte strings → md5 keeps both, no stage row
    val (_, a0) = Graft.curateCorpusAudited(spark, docs, Nil)
    assert(!a0.exists(_.stage == "unicode_normalize"))
    assert(a0.find(_.stage == "exact_dedup").get.kept == 2,
      "without normalization the renderings must NOT dedup (that's the bug being guarded)")
    // stage on: renderings fold to one canonical string → exact dedup
    // drops the higher doc_id; the stage itself drops nothing
    val (out, a1) = Graft.curateCorpusAudited(spark, docs, Nil,
      normalize = Some(Graft.Normalize()))
    assert(a1.find(_.stage == "unicode_normalize").get ==
      Graft.StageCount("unicode_normalize", 2, 0))
    assert(a1.find(_.stage == "exact_dedup").get.kept == 1)
    assert(out.select("doc_id").as[Long].collect().toSeq == Seq(1L))
  }

  test("curation language gate keeps only allow-listed predicted languages, audited") {
    val rnd = new scala.util.Random(7)
    val seed = Seq.tabulate(40) { i =>
      val l = if (i % 2 == 0) "aa" else "bb"; (l, langText(l, rnd))
    }.toDF("lang", "text")
    val corpus = Seq.tabulate(12) { i =>
      val l = if (i % 2 == 0) "aa" else "bb"; (i.toLong, langText(l, rnd))
    }.toDF("doc_id", "text")
    val lg = Graft.LangGate(seed, Set("aa"))
    val (out, audit) = Graft.curateCorpusAudited(spark, corpus, Nil,
      langGate = Some(lg))
    assert(audit.find(_.stage == "lang_gate").get ==
      Graft.StageCount("lang_gate", 6, 6),
      s"gate must drop exactly the bb docs; audit was $audit")
    assert(out.select("doc_id").as[Long].collect().sorted.toSeq ==
      Seq(0L, 2L, 4L, 6L, 8L, 10L))
    // gate off: nothing dropped at that spot, no stage row
    val (_, a0) = Graft.curateCorpusAudited(spark, corpus, Nil)
    assert(!a0.exists(_.stage == "lang_gate"))
    assert(a0.find(_.stage == "contamination").get.kept == 12)
  }

  test("curateStream applies normalize + language gate (batch-frame pinning)") {
    val rnd = new scala.util.Random(11)
    val seed = Seq.tabulate(40) { i =>
      val l = if (i % 2 == 0) "aa" else "bb"; (l, langText(l, rnd))
    }.toDF("lang", "text")
    val t0 = new java.sql.Timestamp(1700000000000L)
    // doc 3 is an allowed-language doc in the DECOMPOSED rendering: it
    // must survive the gate AND come out with composed text in the frame
    // and the sink payload
    val docs = Seq(
      (1L, t0, langText("aa", rnd)),
      (2L, t0, langText("bb", rnd)),
      (3L, t0, s"cafe\u0301 ${langText("aa", rnd)}")
    ).toDF("doc_id", "ts", "text")
    val out = Graft.curateStream(docs, Nil,
      quality = Graft.QualityGate(minTokens = 1, maxTokens = 1000, maxStopwordRatio = 1.0),
      minEst = 0.99,
      normalize = Some(Graft.Normalize()),
      langGate = Some(Graft.LangGate(seed, Set("aa"))))
    val rows = out.select(col("doc_id"), col("text"), col("data").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq == Seq(1L, 3L), s"bb doc must be gated out: $rows")
    val (_, text3, data3) = rows(1)
    assert(text3.startsWith("caf\u00e9 "), "stream text must be the NFC fold")
    assert(data3.contains("caf\u00e9 ") && !data3.contains("\u0301"),
      "sink payload must carry the normalized rendering")
  }

  // ---- C6b bloom-pruned semi join / F18b weighted sampling -----------

  test("q_bloom_semi: bloom probe in the fact scan, result identical to the plain semi join") {
    val df = Relational.qBloomSemi.fn(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "fact side must be bloom-pruned before the shuffle " +
        s"(BloomFilterMightContain prettyName is might_contain):\n${plan.take(4000)}")
    val plain = Tables.lineitem(spark, sf001)
      .join(Tables.orders(spark, sf001)
        .filter(col("o_orderdate") >= to_timestamp(lit("1997-07-01")))
        .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        Tables.r2(sum(col("l_extendedprice"))).as("gross"))
      .orderBy(col("l_returnflag"))
    assert(df.collect().map(_.toString).toSeq ==
      plain.collect().map(_.toString).toSeq,
      "bloom pruning must not change the semi-join result (no false negatives)")
  }

  test("q_weighted_sample inclusion matches an independent JVM recomputation") {
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def u32(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val expected = docs.filter { case (id, w) => u32(id) * 1000L < w * 4294967296L }
      .map(_._1).sorted.toSeq
    val got = TextOps.qWeightedSample.fn(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == expected,
      "sampled set must equal the md5-threshold recomputation")
    assert(got.nonEmpty && got.length < docs.length,
      "weighted Bernoulli must select a strict, non-empty subset here")
    got.foreach { case (_, w, p) =>
      assert(p == math.min(1000000L, w * 1000L), "p_millionths must be exact")
    }
    // weight monotonicity at the distribution level: mean chars of the
    // sample must exceed the corpus mean (long docs oversampled)
    val mAll = docs.map(_._2).sum.toDouble / docs.length
    val mSel = got.map(_._2).sum.toDouble / got.length
    assert(mSel > mAll, f"sample mean $mSel%.1f must exceed corpus mean $mAll%.1f")
  }

  // ---- F2c: SimHash banded hamming pair join -------------------------

  test("simhashPairsOf ≡ brute-force hamming join (pigeonhole recall is exact)") {
    val docs = Tables.documents(spark, sf001)
    for (maxH <- Seq(0, 3, 5)) {
      val banded = MinHash.simhashPairsOf(docs, maxH).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val sigs = docs.select(col("doc_id"),
        call_function("simhash64", col("text")).as("sig"))
      val brute = sigs.select(col("doc_id").as("a_id"), col("sig").as("sa"))
        .crossJoin(sigs.select(col("doc_id").as("b_id"), col("sig").as("sb")))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("h"))
        .filter(col("h") <= maxH).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(banded == brute,
        s"maxH=$maxH: banded ${banded.length} pairs != brute ${brute.length}")
      assert(maxH == 0 || banded.nonEmpty, s"maxH=$maxH found no pairs on sf0.001")
    }
  }

  test("simhashPairsOf finds planted twins and rejects distant docs") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base),                        // exact copy: hamming 0
      (3L, base.replace("tok7", "zzz")), // one-token mutation: small hamming
      (4L, (1 to 40).map(i => s"other$i").mkString(" "))) // unrelated
      .toDF("doc_id", "text")
    val pairs = MinHash.simhashPairsOf(docs, 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 0L,
      s"exact copies must pair at hamming 0: $pairs")
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)),
      s"one-token mutation must pair within hamming 3: $pairs")
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      s"unrelated doc must not pair: $pairs")
  }

  // ---- two-phase (large-star/small-star) CC --------------------------

  test("two-phase CC labels ≡ min-label CC on chain, clique, singletons, and random graphs") {
    val rnd = new scala.util.Random(1313)
    // chain (deep diameter) + clique (dense) + singletons + random blobs
    val chain = (0L until 300L).sliding(2).map(s => (s(0), s(1))).toSeq
    val clique = for (a <- 400L until 410L; b <- (a + 1) until 410L) yield (a, b)
    val random = Seq.fill(500)((500L + rnd.nextInt(200), 500L + rnd.nextInt(200)))
      .filter(p => p._1 != p._2)
    val edges = (chain ++ clique ++ random).toDF("a_id", "b_id")
    val nodes = ((0L until 300L) ++ (400L until 412L) ++ (500L until 700L))
      .toDF("doc_id")
    val a = DriverPull.forcingFallbacks(Dedup.connectedComponents(spark, nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    val (starDf, rounds) = DriverPull.forcingFallbacks(
      Dedup.connectedComponentsStarWithRounds(spark, nodes, edges))
    val b = starDf.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a == b, s"label divergence (two-phase rounds=$rounds)")
    assert(rounds > 0 && rounds < 15, s"unexpected round count $rounds")
    // edge-less input: everyone labels themselves
    val (solo, r0) = Dedup.connectedComponentsStarWithRounds(spark,
      Seq(1L, 2L).toDF("doc_id"), spark.emptyDataFrame
        .sparkSession.range(0).select(col("id").as("a_id"), col("id").as("b_id")))
    assert(r0 == 0 && solo.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      == Seq((1L, 1L), (2L, 2L)))
  }

  test("two-phase CC with a reliable checkpointDir survives total block loss") {
    // same executor-loss simulation as the min-label loop's Round9 spec:
    // drop EVERY persisted block at the top of each round — the reliable
    // loop re-reads from checkpoint files and must still label correctly
    val chain = (0L until 150L).sliding(2).map(s => (s(0), s(1))).toSeq
    val star = (151L until 200L).map(i => (150L, i))
    val edges = (chain ++ star).toDF("a_id", "b_id")
    val nodes = (0L until 200L).toDF("doc_id")
    Dedup.testBlockLossHook = Some { s =>
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    try {
      val dir = tmpDir("ccstar_loss_ckpt")
      val labels = withCheckpointDir(dir) {
        val (df, _) = DriverPull.forcingFallbacks(
          Dedup.connectedComponentsStarWithRounds(spark, nodes, edges))
        df.as[(Long, Long)].collect().toMap
      }
      assert(labels.size == 200 && labels(149L) == 0L && labels(199L) == 150L,
        "reliable-checkpoint star CC must label correctly despite block loss")
    } finally Dedup.testBlockLossHook = None
  }

  // ---- F26: kernel scoring ≡ join formulation ------------------------

  test("langid kernel scoring ≡ the join formulation on a messy seeded corpus") {
    // adversarial corpus for the equivalence: word inventories OVERLAP
    // across languages (shared trigrams must credit every profile that
    // contains them), multibyte words exercise the char-offset walk,
    // repeated words force the per-doc distinct, zero-length and <3-char
    // docs hit the eligibility filter, and an out-of-inventory doc gets
    // the ("", 0) empty prediction
    val rnd = new scala.util.Random(13)
    val langsV = Seq("aa", "bb", "cc")
    val vocab = Map(
      "aa" -> Seq("the", "thé", "que", "quiet", "日本語"),
      "bb" -> Seq("que", "quo", "thé", "boub", "zz"),
      "cc" -> Seq("xyz", "zyx", "the", "日本語", "ab"))
    val docs = ((0 until 240).map { i =>
      val lang = langsV(i % 3)
      val words = Seq.fill(rnd.nextInt(10))(vocab(lang)(rnd.nextInt(5)))
      (i.toLong, lang, words.mkString(" "))
    } :+ ((240L, "aa", "PPP QQQ RRR PPP"))).toDF("doc_id", "lang", "text")
    val kernel = TextOps.langIdProfileOf(docs, topN = 6).collect().map(_.toString)
    val join = TextOps.langIdProfileJoinOf(docs, topN = 6).collect().map(_.toString)
    assert(kernel.nonEmpty && kernel.sameElements(join),
      s"kernel/join divergence:\n${kernel.zip(join).filter(p => p._1 != p._2).take(5).mkString("\n")}")
  }

  test("cmsHeavyHitters rejects non-hashable key types up front") {
    val df = Seq(1.5, 2.5, 1.5).toDF("k")
    val e = intercept[IllegalArgumentException] {
      Relational.cmsHeavyHitters(spark, df, "k")
    }
    assert(e.getMessage.contains("unsupported key type"))
  }
}
