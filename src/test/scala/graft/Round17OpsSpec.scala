package graft

import org.apache.spark.sql.functions._

/** Round-17 additions, per the round-16 verdict + ADVICE: the F46b DSIR
  * resample composition (pure-Scala recompute equality, target-mass
  * shift, the curation stage), the F47b containment-dedup verdicts
  * (planted wrapper/mirror corpus, one-pass chain semantics), the
  * scoreCalibration NULL-id loud failure, and the reliable-checkpoint
  * escape hatches on dsirWeights / semanticClustersClustered.
  */
class Round17OpsSpec extends SparkSpec {

  import spark.implicits._

  // ---- scoreCalibration: NULL ids fail loudly (ADVICE r16) --------------

  test("scoreCalibration raises on a NULL id instead of silently dropping the row") {
    val df = Seq((Some(1L), "s", 1.0), (None, "s", 2.0), (Some(3L), "s", 3.0))
      .toDF("doc_id", "source", "sc")
    val e = intercept[Exception] {
      TextOps.scoreCalibration(df, "sc").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("NULL doc_id")), e.toString)
    // the all-labeled frame is untouched by the guard
    val ok = TextOps.scoreCalibration(df.filter(col("doc_id").isNotNull), "sc")
      .collect()
    assert(ok.length == 2)
  }

  // ---- F47b: containment verdicts (verdict item 2) ----------------------

  /** Planted corpus: A wrapped by W, W wrapped by V (a chain), an
    * exact-dup family {B1, B2, B3}, and an unrelated doc U. Weights make
    * B2 the family's best; B2/B3 tie on weight so id breaks it.
    */
  private val containCorpus = Seq(
    (1L, "alpha beta gamma delta epsilon", 5L),                      // A
    (2L, "chrome one two alpha beta gamma delta epsilon tail piece here", 5L), // W ⊃ A
    (3L, "header junk chrome one two alpha beta gamma delta epsilon tail piece here footer junk extra", 5L), // V ⊃ W
    (10L, "omega psi chi phi upsilon tau", 1L),                      // B1
    (11L, "omega psi chi phi upsilon tau", 9L),                      // B2 (best)
    (12L, "omega psi chi phi upsilon tau", 9L),                      // B3 (ties B2, larger id)
    (20L, "unrelated totally different words here now", 7L))         // U

  private def verdictsOf(parts: Int): Map[Long, String] =
    Dedup.containmentVerdicts(spark,
        containCorpus.toDF("doc_id", "text", "w").repartition(parts),
        minC = 0.9, col("w"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("containmentVerdicts: wrapper chain + exact-dup family + unrelated doc") {
    val got = verdictsOf(4)
    assert(got == Map(
      1L -> "contained",  // A ⊂ W (and ⊂ V): strictly contained
      2L -> "contained",  // W ⊂ V: one-pass — contained even though W contains A
      3L -> "kept",       // V: the chain's maximal doc
      10L -> "dup_loser", // B1 loses the mutual family on weight
      11L -> "kept",      // B2: best weight
      12L -> "dup_loser", // B3 ties B2 on weight, loses on id
      20L -> "kept"), got.toString)
    // partitioning-exact
    assert(verdictsOf(7) == got)
  }

  test("dropContained keeps the original schema and exactly the kept set") {
    val docs = containCorpus.toDF("doc_id", "text", "w")
    val kept = Dedup.dropContained(spark, docs, minC = 0.9, col("w"))
    assert(kept.columns.toSeq == Seq("doc_id", "text", "w"))
    assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(3L, 11L, 20L))
  }

  test("containmentVerdicts: mutual mirrors with no strict container keep exactly one") {
    // two exact mirrors and nothing else — the smallest-weight-then-id
    // pinning must keep exactly one, never zero or both
    val docs = Seq((7L, "one two three four five six", 3L),
      (9L, "one two three four five six", 3L)).toDF("doc_id", "text", "w")
    val got = Dedup.containmentVerdicts(spark, docs, 0.9, col("w"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(7L -> "kept", 9L -> "dup_loser"), got.toString)
  }

  test("paragraphClean rewrites docs with duplicated paragraphs stripped, first occurrence kept") {
    val boiler = "subscribe to our newsletter for daily updates now"
    val p1 = "alpha beta gamma delta epsilon zeta"
    val p2 = "one two three four five six seven"
    val docs = Seq(
      (1L, s"$p1\n\n$boiler"),
      (2L, s"$p2\n\n$boiler"),      // loses the boilerplate (doc 1 keeps it)
      (3L, boiler))                 // cleaned to nothing
      .toDF("doc_id", "text")
    val got = Dedup.paragraphClean(spark, Dedup.paragraphsOf(docs), 0.6,
        joiner = "\n\n")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 0L, s"$p1\n\n$boiler")),
      2L -> ((2L, 1L, p2)),
      3L -> ((1L, 1L, ""))), got.toString)
  }

  test("paragraph_clean curation stage: boilerplate stripped before doc-level dedup; empty docs die at the gate") {
    val boiler = "subscribe to our newsletter for daily updates now"
    val docs = Seq(
      (1L, s"alpha beta gamma delta epsilon zeta\n\n$boiler"),
      (2L, s"one two three four five six seven\n\n$boiler"),
      // doc 4 repeats doc 3's first paragraph: paragraph dedup empties
      // it entirely (both its content AND its boilerplate are seen
      // earlier) — doc-level dedup alone would keep it, the texts differ
      (3L, s"red green blue yellow purple orange\n\n$boiler"),
      (4L, "red green blue yellow purple orange"),
      (5L, boiler))                 // all-boilerplate: cleaned empty, gated out
      .toDF("doc_id", "text")
    // minTokens = 2: an emptied doc splits to one "" token and must die
    val loose = Graft.QualityGate(minTokens = 2, maxTokens = 100000,
      stopwords = Seq("zzz"), maxStopwordRatio = 1.0)
    val (packed, audit) = Graft.curateCorpusAudited(spark, docs, Nil,
      quality = loose, paragraphs = Some(Graft.ParagraphClean()))
    assert(audit.map(_.stage) == Seq("input", "paragraph_clean",
      "exact_dedup", "neardup_dedup", "quality_gate", "contamination"),
      audit.toString)
    // the rewrite drops no rows; doc 4 then exact-dups the CLEANED doc 3
    assert(audit.find(_.stage == "paragraph_clean").get.dropped == 0)
    val kept = packed.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 3L), s"kept $kept")
    // doc 2's packed token count reflects the cleaned text (7 tokens)
    val n2 = packed.filter(col("doc_id") === 2L).select("n_toks").head().getLong(0)
    assert(n2 == 7L, s"doc 2 packed n_toks $n2")
  }

  test("paragraphsOf drops separator-artifact empty paragraphs") {
    val docs = Seq((1L, "alpha beta gamma\n\n\n\nomega psi chi\n\n"))
      .toDF("doc_id", "text")
    val got = Dedup.paragraphsOf(docs).collect()
      .map(r => (r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(got.toSeq == Seq((0L, "alpha beta gamma"), (1L, "omega psi chi")),
      got.mkString(","))
  }

  // ---- F19b ⊕ F44: the CCNet composition ---------------------------------

  test("CCNet shape: frozen bigram-LM score calibrated per source keeps the top q% of EACH source") {
    // two sources with different LM-score distributions (different doc
    // lengths → different NLL sums) — a global cut would keep only one
    // source; the published CCNet step is per-shard quantile gating of
    // the LM score, which is exactly CalibratedKeep over the frozen
    // BigramLm column
    val docs = (0 until 40).map { i =>
      val src = if (i % 2 == 0) "crawl" else "curated"
      val len = if (i % 2 == 0) 6 else 18
      (i.toLong, src,
        (0 until len).map(j => s"tok${(i * 7 + j) % 9}").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val lm = TextOps.bigramLmFit(docs, buckets = 256)
    // sumMicros = Σ ln p (≤ 0): HIGHER = more probable = CCNet's "head"
    val kept = docs
      .withColumn("__s", lm.sumMicrosCol(col("text")))
      .transform(d => TextOps.scoreCalibration(d, "__s")
        .filter(col("pct_millionths") >= 500000L).select("doc_id")
        .join(d, Seq("doc_id")))
    val bySrc = kept.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc.keySet == Set("crawl", "curated") &&
      bySrc.values.forall(_ == 10), s"per-source keeps: $bySrc")
  }

  // ---- F46b: DSIR resampling (verdict item 1) ---------------------------

  /** Pure-Scala recompute of dsirWeights + the log-space draw — an
    * independent formulation of the whole pipeline (hash, features,
    * smoothing, quantization, anchor, draw). */
  private def dsirRef(raw: Seq[(Long, String)], target: Seq[(Long, String)],
      buckets: Int, seed: Long): Map[Long, (Long, Long, Long)] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def grams(t: String): Seq[String] = {
      val toks = t.split(" ", -1).toSeq
      toks ++ (if (toks.size >= 2) toks.sliding(2).map(_.mkString(" ")).toSeq
               else Nil)
    }
    def bucket(g: String): Long =
      java.lang.Long.parseLong(md5hex(g).take(8), 16) % buckets
    val rawB = raw.map { case (id, t) => id -> grams(t).map(bucket) }
    val tgtB = target.flatMap { case (_, t) => grams(t).map(bucket) }
    val rc = rawB.flatMap(_._2).groupBy(identity).map { case (b, g) => b -> g.size.toLong }
    val tc = tgtB.groupBy(identity).map { case (b, g) => b -> g.size.toLong }
    val rn = rc.values.sum; val tn = tc.values.sum
    val lr = (0L until buckets.toLong).map { b =>
      val pt = (tc.getOrElse(b, 0L) + 1.0) / (tn + buckets)
      val pr = (rc.getOrElse(b, 0L) + 1.0) / (rn + buckets)
      b -> math.floor((math.log(pt) - math.log(pr)) * 1e6).toLong
    }.toMap
    val w = rawB.map { case (id, bs) => id -> (bs.size.toLong, bs.map(lr).sum) }
    val m = w.map(_._2._2).max
    w.flatMap { case (id, (ng, lw)) =>
      val h = java.lang.Long.parseLong(md5hex(s"$seed:$id").take(8), 16)
      val lnu = math.floor(math.log((2 * h + 1) / 8589934592.0) * 1e6).toLong
      if (lnu < lw - m) Some(id -> (ng, lw, lw - m)) else None
    }.toMap
  }

  private val dsirTarget = (0 until 15).map(i =>
    (1000L + i, s"the quick brown fox jumps over dog $i and runs home again"))
  private val dsirRaw = (0 until 30).map { i =>
    val t =
      if (i % 2 == 0) s"the quick brown fox jumps over dog $i and naps at home"
      else s"zz$i qq ww ee rr tt yy uu oo pp noise$i junk$i"
    (i.toLong, t)
  }

  test("dsirResample ≡ the pure-Scala recompute (models → ratios → sums → anchor → draw)") {
    val got = TextOps.dsirResample(
        dsirRaw.toDF("doc_id", "text").repartition(7),
        dsirTarget.toDF("doc_id", "text"), buckets = 64)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val want = dsirRef(dsirRaw, dsirTarget, buckets = 64, seed = 0L)
    assert(got == want, s"got ${got.keySet.toSeq.sorted} want ${want.keySet.toSeq.sorted}")
    assert(got.nonEmpty)
  }

  test("dsirResample shifts kept mass toward the target style") {
    val kept = TextOps.dsirResample(dsirRaw.toDF("doc_id", "text"),
        dsirTarget.toDF("doc_id", "text"), buckets = 64)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val targetStyle = kept.count(_ % 2 == 0)
    val noiseStyle = kept.count(_ % 2 == 1)
    assert(targetStyle > noiseStyle,
      s"kept $targetStyle target-style vs $noiseStyle noise-style")
    // the anchor doc (max log ratio) is always kept, so kept is non-empty
    assert(kept.nonEmpty)
  }

  test("resampleByLogWeight fails loudly on a frame with no scored rows") {
    val e = intercept[IllegalArgumentException] {
      TextOps.resampleByLogWeight(
        Seq.empty[(Long, Long)].toDF("doc_id", "lw"), "doc_id", "lw")
    }
    assert(e.getMessage.contains("anchor"), e.getMessage)
  }

  test("dsir_resample curation stage ≡ standalone dsirResample on the pool entering it") {
    val docs = (0 until 60).map { i =>
      val t =
        if (i % 2 == 0) s"the quick brown fox jumps over dog $i and naps at home"
        else s"zz$i qq ww ee rr tt yy uu oo pp noise$i junk$i"
      (i.toLong, t)
    }.toDF("doc_id", "text")
    val target = dsirTarget.toDF("doc_id", "text")
    val loose = Graft.QualityGate(minTokens = 1, maxTokens = 100000,
      stopwords = Seq("zzz"), maxStopwordRatio = 1.0)
    val (packed, audit) = Graft.curateCorpusAudited(spark, docs, Nil,
      quality = loose, dsir = Some(Graft.DsirKeep(target, buckets = 64)))
    assert(audit.map(_.stage) == Seq("input", "exact_dedup", "neardup_dedup",
      "quality_gate", "dsir_resample", "contamination"), audit.toString)
    // pool entering the stage = all 60 (unique texts, loose gate), so the
    // standalone operator on the same pool is the truth
    val want = TextOps.dsirResample(docs, target, buckets = 64)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val got = packed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  // ---- F49: paragraph-granularity near-dup -------------------------------

  test("paragraphDedupOf over separator paragraphs: cross-doc and within-doc dups drop, first wins") {
    val p1 = "alpha beta gamma delta epsilon zeta"
    val p2 = "one two three four five six seven"
    val p3 = "red green blue yellow purple orange"
    val docs = Seq(
      (1L, s"$p1\n\n$p2"),            // both kept (first occurrences)
      (2L, s"$p1\n\n$p3\n\n$p3"),     // p1 dups doc 1; second p3 dups the first
      (3L, p3))                       // dups doc 2's p3 (earlier doc wins)
      .toDF("doc_id", "text")
    val got = Dedup.paragraphDedupOf(spark, Dedup.paragraphsOf(docs), 0.6,
        joiner = "\n\n")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == ((2L, 0L, h(s"$p1\n\n$p2"))), got(1L).toString)
    assert(got(2L) == ((3L, 2L, h(p3))), got(2L).toString)
    assert(got(3L) == ((1L, 1L, h(""))), got(3L).toString)
    // partitioning-exact
    val got7 = Dedup.paragraphDedupOf(spark,
        Dedup.paragraphsOf(docs.repartition(7)), 0.6, joiner = "\n\n")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got7 == got)
  }

  test("paragraphWindows slices non-overlapping token windows; short tails survive") {
    val docs = Seq((5L, (1 to 70).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.paragraphWindows(docs, 32)
      .collect().map(r => (r.getLong(1), r.getString(2))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(0L, 1L, 2L))
    assert(got(0)._2 == (1 to 32).map(i => s"w$i").mkString(" "))
    assert(got(2)._2 == (65 to 70).map(i => s"w$i").mkString(" "))
  }

  test("identical sub-shingle-length paragraphs are duplicates (exact rule below gram length)") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta\n\nshort tail"),
      (2L, "completely different words in this one here\n\nshort tail"))
      .toDF("doc_id", "text")
    val got = Dedup.paragraphDedupOf(spark, Dedup.paragraphsOf(docs), 0.6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 2's "short tail" (2 tokens, shingle-less) dups doc 1's
    assert(got == Map(1L -> ((2L, 0L)), 2L -> ((2L, 1L))), got.toString)
  }

  test("paragraphDedupLsh ≡ the exact path on identical and high-J planted paragraphs") {
    val p1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val p1near = "alpha beta gamma delta epsilon zeta eta theta iota lambda" // J = 7/11? high
    val p2 = "one two three four five six seven eight nine ten"
    val docs = Seq(
      (1L, s"$p1\n\n$p2"),
      (2L, s"$p1\n\n$p1near"),   // exact dup of p1 + near dup of p1
      (3L, s"$p2\n\n$p2"))       // within-doc exact repeat
      .toDF("doc_id", "text")
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val exact = flat(Dedup.paragraphDedupOf(spark, Dedup.paragraphsOf(docs), 0.6))
    val lsh = flat(Dedup.paragraphDedupLsh(spark, Dedup.paragraphsOf(docs), 0.6))
    assert(lsh == exact, s"lsh $lsh vs exact $exact")
    // and the planted verdicts are what we think they are (doc 1 carries
    // the first occurrences of BOTH paragraphs, so docs 2 and 3 lose all)
    assert(exact.map(t => t._1 -> t._3).toMap == Map(1L -> 0L, 2L -> 2L, 3L -> 2L))
  }

  test("paragraphDedupOf raises on a para_idx outside [0, 1e6)") {
    val paras = Seq((1L, 1000000L, "alpha beta gamma delta"))
      .toDF("doc_id", "para_idx", "para_text")
    val e = intercept[Exception] {
      Dedup.paragraphDedupOf(spark, paras, 0.6).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("para_idx")), e.toString)
  }

  // ---- F19b: hashed bigram back-off LM -----------------------------------

  /** Pure-Scala recompute of the fit + stupid-backoff scoring. */
  private def bigramRef(corpus: Seq[(Long, String)], score: Seq[(Long, String)],
      buckets: Int): Map[Long, (Long, Long)] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bkt(g: String): Long =
      java.lang.Long.parseLong(md5hex(g).take(8), 16) % buckets
    val toks = corpus.map { case (_, t) => t.split(" ", -1).toSeq }
    val uc = Array.fill(buckets)(0L)
    val bc = Array.fill(buckets)(0L)
    toks.foreach { ts =>
      ts.foreach(w => uc(bkt(w).toInt) += 1)
      ts.sliding(2).filter(_.size == 2).foreach(p => bc(bkt(p.mkString(" ")).toInt) += 1)
    }
    val un = uc.sum
    def fl(d: Double) = math.floor(d * 1e6).toLong
    score.flatMap { case (id, t) =>
      val ts = t.split(" ", -1).toSeq
      if (ts.size < 2) None
      else {
        val s = ts.sliding(2).filter(_.size == 2).map { p =>
          val hb = bkt(p.mkString(" ")).toInt
          val hp = bkt(p(0)).toInt; val hu = bkt(p(1)).toInt
          if (bc(hb) > 0 && uc(hp) > 0) fl(math.log(bc(hb).toDouble)) - fl(math.log(uc(hp).toDouble))
          else TextOps.BackoffMicros + fl(math.log((uc(hu) + 1.0) / (un + buckets)))
        }.sum
        Some(id -> ((ts.size - 1).toLong, -s))
      }
    }.toMap
  }

  private val lmCorpus = (0 until 25).map(i =>
    (i.toLong, s"the cat sat on the mat ${i % 5} and the dog ran away fast"))

  test("lmBigramScores ≡ the pure-Scala recompute (self-scored corpus)") {
    val got = TextOps.lmBigramScores(
        lmCorpus.toDF("doc_id", "text").repartition(7), buckets = 256)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == bigramRef(lmCorpus, lmCorpus, 256), got.toString)
    // the batch explode+agg plan and the frozen per-row fold compute the
    // IDENTICAL LONG sums (order-free integers — plan shape cannot matter)
    val lm = TextOps.bigramLmFit(lmCorpus.toDF("doc_id", "text"), 256)
    val fold = lmCorpus.toDF("doc_id", "text")
      .select(col("doc_id"), (-lm.sumMicrosCol(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fold == got.map { case (k, (_, n)) => k -> n }, fold.toString)
  }

  test("frozen BigramLm takes the backoff branch on unseen bigrams") {
    val lm = TextOps.bigramLmFit(lmCorpus.toDF("doc_id", "text"), buckets = 256)
    // a doc of tokens the corpus never saw — every position must land in
    // the backoff branch (up to bucket collisions, which the reference
    // reproduces exactly)
    val alien = Seq((99L, "zzq xxv qqw wwe eer rrt tty"))
    val got = alien.toDF("doc_id", "text")
      .select(col("doc_id"), (-lm.sumMicrosCol(col("text"))).as("nll"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = bigramRef(lmCorpus, alien, 256).map { case (k, (_, n)) => k -> n }
    assert(got == want, s"got $got want $want")
    // sanity: alien text scores much worse than in-corpus text
    val inC = lmCorpus.take(1).toDF("doc_id", "text")
      .select((-lm.sumMicrosCol(col("text"))).as("n")).head().getLong(0)
    assert(got(99L) / 7 > inC / 13, s"alien per-tok ${got(99L) / 7} vs in-corpus ${inC / 13}")
  }

  test("bigramLmFit fails loudly on a token-less corpus") {
    val e = intercept[IllegalArgumentException] {
      TextOps.bigramLmFit(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("no tokens"), e.getMessage)
  }

  // ---- F46c: frozen DSIR model (fit→freeze symmetry) ---------------------

  test("frozen DsirModel ≡ dsirResample when fit on the scored corpus itself") {
    val raw = dsirRaw.toDF("doc_id", "text")
    val tgt = dsirTarget.toDF("doc_id", "text")
    val model = TextOps.dsirFit(raw, tgt, buckets = 64)
    val frozen = raw.filter(model.keepCol(col("text"), col("doc_id")))
      .select(col("doc_id"), model.pLogCol(col("text")).as("p"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = TextOps.dsirResample(raw, tgt, buckets = 64)
      .select(col("doc_id"), col("p_log_micros"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the per-row fold and the explode+agg sum are both exact LONG sums
    // of the same table lookups — kept sets AND p_log values identical
    assert(frozen == batch && frozen.nonEmpty, s"frozen $frozen vs batch $batch")
  }

  test("curateStream applies the frozen DSIR gate; no-rawReference streaming use fails loudly") {
    val t0 = new java.sql.Timestamp(1700000000000L)
    val raw = dsirRaw.toDF("doc_id", "text")
    val tgt = dsirTarget.toDF("doc_id", "text")
    val stream = dsirRaw.toDF("doc_id", "text")
      .withColumn("ts", lit(t0)).select("doc_id", "ts", "text")
    val loose = Graft.QualityGate(minTokens = 1, maxTokens = 100000,
      stopwords = Seq("zzz"), maxStopwordRatio = 1.0)
    val dk = Graft.DsirKeep(tgt, buckets = 64, rawReference = Some(raw))
    val out = Graft.curateStream(stream, Nil, quality = loose,
      minEst = 0.99, dsir = Some(dk))
    val got = out.select("doc_id").collect().map(_.getLong(0)).toSet
    val want = raw.filter(dk.model.keepCol(col("text"), col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty, s"stream kept $got, want $want")
    // rawReference omitted: forcing the model must throw descriptively
    val e = intercept[IllegalArgumentException] {
      Graft.DsirKeep(tgt, buckets = 64).model
    }
    assert(e.getMessage.contains("rawReference"))
  }

  test("dsir_resample stage (frozen mode) ≡ the standalone frozen filter") {
    val docs = dsirRaw.toDF("doc_id", "text")
    val tgt = dsirTarget.toDF("doc_id", "text")
    val loose = Graft.QualityGate(minTokens = 1, maxTokens = 100000,
      stopwords = Seq("zzz"), maxStopwordRatio = 1.0)
    val dk = Graft.DsirKeep(tgt, buckets = 64, rawReference = Some(docs))
    val (packed, audit) = Graft.curateCorpusAudited(spark, docs, Nil,
      quality = loose, dsir = Some(dk))
    assert(audit.map(_.stage).contains("dsir_resample"))
    val want = docs.filter(dk.model.keepCol(col("text"), col("doc_id")))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val got = packed.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }

  // ---- reliable checkpoint directory ≡ the local default (verdict item 5)

  test("dsirWeights with a reliable checkpointDir ≡ the localCheckpoint default") {
    val raw = dsirRaw.toDF("doc_id", "text")
    val tgt = dsirTarget.toDF("doc_id", "text")
    val dir = tmpDir("dsir_ckpt")
    val base = TextOps.dsirWeights(raw, tgt, buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val ckpt = withCheckpointDir(dir) {
      TextOps.dsirWeights(raw, tgt, buckets = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(ckpt == base)
  }

  test("semanticClustersClustered with a reliable checkpointDir ≡ the default") {
    val rng = new scala.util.Random(17)
    val emb = (0 until 40).map { i =>
      val center = Array.fill(8)(if (i % 4 == 0) 1.0f else -1.0f)
      (i.toLong, center.map(v => v + rng.nextFloat() * 0.1f))
    }.toDF("vec_id", "embedding")
    val dir = tmpDir("sem_ckpt")
    def flat(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val base = flat(Similarity.semanticClustersClustered(spark, emb,
      minCos = 0.8, k = 4))
    val ckpt = withCheckpointDir(dir) {
      flat(Similarity.semanticClustersClustered(spark, emb, minCos = 0.8, k = 4))
    }
    assert(ckpt == base)
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "no reliable checkpoint files were written")
  }

  // ---- F51: prototype-proximity diversification (D4 / SSL prototypes) ---

  /** k = 1, iters = 2 on {0.2, 0.3, 0.4} (1-dim): quantized micros are
    * 1.2e6/1.3e6/1.4e6, the mean is EXACTLY 1.3e6 (sum 3.9e6 div 3), so
    * v2 sits ON the centroid (dist 0, pct 0), and v1/v3 tie at dist 1e10
    * → id order ranks v1 before v3 (pct 5e5 and 1e6).
    */
  private def protoCorpus = Seq(
    (1L, Array(0.2f)), (2L, Array(0.3f)), (3L, Array(0.4f)))
    .toDF("vec_id", "embedding")

  test("prototypeDiversify: the centroid-coincident point is the first prototype; ties rank by id") {
    val got = Similarity
      .prototypeDiversify(spark, protoCorpus, dropMillionths = 600000L, k = 1)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(got(2L) == ((0L, 0L, "prototype")), got.toString)       // on-centroid
    assert(got(1L) == ((10000000000L, 500000L, "prototype")), got.toString)
    assert(got(3L) == ((10000000000L, 1000000L, "kept")), got.toString)
  }

  test("prototypeDiversify: drop = 0 keeps all; drop = 1e6 keeps only each cluster's farthest; monotone") {
    def kept(d: Long): Set[Long] = Similarity
      .prototypeDiversify(spark, protoCorpus, dropMillionths = d, k = 1)
      .filter(col("verdict") === "kept")
      .collect().map(_.getLong(0)).toSet
    assert(kept(0L) == Set(1L, 2L, 3L))
    assert(kept(1000000L) == Set(3L)) // pct = 1e6 exactly: never < drop
    val ks = Seq(0L, 200000L, 600000L, 1000000L).map(kept)
    assert(ks.sliding(2).forall { case Seq(a, b) => b.subsetOf(a) })
  }

  test("prototypeDiversify: singleton clusters are never dropped; partitioning-invariant") {
    // two far-apart blobs, k = 2: one blob is a singleton (pct = 1e6)
    val emb = Seq(
      (1L, Array(1.0f, 1.0f)), (2L, Array(0.98f, 1.0f)),
      (3L, Array(1.0f, 0.98f)), (4L, Array(-1.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    val base = Similarity
      .prototypeDiversify(spark, emb, dropMillionths = 900000L, k = 2)
    val rows = base.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getString(4)))
    val byId = rows.map(r => r._1 -> r).toMap
    // v4 is alone in its cluster → pct 1e6 → kept even at drop 0.9e6
    assert(byId(4L)._3 == 1000000L && byId(4L)._4 == "kept", rows.mkString(","))
    // the 3-blob drops its two closest (pct 0 and 5e5 < 9e5)
    assert(rows.count(_._4 == "prototype") == 2, rows.mkString(","))
    val re = Similarity
      .prototypeDiversify(spark, emb.repartition(7), dropMillionths = 900000L,
        k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getString(4)))
    assert(re.toSet == rows.toSet)
  }

  // ---- F50: C4 heuristic cleaning ----------------------------------------

  private def c4Lines(rows: (Long, Long, String)*) =
    rows.toSeq.toDF("doc_id", "para_idx", "para_text")

  test("c4Clean: line rules (terminal punct, min words, javascript) and the ordered rebuild") {
    val got = TextOps.c4Clean(c4Lines(
      (1L, 0L, "This is a good first line."),
      (1L, 1L, "short."),                        // < 3 words
      (1L, 2L, "no terminal punctuation here"),  // no terminal
      (1L, 3L, "Another fine line!"),
      (1L, 4L, "this line uses JavaScript badly.")), // js
      minWords = 3, minSentences = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    assert(got.length == 1)
    assert(got.head == ((5L, 2L, 2L, "kept",
      "This is a good first line.\nAnother fine line!")), got.head.toString)
  }

  test("c4Clean: page-level verdict lattice — lorem > brace > bad_word > sentences; bad words match tokens, not substrings") {
    val lines = c4Lines(
      (1L, 0L, "Lorem ipsum dolor sit amet."), (1L, 1L, "And a brace { too."),
      (2L, 0L, "A config snippet { appears here."),
      (3L, 0L, "The badger walks at night."),
      (4L, 0L, "Many badgers walk at night."),   // token ≠ "badger"
      (4L, 1L, "They are fine animals indeed!"),
      (5L, 0L, "Only one sentence lives here."))
    val got = TextOps.c4Clean(lines, minWords = 3, minSentences = 2,
      badWords = Seq("badger"))
      .collect().map(r => r.getLong(0) -> (r.getString(4),
        Option(r.getString(5)))).toMap
    assert(got(1L)._1 == "lorem_ipsum" && got(1L)._2.isEmpty, got.toString)
    assert(got(2L)._1 == "brace" && got(2L)._2.isEmpty, got.toString)
    assert(got(3L)._1 == "bad_word", got.toString)
    assert(got(4L)._1 == "kept" &&
      got(4L)._2.contains(
        "Many badgers walk at night.\nThey are fine animals indeed!"),
      got.toString)
    assert(got(5L)._1 == "too_few_sentences" && got(5L)._2.isEmpty, got.toString)
  }

  test("c4Clean: a doc with zero kept lines reports empty clean and too_few_sentences; empty input returns empty") {
    val got = TextOps.c4Clean(
      c4Lines((9L, 0L, "no punct no luck")), minWords = 3, minSentences = 1)
      .collect()
    assert(got.length == 1 && got.head.getLong(2) == 0L &&
      got.head.getString(4) == "too_few_sentences")
    assert(TextOps.c4Clean(c4Lines(), minWords = 3).collect().isEmpty)
  }

  test("c4_clean curation stage: non-kept pages drop, survivors continue with kept lines, audit counts the drops") {
    // doc 1: two good lines + one junk line → kept, junk line stripped
    // doc 2: a brace page → drops at c4_clean
    // doc 3: one sentence only → drops at c4_clean (minSentences = 2)
    val docs = Seq(
      (1L, "A first fine sentence.\njunk line no punct\nA second fine sentence."),
      (2L, "Valid text until a { appears.\nAnother good line here."),
      (3L, "Just the one sentence here.")).toDF("doc_id", "text")
    val (_, audit) = Graft.curateCorpusAudited(spark, docs, Nil,
      quality = Graft.QualityGate(minTokens = 1, maxTokens = 1000),
      c4 = Some(Graft.C4Clean(minSentences = 2)))
    val byStage = audit.map(sc => sc.stage -> sc).toMap
    assert(byStage("c4_clean").kept == 1 && byStage("c4_clean").dropped == 2,
      audit.toString)
    // the survivor's text entering exact_dedup is the REWRITE
    val stageText = Graft.curateCorpusAudited(spark, docs, Nil,
      quality = Graft.QualityGate(minTokens = 1, maxTokens = 1000),
      c4 = Some(Graft.C4Clean(minSentences = 2)))._1
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(stageText == Set(1L))
    val standalone = TextOps.c4Clean(
      Dedup.paragraphsOf(docs, "\n"), minWords = 3, minSentences = 2)
      .filter(col("verdict") === "kept")
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(standalone == Map(
      1L -> "A first fine sentence.\nA second fine sentence."))
  }

  // ---- F52: BPE tokenizer -------------------------------------------------

  /** Independent pure-Scala recompute of the pinned BPE algorithm (fit
    * tie order, rank-order exhaustive leftmost-first application). */
  private def bpeRefFit(corpus: Seq[String], numMerges: Int,
      vocabN: Int): Seq[(String, String)] = {
    def cps(w: String): Vector[String] = {
      var i = 0; val b = Vector.newBuilder[String]
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        b += w.substring(i, i + n); i += n
      }
      b.result()
    }
    var words = corpus.flatMap(_.split(" ", -1)).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => (w, g.size.toLong) }.toSeq
      .sortBy { case (w, c) => (-c, w) }.take(vocabN)
      .map { case (w, c) => (cps(w), c) }
    val out = Seq.newBuilder[(String, String)]
    for (_ <- 1 to numMerges) {
      val pc = words.flatMap { case (s, c) =>
        s.sliding(2).filter(_.size == 2).map(p => (p(0), p(1)) -> c) }
        .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
      if (pc.nonEmpty) {
        val (l, r) = pc.toSeq.minBy { case ((l, r), c) => (-c, l, r) }._1
        out += ((l, r))
        words = words.map { case (s, c) => (bpeRefMerge(s, l, r), c) }
      }
    }
    out.result()
  }
  private def bpeRefMerge(s: Vector[String], l: String, r: String)
      : Vector[String] = {
    val b = Vector.newBuilder[String]; var j = 0
    while (j < s.size) {
      if (j + 1 < s.size && s(j) == l && s(j + 1) == r) { b += (l + r); j += 2 }
      else { b += s(j); j += 1 }
    }
    b.result()
  }
  private def bpeRefEncode(merges: Seq[(String, String)], w: String)
      : Vector[String] = {
    var s = {
      var i = 0; val b = Vector.newBuilder[String]
      while (i < w.length) {
        val n = Character.charCount(w.codePointAt(i))
        b += w.substring(i, i + n); i += n
      }
      b.result()
    }
    merges.foreach { case (l, r) => s = bpeRefMerge(s, l, r) }
    s
  }

  test("bpeFit + bpe_encode ≡ the pure-Scala reference (fit tie order, rank-order application)") {
    graft.functions.VectorFunctions.register(spark)
    val corpus = Seq("the quick brown fox", "the the quick fox fox fox",
      "thequickbrownfox jumps", "ab ab ab aab")
    val model = TextOps.bpeFit(corpus.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text"),
      numMerges = 12, vocabN = 100)
    assert(model.merges == bpeRefFit(corpus, 12, 100), model.merges.toString)
    val probe = Seq("the", "fox", "thequickbrownfox", "unseen", "aab")
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = probe.select(col("doc_id"), model.encodeCol(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    Seq("the", "fox", "thequickbrownfox", "unseen", "aab").zipWithIndex
      .foreach { case (w, i) =>
        assert(got(i.toLong) == bpeRefEncode(model.merges, w),
          s"$w: ${got(i.toLong)}")
      }
  }

  test("bpe: hand example, losslessness on multibyte/surrogate words, zero merges = code points") {
    graft.functions.VectorFunctions.register(spark)
    val fit = Seq((1L, "aa aa ab")).toDF("doc_id", "text")
    val model = TextOps.bpeFit(fit, numMerges = 2, vocabN = 10)
    assert(model.merges == Seq(("a", "a"), ("a", "b")), model.merges.toString)
    val words = Seq("aab", "héllo", "a😀b", "aa", "ab")
    val enc = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
      .toDF("doc_id", "text")
      .select(col("doc_id"), model.encodeCol(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector).toMap
    assert(enc(0L) == Vector("aa", "b")) // rank order: (a,a) fires first
    words.zipWithIndex.foreach { case (w, i) =>
      assert(enc(i.toLong).mkString == w, s"lossless: $w -> ${enc(i.toLong)}")
    }
    val m0 = TextOps.bpeFit(fit, numMerges = 0, vocabN = 10)
    val cp = Seq((1L, "a😀b")).toDF("doc_id", "text")
      .select(m0.encodeCol(col("text"))).head().getSeq[String](0)
    assert(cp == Seq("a", "😀", "b"), cp.toString)
  }

  test("bpe: merge lists are prefix-stable and token counts are monotone in the merge count") {
    graft.functions.VectorFunctions.register(spark)
    val corpus = (0 until 50).map(i =>
      (i.toLong, s"tok${i % 7} tok${i % 5} shared shared tok${i % 3}"))
      .toDF("doc_id", "text")
    val m20 = TextOps.bpeFit(corpus, numMerges = 20, vocabN = 100)
    val m5 = TextOps.bpeFit(corpus, numMerges = 5, vocabN = 100)
    assert(m20.merges.take(5) == m5.merges, "prefix law")
    val counts = Seq(0, 5, 20).map { k =>
      val m = TextOps.bpeFit(corpus, numMerges = k, vocabN = 100)
      corpus.agg(sum(m.countCol(col("text")))).head().getLong(0)
    }
    assert(counts(0) >= counts(1) && counts(1) >= counts(2), counts.toString)
    // partitioning invariance of the graded shape
    val a = corpus.select(col("doc_id"), m20.countCol(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = corpus.repartition(7)
      .select(col("doc_id"), m20.countCol(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
  }

  test("tokenBudgetMix with the BPE meter ≡ the default fill over pre-tokenized text (F52 ⊕ F33)") {
    graft.functions.VectorFunctions.register(spark)
    val docs = (0 until 60).map { i =>
      (i.toLong, s"s${i % 3}",
        (0 until 4 + i % 5).map(j => s"word${(i + j) % 11}").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val model = TextOps.bpeFit(docs, numMerges = 15, vocabN = 100)
    val budgets = Map("s0" -> 120L, "s1" -> 60L, "s2" -> 0L)
    val viaMeter = TextOps.tokenBudgetMix(docs, budgets,
        tokenCount = Some(model.countCol(col("text"))))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    val pretok = docs.select(col("doc_id"), col("source"),
      concat_ws(" ", model.encodeCol(col("text"))).as("text"))
    val viaText = TextOps.tokenBudgetMix(pretok, budgets)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).toSet
    assert(viaMeter == viaText && viaMeter.nonEmpty, s"$viaMeter vs $viaText")
    // the fill is in BPE tokens: per-source kept mass obeys the greedy
    // boundary rule (cum_before < budget for every kept doc)
    assert(viaMeter.forall { case (_, _, cumBefore) => cumBefore < 120L })
  }

  test("bpeFit fails loudly on a word-less corpus") {
    val e = intercept[IllegalArgumentException] {
      TextOps.bpeFit(Seq.empty[(Long, String)].toDF("doc_id", "text"), 5)
    }
    assert(e.getMessage.contains("no words"), e.getMessage)
  }

  // ---- F56: corpus snapshot diff ------------------------------------------

  test("corpusDiff: four-way labels, NULL-text equality, partitioning invariance") {
    val prev = Seq((1L, Some("alpha")), (2L, Some("beta")),
      (3L, Some("gamma")), (4L, None), (5L, Some("eps"))).toDF("doc_id", "text")
    val next = Seq((1L, Some("alpha")),            // unchanged
      (2L, Some("beta v2")),                       // changed
      (4L, None),                                  // NULL = NULL: unchanged
      (5L, None),                                  // text → NULL: changed
      (9L, Some("fresh")))                         // added
      .toDF("doc_id", "text")                      // 3: removed
    def diff(p: org.apache.spark.sql.DataFrame, n: org.apache.spark.sql.DataFrame) =
      Dedup.corpusDiff(p, n).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = diff(prev, next)
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "changed", 9L -> "added"), got.toString)
    assert(diff(prev.repartition(5), next.repartition(3)) == got)
  }

  // ---- F55: Gopher quality-rule battery -----------------------------------

  test("gopherQualityReport: one plant per rule, pinned precedence, integer ratios") {
    val good = "the cat and the dog walk to the park of dreams that " +
      "shine bright every single day here"                    // 17 words, all rules pass
    val docs = Seq(
      (1L, good),
      (2L, "too few words here"),                              // word_count (< 10)
      (3L, ("antidisestablishmentarianism " * 12).trim),       // mean_word_length > 10
      (4L, "the brave# quick# plump# sunny# windy# rocky# and that " +
        "onward truly"),                                       // symbol_ratio (6/12 > 0.1)
      (5L, (1 to 10).map(i => s"• bullet the item and $i of that")
        .mkString("\n")),                                      // bullet_ratio (100%)
      (6L, (1 to 10).map(i => s"the long line number $i and gently " +
        s"trails away of that some more padding words off...")
        .mkString("\n")),     // ellipsis_ratio (100% lines; symbols 10/160 ok)
      (7L, "the 11111 22222 33333 44444 55555 66666 77777 and 88888 " +
        "99999 10101 12121 13131 14141 15151 16161"),          // alpha_ratio
      (8L, "words without required stop tokens pad pad pad pad pad pad"), // missing_stopwords
      (9L, "the word_count rule outranks everything but this doc " +
        "has # # # # # # symbols and that and of"))            // symbol fires, not stopwords
      .toDF("doc_id", "text")
    val got = TextOps.gopherQualityReport(docs, minWords = 10L,
      requiredWords = Seq("the", "and", "of", "that"), minRequired = 2)
      .collect().map(r => r.getLong(0) -> r.getString(8)).toMap
    assert(got == Map(1L -> "kept", 2L -> "word_count",
      3L -> "mean_word_length", 4L -> "symbol_ratio", 5L -> "bullet_ratio",
      6L -> "ellipsis_ratio", 7L -> "alpha_ratio", 8L -> "missing_stopwords",
      9L -> "symbol_ratio"), got.toString)
    // integer ratio spot-check: doc 5 bullets 10/10 lines = 1e6 exactly
    val r5 = TextOps.gopherQualityReport(docs, minWords = 10L,
      requiredWords = Seq("the"), minRequired = 1)
      .filter(col("doc_id") === 5L).head()
    assert(r5.getLong(4) == 1000000L, r5.toString)
    // partitioning invariance
    val a = TextOps.gopherQualityReport(docs, 10L).collect()
      .map(_.toString).sorted.toSeq
    val b = TextOps.gopherQualityReport(docs.repartition(5), 10L).collect()
      .map(_.toString).sorted.toSeq
    assert(a == b)
  }

  // ---- F19c: CCNet head/middle/tail buckets ------------------------------

  test("ccnet buckets: each language is cut into its own thirds regardless of score scale") {
    // 3 docs per lang with distinct NLLs (different lengths); the cut is
    // per-lang → every lang gets exactly one head, one middle, one tail
    val docs = (0 until 6).map { i =>
      val lang = if (i < 3) "en" else "de"
      val len = 4 + (i % 3) * 6 + (if (i < 3) 0 else 2)
      (i.toLong, lang,
        (0 until len).map(j => s"w${(i * 3 + j) % 7}").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val scored = TextOps.lmBigramScores(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val bucketed = TextOps.scoreCalibration(scored, "nll_micros",
        sourceCol = "lang")
      .select(col("doc_id"), col("lang"),
        when(col("pct_millionths") * 3 <= 1000000L, lit("head"))
          .when(col("pct_millionths") * 3 <= 2000000L, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
    val counts = bucketed.groupBy(col("lang"), col("bucket")).count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    for (l <- Seq("en", "de"); b <- Seq("head", "middle", "tail"))
      assert(counts.get((l, b)).contains(1L), counts.toString)
  }
}
