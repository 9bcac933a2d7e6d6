package graft

import org.apache.spark.sql.functions._

/** Round-15 additions, per the round-14 verdict + ADVICE: the F20
  * fixed-bucket prefix-sum retrofit (bucket-count invariance), the Bench
  * floor gate (fresh-JVM re-measure contract), F36b auto-k, the
  * evalOverlapReport short-doc spine, the sourceOverlapMatrix zero-overlap
  * spine, nbFit's null-label loud failure, the exact epoch-weight
  * derivation, and the hybrid-CC diameter-sweep equivalence law.
  */
class Round15OpsSpec extends SparkSpec {

  import spark.implicits._

  // ---- F20: fixed bucket count over the id range ----------------------

  test("packSequencesOf is bucket-count invariant (64 ≡ 256, exact)") {
    val docs = Tables.documents(spark, sf001)
    val a = TextOps.packSequencesOf(docs, buckets = 64).collect().toSeq
    val b = TextOps.packSequencesOf(docs, buckets = 256).collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  test("packSequencesOf is exact on SPARSE, non-dense ids (single-window oracle)") {
    // ids deliberately ragged — huge gaps, so range buckets are unevenly
    // loaded; correctness must not depend on density, only on contiguity
    val rows = Seq(
      (7L, "a b c"), (1000000L, "d e"), (1000001L, "f g h i"),
      (900000000L, "j"), (900000007L, "k l m n o p"))
    val docs = rows.toDF("doc_id", "text")
    val got = TextOps.packSequencesOf(docs, seqLen = 4, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    // one-window reference: plain running cumsum in doc_id order
    var cum = 0L
    val want = rows.sortBy(_._1).map { case (id, text) =>
      val n = text.split(" ", -1).length.toLong
      cum += n
      val first = (cum - n) / 4; val last = (cum - 1) / 4
      (id, n, first, last, last - first + 1)
    }
    assert(got == want)
  }

  test("packSequencesOf on an empty frame returns no rows (no NPE)") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.packSequencesOf(docs).collect().isEmpty)
  }

  // ---- Bench floor gate ------------------------------------------------

  private def reps(xs: Double*): Bench.Reps = Bench.Reps(xs)

  test("floorGate: over-floor query earns ONE re-measure; a faster fresh read replaces it") {
    val results = Seq("fast" -> reps(1.0, 1.0, 1.0), "slow" -> reps(9.0, 9.1, 9.2))
    val floors = Map("fast" -> 1.0, "slow" -> 3.0)
    var calls = 0
    val (out, retried, noisy) = Bench.floorGate(results, floors, { q =>
      calls += 1; assert(q == "slow"); Some(reps(3.1, 3.2, 3.0))
    })
    assert(calls == 1 && retried == Seq("slow") && noisy.isEmpty)
    assert(out.toMap.apply("slow").median == 3.1, "fresh-JVM reps must replace the inflated kept reps")
    assert(out.toMap.apply("fast") == reps(1.0, 1.0, 1.0))
  }

  test("floorGate: still-over after the re-measure publishes as floor-noisy") {
    val (out, retried, noisy) = Bench.floorGate(
      Seq("q" -> reps(9.0, 9.0, 9.0)), Map("q" -> 1.0),
      _ => Some(reps(8.0, 8.0, 8.0)))
    assert(retried == Seq("q") && noisy == Seq("q"))
    assert(out.toMap.apply("q").median == 8.0,
      "the faster of the two measurements is still published, flagged noisy")
  }

  test("floorGate: failed/absent fresh JVM keeps the original; slower fresh read is discarded") {
    val (a, _, na) = Bench.floorGate(
      Seq("q" -> reps(5.0, 5.0, 5.0)), Map("q" -> 1.0), _ => None)
    assert(a.toMap.apply("q").median == 5.0 && na == Seq("q"))
    val (b, _, _) = Bench.floorGate(
      Seq("q" -> reps(5.0, 5.0, 5.0)), Map("q" -> 1.0), _ => Some(reps(7.0, 7.0, 7.0)))
    assert(b.toMap.apply("q").median == 5.0)
    // a fresh read that FAILED a rep must never replace a clean one
    val (c, _, _) = Bench.floorGate(
      Seq("q" -> reps(5.0, 5.0, 5.0)), Map("q" -> 1.0), _ => Some(reps(-0.1, 1.0, 1.0)))
    assert(c.toMap.apply("q").median == 5.0)
  }

  test("floorGate: no floor recorded, failed queries, and under-floor queries are untouched") {
    var calls = 0
    val (out, retried, noisy) = Bench.floorGate(
      Seq("new_q" -> reps(9.0, 9.0, 9.0),   // no floor → skip
        "red_q" -> reps(-1.0, 2.0, 2.0),    // failed rep → skip (already -1 sentinel)
        "ok_q" -> reps(1.9, 1.9, 1.9)),     // within 2× floor → skip
      Map("red_q" -> 0.1, "ok_q" -> 1.0),
      _ => { calls += 1; None })
    assert(calls == 0 && retried.isEmpty && noisy.isEmpty)
    assert(out.map(_._1) == Seq("new_q", "red_q", "ok_q"))
  }

  test("floorGate caps fresh-JVM forks at maxRemeasures, worst ratios first") {
    // 4 over-floor queries, budget 2: only the two worst ratios fork;
    // the other two publish flagged noisy without a re-measure
    val results = (1 to 4).map(i => s"q$i" -> reps(i * 2.0, i * 2.0, i * 2.0))
    val floors = Map("q1" -> 0.5, "q2" -> 0.5, "q3" -> 0.5, "q4" -> 0.5)
    // ratios: q1 4x, q2 8x, q3 12x, q4 16x → q3, q4 get the forks
    var forked = List.empty[String]
    val (_, retried, noisy) = Bench.floorGate(results, floors,
      { q => forked ::= q; None }, maxRemeasures = 2)
    assert(forked.toSet == Set("q3", "q4") && retried.toSet == Set("q3", "q4"))
    assert(noisy.toSet == Set("q1", "q2", "q3", "q4"),
      "un-remeasured over-floor queries must still publish noisy")
  }

  test("loadFloors parses the committed flat JSON and survives a missing file") {
    val f = java.nio.file.Files.createTempFile("floors", ".json")
    java.nio.file.Files.writeString(f,
      """{"q1_pricing_summary": 0.182, "q_f36b_semdedup_clustered": 5.25}""")
    val m = Bench.loadFloors(f.toString)
    assert(m == Map("q1_pricing_summary" -> 0.182, "q_f36b_semdedup_clustered" -> 5.25))
    assert(Bench.loadFloors("/nonexistent/floors.json").isEmpty)
  }

  test("render publishes the floor_retried list on every line") {
    val (fam, head, full) = Bench.render(
      Seq("q" -> reps(1.0, 1.0, 1.0)), 3, 0.5, 0.5, sf001,
      Nil, Seq("q"), Seq("q"))
    for (line <- Seq(fam, head, full)) {
      assert(line.contains("\"floor_retried\":[\"q\"]"), line)
      assert(line.contains("\"noisy\":[\"q\"]"), line)
    }
  }

  // ---- F36b: auto-k ----------------------------------------------------

  test("semanticClustersClustered auto-k (k ≤ 0) ≡ explicit k = ceil(sqrt(n))") {
    val emb = (0 until 20).map { i =>
      val base = Array.fill(4)(0.0f); base(i % 4) = 1.0f
      base(0) += 0.1f * (i % 3) // non-zero norm always: base(i % 4) stays 1
      (i.toLong, base.toSeq)
    }.toDF("vec_id", "embedding")
    val auto = Similarity.semanticClustersClustered(spark, emb, minCos = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val explicit = Similarity.semanticClustersClustered(spark, emb, minCos = 0.8,
        k = math.ceil(math.sqrt(20.0)).toInt)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(auto == explicit && auto.nonEmpty)
  }

  // ---- F37: short eval docs appear in the report ------------------------

  test("evalOverlapReport reports n_windows = 0 rows for sub-w and NULL-text eval docs") {
    val train = Seq((1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "t1 t2 t3 t4 t5 t6 t7 t8 tail"),    // 2 windows, 1 hit
      (11L, "too short for any window"),          // < 8 tokens → 0 windows
      (12L, null.asInstanceOf[String]))           // NULL text → 0 windows
      .toDF("doc_id", "text")
    val got = TextOps.evalOverlapReport(train, eval)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3),
        r.getDouble(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (10L, 2L, 1L, true, 0.5, 1L),
      (11L, 0L, 0L, false, 0.0, 0L),
      (12L, 0L, 0L, false, 0.0, 0L)), got.toString)
  }

  // ---- F38: zero-overlap pairs appear in the matrix ---------------------

  test("sourceOverlapMatrix emits n_shared = 0 rows for disjoint and window-less sources") {
    val w8 = (1 to 8).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, "a", w8 + " a_tail_token x1 x2 x3 x4 x5 x6 x7"),
      (2L, "b", w8 + " b_tail_token y1 y2 y3 y4 y5 y6 y7"),
      (3L, "c", (1 to 12).map(i => s"conly$i").mkString(" ")), // disjoint from a, b
      (4L, "d", "short"))                                       // no windows at all
      .toDF("doc_id", "source", "text")
    val got = TextOps.sourceOverlapMatrix(docs)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSeq
    assert(got.map(p => (p._1, p._2)) ==
      Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")),
      s"every unordered pair must be present: $got")
    val m = got.map(p => (p._1, p._2) -> p).toMap
    assert(m(("a", "b"))._3 == 1L, "a and b share exactly the one full shared window")
    assert(m(("a", "c"))._3 == 0L && m(("a", "c"))._4 > 0 && m(("a", "c"))._5 > 0)
    assert(m(("c", "d"))._3 == 0L && m(("c", "d"))._5 == 0L &&
      m(("c", "d"))._6 == 0.0 && m(("c", "d"))._7 == 0.0,
      "a window-less source reports 0 totals and 0.0 fractions, not NULLs")
  }

  // ---- F32: nbFit loud failure on NULL labels ----------------------------

  test("nbFit fails loudly on a NULL label in the seed") {
    val seed = Seq(("good", "some text here"), (null.asInstanceOf[String], "oops"))
      .toDF("label", "text")
    val e = intercept[IllegalArgumentException] { TextOps.nbFit(seed) }
    assert(e.getMessage.contains("NULL labels"), e.getMessage)
  }

  // ---- F34: exact epoch-weight derivation at any scale -------------------

  test("epochWeightMicros is exact past the Long-overflow boundary") {
    // 10¹³ total tokens: maxTot * 10⁶ = 10¹⁹ > Long.MaxValue — the old
    // Long product silently wrapped negative here
    assert(TextOps.epochWeightMicros(10000000000000L, 10000000000000L) == 1000000L)
    assert(TextOps.epochWeightMicros(10000000000000L, 4000000000000L) == 2500000L)
    assert(TextOps.epochWeightMicros(10000000000000L, 3000000000000L) == 3000000L,
      "the 3-epoch cap applies")
    // exact floor division, no double rounding: 10/3 epochs = 3333333 µ
    assert(TextOps.epochWeightMicros(10L, 3L, capMicros = 10000000L) == 3333333L)
    intercept[IllegalArgumentException] { TextOps.epochWeightMicros(1L, 0L) }
  }

  // ---- hybrid CC: diameter-sweep equivalence law --------------------------

  test("hybrid CC ≡ min-label ≡ star across a diameter sweep") {
    // chains of increasing diameter — the regime the starSwitchAfter
    // hand-off exists for — plus a clique and singletons, all in one graph
    val chains = Seq(2, 5, 12, 40)
    var nextId = 0L
    val edgeRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val nodeRows = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (len <- chains) {
      val ids = (0 until len).map(_ => { nextId += 1; nextId })
      nodeRows ++= ids
      edgeRows ++= ids.zip(ids.tail)
    }
    val clique = (0 until 6).map(_ => { nextId += 1; nextId })
    nodeRows ++= clique
    for (a <- clique; b <- clique if a < b) edgeRows += ((a, b))
    nodeRows ++= Seq({ nextId += 1; nextId }, { nextId += 1; nextId }) // singletons
    val nodes = nodeRows.toSeq.toDF("doc_id")
    val edges = edgeRows.toSeq.toDF("a_id", "b_id")
    def labels(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val (ml, _) = DriverPull.forcingFallbacks(
      Dedup.connectedComponentsWithRounds(spark, nodes, edges, maxIters = 100))
    val (st, _) = DriverPull.forcingFallbacks(
      Dedup.connectedComponentsStarWithRounds(spark, nodes, edges))
    val want = labels(ml)
    assert(labels(st) == want, "star must agree with min-label on the sweep")
    for (sw <- Seq(1, 2, 3, 5, 8)) {
      val (hy, _) = DriverPull.forcingFallbacks(Dedup.connectedComponentsHybridWithRounds(
        spark, nodes, edges, maxIters = 100, starSwitchAfter = sw))
      assert(labels(hy) == want, s"hybrid(starSwitchAfter=$sw) diverged on the sweep")
    }
  }

  // ---- F40: reciprocal-rank fusion ---------------------------------------

  test("rrfFuse ≡ hand-computed fusion, incl. ties and docs missing from a run") {
    val runs = Seq(
      // query q1, system A: doc 1 (rank 1), doc 2 and 3 tie on score 5 →
      // id-ascending tie order: 2 → rank 2, 3 → rank 3
      ("q1", "A", 1L, 9L), ("q1", "A", 2L, 5L), ("q1", "A", 3L, 5L),
      // system B covers docs 3 (rank 1) and 1 (rank 2); doc 2 absent
      ("q1", "B", 3L, 7L), ("q1", "B", 1L, 2L),
      // a second query fuses independently
      ("q2", "A", 1L, 1L))
      .toDF("query_id", "system", "doc_id", "score")
    val got = TextOps.rrfFuse(runs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    def c(rank: Long) = TextOps.RrfScale / (60 + rank)
    assert(got == Seq(
      ("q1", 1L, c(1) + c(2), 2L, 1L),
      ("q1", 2L, c(2), 1L, 2L),
      ("q1", 3L, c(3) + c(1), 2L, 1L),
      ("q2", 1L, c(1), 1L, 1L)), got.toString)
  }

  test("rrfFuse is input-row-order invariant (rank depends only on scores)") {
    val rows = (1 to 40).map(i =>
      ("q", if (i % 2 == 0) "A" else "B", i.toLong, (i * 7 % 11).toLong))
    val a = TextOps.rrfFuse(rows.toDF("query_id", "system", "doc_id", "score"))
      .collect().map(_.toSeq).toSet
    val b = TextOps.rrfFuse(
        rows.reverse.toDF("query_id", "system", "doc_id", "score").repartition(7))
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  // ---- F41: hard-negative mining ------------------------------------------

  test("hardNegatives excludes positives and self, ranks by truncated cosine") {
    // 2-D vectors on axes: queries q ∈ label 0; corpus has same-label
    // twins (must NOT appear), the query itself (must not), and
    // different-label vectors at distinct angles
    def v(x: Double, y: Double) = Seq(x.toFloat, y.toFloat)
    val data = Seq[(Long, Seq[Float], java.lang.Integer)](
      (1L, v(1, 0), 0),       // the query
      (2L, v(1, 0.01), 0),    // same label, nearly identical → excluded
      (3L, v(1, 0.1), 1),     // negative, cos ≈ .995 → rank 1
      (4L, v(1, 1), 1),       // negative, cos ≈ .707 → rank 2
      (5L, v(0, 1), 2),       // negative, cos = 0 → rank 3
      (6L, v(-1, 0), 2),      // negative, cos = -1 → beyond k
      (7L, v(1, 0), null))    // NULL label → dropped
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(spark,
        data.filter(col("vec_id") === 1), data, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(got == Seq((1L, 3L, 1L), (1L, 4L, 2L), (1L, 5L, 3L)), got.toString)
  }

  // ---- F42: leakage-safe grouped split -------------------------------------

  test("splitByGroup: every member of a group lands in the same split; seed re-splits") {
    // planted near-dup clusters: docs sharing a cluster must move together
    val labeled = Seq(
      (1L, 100L), (2L, 100L), (3L, 100L),   // one 3-member cluster
      (4L, 200L), (5L, 200L),
      (6L, 300L)) ++ (10L to 60L).map(i => (i, i)) // singletons for spread
    val df = labeled.toDF("doc_id", "cluster_id")
    val got = Dedup.splitByGroup(df, testMillionths = 400000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val byCluster = got.groupBy(_._2).view.mapValues(_.map(_._3).distinct).toMap
    assert(byCluster.values.forall(_.size == 1),
      s"every cluster must be single-split: $byCluster")
    val splits = got.map(_._3).distinct.sorted
    assert(splits == Seq("test", "train"), s"a 40% draw over 54 groups must produce both: $splits")
    // deterministic: rerun identical; different seed re-splits (some group moves)
    val again = Dedup.splitByGroup(df, 400000L)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(again == got.map(t => (t._1, t._3)))
    val reseeded = Dedup.splitByGroup(df, 400000L, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(reseeded != again, "a new seed must produce a different assignment")
    // boundary semantics: 0 → all train, 10⁶ → all test
    assert(Dedup.splitByGroup(df, 0L).filter(col("split") === "test").count() == 0)
    assert(Dedup.splitByGroup(df, 1000000L).filter(col("split") === "train").count() == 0)
    intercept[IllegalArgumentException] { Dedup.splitByGroup(df, -1L) }
  }

  // ---- F43: Gopher repetition fractions ------------------------------------

  test("gopherRepetitionReport ≡ hand-computed fractions on planted repetition") {
    val docs = Seq(
      // "a b a b a b": top 2-gram "a b" ×3, 3·3=9 chars of 11;
      // top 3-gram "a b a" ×2 (ties with "b a b" ×2 → gram-ASC picks "a b a"),
      // 2·5=10 of 11; 5-grams "a b a b a"/"b a b a b" occur once each → dup5 0
      (1L, "a b a b a b"),
      // 12 tokens = "x y z w v" ×2 + "u q": the 5-gram "x y z w v" occurs
      // twice → positions 1-5 and 6-10 covered → 10/12 tokens
      (2L, "x y z w v x y z w v u q"),
      (3L, "one"),          // 1 token: no grams at all → all 0.0
      (4L, null.asInstanceOf[String])) // dropped (NULL text)
      .toDF("doc_id", "text")
    val got = TextOps.gopherRepetitionReport(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5))).toSeq
    def t6(x: Double) = math.floor(x * 1e6) / 1e6
    assert(got == Seq(
      (1L, 6L, t6(9.0 / 11), t6(10.0 / 11), t6(2.0 * 7 / 11), 0.0),
      (2L, 12L, t6(2.0 * 3 / 23), t6(2.0 * 5 / 23), t6(2.0 * 7 / 23), t6(10.0 / 12)),
      (3L, 1L, 0.0, 0.0, 0.0, 0.0)), got.toString)
  }

  // ---- F44: cross-source score calibration ----------------------------------

  test("scoreCalibration ≡ hand-computed per-source percent ranks, ties and singletons") {
    val docs = Seq(
      // source A: scores 10 < 20 = 20 < 40 (tie broken by id: 3 before 4)
      (1L, "A", 10L), (2L, "A", 40L), (3L, "A", 20L), (4L, "A", 20L),
      // source B: a single doc → pct 10⁶
      (5L, "B", 7L),
      // source C: all-equal scores → pure id order
      (6L, "C", 5L), (7L, "C", 5L), (8L, "C", 5L))
      .toDF("doc_id", "source", "n_chars")
    val got = TextOps.scoreCalibration(docs, "n_chars")
      .collect().map(r => (r.getLong(0), r.getLong(3))).sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 0L),                 // A rank 1 of 4 → 0
      (2L, 1000000L),           // A rank 4 → 10⁶
      (3L, 333333L),            // A rank 2 → 1·10⁶ div 3
      (4L, 666666L),            // A rank 3 → 2·10⁶ div 3
      (5L, 1000000L),           // singleton source
      (6L, 0L), (7L, 500000L), (8L, 1000000L)), got.toString)
  }

  test("scoreCalibration is bucket-count invariant (64 ≡ 256, exact)") {
    val docs = Tables.documents(spark, sf001)
    val a = TextOps.scoreCalibration(docs, "n_chars", buckets = 64)
      .collect().map(_.toSeq).toSet
    val b = TextOps.scoreCalibration(docs, "n_chars", buckets = 256)
      .collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  // ---- F45: soft dedup --------------------------------------------------

  test("softDedupWeights: dup groups share 10⁶ div n; uniques keep full weight") {
    val docs = Seq(
      (1L, "same text"), (2L, "same text"), (3L, "same text"),
      (4L, "unique text"), (5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextOps.softDedupWeights(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 3L, 333333L), (2L, 3L, 333333L), (3L, 3L, 333333L),
      (4L, 1L, 1000000L)), got.toString)
    // the expected group mass is ≤ 1 doc (floor division), never more
    assert(got.filter(_._2 == 3L).map(_._3).sum <= 1000000L)
  }

  // ---- rank-based ops: monotone-transform invariance laws -------------------

  test("scoreCalibration is invariant under strictly-monotone score transforms") {
    // the defining property of rank normalization: pct depends only on
    // the ORDER of scores, so an affine (or any strictly increasing)
    // rescale of the raw scorer output must not move a single pct
    val docs = (1 to 300).map(i =>
      (i.toLong, s"s${i % 4}", ((i * 37) % 50).toLong)) // heavy ties
      .toDF("doc_id", "source", "n_chars")
    val base = TextOps.scoreCalibration(docs, "n_chars")
      .select("doc_id", "pct_millionths").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val affine = docs.withColumn("n_chars", col("n_chars") * 7 + 3)
    val gotA = TextOps.scoreCalibration(affine, "n_chars")
      .select("doc_id", "pct_millionths").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotA == base, "affine rescale moved pct ranks")
    val cubed = docs.withColumn("n_chars",
      col("n_chars") * col("n_chars") * col("n_chars")) // nonlinear, monotone on ≥0
    val gotC = TextOps.scoreCalibration(cubed, "n_chars")
      .select("doc_id", "pct_millionths").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotC == base, "monotone nonlinear rescale moved pct ranks")
  }

  test("rrfFuse is invariant under per-system monotone score transforms") {
    // RRF's published selling point: it consumes RANKS, so fusing raw
    // BM25 floats or their exp() or a 0-1 squashing is the same fusion
    val rows = (1 to 60).map(i =>
      ("q", if (i % 3 == 0) "A" else "B", i.toLong, ((i * 11) % 17).toLong))
      .toDF("query_id", "system", "doc_id", "score")
    val base = TextOps.rrfFuse(rows).collect().map(_.toSeq).toSet
    val rescaled = rows.withColumn("score",
      when(col("system") === "A", col("score") * 1000 + 5) // per-system DIFFERENT
        .otherwise(col("score") * 3))                      // monotone transforms
    val got = TextOps.rrfFuse(rescaled).collect().map(_.toSeq).toSet
    assert(got == base && base.nonEmpty, "per-system monotone rescale changed the fusion")
  }

  // ---- round-14 regression: jaccard self-join shares one base instance ----

  test("jaccardPairsOf still matches the exhaustive join after the shared-instance fix") {
    val docs = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e g"), (3L, "x y z w q r"),
      (4L, "a b c d e f"), (5L, "totally different text here now"))
      .toDF("doc_id", "text")
    val got = Dedup.jaccardPairsOf(spark, docs, 0.5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq
    // exhaustive reference over 3-shingles of words
    def sh(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val rows = docs.collect().map(r => (r.getLong(0), sh(r.getString(1))))
    val want = (for {
      (a, sa) <- rows; (b, sb) <- rows if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j >= 0.5
    } yield (a, b)).sorted.toSeq
    assert(got == want && got.nonEmpty)
  }
}
