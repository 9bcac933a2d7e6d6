package graft

import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  import spark.implicits._

  test("connected components: chains merge transitively, islands stay apart") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // 1-2-3 chain (1 and 3 NOT directly connected), 5-6 pair, 4 singleton
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(spark, nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components converge on a long path (diameter > 2)") {
    val n = 20
    val nodes = (1L to n.toLong).toDF("doc_id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val cc = Dedup.connectedComponents(spark, nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet == Set(1L), "a path graph is one component")
  }

  test("jaccard edges + grouping: planted near-dup chain forms one cluster") {
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "one two three four five six seven eight nine ten").trim
    // b mutates one word of a; c mutates a different word of b — a and c
    // are two words apart, all three pairwise-similar above 0.6
    val b = base.replace("omicron", "OMICRON")
    val c = b.replace("three", "THREE")
    val docs = Seq((10L, base), (11L, b), (12L, c),
      (99L, "entirely unrelated content about something else going on here"))
      .toDF("doc_id", "text")
    val edges = Dedup.jaccardEdgesOf(spark, docs, 0.6)
    val cc = Dedup.connectedComponents(spark, docs.select(col("doc_id")), edges)
      .as[(Long, Long)].collect().toMap
    assert(cc(10L) == 10L && cc(11L) == 10L && cc(12L) == 10L)
    assert(cc(99L) == 99L)
  }

  /** Exhaustive shingle-equi-join edge list — the reference the
    * prefix-filtered plan must reproduce exactly (the AllPairs/PPJoin
    * prefix lemma is exact, not probabilistic).
    */
  private def exhaustiveEdges(docs: org.apache.spark.sql.DataFrame,
      t: Double): Set[(Long, Long)] = {
    graft.functions.VectorFunctions.register(spark)
    val baseDf = docs.select(col("doc_id"),
      call_function("shingle_hashes", col("text"), lit(MinHash.GramLen)).as("shs"))
    val sh = baseDf.select(col("doc_id"), explode(col("shs")).as("shh"))
    val sizes = baseDf.select(col("doc_id"), size(col("shs")).cast("long").as("sz"))
    val inter = sh.select(col("doc_id").as("a_id"), col("shh"))
      .join(sh.select(col("doc_id").as("b_id"), col("shh")), Seq("shh"))
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("doc_id").as("a_id"), col("sz").as("sa")), Seq("a_id"))
      .join(sizes.select(col("doc_id").as("b_id"), col("sz").as("sb")), Seq("b_id"))
      .filter(col("i").cast("double") / (col("sa") + col("sb") - col("i")) >= t)
      .select(col("a_id"), col("b_id"))
      .as[(Long, Long)].collect().toSet
  }

  test("prefix-filtered jaccard edges equal the exhaustive join's edge set") {
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi",
      "rho", "sigma", "tau", "upsilon", "one", "two", "three", "four", "five",
      "six", "seven", "eight", "nine", "ten")
    // deterministic corpus with dup clusters at varied similarity levels:
    // each base doc spawns mutants differing in 0–4 word positions, plus
    // docs of different lengths so the size-ratio filter is exercised
    val docs = (0 until 12).flatMap { i =>
      val shift = words.drop(i % 7) ++ words.take(i % 7)
      val base = shift.take(18 + (i % 9)).mkString(" ")
      val mutants = (1 to (i % 4)).map { m =>
        val toks = base.split(" ")
        toks.updated((m * 5) % toks.length, s"MUT${i}_$m").mkString(" ")
      }
      (base +: mutants).zipWithIndex.map { case (txt, j) => (i * 10L + j, txt) }
    }.toDF("doc_id", "text")
    for (t <- Seq(0.5, 0.6, 0.8)) {
      val got = Dedup.jaccardEdgesOf(spark, docs, t).as[(Long, Long)].collect().toSet
      val want = exhaustiveEdges(docs, t)
      assert(got == want, s"t=$t: prefix-filtered=${got.size} exhaustive=${want.size}, " +
        s"missing=${want -- got}, extra=${got -- want}")
    }
  }

  test("pointer jumping converges a 300-node chain within the default round budget") {
    // diameter 299: plain min-label propagation needs ~299 rounds and
    // would exhaust maxIters=25 — the doubling shortcut (lbl := min(lbl,
    // lbl(lbl))) closes it in O(log n) rounds. Chains this deep are the
    // adversarial near-dup shape: each doc a small mutation of the last.
    val n = 300
    val nodes = (1L to n.toLong).toDF("doc_id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val cc = DriverPull.forcingFallbacks { // force the loop: this test IS the shortcut
      Dedup.connectedComponents(spark, nodes, edges).as[(Long, Long)].collect().toMap
    }
    assert(cc.size == n && cc.values.toSet == Set(1L),
      "the whole chain must collapse to the min id")
  }

  test("edge contraction: forced-contraction labels equal the uncontracted run's") {
    // contractAbove = 0 forces the label-contraction rewrite every block;
    // the mixed shape covers the cases contraction must not break: a
    // deep chain (labels keep improving AFTER early contractions — the
    // merge has to flow through contracted label-nodes), a clique that
    // collapses to zero edges in block 1, an isolated pair, a singleton
    val nodes = (1L to 70L).toDF("doc_id")
    val chain = (1L until 40L).map(i => (i, i + 1))
    val clique = (for (a <- 41L to 55L; b <- (a + 1) to 55L) yield (a, b))
    val pair = Seq((60L, 61L))
    val edges = (chain ++ clique ++ pair).toDF("a_id", "b_id")
    val plain = DriverPull.forcingFallbacks {
      Dedup.connectedComponents(spark, nodes, edges, contractAbove = Long.MaxValue)
        .as[(Long, Long)].collect().toMap
    }
    val contracted = DriverPull.forcingFallbacks {
      Dedup.connectedComponents(spark, nodes, edges, contractAbove = 0L)
        .as[(Long, Long)].collect().toMap
    }
    assert(contracted == plain,
      s"contraction changed labels: ${contracted.toSet -- plain.toSet}")
    assert(plain(39L) == 1L && plain(55L) == 41L && plain(61L) == 60L &&
      plain(70L) == 70L)
    // rounds: contraction must not slow convergence
    val (_, rPlain) = DriverPull.forcingFallbacks(
      Dedup.connectedComponentsWithRounds(spark, nodes, edges, contractAbove = Long.MaxValue))
    val (_, rContr) = DriverPull.forcingFallbacks(
      Dedup.connectedComponentsWithRounds(spark, nodes, edges, contractAbove = 0L))
    assert(rContr <= rPlain, s"contracted rounds $rContr > plain $rPlain")
  }

  test("connected components throws instead of returning wrong labels when out of rounds") {
    val n = 12
    val nodes = (1L to n.toLong).toDF("doc_id")
    val edges = (1L until n.toLong).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // diameter 11 path cannot converge in 3 min-label rounds — the pure
    // propagation loop must throw, never return wrong labels
    assertThrows[IllegalStateException](DriverPull.forcingFallbacks(
      Dedup.connectedComponentsWithRounds(spark, nodes, edges, maxIters = 3)._1.collect()))
    // the round-14 hybrid facade SOLVES the same budget instead: the star
    // hand-off converges the path inside the 3-round star budget, with
    // correct labels (strictly better, never wrong)
    val labels = DriverPull.forcingFallbacks {
      Dedup.connectedComponents(spark, nodes, edges, maxIters = 3)
        .as[(Long, Long)].collect().toMap
    }
    assert(labels.size == n && labels.values.toSet == Set(1L))
    // and when even the star budget is too small, the hybrid still throws
    // rather than returning a non-fixpoint
    val big = (1L to 300L).toDF("doc_id")
    val bigEdges = (1L until 300L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    assertThrows[IllegalStateException](DriverPull.forcingFallbacks(
      Dedup.connectedComponents(spark, big, bigEdges, maxIters = 2).collect()))
  }
}
