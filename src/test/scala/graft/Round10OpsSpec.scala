package graft

import org.apache.spark.sql.functions._

/** Round-10 hardening: the bounded sampled k-means fit (the round-9
  * `ivf1m` measurement showed the FULL fit is 1,210 s and decade-dominant
  * while probes are seconds — centroid quality needs a sample, not the
  * corpus), incremental index append without a refit (`ivfAssign`, the
  * growing-corpus serving shape), and the `q_id`-unique guard on external
  * vector probes.
  */
class Round10OpsSpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic pseudo-random vectors — the Round9OpsSpec recipe. */
  private def vecs(n: Int, dim: Int = 8) =
    spark.range(0, n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => ((pmod(hash($"id" * dim + j), lit(2001)) - 1000) / lit(1000.0)).cast("float"))
        .as("embedding"))

  private def centroidGrid(f: Similarity.IvfFitted): Seq[String] =
    f.centroids.orderBy(col("c_cell")).collect()
      .map(r => s"${r.getInt(0)}:" +
        r.getSeq[Float](1).map(v => f"$v%.9e").mkString(","))
      .toSeq

  test("sampled fit: deterministic, engaged above the bound, inert below it") {
    val emb = vecs(2000).cache()
    try {
      // same seed + same hash-threshold sample → bit-identical centroids
      val a = Similarity.ivfFit(spark, emb, k = 8, fitSample = 300)
      val b = Similarity.ivfFit(spark, emb, k = 8, fitSample = 300)
      assert(centroidGrid(a) == centroidGrid(b),
        "sampled fit must be deterministic run-over-run")
      // the sample bound actually engages: 300 of 2000 rows fit, so the
      // centroids cannot coincide with the full-corpus fit's
      val full = Similarity.ivfFit(spark, emb, k = 8, fitSample = 0)
      assert(centroidGrid(a) != centroidGrid(full),
        "a 300-of-2000 sample fit producing the full fit's centroids means the filter never ran")
      // a bound at or above n plans no filter at all — bit-identical to full
      val unbounded = Similarity.ivfFit(spark, emb, k = 8, fitSample = 2000)
      assert(centroidGrid(unbounded) == centroidGrid(full),
        "fitSample >= n must be the full fit exactly")
      // nHint replaces the sizing count() without changing the threshold
      val hinted = Similarity.ivfFit(spark, emb, k = 8, fitSample = 300, nHint = 2000)
      assert(centroidGrid(hinted) == centroidGrid(a),
        "a truthful nHint must not change the sample")
      // every vector of the corpus is still assigned — the full-corpus
      // broadcast pass runs regardless of what the fit saw
      assert(a.assigned.count() == 2000)
    } finally emb.unpersist()
  }

  test("sampled fit holds full-fit recall on the planted corpus") {
    // 2000 corpus vectors; external queries are exact copies of 100 of
    // them under fresh ids — ground truth is retrieval of the source at
    // cosine ~1. The sampled fit (300 of 2000) must not give up recall
    // relative to the full fit: centroid QUALITY needs a sample, and
    // this pins that claim rather than taking it from the 1M stress.
    val emb = vecs(2000).cache()
    try {
      val queries = vecs(100).select(($"vec_id" + 10000).as("q_id"), $"embedding")
      def recallAt1(f: Similarity.IvfFitted): Double = {
        val hits = Similarity.ivfProbeVectors(f, queries, topK = 1).collect()
          .count(r => r.getLong(1) == r.getLong(0) - 10000 && r.getDouble(2) >= 0.9999)
        hits / 100.0
      }
      val rFull = recallAt1(Similarity.ivfFit(spark, emb, k = 16, fitSample = 0).cached())
      val rSampled = recallAt1(Similarity.ivfFit(spark, emb, k = 16, fitSample = 300).cached())
      assert(rFull >= 0.9, s"full-fit recall@1 $rFull — planted setup broken")
      assert(rSampled >= rFull - 0.05,
        s"sampled-fit recall@1 $rSampled vs full $rFull — sample too lossy")
      spark.sharedState.cacheManager.clearCache()
    } finally emb.unpersist()
  }

  test("fit-cost knobs: deterministic, engaged, recall-neutral at reduced iterations") {
    val emb = vecs(2000).cache()
    try {
      // any fixed knob setting is run-over-run deterministic
      val a = Similarity.ivfFit(spark, emb, k = 16, fitMaxIter = 1)
      val b = Similarity.ivfFit(spark, emb, k = 16, fitMaxIter = 1)
      assert(centroidGrid(a) == centroidGrid(b),
        "capped-iteration fit must be deterministic run-over-run")
      // the cap engages: one Lloyd step cannot coincide with convergence
      val full = Similarity.ivfFit(spark, emb, k = 16)
      assert(centroidGrid(a) != centroidGrid(full),
        "fitMaxIter = 1 matching the converged fit means the knob never reached MLlib")
      // random init engages too (different centers than k-means|| from step 0)
      val rand = Similarity.ivfFit(spark, emb, k = 16, fitInitMode = "random")
      assert(centroidGrid(rand) != centroidGrid(full),
        "fitInitMode = random matching k-means|| means the knob never reached MLlib")
      // the serving claim: cell ROUTING holds recall at reduced iterations —
      // exact-copy queries retrieve their sources as well as under the
      // converged fit (the BASELINE ivf1m iter10 row is this at 1M)
      val queries = vecs(100).select(($"vec_id" + 10000).as("q_id"), $"embedding")
      def recallAt1(f: Similarity.IvfFitted): Double = {
        val hits = Similarity.ivfProbeVectors(f, queries, topK = 1).collect()
          .count(r => r.getLong(1) == r.getLong(0) - 10000 && r.getDouble(2) >= 0.9999)
        hits / 100.0
      }
      val rFull = recallAt1(full.cached())
      val rIter10 = recallAt1(
        Similarity.ivfFit(spark, emb, k = 16, fitMaxIter = 10).cached())
      assert(rIter10 >= rFull - 0.05,
        s"iteration-capped fit recall@1 $rIter10 vs converged $rFull")
      spark.sharedState.cacheManager.clearCache()
    } finally emb.unpersist()
  }

  test("ivfAssign appends to a fitted index: probes find the new members, no refit") {
    val emb = vecs(400)
    val fitted = Similarity.ivfFit(spark, emb, k = 8, fitSample = 0).cached()
    try {
      val before = Similarity.kmeansFitCount.get()
      // 20 appended vectors: exact copies of members 0..19 under ids ≥ 5000
      val newVecs = vecs(20).select(($"vec_id" + 5000).as("vec_id"), $"embedding")
      val grown = Similarity.ivfAssign(fitted, newVecs)
      assert(grown.k == 8 && grown.centroids.eq(fitted.centroids),
        "append must reuse the frozen centroid table")
      // the appended members are probe-able corpus rows: each finds its
      // source vector (its exact duplicate) as top neighbor
      val res = Similarity.ivfProbe(grown, col("vec_id") >= 5000, topK = 1).collect()
      assert(Similarity.kmeansFitCount.get() == before,
        "ivfAssign + probe must not trigger any k-means fit")
      assert(res.length == 20, s"every appended member must return: got ${res.length}")
      res.foreach { r =>
        assert(r.getLong(1) == r.getLong(0) - 5000 && r.getDouble(2) >= 0.9999,
          s"appended ${r.getLong(0)} retrieved ${r.getLong(1)} @ ${r.getDouble(2)}")
      }
      // and the original members can find appended rows too — the index
      // is ONE corpus after the append
      val back = Similarity.ivfProbe(grown, col("vec_id") < 20, topK = 1).collect()
      assert(back.forall(r => r.getLong(1) == r.getLong(0) + 5000),
        "members must retrieve their appended duplicates")
    } finally fitted.assigned.unpersist()
  }

  test("ivfAssign agrees with the fit's own assignment pass") {
    // assigning the SAME embeddings through ivfAssign must land every
    // vector in the cell k-means assigned it to — the broadcast
    // Euclidean-argmin IS the assignment pass, not an approximation
    val emb = vecs(400)
    val fitted = Similarity.ivfFit(spark, emb, k = 8, fitSample = 0).cached()
    try {
      val shifted = emb.select(($"vec_id" + 5000).as("vec_id"), $"embedding")
      val grown = Similarity.ivfAssign(fitted, shifted)
      val mismatches = grown.assigned.filter(col("vec_id") >= 5000)
        .select((col("vec_id") - 5000).as("vec_id"), col("cell").as("re_cell"))
        .join(fitted.assigned.select(col("vec_id"), col("cell")), Seq("vec_id"))
        .filter(col("re_cell") =!= col("cell")).count()
      assert(mismatches == 0L,
        s"$mismatches of 400 re-assigned vectors changed cell vs the k-means assignment")
    } finally fitted.assigned.unpersist()
  }

  test("ivfProbeVectors guards the q_id-unique contract") {
    val emb = vecs(300)
    val fitted = Similarity.ivfFit(spark, emb, k = 8, fitSample = 0).cached()
    try {
      val q = vecs(5).select(($"vec_id" + 1000).as("q_id"), $"embedding")
      val dup = q.unionByName(q.limit(1)) // id 1000 appears twice
      // debug mode: fail fast, name the problem
      val ex = intercept[IllegalArgumentException] {
        Similarity.ivfProbeVectors(fitted, dup, assertUnique = true)
      }
      assert(ex.getMessage.contains("duplicate q_id"))
      // default mode: duplicates collapse to ONE self-consistent row —
      // never the silent distance-mixing the raw groupBy would produce
      val res = Similarity.ivfProbeVectors(fitted, dup, topK = 1).collect()
      val clean = Similarity.ivfProbeVectors(fitted, q, topK = 1).collect()
      assert(res.map(_.toString).sorted.toSeq == clean.map(_.toString).sorted.toSeq,
        "an exact-duplicate q_id row must not change the result set")
    } finally fitted.assigned.unpersist()
  }

  test("probe-side broadcast guard: decision law and output parity") {
    // the decision itself (division form — no nq·nprobe overflow)
    assert(Similarity.shouldBroadcastProbes(1000, 8, 200000))
    assert(!Similarity.shouldBroadcastProbes(30000, 8, 200000),
      "30k queries x 8 cells = 240k probe rows must exceed a 200k cap")
    assert(!Similarity.shouldBroadcastProbes(1, 1, 0), "cap 0 disables the hint")
    assert(!Similarity.shouldBroadcastProbes(Long.MaxValue, 8, 200000))
    assert(Similarity.shouldBroadcastProbes(Long.MaxValue / 8, 8, Long.MaxValue))
    // the hint is a physical-plan choice: rows identical with it on
    // (default), off (cap 0), and sized via qHint (no sizing count)
    val emb = vecs(400)
    val fitted = Similarity.ivfFit(spark, emb, k = 8, fitSample = 0).cached()
    try {
      val pred = col("vec_id") < 25
      val on = Similarity.ivfProbe(fitted, pred, nprobe = 3, topK = 5)
        .collect().map(_.toString).sorted.toSeq
      val off = DriverPull.forcingFallbacks(Similarity.ivfProbe(fitted, pred,
        nprobe = 3, topK = 5).collect().map(_.toString).sorted.toSeq)
      val hinted = Similarity.ivfProbe(fitted, pred, nprobe = 3, topK = 5,
        qHint = 25).collect().map(_.toString).sorted.toSeq
      assert(on == off, "broadcast hint must not change probe results")
      assert(on == hinted, "qHint must not change probe results")
    } finally fitted.assigned.unpersist()
  }

  test("broadcast hint defers to the corpus side's parallelism") {
    // pinning the corpus to its existing partitioning is only a win when
    // that partitioning is parallel (measured at 1M/np25: 27.8 s pinned
    // to a 1-partition corpus vs 5.5 s re-parallelized by the SMJ
    // shuffle) — the quarter-of-shuffle-parallelism rule encodes it
    val emb = vecs(200)
    val fitted = Similarity.ivfFit(spark, emb, k = 4, fitSample = 0)
    val few = fitted.copy(assigned = fitted.assigned.coalesce(1))
    // test session: shuffle.partitions = 4 → 1 partition × 4 ≥ 4 passes
    assert(Similarity.adequateStreamParallelism(few.assigned))
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      assert(!Similarity.adequateStreamParallelism(few.assigned),
        "1 partition must not carry a 64-partition shuffle's worth of work")
      assert(Similarity.adequateStreamParallelism(
        fitted.assigned.repartition(16)))
      // and the veto changes only the plan, never the rows
      val pred = col("vec_id") < 20
      val vetoed = Similarity.ivfProbe(few, pred, nprobe = 2, topK = 3)
        .collect().map(_.toString).sorted.toSeq
      spark.conf.set("spark.sql.shuffle.partitions", old)
      val hintedP = Similarity.ivfProbe(few, pred, nprobe = 2, topK = 3)
        .collect().map(_.toString).sorted.toSeq
      assert(vetoed == hintedP, "the parallelism veto must not change results")
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  test("partitioned save: cell layout, identical probes, prunable candidate scan") {
    val emb = vecs(400)
    val fitted = Similarity.ivfFit(spark, emb, k = 8, fitSample = 0)
    val dirP = tmpDir("ivf_part")
    val dirF = tmpDir("ivf_flat")
    fitted.save(dirP) // partitioned by cell — the round-10 default
    fitted.save(dirF, partitioned = false) // the round-9 flat layout
    def cellDirs(d: String): Boolean =
      new java.io.File(s"$d/assigned").listFiles
        .exists(_.getName.startsWith("cell="))
    assert(cellDirs(dirP), "default save must partition the assignment by cell")
    assert(!cellDirs(dirF), "partitioned = false must keep the flat layout")
    val pred = col("vec_id") < 25
    val direct = Similarity.ivfProbe(fitted, pred, nprobe = 3, topK = 5)
      .collect().map(_.toString).sorted.toSeq
    for (d <- Seq(dirP, dirF)) {
      val probe = Similarity.ivfProbe(Similarity.ivfLoad(spark, d), pred,
        nprobe = 3, topK = 5)
      assert(probe.collect().map(_.toString).sorted.toSeq == direct,
        s"loaded-index probe diverged for layout $d")
    }
    // the scale property the layout buys: with the probe side broadcast,
    // the candidate join's scan of the partitioned index carries a
    // dynamic-partition-pruning filter on cell — only probed cells are
    // read (at 1M vectors: 7.4 s vs the 27.4 s full-scan SMJ shape)
    val plan = Similarity.ivfProbe(Similarity.ivfLoad(spark, dirP), pred,
      nprobe = 3, topK = 5).queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"partitioned candidate scan must be DPP-prunable:\n$plan")
  }
}
