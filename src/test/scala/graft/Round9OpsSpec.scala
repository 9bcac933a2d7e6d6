package graft

import org.apache.spark.sql.functions._

/** Round-9 hardening: the IVF fit/probe split (one k-means fit amortized
  * across query batches), the auto-band count hint (no upstream
  * re-execution for derived frames), and their wiring through the Graft
  * facade.
  */
class Round9OpsSpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic pseudo-random vectors: hash-derived components in
    * [-1, 1], the same recipe the ANN stress harness uses.
    */
  private def vecs(n: Int, dim: Int = 8) =
    spark.range(0, n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)),
        j => ((pmod(hash($"id" * dim + j), lit(2001)) - 1000) / lit(1000.0)).cast("float"))
        .as("embedding"))

  test("ivfFit runs k-means exactly once; probes never refit") {
    val emb = vecs(400)
    val before = Similarity.kmeansFitCount.get()
    val fitted = Similarity.ivfFit(spark, emb, k = 8).cached()
    try {
      assert(Similarity.kmeansFitCount.get() == before + 1,
        "ivfFit must fit exactly once")
      // two probe batches off the ONE fit — the serving shape the
      // operator's doc promises (round-8 verdict missing item #2)
      val p1 = Similarity.ivfProbe(fitted, col("vec_id") < 5, nprobe = 2, topK = 3)
        .collect()
      val p2 = Similarity.ivfProbe(fitted, col("vec_id") >= 5 && col("vec_id") < 12,
        nprobe = 2, topK = 3).collect()
      assert(Similarity.kmeansFitCount.get() == before + 1,
        "probing must not trigger another k-means fit")
      assert(p1.nonEmpty && p2.nonEmpty)
      assert(p1.map(_.getLong(0)).forall(_ < 5))
      assert(p2.map(_.getLong(0)).forall(q => q >= 5 && q < 12))
      // the one-shot wrapper is exactly fit+probe: identical rows, one
      // additional fit (its documented cost)
      val oneShot = Similarity.ivfKMeans(spark, emb, k = 8, nprobe = 2, topK = 3,
        queryPred = col("vec_id") < 5).collect()
      assert(Similarity.kmeansFitCount.get() == before + 2,
        "the one-shot wrapper pays one fit per call")
      assert(p1.map(_.toString).sorted.toSeq == oneShot.map(_.toString).sorted.toSeq,
        "split fit+probe must produce the wrapper's rows")
    } finally fitted.assigned.unpersist()
  }

  test("ivfProbeVectors: external queries find their corpus neighbors off one fit, no refit") {
    val emb = vecs(300)
    val fitted = Similarity.ivfFit(spark, emb, k = 8).cached()
    try {
      val before = Similarity.kmeansFitCount.get()
      // external queries: copies of 20 corpus vectors under new ids ≥
      // 1000 — not members of the fitted corpus frame, so this is the
      // serving-lookup shape; each must retrieve its source vector at
      // cosine ≈ 1 as its top neighbor
      val queries = vecs(20).select(($"vec_id" + 1000).as("q_id"), $"embedding")
      val res = Similarity.ivfProbeVectors(fitted, queries, nprobe = 3, topK = 1)
        .collect()
      assert(Similarity.kmeansFitCount.get() == before, "vector probe must not refit")
      assert(res.length == 20, s"every external query must return: got ${res.length}")
      res.foreach { r =>
        val (q, n, cos) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        assert(n == q - 1000, s"query $q retrieved $n, expected ${q - 1000}")
        assert(cos >= 0.9999, s"query $q cos $cos")
      }
    } finally fitted.assigned.unpersist()
  }

  test("nprobe <= 0 resolves to autoNprobe — the measured ~2.5%-of-cells default") {
    // the two measured anchors (BASELINE.md): nprobe 8 IS 2.5% of k=316,
    // and k=1000 needs 25 to hold the fraction (recall 0.725 → 0.9905)
    assert(Similarity.autoNprobe(316) == 8)
    assert(Similarity.autoNprobe(1000) == 25)
    assert(Similarity.autoNprobe(16) == 8, "floor of 8 for small indexes")
    val emb = vecs(300)
    val fitted = Similarity.ivfFit(spark, emb, k = 8)
    val auto = Similarity.ivfProbe(fitted, col("vec_id") < 5).collect()
    val explicit = Similarity.ivfProbe(fitted, col("vec_id") < 5,
      Similarity.autoNprobe(fitted.k), topK = 10).collect()
    assert(auto.map(_.toString).sorted.toSeq ==
      explicit.map(_.toString).sorted.toSeq,
      "the default must be exactly autoNprobe(k)")
  }

  test("IvfFitted round-trips through parquet: loaded index probes identically, no refit") {
    val emb = vecs(300)
    val fitted = Similarity.ivfFit(spark, emb, k = 8)
    val dir = tmpDir("ivf_index")
    fitted.save(dir)
    val before = Similarity.kmeansFitCount.get()
    // the cross-job serving shape: a "later session" re-opens the saved
    // index and probes it — no k-means anywhere downstream of the load
    // a NEW session: same SparkContext, but a FRESH function registry —
    // the cross-job shape for real. Before round 9's register-on-load
    // fix this threw UNRESOLVED_ROUTINE on fvec_dot/collect_top_k,
    // because only ivfFit had ever registered the probe plan's temp
    // functions and this session never ran it.
    val freshSession = spark.newSession()
    val loaded = Similarity.ivfLoad(freshSession, dir)
    assert(loaded.k == 8, s"k recovered from centroid rows: ${loaded.k}")
    val pred = col("vec_id") < 10
    val direct = Similarity.ivfProbe(fitted, pred, nprobe = 3, topK = 5).collect()
    val replay = Similarity.ivfProbe(loaded, pred, nprobe = 3, topK = 5).collect()
    assert(Similarity.kmeansFitCount.get() == before, "load + probe must not refit")
    assert(replay.map(_.toString).sorted.toSeq == direct.map(_.toString).sorted.toSeq,
      "loaded index must probe bit-identically to the in-memory fit")
    // external-vector probes work off the loaded index too
    val queries = vecs(5).select(($"vec_id" + 1000).as("q_id"), $"embedding")
    val ext = Similarity.ivfProbeVectors(loaded, queries, nprobe = 3, topK = 1).collect()
    assert(ext.length == 5 && ext.forall(r => r.getLong(1) == r.getLong(0) - 1000))
    // the scale property save/load buys: the member-probe predicate
    // reaches the parquet reader of the persisted assignment table
    val plan = Similarity.ivfProbe(loaded, pred, nprobe = 3, topK = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LessThan(vec_id,10)"),
      s"probe predicate must push down to the index scan:\n$plan")
  }

  test("auto-band nHint skips the count's extra upstream execution") {
    // an accumulator-instrumented frame stands in for an expensive
    // derived plan: every materialization of a row bumps the counter, so
    // the accumulator IS the execution count (the F22 assert pattern)
    val n = 300
    val acc = spark.sparkContext.longAccumulator("emb_scans")
    val emb = spark.range(0, n).as[Long].mapPartitions { it =>
      it.map { i =>
        acc.add(1)
        (i, Array.tabulate(8)(j => (((i * 31 + j * 7) % 13) - 6).toFloat))
      }
    }.toDF("vec_id", "embedding")
    acc.reset()
    val withHint = Similarity.lshCandidates(spark, emb, minCos = 0.9, nHint = n).count()
    val scansWith = acc.value.toLong
    acc.reset()
    val noHint = Similarity.lshCandidates(spark, emb, minCos = 0.9).count()
    val scansWithout = acc.value.toLong
    // same derived band width (hint == true count) → same candidates
    assert(withHint == noHint, "a truthful hint must not change the output")
    // the hint saves exactly the one full upstream pass emb.count() costs
    assert(scansWithout == scansWith + n,
      s"expected the hint to save one $n-row pass; with=$scansWith without=$scansWithout")
  }

  test("CC with a reliable checkpointDir survives total block loss; the default path cannot") {
    // local[n] cannot lose an executor, so the loss is simulated: the
    // test hook fires at the top of every convergence block and drops
    // EVERY persisted block in the session — exactly what an executor
    // crash does to localCheckpoint state. The reliable path must finish
    // with correct labels (its rounds live as files under the checkpoint
    // directory); the default localCheckpoint path must die, proving the
    // gap a checkpoint directory closes is real.
    val nodes = spark.range(0, 400).select($"id".as("doc_id"))
    val star = spark.range(1, 150).select(lit(0L).as("a_id"), $"id".as("b_id"))
    val chain = spark.range(150, 399)
      .select($"id".as("a_id"), ($"id" + 1).as("b_id"))
    val edges = star.unionByName(chain)
    var residentSeen = 0
    Dedup.testBlockLossHook = Some { s =>
      val rdds = s.sparkContext.getPersistentRDDs.values.toSeq
      residentSeen = math.max(residentSeen, rdds.size)
      rdds.foreach(_.unpersist(blocking = true))
    }
    try {
      val dir = tmpDir("cc_loss_ckpt")
      val labels = withCheckpointDir(dir) {
        DriverPull.forcingFallbacks(Dedup.connectedComponents(spark, nodes, edges)
          .as[(Long, Long)].collect().toMap)
      }
      assert(labels(149L) == 0L && labels(399L) == 150L,
        "reliable-checkpoint CC must label correctly despite block loss")
      assert(labels.size == 400)
      // the same loss kills the default path: localCheckpoint blocks are
      // the ONLY copy, and their lineage is truncated
      val ex = intercept[Exception] {
        DriverPull.forcingFallbacks(Dedup.connectedComponents(spark, nodes, edges)
          .as[(Long, Long)].collect())
      }
      assert(ex.getMessage != null)
    } finally Dedup.testBlockLossHook = None
  }

  test("curateCorpus semantic stage honors the caller's nHint") {
    val docs = (0 until 60).map { i =>
      (i.toLong, s"doc $i body ${"tok " * (i % 10 + 20)}")
    }.toDF("doc_id", "text")
    val emb = vecs(60).select($"vec_id".as("doc_id"), $"embedding")
    def run(hint: Long) =
      Graft.curateCorpus(spark, docs, screenPhrases = Seq("zzz_never"),
        semantic = Some(Graft.SemanticDedup(emb, minCos = 0.9, useLsh = true,
          nHint = hint)))
        .collect().map(_.toString).sorted.toSeq
    // hint == base embedding count (what the default path derives) →
    // identical survivors; the wiring is exercised end-to-end either way
    assert(run(60L) == run(0L))
  }
}
