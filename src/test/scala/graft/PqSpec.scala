package graft

import org.apache.spark.sql.functions._

import graft.functions.{PqOps, VectorFunctions}

/** Product quantization (F23): kernel math, fit determinism, IVF-PQ
  * probe recall, and the save/load round trip.
  */
class PqSpec extends SparkSpec {

  import spark.implicits._

  // m=2, ksub=2, dsub=2: j0 codewords (0,0),(1,1); j1 codewords (1,0),(0,1)
  private val tinyCb = Array(0f, 0f, 1f, 1f, 1f, 0f, 0f, 1f)

  test("pq_encode picks the nearest codeword per subspace (hand-computed)") {
    VectorFunctions.register(spark)
    val df = Seq((1L, Array(0.9f, 1.1f, 0.1f, 0.9f))).toDF("vec_id", "embedding")
      .select(call_function("pq_encode", col("embedding"), lit(tinyCb), lit(2), lit(2)).as("codes"))
    val codes = df.as[Array[Byte]].head()
    assert(codes.toSeq == Seq[Byte](1, 1))
    // ADC against q = (1,1,1,1): <(1,1),(1,1)> + <(1,1),(0,1)> = 2 + 1
    val adc = Seq((Array(1f, 1f, 1f, 1f), codes)).toDF("q", "c")
      .select(call_function("pq_adc", col("q"), col("c"), lit(tinyCb), lit(2), lit(2)).as("a"))
      .as[Double].head()
    assert(adc == 3.0)
    // decode reconstructs the chosen codewords in subspace order
    assert(PqOps.decode(codes, tinyCb, 2, 2).toSeq == Seq(1f, 1f, 0f, 1f))
  }

  test("pq_encode ties break to the lowest code and codes stay in [0, ksub)") {
    VectorFunctions.register(spark)
    // equidistant from both j0 codewords → code 0
    val codes = Seq((Array(0.5f, 0.5f, 0f, 0.5f))).toDF("embedding")
      .select(call_function("pq_encode", col("embedding"), lit(tinyCb), lit(2), lit(2)).as("c"))
      .as[Array[Byte]].head()
    assert(codes(0) == 0.toByte)
    val emb = Tables.embeddings(spark, sf001)
    val model = Pq.pqFit(spark, emb, dim = 64, m = 8, ksub = 16)
    val all = Pq.ivfPqBuild(Similarity.ivfFit(spark, emb, k = 4), model)
      .assigned.select($"codes").as[Array[Byte]].collect()
    assert(all.forall(c => c.length == 8 && c.forall(b => (b & 0xff) < model.ksub)))
  }

  test("pqFit is deterministic and bounded: same seed, same codebook; fit count += m") {
    val emb = Tables.embeddings(spark, sf001)
    val before = Similarity.kmeansFitCount.get()
    val m1 = Pq.pqFit(spark, emb, dim = 64, m = 4, ksub = 8)
    assert(Similarity.kmeansFitCount.get() == before + 4,
      "one k-means per subspace, nothing else")
    val m2 = Pq.pqFit(spark, emb, dim = 64, m = 4, ksub = 8)
    assert(m1.codebook.toSeq == m2.codebook.toSeq)
    assert(m1.m == 4 && m1.ksub == 8 && m1.dsub == 16 && m1.dim == 64)
    assert(m1.bytesPerVector == 4 && m1.compressionRatio == 64.0)
  }

  test("IVF-PQ probe with exact re-rank puts a planted copy's source first") {
    val emb = Tables.embeddings(spark, sf001)
    val model = Pq.pqFit(spark, emb, dim = 64, m = 8, ksub = 16)
    val index = Pq.ivfPqBuild(Similarity.ivfFit(spark, emb, k = 8), model).cached()
    try {
      val queries = emb.filter($"vec_id" < 10)
        .select(($"vec_id" + 5000).as("q_id"), $"embedding")
      val res = Pq.ivfPqProbeVectors(index, queries, nprobe = 2, topK = 5,
        rerank = Some(emb))
        .select($"q_id", $"n_id", $"cos_sim", $"rn")
        .as[(Long, Long, Double, Long)].collect()
      (0L until 10L).foreach { i =>
        val top = res.filter(r => r._1 == i + 5000 && r._4 == 1L)
        assert(top.length == 1 && top.head._2 == i,
          s"query ${i + 5000} (copy of $i) should re-rank its source first, got ${top.toSeq}")
        assert(top.head._3 >= 0.9999, s"exact cosine of a copy must be ~1, got ${top.head._3}")
      }
      // ADC-only ranking (no re-rank) still surfaces the source in top-5
      val adcRes = Pq.ivfPqProbeVectors(index, queries, nprobe = 2, topK = 5)
        .select($"q_id", $"n_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      (0L until 10L).foreach { i =>
        assert(adcRes(i + 5000).contains(i),
          s"ADC top-5 for query ${i + 5000} should contain its source $i")
      }
    } finally { index.assigned.unpersist(); () }
  }

  test("IVF-PQ re-ranked recall vs brute force on member queries") {
    // this corpus is PQ's adversarial case: i.i.d. random dims mean the
    // exact top-5 are separated by cosine deltas of the same order as the
    // quantization noise, so the ADC pre-rank needs resolution (m 16) and
    // refine depth to keep the true neighbors in the re-rank pool —
    // m 8 / refine 4 measured 0.57 recall@5 here, m 16 / refine 10
    // measures far higher, and real clustered corpora sit in between
    val emb = Tables.embeddings(spark, sf001)
    val model = Pq.pqFit(spark, emb, dim = 64, m = 16, ksub = 32)
    val index = Pq.ivfPqBuild(Similarity.ivfFit(spark, emb, k = 8), model).cached()
    try {
      val queries = emb.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"embedding")
      // exhaustive probe (all 8 cells) isolates PQ ranking loss from cell loss
      val got = Pq.ivfPqProbeVectors(index, queries, nprobe = 8, topK = 6,
        refine = 10, rerank = Some(emb))
        .filter($"q_id" =!= $"n_id") // self ranks first at cos 1; score the rest
        .select($"q_id", $"n_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).take(5).toSet }
      // brute-force exact top-5 (self excluded) on the driver
      val vecs = emb.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        for (i <- a.indices) {
          d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        }
        d / math.sqrt(na * nb)
      }
      val recalls = (0L until 20L).map { qid =>
        val q = vecs.find(_._1 == qid).get._2
        val exact = vecs.filter(_._1 != qid)
          .map { case (id, v) => (id, cos(q, v)) }
          .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
        (exact intersect got(qid)).size.toDouble / 5.0
      }
      val mean = recalls.sum / recalls.size
      info(f"IVF-PQ (m=16, ksub=32, refine=10) re-ranked recall@5: $mean%.3f")
      assert(mean >= 0.8, f"re-ranked recall@5 $mean%.3f below floor 0.8")
    } finally { index.assigned.unpersist(); () }
  }

  test("IVF-PQ save/load round-trips the codebook and probes identically") {
    val emb = Tables.embeddings(spark, sf001)
    val model = Pq.pqFit(spark, emb, dim = 64, m = 8, ksub = 16)
    val index = Pq.ivfPqBuild(Similarity.ivfFit(spark, emb, k = 8), model)
    val dir = tmpDir("pqidx")
    index.save(dir)
    val loaded = Pq.ivfPqLoad(spark, dir)
    assert(loaded.k == 8 && loaded.model.m == 8 && loaded.model.ksub == model.ksub)
    assert(loaded.model.codebook.toSeq == model.codebook.toSeq)
    val queries = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + 7000).as("q_id"), $"embedding")
    def run(ix: Pq.IvfPqIndex) =
      Pq.ivfPqProbeVectors(ix, queries, nprobe = 3, topK = 4)
        .select($"q_id", $"n_id", $"adc_sim", $"rn")
        .as[(Long, Long, Double, Long)].collect().toSet
    assert(run(loaded) == run(index))
    // the compressed assignment really is codes, not embeddings
    assert(loaded.assigned.columns.toSet == Set("vec_id", "cell", "codes"))
  }

  test("ivfPqAssign appends without any refit: same cell+codes as the source, probes find the new members") {
    val emb = Tables.embeddings(spark, sf001)
    val model = Pq.pqFit(spark, emb, dim = 64, m = 8, ksub = 16)
    val index = Pq.ivfPqBuild(Similarity.ivfFit(spark, emb, k = 8), model)
    val baseN = index.assigned.count()
    // exact copies of vectors 0..9 under fresh ids — cell and codes must
    // match the source's bit-for-bit (same frozen centroids + codebook)
    val newVecs = emb.filter($"vec_id" < 10)
      .select(($"vec_id" + 9000).as("vec_id"), $"embedding")
    val before = Similarity.kmeansFitCount.get()
    val appended = Pq.ivfPqAssign(index, newVecs).cached()
    try {
      assert(Similarity.kmeansFitCount.get() == before,
        "ivfPqAssign must not run any k-means fit")
      assert(appended.assigned.columns.toSet == Set("vec_id", "cell", "codes"),
        "appended index stays compressed — codes, not embeddings")
      assert(appended.assigned.count() == baseN + 10)
      val mismatched = appended.assigned.filter($"vec_id" >= 9000)
        .select(($"vec_id" - 9000).as("vec_id"), $"cell".as("a_cell"), $"codes".as("a_codes"))
        .join(index.assigned, Seq("vec_id"))
        .filter($"a_cell" =!= $"cell" || $"a_codes" =!= $"codes")
        .count()
      assert(mismatched == 0, "an exact copy must land in its source's cell with its source's codes")
      // probing with the source embeddings retrieves the appended copies
      val queries = emb.filter($"vec_id" < 10)
        .select(($"vec_id" + 7000).as("q_id"), $"embedding")
      val got = Pq.ivfPqProbeVectors(appended, queries, nprobe = 2, topK = 5)
        .select($"q_id", $"n_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      (0L until 10L).foreach { i =>
        assert(got(i + 7000).contains(i + 9000),
          s"probe for source $i should surface appended copy ${i + 9000}")
      }
    } finally { appended.assigned.unpersist(); () }
  }

  private def cosArr(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    for (i <- a.indices) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    d / math.sqrt(na * nb)
  }

  /** Mean ADC-only recall@5 vs driver-side exact cosine, self excluded;
    * queries are members under fresh ids (+100000), probes exhaustive so
    * only RANKING quality (what the codes resolve) is scored.
    */
  private def adcRecall5(ix: Pq.IvfPqIndex, corpus: org.apache.spark.sql.DataFrame,
      nq: Int): Double = {
    val queries = corpus.filter($"vec_id" < nq)
      .select(($"vec_id" + 100000).as("q_id"), $"embedding")
    val got = Pq.ivfPqProbeVectors(ix, queries, nprobe = ix.k, topK = 6)
      .filter($"n_id" =!= $"q_id" - 100000)
      .select($"q_id", $"n_id", $"rn").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._3).map(_._2).take(5).toSet }
    val vecs = corpus.select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    (0L until nq.toLong).map { qid =>
      val qv = vecs.find(_._1 == qid).get._2
      val exact = vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, cosArr(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
      (exact intersect got(qid + 100000)).size.toDouble / 5.0
    }.sum / nq
  }

  test("residual encoding (IVFADC) sharpens ADC ranking on clustered data, never hurts on random") {
    // same m/ksub budget, same cells, same queries — the only variable is
    // WHAT the m bytes quantize: absolute position vs offset from the
    // cell's residual center (mean of its normalized members).
    //
    // Clustered corpus (50 planted 10-cliques): the coarse quantizer
    // absorbs the between-clique variance, so residual codes spend their
    // resolution separating clique-mates — the IVFADC win.
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.filter($"vec_id" < 50)
    val clustered = base
      .crossJoin(spark.range(0, 10).select($"id".as("copy")))
      .select(($"vec_id" * 10 + $"copy").as("vec_id"),
        when($"copy" === 0, $"embedding")
          .otherwise(transform($"embedding",
            (v, i) => when(i % 10 === $"copy".cast("int") % 10, v * lit(1.3f)).otherwise(v)))
          .as("embedding"))
      .localCheckpoint(true)
    val fittedC = Similarity.ivfFit(spark, clustered, k = 16)
    val plainC = Pq.ivfPqBuild(fittedC, Pq.pqFit(spark, clustered, dim = 64, m = 8, ksub = 16))
    val residC = Pq.ivfPqBuild(fittedC,
      Pq.pqFitResidual(fittedC, dim = 64, m = 8, ksub = 16), residual = true)
    assert(!plainC.residual && residC.residual && residC.rcenters.nonEmpty)
    val (cPlain, cResid) = (adcRecall5(plainC, clustered, 20), adcRecall5(residC, clustered, 20))
    info(f"clustered corpus ADC-only recall@5 — absolute: $cPlain%.3f, residual: $cResid%.3f")
    assert(cResid > cPlain,
      f"residual codes should outrank absolute codes on clustered data: $cResid%.3f vs $cPlain%.3f")
    // Random corpus (PQ's adversarial case): k-means captures little, the
    // residual centers are small, and residual encoding must degenerate
    // gracefully — near the absolute codes, not below them. (Centering on
    // the NORMALIZED CENTROID instead measured 0.190 vs 0.240 absolute
    // here — subtracting a unit vector from weakly-correlated unit
    // vectors GROWS the residual ball; the member-mean center is why.)
    val fittedR = Similarity.ivfFit(spark, emb, k = 8)
    val plainR = Pq.ivfPqBuild(fittedR, Pq.pqFit(spark, emb, dim = 64, m = 8, ksub = 16))
    val residR = Pq.ivfPqBuild(fittedR,
      Pq.pqFitResidual(fittedR, dim = 64, m = 8, ksub = 16), residual = true)
    val (rPlain, rResid) = (adcRecall5(plainR, emb, 20), adcRecall5(residR, emb, 20))
    info(f"random corpus ADC-only recall@5 — absolute: $rPlain%.3f, residual: $rResid%.3f")
    assert(rResid >= rPlain - 0.05,
      f"residual ADC recall $rResid%.3f fell below absolute codes $rPlain%.3f")
    // an exact copy's residual ADC score approximates its true cosine (1)
    // up to the m8/ksub16 quantization budget — measured 0.78–0.88 here;
    // the floor pins "approximation", the re-rank path recovers exactness
    val queries = clustered.filter($"vec_id" < 20)
      .select(($"vec_id" + 100000).as("q_id"), $"embedding")
    val selfSim = Pq.ivfPqProbeVectors(residC, queries, nprobe = 16, topK = 50)
      .filter($"n_id" === $"q_id" - 100000)
      .select($"adc_sim").as[Double].collect()
    assert(selfSim.length == 20 && selfSim.forall(_ > 0.7),
      s"residual ADC of an exact copy should approach 1, got ${selfSim.sorted.mkString(",")}")
  }

  test("residual index: save/load keeps the flag, probes identically, appends consistently") {
    val emb = Tables.embeddings(spark, sf001)
    val fitted = Similarity.ivfFit(spark, emb, k = 8)
    val index = Pq.ivfPqBuild(fitted,
      Pq.pqFitResidual(fitted, dim = 64, m = 8, ksub = 16), residual = true)
    val dir = tmpDir("pqresid")
    index.save(dir)
    val loaded = Pq.ivfPqLoad(spark, dir)
    assert(loaded.residual, "the residual flag must persist with the index")
    val queries = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + 7000).as("q_id"), $"embedding")
    def run(ix: Pq.IvfPqIndex) =
      Pq.ivfPqProbeVectors(ix, queries, nprobe = 3, topK = 4)
        .select($"q_id", $"n_id", $"adc_sim", $"rn")
        .as[(Long, Long, Double, Long)].collect().toSet
    assert(run(loaded) == run(index))
    // a non-residual save to the same dir clears the marker
    Pq.ivfPqBuild(fitted, Pq.pqFit(spark, emb, dim = 64, m = 8, ksub = 16)).save(dir)
    assert(!Pq.ivfPqLoad(spark, dir).residual)
    // appends on a residual index: an exact copy lands in its source's
    // cell with its source's codes (frozen centroids + frozen residual
    // codebook → identical residual)
    val newVecs = emb.filter($"vec_id" < 10)
      .select(($"vec_id" + 9000).as("vec_id"), $"embedding")
    val before = Similarity.kmeansFitCount.get()
    val appended = Pq.ivfPqAssign(index, newVecs)
    assert(Similarity.kmeansFitCount.get() == before, "no refit on append")
    assert(appended.residual, "append preserves the flag")
    val mismatched = appended.assigned.filter($"vec_id" >= 9000)
      .select(($"vec_id" - 9000).as("vec_id"), $"cell".as("a_cell"), $"codes".as("a_codes"))
      .join(index.assigned, Seq("vec_id"))
      .filter($"a_cell" =!= $"cell" || $"a_codes" =!= $"codes")
      .count()
    assert(mismatched == 0, "an exact copy must reproduce its source's cell and residual codes")
  }

  test("residual probe plan: no WindowExec, DPP-prunable saved candidate scan") {
    val emb = Tables.embeddings(spark, sf001)
    val fitted = Similarity.ivfFit(spark, emb, k = 8)
    val index = Pq.ivfPqBuild(fitted,
      Pq.pqFitResidual(fitted, dim = 64, m = 8, ksub = 16), residual = true)
    val dir = tmpDir("pqresidplan")
    index.save(dir)
    val loaded = Pq.ivfPqLoad(spark, dir)
    val queries = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + 7000).as("q_id"), $"embedding")
    val probe = Pq.ivfPqProbeVectors(loaded, queries, nprobe = 3, topK = 4)
    val plan = probe.queryExecution.executedPlan.toString
    // the center term must not reintroduce ranking windows or a shuffle
    // of the code table: ranking stays bounded-heap, the rcenters join
    // stays on the thin probe frame
    assert(!plan.contains("WindowExec"),
      s"residual probe must stay window-free:\n$plan")
    assert(plan.contains("dynamicpruning"),
      s"saved residual index scan must be DPP-prunable to the probed cells:\n$plan")
    assert(probe.count() > 0)
  }

  test("residual append into a build-time-empty cell is kept and scored, not silently dropped") {
    // MLlib k-means can return empty clusters: a cell with a centroid but
    // no members has no rcenters row. Hand-built index reproduces that
    // shape exactly; an appended vector routed there must survive the
    // encode (zero-center fallback = absolute encoding for that cell)
    // and be scored by probes (qcent fallback 0) — before the LEFT joins
    // both paths silently dropped it.
    val assigned = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0), (1L, Array(0.9f, 0.1f, 0f, 0f), 0),
      (2L, Array(0f, 1f, 0f, 0f), 1), (3L, Array(0.1f, 0.9f, 0f, 0f), 1))
      .toDF("vec_id", "embedding", "cell")
    val centroids = Seq(
      (0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)),
      (2, Array(0f, 0f, 1f, 0f))).toDF("c_cell", "c_emb")
    val fitted = Similarity.IvfFitted(assigned, centroids, 3)
    val model = Pq.pqFitResidual(fitted, dim = 4, m = 2, ksub = 2, fitSample = 0)
    val index = Pq.ivfPqBuild(fitted, model, residual = true).cached()
    assert(index.rcenters.get.count() == 2, "only populated cells have centers")
    val appended = Pq.ivfPqAssign(index,
      Seq((10L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding"))
    assert(appended.assigned.count() == 5,
      "a vector appended into a build-time-empty cell must not be dropped")
    assert(appended.assigned.filter($"vec_id" === 10L)
      .select($"cell").as[Int].collect().toSeq == Seq(2))
    // exhaustive probe: the appended vector must be among the scored
    // candidates with a non-null score (its MAGNITUDE is codebook-
    // dependent — the codebook never saw that region — and not asserted)
    val hits = Pq.ivfPqProbeVectors(appended,
      Seq((99L, Array(0f, 0f, 1f, 0f))).toDF("q_id", "embedding"),
      nprobe = 3, topK = 5)
      .select($"n_id", $"adc_sim").as[(Long, java.lang.Double)].collect()
    val ten = hits.filter(_._1 == 10L)
    assert(ten.length == 1 && ten.head._2 != null && !ten.head._2.isNaN,
      s"probe must score the appended vector in the empty-at-build cell: ${hits.toSeq}")
  }

  test("Graft facade compressed-serving path matches the direct Pq path") {
    val emb = Tables.embeddings(spark, sf001)
    val fitted = Similarity.ivfFit(spark, emb, k = 8, fitSample = 0)
    val facade = Graft.annCompress(fitted, dim = 64, m = 8, ksub = 16, residual = true)
    val direct = Pq.ivfPqBuild(fitted,
      Pq.pqFitResidual(fitted, dim = 64, m = 8, ksub = 16), residual = true)
    assert(facade.residual && facade.model.codebook.toSeq == direct.model.codebook.toSeq,
      "same seeded fit on the same residuals must give the same codebook")
    val dir = tmpDir("facade_pq")
    facade.save(dir)
    val queries = emb.filter($"vec_id" < 5)
      .select(($"vec_id" + 7000).as("q_id"), $"embedding")
    val got = Pq.ivfPqProbeVectors(Pq.ivfPqLoad(spark, dir),
      queries, nprobe = 3, topK = 4)
      .select($"q_id", $"n_id", $"rn").as[(Long, Long, Long)].collect().toSet
    val want = Pq.ivfPqProbeVectors(direct, queries, nprobe = 3, topK = 4)
      .select($"q_id", $"n_id", $"rn").as[(Long, Long, Long)].collect().toSet
    assert(got == want, "the saved facade index must rank identically to the direct path")
  }

  test("graded q_f23_pq_adc is deterministic and well-formed") {
    val rows = Pq.qPqAdc.fn(spark, sf001).collect()
    assert(rows.length == 30, s"10 queries x top-3, got ${rows.length}")
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 10L).toSet)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == Seq(1L, 2L, 3L))
      assert(rs.forall(r => r.getLong(0) != r.getLong(1)), "self excluded")
    }
    val again = Pq.qPqAdc.fn(spark, sf001).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}
