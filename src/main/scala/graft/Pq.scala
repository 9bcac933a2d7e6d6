package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._
import graft.functions.VectorFunctions

/** Product quantization for compressed ANN serving (SURVEY.md §2.F F23) —
  * the IVF-PQ composition every large-scale vector store converges on
  * (FAISS's IndexIVFPQ; Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011): split each L2-normalized vector
  * into `m` subvectors, quantize each against a per-subspace codebook of
  * `ksub` codewords, and keep only the m code BYTES per vector. At dim 64
  * / m 8 that is a 32× compression of the candidate table — the number
  * that matters at 100 TB, where the probe-side scan is the cost — while
  * the asymmetric distance (query against codeword reconstruction)
  * preserves enough ranking signal that a small exact re-rank of the PQ
  * top-(refine·k) recovers near-exact recall.
  *
  * Division of labor, mirroring the IVF fit/probe split:
  *  - [[pqFit]]: per-subspace k-means on a bounded deterministic sample
  *    (the [[Similarity.ivfFit]] sampling pattern) → a driver-held
  *    [[PqModel]] of m·ksub·dsub floats (KBs). [[pqFitResidual]] fits
  *    the same codebooks on cell residuals instead (full IVFADC).
  *  - [[ivfPqBuild]]: one codegen `pq_encode` pass over a fitted IVF
  *    index → the compressed assignment table (vec_id, cell, codes).
  *  - [[ivfPqProbeVectors]]: the [[Similarity.ivfProbeVectors]] plan
  *    shape (broadcast centroid cell ranking → cell equi-join with the
  *    probed side broadcast when small) with `pq_adc` in place of the
  *    full-width dot, then optional exact re-rank of the survivors.
  */
object Pq {

  private def dot(a: Column, b: Column): Column = call_function("fvec_dot", a, b)

  /** Bytes cap for broadcasting the per-query LUT frame (rows are
    * m·ksub·8 bytes — 16 KB at m 8 / ksub 256, so the row-count probe
    * guard alone could admit a multi-GB broadcast). Above the cap the
    * LUT join keeps the planner's choice.
    */
  val MaxLutBroadcastBytes: Long = 256L << 20

  /** A fitted PQ codebook: `m` subspaces × `ksub` codewords × `dsub`
    * dims, flattened row-major. Fit on L2-NORMALIZED vectors (cosine
    * domain) — [[ivfPqBuild]] and the probes normalize to match.
    */
  final case class PqModel(codebook: Array[Float], m: Int, ksub: Int) {
    require(codebook.length % (m * ksub) == 0,
      s"codebook length ${codebook.length} not divisible by m*ksub = ${m * ksub}")
    def dsub: Int = codebook.length / (m * ksub)
    def dim: Int = m * dsub
    /** Compressed bytes per vector (one code byte per subspace). */
    def bytesPerVector: Int = m
    /** vs a float[dim] embedding column. */
    def compressionRatio: Double = 4.0 * dim / m

    private[graft] def cbLit: Column = lit(codebook)

    /** Persist via the Hadoop filesystem API (works on local paths and
      * cluster stores alike) — the model is driver-held metadata, KBs,
      * exactly like MLlib model metadata.
      */
    def save(s: SparkSession, path: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val out = new java.io.DataOutputStream(
        new java.io.BufferedOutputStream(fs.create(p, true)))
      try {
        out.writeInt(m); out.writeInt(ksub); out.writeInt(codebook.length)
        var i = 0
        while (i < codebook.length) { out.writeFloat(codebook(i)); i += 1 }
      } finally out.close()
    }
  }

  object PqModel {
    def load(s: SparkSession, path: String): PqModel = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val in = new java.io.DataInputStream(new java.io.BufferedInputStream(fs.open(p)))
      try {
        val m = in.readInt(); val ksub = in.readInt(); val len = in.readInt()
        val cb = new Array[Float](len)
        var i = 0
        while (i < len) { cb(i) = in.readFloat(); i += 1 }
        PqModel(cb, m, ksub)
      } finally in.close()
    }
  }

  /** vec_id + L2-normalized float embedding (zero vectors pass through
    * unchanged — they encode arbitrarily but consistently).
    */
  private def withNormalized(df: DataFrame): DataFrame = {
    val nrm = sqrt(dot(col("embedding"), col("embedding")))
    df.withColumn("__nrm", nrm)
      .withColumn("nemb", when(col("__nrm") > 0,
        transform(col("embedding"), x => (x / col("__nrm")).cast("float")))
        .otherwise(col("embedding")))
      .drop("__nrm")
  }

  /** Fit `m` per-subspace codebooks of `ksub` codewords each with MLlib
    * KMeans (seeded) over the L2-normalized vectors. `dim` must be the
    * embedding dimension (a PQ model is dimensional by nature; requiring
    * it beats a driver-side peek at the data) and divisible by `m`.
    *
    * The iterative fits run on the same bounded deterministic
    * hash-threshold sample as [[Similarity.ivfFit]] (`fitSample` rows,
    * floor 10·ksub; `<= 0` = full corpus; `nHint` skips the sizing
    * count) — m small k-means over ≤100k rows of dsub dims, seconds
    * regardless of corpus size. If the sample has fewer distinct points
    * than `ksub` in some subspace, MLlib may return fewer centers; the
    * model's `ksub` is lowered to the minimum across subspaces so codes
    * stay dense.
    */
  def pqFit(s: SparkSession, emb: DataFrame, dim: Int, m: Int = 8,
      ksub: Int = 256, fitSample: Long = Similarity.DefaultFitSample,
      nHint: Long = 0L): PqModel = {
    // register BEFORE building any frame: withNormalized analyzes
    // fvec_dot eagerly at Dataset construction
    VectorFunctions.register(s)
    fitCodebooks(s, withNormalized(emb.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("nemb").as("fvec")),
      () => emb.count(), dim, m, ksub, fitSample, nHint)
  }

  /** Fit per-subspace codebooks on the RESIDUALS of a fitted IVF index —
    * the full IVFADC composition (Jégou et al. 2011 §III: "the residual
    * vector is quantized" — FAISS's IndexIVFPQ default): each vector is
    * encoded as its offset from its cell's residual center ([[rcentersOf]]
    * — the mean of the cell's normalized members) instead of its absolute
    * position. Where the coarse quantizer captures real structure the
    * residual ball is far smaller than the corpus, so the same m bytes
    * spend their resolution on within-cell detail — ADC ranking sharpens
    * exactly where the absolute codebook blurs; where it captures none,
    * the centers are ~0 and nothing is lost (PqSpec measures both).
    * Pair the model with `ivfPqBuild(fitted, model, residual = true)`;
    * mixing residual models with absolute encoding (or vice versa)
    * produces garbage rankings, which is why the index carries the flag
    * and the probe consults it. The centers here and in the later build
    * are computed independently (float means can differ in last bits
    * across partitionings, like the k-means fit itself) — immaterial,
    * since the codebook is a bounded-sample fit to begin with.
    */
  def pqFitResidual(fitted: Similarity.IvfFitted, dim: Int, m: Int = 8,
      ksub: Int = 256, fitSample: Long = Similarity.DefaultFitSample,
      nHint: Long = 0L): PqModel = {
    val s = fitted.assigned.sparkSession
    VectorFunctions.register(s)
    fitCodebooks(s, withResidual(fitted.assigned, rcentersOf(fitted.assigned))
      .select(col("vec_id"), col("rvec").as("fvec")),
      () => fitted.assigned.count(), dim, m, ksub, fitSample, nHint)
  }

  /** Per-cell residual centers: (cell, rc) where rc is the MEAN of the
    * cell's L2-NORMALIZED members — the least-squares center in the
    * space the codes actually quantize. This is deliberately NOT the
    * normalized k-means centroid: subtracting a UNIT vector from unit
    * vectors GROWS the residual ball whenever members correlate weakly
    * with their centroid (measured: ADC recall@5 0.190 vs 0.240 absolute
    * on the i.i.d. random corpus), while subtracting the within-cell
    * mean never increases within-cell SSE — on unclusterable data the
    * mean is ~0 and residual encoding degenerates gracefully to absolute
    * encoding, and on clustered data it spends the codebook's resolution
    * on within-cell detail (the IVFADC win). One Summarizer.mean
    * aggregation → a k-row frame; like the MLlib k-means fit itself, the
    * float mean is partition-order sensitive in its last bits, so rc is
    * COMPUTED ONCE at build time and persisted with the index rather
    * than recomputed per probe.
    */
  private def rcentersOf(assigned: DataFrame): DataFrame = {
    import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
    import org.apache.spark.ml.stat.Summarizer
    withNormalized(assigned)
      .select(col("cell"),
        array_to_vector(transform(col("nemb"), _.cast("double"))).as("nv"))
      .groupBy(col("cell"))
      .agg(Summarizer.mean(col("nv")).as("mv"))
      .select(col("cell"),
        transform(vector_to_array(col("mv")), _.cast("float")).as("rc"))
  }

  /** rvec = nemb − rc(cell) for an assigned frame (vec_id, embedding,
    * cell) — the residual the IVFADC codebook quantizes. One broadcast
    * join against the k-row center table; no shuffle. LEFT join: a cell
    * with no members at build time has no center row (k-means can
    * return empty clusters), and an appended vector routed to it must
    * not be silently dropped — a missing center falls back to the zero
    * vector, i.e. absolute encoding for that cell, which the probe's
    * matching qcent fallback scores consistently.
    */
  private def withResidual(assigned: DataFrame, rcenters: DataFrame): DataFrame =
    withNormalized(assigned)
      .join(broadcast(rcenters), Seq("cell"), "left")
      .withColumn("rvec",
        when(col("rc").isNull, col("nemb"))
          .otherwise(zip_with(col("nemb"), col("rc"), (a, b) => (a - b).cast("float"))))

  /** The shared fit core: bounded deterministic hash-threshold sample of
    * the `fvec` column, then m seeded per-subspace k-means.
    */
  private def fitCodebooks(s: SparkSession, vecs: DataFrame, n0: () => Long,
      dim: Int, m: Int, ksub: Int, fitSample: Long, nHint: Long): PqModel = {
    require(m > 0 && dim % m == 0, s"dim $dim must be divisible by m = $m")
    require(ksub > 0 && ksub <= 256, s"ksub must be in (0, 256] for byte codes, got $ksub")
    VectorFunctions.register(s)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dsub = dim / m
    val fitRows = (if (fitSample <= 0) vecs
    else {
      val n = if (nHint > 0) nHint else n0()
      val target = math.max(fitSample, 10L * ksub)
      if (target >= n) vecs
      else vecs.filter(
        pmod(xxhash64(col("vec_id")), lit(1000000L)) <
          lit(math.ceil(target.toDouble / n * 1000000L).toLong))
    }).cache()
    try {
      val centers = (0 until m).map { j =>
        val feat = fitRows.select(array_to_vector(
          transform(slice(col("fvec"), j * dsub + 1, dsub), _.cast("double")))
          .as("features"))
        Similarity.kmeansFitCount.incrementAndGet()
        new KMeans().setK(ksub).setSeed(42L + j).setFeaturesCol("features")
          .fit(feat).clusterCenters.map(_.toArray.map(_.toFloat))
      }
      val ksubEff = centers.map(_.length).min
      val cb = new Array[Float](m * ksubEff * dsub)
      for (j <- 0 until m; c <- 0 until ksubEff; i <- 0 until dsub)
        cb((j * ksubEff + c) * dsub + i) = centers(j)(c)(i)
      PqModel(cb, m, ksubEff)
    } finally { fitRows.unpersist(); () }
  }

  /** An IVF-PQ index: the IVF cell structure plus the PQ-compressed
    * assignment table — (vec_id, cell, codes) at m + O(1) bytes per
    * vector instead of 4·dim. This is what a serving probe scans; the
    * full embeddings are needed only for the optional exact re-rank.
    */
  final case class IvfPqIndex(assigned: DataFrame, centroids: DataFrame,
      k: Int, model: PqModel, residual: Boolean = false,
      rcenters: Option[DataFrame] = None) {
    def cached(): IvfPqIndex = copy(assigned = assigned.cache())

    /** [[Similarity.IvfFitted.save]]'s layout (assignment partitioned by
      * cell → probed-cell-only DPP scans) plus the codebook file; a
      * residual index also persists its `rcenters` table and a
      * `_residual` marker (the flag is part of the index's meaning — a
      * probe that ignores it ranks garbage, so it persists with the
      * index, not in caller memory).
      */
    def save(dir: String, partitioned: Boolean = true): Unit = {
      if (partitioned)
        assigned.repartition(col("cell")).write.mode("overwrite")
          .partitionBy("cell").parquet(s"$dir/assigned")
      else assigned.write.mode("overwrite").parquet(s"$dir/assigned")
      centroids.write.mode("overwrite").parquet(s"$dir/centroids")
      model.save(assigned.sparkSession, s"$dir/pq_model.bin")
      rcenters.foreach(_.write.mode("overwrite").parquet(s"$dir/rcenters"))
      val s = assigned.sparkSession
      val marker = new org.apache.hadoop.fs.Path(s"$dir/_residual")
      val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (residual) fs.create(marker, true).close()
      else if (fs.exists(marker)) { fs.delete(marker, false); () }
    }
  }

  /** Re-open a compressed index persisted by [[IvfPqIndex.save]]
    * (centroids, m-byte codes, codebook and the residual flag); probe it
    * with [[ivfPqProbeVectors]]. */
  def ivfPqLoad(s: SparkSession, dir: String): IvfPqIndex = {
    VectorFunctions.register(s)
    val centroids = s.read.parquet(s"$dir/centroids")
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_residual")
    val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
    val residual = fs.exists(marker)
    IvfPqIndex(s.read.parquet(s"$dir/assigned"), centroids,
      centroids.count().toInt, PqModel.load(s, s"$dir/pq_model.bin"),
      residual = residual,
      rcenters = if (residual) Some(s.read.parquet(s"$dir/rcenters")) else None)
  }

  /** Compress a fitted IVF index: one codegen `pq_encode` pass over the
    * normalized embeddings — no shuffle, no iteration (residual mode
    * adds one broadcast join against the k-row centroid table). The
    * returned index drops the embedding column entirely; keep the
    * original corpus around for exact re-ranks. With `residual = true`
    * the codes quantize `nemb − nc(cell)` against a [[pqFitResidual]]
    * codebook — pass the matching model; the flag travels with the
    * index so probes score consistently.
    */
  def ivfPqBuild(fitted: Similarity.IvfFitted, model: PqModel,
      residual: Boolean = false): IvfPqIndex = {
    VectorFunctions.register(fitted.assigned.sparkSession)
    // cache(): the k-row center table re-enters every subsequent probe
    // plan (broadcast) — without it each probe would re-run the corpus
    // mean aggregation; the first action pays the one pass
    val rc = if (residual) Some(rcentersOf(fitted.assigned).cache()) else None
    val enc = rc match {
      case Some(centers) =>
        withResidual(fitted.assigned, centers).withColumn("__fvec", col("rvec"))
      case None => withNormalized(fitted.assigned).withColumn("__fvec", col("nemb"))
    }
    val assigned = enc.select(col("vec_id"), col("cell"),
      call_function("pq_encode", col("__fvec"), model.cbLit,
        lit(model.m), lit(model.ksub)).as("codes"))
    IvfPqIndex(assigned, fitted.centroids, fitted.k, model, residual, rc)
  }

  /** Append NEW vectors to a fitted IVF-PQ index WITHOUT refitting
    * either the cell structure or the codebook — [[Similarity.ivfAssign]]'s
    * growing-corpus shape carried through the compression: the same
    * broadcast-centroid cell pass ([[Similarity.assignCells]]) plus one
    * codegen `pq_encode` of the normalized embeddings against the FROZEN
    * codebook. No k-means work on either the cells or the subspaces.
    *
    * WHEN TO REFIT: everything [[Similarity.ivfAssign]]'s drift rule says
    * about centroids applies twice over here, because the codebook is a
    * second frozen model — appended vectors from a shifted distribution
    * quantize against codewords fit to the old one, so ADC ranking decays
    * even when cell routing is still fine. Same rule of thumb: refit
    * (cells and codebook are both bounded sampled fits — seconds) once
    * appended volume rivals ~20% of the fitted corpus or measured recall
    * drops below target.
    */
  def ivfPqAssign(index: IvfPqIndex, newVecs: DataFrame): IvfPqIndex = {
    VectorFunctions.register(newVecs.sparkSession)
    val cells = Similarity.assignCells(index.centroids, newVecs)
    val enc =
      if (index.residual) {
        val rc = index.rcenters.getOrElse(throw new IllegalStateException(
          "residual IVF-PQ index has no rcenters table — was it built by ivfPqBuild/ivfPqLoad?"))
        // frozen centers, like the frozen centroids and codebook: an
        // exact copy of a member reproduces its source's codes
        withResidual(cells, rc).withColumn("__fvec", col("rvec"))
      } else withNormalized(cells).withColumn("__fvec", col("nemb"))
    val assignedNew = enc.select(col("vec_id"), col("cell"),
      call_function("pq_encode", col("__fvec"), index.model.cbLit,
        lit(index.model.m), lit(index.model.ksub)).as("codes"))
    index.copy(assigned = index.assigned.unionByName(assignedNew))
  }

  /** Probe an IVF-PQ index with arbitrary (q_id, embedding) query
    * vectors: centroid cell ranking and the cell equi-join are exactly
    * [[Similarity.ivfProbeVectors]]'s plan (broadcast centroids; probe
    * side broadcast under [[Similarity.broadcastProbes]]' guard), but
    * candidates are scored by `pq_adc` against the m-byte codes — the
    * corpus-side scan reads codes, not embeddings. With `rerank = Some(corpus)` the PQ top-(refine·topK)
    * per query is re-scored by exact cosine against the full embeddings
    * (a broadcast of the tiny survivor set into one corpus scan) and
    * the exact top-`topK` returned as (q_id, n_id, cos_sim, rn);
    * without, the ADC approximate ranking is returned as
    * (q_id, n_id, adc_sim, rn). `q_id` uniqueness is guarded the same
    * way (dedup, or `assertUnique` fail-fast).
    */
  def ivfPqProbeVectors(index: IvfPqIndex, queries: DataFrame,
      nprobe: Int = 0, topK: Int = 10, refine: Int = 4,
      rerank: Option[DataFrame] = None, assertUnique: Boolean = false,
      qHint: Long = 0L): DataFrame = {
    val s = index.assigned.sparkSession
    VectorFunctions.register(s)
    val q = queries.select(col("q_id").as("vec_id"), col("embedding"))
    if (assertUnique) {
      val dups = q.groupBy("vec_id").count().filter(col("count") > 1).count()
      require(dups == 0L, s"ivfPqProbeVectors: $dups duplicate q_id value(s)")
    }
    val qd = q.dropDuplicates("vec_id")
    val np = if (nprobe > 0) nprobe else Similarity.autoNprobe(index.k)
    // THIN probe rows — (q_id, cell) only. The query itself enters the
    // candidate join as a per-query ADC LOOKUP TABLE (`pq_lut`: m·ksub
    // codeword partial dots of the NORMALIZED query — the codes encode
    // normalized vectors, so LUT-summed ADC approximates cosine), built
    // once per QUERY on a separate frame joined by q_id, so nprobe rows
    // never duplicate the table. Per-candidate scoring is then
    // `pq_adc_lut` — m array loads + adds instead of dim multiply-adds
    // (16.2 s direct → 13.7 s LUT at pq1m's 1M corpus, BASELINE.md) —
    // while the corpus-side scan still reads only the m-byte codes.
    val broadcastNq = Similarity.broadcastProbes(index.assigned, q, np, qHint)
    // Residual (IVFADC) scoring decomposes ⟨nq, x̂⟩ = ⟨nq, rc(cell)⟩ +
    // ⟨nq, r̂⟩: the first term is computed HERE on the thin probe frame
    // (nq·nprobe rows, one dim-width dot each against the broadcast
    // k-row center table — trivial) and rides the join as one extra
    // double per probe row, so per-candidate work stays m LUT lookups;
    // the LUT covers the residual term because the codebook IS
    // residual-space.
    val probes0 = Similarity.probeCells(index.centroids, qd, np)
    val probes =
      if (index.residual) {
        val rc = index.rcenters.getOrElse(throw new IllegalStateException(
          "residual IVF-PQ index has no rcenters table — was it built by ivfPqBuild/ivfPqLoad?"))
        val qn = sqrt(dot(col("q_emb"), col("q_emb")))
        // LEFT join + coalesce(·, 0): an empty-at-build cell has no
        // center row but CAN hold appended vectors (encoded against the
        // zero-center fallback above) — its probe rows must survive with
        // qcent = ⟨nq, 0⟩ = 0 so those candidates score consistently
        probes0.join(broadcast(rc), Seq("cell"), "left")
          .select(col("q_id"), col("cell"),
            coalesce(
              dot(col("q_emb"), col("rc")) / when(qn > 0, qn).otherwise(lit(1.0)),
              lit(0.0)).as("qcent"))
      } else probes0.select(col("q_id"), col("cell"))
    val probeSide = if (broadcastNq.isDefined) broadcast(probes) else probes
    val luts = qd
      .withColumn("__qn", sqrt(dot(col("embedding"), col("embedding"))))
      .select(col("vec_id").as("q_id"),
        call_function("pq_lut",
          when(col("__qn") > 0,
            transform(col("embedding"), x => (x / col("__qn")).cast("float")))
            .otherwise(col("embedding")),
          index.model.cbLit, lit(index.model.m), lit(index.model.ksub)).as("lut"))
    // the LUT frame is nq rows of m·ksub doubles — broadcast under the
    // probe decision plus a bytes cap (a 16 KB/row table at ksub 256
    // would turn the row-count guard into GBs)
    val lutSide =
      if (broadcastNq.exists(_ * index.model.m.toLong * index.model.ksub * 8L <= MaxLutBroadcastBytes))
        broadcast(luts)
      else luts
    // no distinct(): each corpus vector lives in exactly ONE cell and
    // probe rows are unique (q_id, cell), so candidate pairs are unique
    // by construction — a dedup here would shuffle the entire candidate
    // set to remove nothing
    val adcRaw = call_function("pq_adc_lut", col("lut"), col("codes"),
      lit(index.model.ksub))
    val adcCands = probeSide
      .join(index.assigned.select(col("vec_id").as("n_id"), col("cell"), col("codes")),
        Seq("cell"))
      .join(lutSide, Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        trunc4(if (index.residual) col("qcent") + adcRaw else adcRaw).as("cos_sim"))
    rerank match {
      case None =>
        Similarity.topKByCosine(adcCands, topK)
          .withColumnRenamed("cos_sim", "adc_sim")
      case Some(corpus) =>
        val sv = Similarity.topKByCosine(adcCands, refine * topK)
          .select(col("q_id"), col("n_id"))
        val exact = broadcast(sv)
          .join(corpus.select(col("vec_id").as("n_id"),
            col("embedding").as("n_emb")), Seq("n_id"))
          .join(qd.select(col("vec_id").as("q_id"), col("embedding").as("q_emb")),
            Seq("q_id"))
          .select(col("q_id"), col("n_id"),
            trunc4(dot(col("q_emb"), col("n_emb")) /
              (sqrt(dot(col("q_emb"), col("q_emb"))) *
                sqrt(dot(col("n_emb"), col("n_emb"))))).as("cos_sim"))
        Similarity.topKByCosine(exact, topK)
    }
  }

  // F23 (oracle-graded): the PQ encode → ADC-rank pipeline expressed
  // DECLARATIVELY so DuckDB can mirror it exactly — the determinism
  // pattern of q_f5_ivf_ann applied to PQ. Codebook = the subvectors of
  // the first 16 vectors (data-dependent, deterministic, in-plan — no
  // driver-side k-means in the graded path); encoding = per-subspace
  // argmin of trunc4(squared L2) via the max_by negated-struct pick;
  // ADC = ONE sequential inner product of the query against the
  // codeword CONCATENATION (flattened in subspace order), so both
  // engines accumulate in the same order and parity is bit-exact before
  // truncation — a per-subspace SUM would reassociate. The codegen
  // pq_encode/pq_adc expressions are the scale path (PqSpec proves them
  // equal to this declarative formulation on the same codebook).
  private val M = 4
  private val DSUB = 16
  private val KSUB = 16

  val qPqAdc = Q(
    "q_f23_pq_adc",
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      |js AS (SELECT unnest(generate_series(0, ${M - 1})) AS j),
      |sub AS (SELECT vec_id, j, x[j*$DSUB+1 : j*$DSUB+$DSUB] AS sx FROM e CROSS JOIN js),
      |cb AS (SELECT j, vec_id AS c, sx AS cvec FROM sub WHERE vec_id < $KSUB),
      |enc AS (SELECT vec_id, j, c FROM (
      |  SELECT s.vec_id, s.j, cb.c,
      |         row_number() OVER (PARTITION BY s.vec_id, s.j ORDER BY
      |           floor((list_inner_product(s.sx, s.sx) + list_inner_product(cb.cvec, cb.cvec)
      |                  - 2*list_inner_product(s.sx, cb.cvec))*10000)/10000 ASC, cb.c ASC) AS rn
      |  FROM sub s JOIN cb ON s.j = cb.j) WHERE rn = 1),
      |recon AS (SELECT e2.vec_id, flatten(list(cb.cvec ORDER BY e2.j)) AS rx
      |          FROM enc e2 JOIN cb ON cb.j = e2.j AND cb.c = e2.c GROUP BY e2.vec_id),
      |q AS (SELECT vec_id AS q_id, x AS qx FROM e WHERE vec_id < 10),
      |p AS (SELECT q.q_id, r.vec_id AS n_id,
      |             floor(list_inner_product(q.qx, r.rx)*10000)/10000 AS adc_sim
      |      FROM q JOIN recon r ON q.q_id <> r.vec_id),
      |rk AS (SELECT q_id, n_id, adc_sim,
      |              row_number() OVER (PARTITION BY q_id ORDER BY adc_sim DESC, n_id) AS rn
      |       FROM p)
      |SELECT q_id, n_id, adc_sim, rn FROM rk WHERE rn <= 3
      |ORDER BY q_id, rn""".stripMargin) { (s, d) =>
    VectorFunctions.register(s)
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val sub = e.select(col("vec_id"),
      posexplode(array((0 until M).map(j =>
        slice(col("embedding"), j * DSUB + 1, DSUB)): _*)).as(Seq("j", "sx")))
    val cb = sub.filter(col("vec_id") < KSUB)
      .select(col("j"), col("vec_id").as("c"), col("sx").as("cvec"))
    // squared L2 as |s|² + |c|² − 2⟨s,c⟩ — three sequential fvec_dot
    // accumulations composed left-to-right, the exact expression DuckDB
    // evaluates, so the trunc4 grid can't straddle
    val d2 = dot(col("sx"), col("sx")) + dot(col("cvec"), col("cvec")) -
      lit(2.0) * dot(col("sx"), col("cvec"))
    // argmin via max_by on the negated (trunc4(d2), c) struct — the
    // q_f5 assignment pattern: map-side partial collapses the ×KSUB
    // fan-out, no ranking window
    val enc = sub.join(broadcast(cb), Seq("j"))
      .withColumn("d2t", trunc4(d2))
      .groupBy(col("vec_id"), col("j"))
      .agg(max_by(col("c"), struct((-col("d2t")).as("nd"), (-col("c")).as("nc"))).as("c"))
    val recon = enc.join(broadcast(cb), Seq("j", "c"))
      .groupBy(col("vec_id"))
      .agg(flatten(transform(
        sort_array(collect_list(struct(col("j"), col("cvec")))),
        p => p.getField("cvec"))).as("rx"))
    val qs = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("qx"))
    val pairs = recon.join(broadcast(qs), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        trunc4(dot(col("qx"), col("rx"))).as("cos_sim"))
    Similarity.topKByCosine(pairs, 3).withColumnRenamed("cos_sim", "adc_sim")
  }

  def all: Seq[Q] = Seq(qPqAdc)
}
