package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._
import graft.functions.VectorFunctions

/** Similarity search over the embeddings table (SURVEY.md §2.F F3–F5).
  *
  * Brute-force all-pairs cosine is the correctness baseline; at 100 TB the
  * designed-for-scale paths are the bucketed ones (IVF cells / LSH bands)
  * where candidate generation is an equi-join on a bucket key — a shuffle
  * on a small key space — instead of a cartesian product. All dot products
  * go through the codegen'd FloatVecDot expression (35 s → ~1 s at sf0.1
  * vs SQL lambdas, BASELINE.md).
  */
object Similarity {

  private def dot(a: Column, b: Column): Column = call_function("fvec_dot", a, b)

  /** Per-group top-k of (q_id, n_id, cos_sim) rows ranked (cos DESC,
    * n_id ASC), emitted with a 1-based `rn` — the bounded-heap
    * `collect_top_k` shape q_f4 proved out, shared by every ANN candidate
    * ranker: a ranking window shuffles AND SORTS every candidate row per
    * query partition (a hot LSH bucket inflates exactly that partition),
    * while the heap keeps k rows per query through a map-side partial
    * aggregate. The heap retains the k LARGEST under struct ordering, so
    * (cos, -n_id) ≡ (cos DESC, n_id ASC) = the oracle's row_number order;
    * sort_array(desc) puts the survivors in rank order.
    */
  private[graft] def topKByCosine(cands: DataFrame, k: Int): DataFrame =
    cands
      .select(col("q_id"),
        struct(col("cos_sim"), (-col("n_id")).as("negid"), col("n_id")).as("p"))
      .groupBy(col("q_id"))
      .agg(call_function("collect_top_k", col("p"), lit(k), lit(false)).as("top"))
      .select(col("q_id"), posexplode(sort_array(col("top"), asc = false)).as(Seq("pos", "p")))
      .select(col("q_id"), col("p.n_id").as("n_id"), col("p.cos_sim").as("cos_sim"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy(col("q_id"), col("rn"))

  /** vec_id, emb, nrm — norms computed once, before any pairing. */
  private def normed(s: SparkSession, d: String): DataFrame =
    normedOf(s, embeddings(s, d))

  /** Spread a small scan across the session's shuffle parallelism before
    * an n² pair join: a tiny parquet corpus arrives as ONE input split,
    * and a nested-loop join streams its non-broadcast side with the
    * input's parallelism — one thread grinding n²/2 dot products (the
    * round-12 finding in BASELINE.md: q_f4's 2.0 s wall and worst-in-suite
    * spread were mostly this starvation). The partition count must be
    * EXPLICIT: AQE coalesces a bare repartition(col) of a tiny input
    * right back to one partition — its cost model sees bytes, not the n²
    * work each row fans into downstream. At real corpus sizes the scan
    * already has splits and this one extra tiny shuffle is noise.
    */
  private def spread(s: SparkSession, df: DataFrame): DataFrame =
    df.repartition(
      s.conf.get("spark.sql.shuffle.partitions", "32").toInt, col("vec_id"))

  private def normedOf(s: SparkSession, emb: DataFrame): DataFrame = {
    VectorFunctions.register(s)
    emb.select(
      col("vec_id"),
      col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
  }

  private def side(df: DataFrame, p: String): DataFrame =
    df.select(col("vec_id").as(s"${p}_id"), col("embedding").as(s"${p}_emb"),
      col("nrm").as(s"${p}_nrm"))

  private val oracleNormed =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (SELECT vec_id, emb, sqrt(list_inner_product(emb, emb)) AS nrm FROM e)""".stripMargin

  // F3: brute-force global top-k most-similar pairs. Cosine values are
  // off-grid irrationals → floor-truncated at 1e-4 on both engines, and the
  // ORDER BY uses the truncated value so top-k selection is deterministic.
  val qCosineTopk = Q(
    "q_f3_cosine_topk",
    s"""$oracleNormed
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |       floor(list_inner_product(a.emb, b.emb)/(a.nrm*b.nrm)*10000)/10000 AS cos_sim
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |ORDER BY cos_sim DESC, a_id, b_id
      |LIMIT 20""".stripMargin) { (s, d) =>
    val n = spread(s, normed(s, d))
    side(n, "a").join(side(n, "b"), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        trunc4(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm"))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))
      .limit(20)
  }

  // F3 variant: embedding-cosine near-duplicate pairs above a threshold.
  val qCosineNeardup = Q(
    "q_f3_cosine_neardup",
    s"""$oracleNormed
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |       floor(list_inner_product(a.emb, b.emb)/(a.nrm*b.nrm)*10000)/10000 AS cos_sim
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |WHERE list_inner_product(a.emb, b.emb)/(a.nrm*b.nrm) >= 0.35
      |ORDER BY cos_sim DESC, a_id, b_id
      |LIMIT 100""".stripMargin) { (s, d) =>
    val n = spread(s, normed(s, d))
    side(n, "a").join(side(n, "b"), col("a_id") < col("b_id"))
      .withColumn("raw", dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")))
      .filter(col("raw") >= 0.35)
      .select(col("a_id"), col("b_id"), trunc4(col("raw")).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))
      .limit(100)
  }

  // F4: per-item k nearest neighbors (k=3) — ranking window over the pair
  // matrix, self excluded.
  val qKnn = Q(
    "q_f4_knn",
    s"""$oracleNormed,
      |p AS (
      |  SELECT a.vec_id AS q_id, b.vec_id AS n_id,
      |         floor(list_inner_product(a.emb, b.emb)/(a.nrm*b.nrm)*10000)/10000 AS cos_sim
      |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
      |r AS (SELECT q_id, n_id, cos_sim,
      |             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
      |      FROM p)
      |SELECT q_id, n_id, cos_sim, rn FROM r WHERE rn <= 3
      |ORDER BY q_id, rn""".stripMargin) { (s, d) =>
    // [[spread]]: the previous 2.0 s wall (and its 0.8 s spread, the
    // suite's worst) was mostly the 1-split scan starving the pair join
    // — BASELINE.md round 12: every mirror variant ~0.6 s warm once spread.
    val n = spread(s, normed(s, d))
    // each unordered pair's dot product is computed once (a < b), then
    // mirrored — cosine is symmetric, so this halves the expensive half
    // of the plan before the rank.
    val half = side(n, "a").join(side(n, "b"), col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        trunc4(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm"))).as("cos_sim"))
    // per-group top-3 via the bounded-heap collect_top_k aggregate instead
    // of a ranking window: the window shuffles AND SORTS all |pairs| rows
    // per partition; the heap keeps k rows per group through a partial
    // (map-side) aggregate — at n vectors that's k·n retained rows vs an
    // n² sort, the difference that matters at cluster scale. The heap
    // retains the k LARGEST under struct ordering, so (cos, -n_id) ≡
    // (cos DESC, n_id ASC) = the oracle's row_number ordering; the final
    // sort_array(desc) puts the 3 survivors in rank order.
    // mirror via a single-pass explode(array(struct,struct)): the pair
    // join runs ONCE. Round 3 measured the two-branch union faster and
    // blamed the Generate for breaking codegen — that comparison was
    // confounded by the same 1-partition starvation; re-measured with the
    // scan parallelized (BASELINE.md round 12), the single-pass mirror wins
    // at 2k (0.55 vs 0.60 s warm) and clearly at 10k vectors (8–11 s vs
    // 10–19 s for union / 9–16 s for a persisted half-join), because not
    // recomputing the n² join dominates the Generate's interpreted row.
    half.select(explode(array(
        struct(col("a_id").as("q_id"), col("b_id").as("n_id"), col("cos_sim")),
        struct(col("b_id").as("q_id"), col("a_id").as("n_id"), col("cos_sim")))).as("m"))
      .select(col("m.q_id").as("q_id"), col("m.n_id").as("n_id"),
        col("m.cos_sim").as("cos_sim"))
      .select(col("q_id"),
        struct(col("cos_sim"), (-col("n_id")).as("negid"), col("n_id")).as("p"))
      .groupBy(col("q_id"))
      .agg(call_function("collect_top_k", col("p"), lit(3), lit(false)).as("top"))
      .select(col("q_id"), posexplode(sort_array(col("top"), asc = false)).as(Seq("pos", "p")))
      .select(col("q_id"), col("p.n_id").as("n_id"), col("p.cos_sim").as("cos_sim"),
        (col("pos") + 1).cast("long").as("rn"))
      .orderBy(col("q_id"), col("rn"))
  }

  // F5 (oracle-graded scale path): IVF-style ANN. Deterministic "centroids"
  // = the first 8 vectors; every vector is assigned to its nearest centroid
  // (one small broadcast join), then queries only search their own cell —
  // candidate generation becomes an equi-join on cell id. At 100 TB the
  // centroid set comes from k-means sampling, but the plan shape (broadcast
  // assign + bucket equi-join) is exactly this.
  val qIvfAnn = Q(
    "q_f5_ivf_ann",
    s"""$oracleNormed,
      |cent AS (SELECT vec_id AS c_id, emb AS c_emb, nrm AS c_nrm FROM n WHERE vec_id < 8),
      |assign AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT n.vec_id, cent.c_id AS cell,
      |           row_number() OVER (PARTITION BY n.vec_id
      |             ORDER BY floor(list_inner_product(n.emb, cent.c_emb)/(n.nrm*cent.c_nrm)*10000)/10000 DESC,
      |                      cent.c_id) AS rn
      |    FROM n CROSS JOIN cent)
      |  WHERE rn = 1),
      |pairs AS (
      |  SELECT qa.vec_id AS q_id, nb.vec_id AS n_id,
      |         floor(list_inner_product(na.emb, nb.emb)/(na.nrm*nb.nrm)*10000)/10000 AS cos_sim
      |  FROM assign qa
      |  JOIN assign ab ON qa.cell = ab.cell AND qa.vec_id <> ab.vec_id
      |  JOIN n na ON na.vec_id = qa.vec_id
      |  JOIN n nb ON nb.vec_id = ab.vec_id
      |  WHERE qa.vec_id < 10),
      |r AS (SELECT q_id, n_id, cos_sim,
      |             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
      |      FROM pairs)
      |SELECT q_id, n_id, cos_sim, rn FROM r WHERE rn <= 3
      |ORDER BY q_id, rn""".stripMargin) { (s, d) =>
    // no cache: the base is a 2-column parquet scan + one codegen'd dot —
    // cheaper to recompute per use than to pin executor memory for the
    // rest of the session (a .cache() here is never unpersisted because
    // the frame is returned lazily)
    val n = normed(s, d)
    val cent = n.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"), col("nrm").as("c_nrm"))
    // nearest-centroid assignment as an ARGMAX aggregate, not a ranking
    // window: max_by over the (trunc4(dot), -c_id) struct picks the same
    // (dot DESC, c_id ASC) winner the oracle's row_number does — the key
    // struct is unique per (vector, centroid), so the pick is
    // deterministic — and the map-side partial collapses the ×|centroids|
    // fan-out before any shuffle, where the window shuffled and sorted it
    val assign = n.crossJoin(broadcast(cent))
      .withColumn("c_dot", dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"), struct(trunc4(col("c_dot")), (-col("c_id")).as("ni"))).as("cell"))
    val qs = assign.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("cell"))
    val cands = assign.select(col("vec_id").as("n_id"), col("cell"))
    topKByCosine(
      qs.join(cands, Seq("cell")).filter(col("q_id") =!= col("n_id"))
        .join(n.select(col("vec_id").as("q_id"), col("embedding").as("a_emb"), col("nrm").as("a_nrm")), Seq("q_id"))
        .join(n.select(col("vec_id").as("n_id"), col("embedding").as("b_emb"), col("nrm").as("b_nrm")), Seq("n_id"))
        .select(col("q_id"), col("n_id"),
          trunc4(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm"))).as("cos_sim")),
      k = 3)
  }

  // F5 (no oracle): banded random-hyperplane LSH near-dup candidates.
  // 16 signed hyperplanes (deterministic hash-derived ±1 components) give a
  // 16-bit signature split into 4 bands of 4 bits; pairs sharing any band
  // bucket are candidates, then verified with exact cosine. Candidate
  // generation is an equi-join on (band, 4-bit key) — at 100 TB this is the
  // shape that replaces the cartesian product. Recall vs brute force is
  // property-tested in ScalaTest (xxhash64 planes have no DuckDB twin).
  val qLshNeardup = Q.noOracle("q_f5_lsh_neardup") { (s, d) =>
    lshCandidates(s, embeddings(s, d), minCos = 0.35)
  }

  /** Default hyperplane count for the banded sign-LSH paths: 64 (one
    * long of sign bits) — the value the ann100k stress proved at corpus
    * scale. More planes = more bands at a given width = recall.
    */
  val DefaultPlanes: Int = 64

  /** Sentinel `bandBits` value: derive the band width from the corpus
    * size at call time (see [[autoBandBits]]).
    */
  val AutoBandBits: Int = 0

  /** Corpus-sized band width: the smallest divisor of `nPlanes` at or
    * above max(4, ⌈log₂ n⌉ − 4), capped at min(nPlanes, 32).
    *
    * Rationale: a band of b bits hashes into 2^b buckets, so the expected
    * bucket population is n / 2^b and the candidate join's output is
    * ~n² / 2^b per band — b must GROW with log₂ n or the join degenerates
    * toward all-pairs (the round-7 ann100k stress measured exactly that:
    * 4-bit keys = 16 buckets per band collapse at 100k vectors; 16-bit
    * bands keep ~1.5 rows per bucket). ⌈log₂ n⌉ − 4 targets ~16 expected
    * rows per bucket from RANDOM collisions (true near-dups still pile up
    * together — that's the output, not overhead); the floor of 4 keeps
    * small corpora at the recall-friendly narrow bands, and divisibility
    * keeps the shift/mask band extraction exact. At the 64-plane default:
    * n ≤ ~250 → 4 bits (16 bands), n = 100k → 16 bits (4 bands, the
    * proven ann100k config), n = 100M → 32 bits (2 bands).
    */
  def autoBandBits(n: Long, nPlanes: Int): Int = {
    val ceilLog2 = if (n <= 2) 1 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    val target = math.min(math.max(4, ceilLog2 - 4), math.min(nPlanes, 32))
    (target to nPlanes).find(nPlanes % _ == 0).getOrElse(math.min(nPlanes, 32))
  }

  /** Banded sign-LSH candidate pairs over any (vec_id, embedding) frame,
    * verified with exact cosine ≥ minCos.
    *
    * The signature is ONE codegen'd `sign_lsh_bits` pass per row
    * (round 3) — the previous posexplode → broadcast-join(planes) →
    * groupBy ×2 pipeline shuffled dim × nPlanes rows per vector twice just
    * to compute signs. Now the only shuffle in the pipeline is the
    * (band, bandBits-key) equi-join itself — the property that matters at
    * 100 TB, and the same shape as the MinHash banding.
    *
    * Recall/scale knobs: a pair with cosine θ collides in one band with
    * probability (1 − arccos(θ)/π)^bandBits — narrower bands and more of
    * them buy recall, wider bands keep the candidate join sparse as the
    * corpus grows. By DEFAULT `bandBits` is derived from the corpus size
    * ([[autoBandBits]] via `emb.count()` at call time), because a fixed
    * small-corpus width silently degenerates toward all-pairs at 100k+
    * vectors (round-7 verdict #1). Cost of that count: metadata-cheap on
    * a parquet-backed `emb` (row-group counts, no data read), but a FULL
    * extra execution of the upstream plan when `emb` is derived — at
    * corpus scale a derived-frame caller has three outs, in preference
    * order: pass `nHint` (a known or estimated row count — only ⌈log₂ n⌉
    * matters, and an UPPER bound errs toward wider/sparser bands, the
    * safe direction), pass an explicit `bandBits`, or cache/checkpoint
    * the frame before calling. SimilaritySpec measures the
    * moderate-threshold recall gap at minCos = 0.35 rather than
    * asserting it away. `nPlanes` ≤ 64 (one long), `bandBits` must
    * divide `nPlanes`; `nHint` ≤ 0 means "not provided".
    */
  def lshCandidates(s: SparkSession, emb: DataFrame, minCos: Double,
      nPlanes: Int = DefaultPlanes, bandBits: Int = AutoBandBits,
      nHint: Long = 0L, ordered: Boolean = true): DataFrame = {
    VectorFunctions.register(s)
    val bb =
      if (bandBits != AutoBandBits) bandBits
      else autoBandBits(if (nHint > 0) nHint else emb.count(), nPlanes)
    require(nPlanes > 0 && nPlanes <= 64 && bb > 0 && bb <= 32 &&
      nPlanes % bb == 0,
      s"need 0 < bandBits <= 32, bandBits | nPlanes <= 64; got nPlanes=$nPlanes bandBits=$bb")
    val n = emb.select(col("vec_id"), col("embedding"),
      call_function("sign_lsh_bits", col("embedding"), lit(nPlanes)).as("bits"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val bands = n.select(col("vec_id"), col("embedding"), col("nrm"),
      posexplode(array((0 until nPlanes / bb).map(b =>
        shiftright(col("bits"), b * bb).bitwiseAND(lit((1L << bb) - 1))): _*))
        .as(Seq("band", "bkey")))
    val a = bands.select(col("vec_id").as("a_id"), col("band"), col("bkey"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = bands.select(col("vec_id").as("b_id"), col("band"), col("bkey"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val verified = a.join(b, Seq("band", "bkey")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        trunc4(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm"))).as("cos_sim"))
      .distinct()
      .filter(col("cos_sim") >= minCos)
    // `ordered = false` for plan-internal consumers (the CC edge feed):
    // the global sort is presentation-only and would otherwise be paid
    // inside the component loop's edge materialization
    if (ordered) verified.orderBy(col("cos_sim").desc, col("a_id"), col("b_id"))
    else verified
  }

  /** A fitted IVF index: the per-vector cell assignment and the centroid
    * table produced by [[ivfFit]], reusable across any number of
    * [[ivfProbe]] calls. The k-means fit (the expensive, iterative part)
    * runs exactly once, at fit time; probes only pay the broadcast
    * centroid ranking plus the cell equi-join. For repeated probing call
    * [[cached]] first so the assignment scan isn't re-derived from the
    * input frame on every probe (the caller owns the unpersist).
    */
  final case class IvfFitted(assigned: DataFrame, centroids: DataFrame, k: Int) {
    def cached(): IvfFitted = copy(assigned = assigned.cache())

    /** Persist the fitted index as two parquet tables (`assigned/`,
      * `centroids/`) under `dir`. With [[ivfLoad]] this is the
      * cross-job serving shape: at corpus scale the k-means fit runs in
      * ONE indexing job and every query batch — in other Spark jobs, on
      * other days — probes the saved tables. A loaded index is strictly
      * better than a derived in-memory one for member probes: `assigned`
      * becomes a plain columnar scan, so [[ivfProbe]]'s `queryPred`
      * pushes down to the parquet reader instead of filtering a
      * recomputed plan.
      *
      * The assignment table is PARTITIONED BY CELL (round 10): with the
      * probe side broadcast (the [[DefaultMaxBroadcastProbes]] guard),
      * Spark's dynamic partition pruning turns the candidate equi-join
      * into a scan of ONLY the probed cells — a 2.5%-fraction probe of a
      * 100 TB index reads ~2.5% of it instead of all of it, which is
      * the scan-side half of what an inverted file IS. At corpus scale
      * every cell is many parquet files of GBs; `partitioned = false`
      * opts back into the round-9 flat layout (e.g. for tiny indexes
      * where k directories outweigh the data).
      */
    def save(dir: String, partitioned: Boolean = true): Unit = {
      // the repartition is the one-off indexing-job shuffle that lays
      // each cell out contiguously — without it every write task emits
      // a file per cell it happens to hold (tasks × k small files)
      if (partitioned)
        assigned.repartition(col("cell")).write.mode("overwrite")
          .partitionBy("cell").parquet(s"$dir/assigned")
      else assigned.write.mode("overwrite").parquet(s"$dir/assigned")
      centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    }
  }

  /** Re-open an index persisted by [[IvfFitted.save]] — the cross-job
    * serving shape: one indexing job fits and saves, later jobs load and
    * probe at probe cost. `k` is recovered from the centroid table's row
    * count (k rows — a parquet-footer count, no shuffle). No k-means work
    * happens here or in any subsequent probe.
    */
  def ivfLoad(s: SparkSession, dir: String): IvfFitted = {
    // the load-then-probe session never went through ivfFit, so the
    // probe plan's temp functions (fvec_dot, collect_top_k) must be
    // registered HERE — a fresh job's first contact with the index
    VectorFunctions.register(s)
    val centroids = s.read.parquet(s"$dir/centroids")
    IvfFitted(s.read.parquet(s"$dir/assigned"), centroids, centroids.count().toInt)
  }

  /** Count of k-means fits since JVM start — lets the one-fit-many-probes
    * contract be asserted in tests (the F22 accumulator pattern applied to
    * the fit path) rather than taken on faith from the API shape.
    */
  private[graft] val kmeansFitCount = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Default k-means fit-sample bound (rows). The round-9 `ivf1m`
    * measurement (BASELINE.md) made the case: at 1M vectors the FULL
    * fit is 1,210 s and decade-dominant (probes are 5–7 s) and the
    * iterative k-means jobs are largely driver-bound — while centroid
    * QUALITY needs only a sample, not the corpus. Like [[autoNprobe]],
    * the measured lesson lives in the default: callers at corpus scale
    * who never read the knob get a bounded fit; sub-bound corpora are
    * untouched (the sample is the whole corpus — bit-identical fit).
    */
  val DefaultFitSample: Long = 100000L

  /** Fit the IVF cell structure: MLlib KMeans (seeded) fits `k` cells and
    * every vector is assigned to its nearest cell. This is the expensive
    * half of IVF — the iterative k-means jobs run HERE, eagerly, exactly
    * once — and the returned [[IvfFitted]] amortizes it across query
    * batches via [[ivfProbe]], the serving-shaped use IVF exists for.
    *
    * Sampled fit (round 10): the ITERATIVE k-means passes run on a
    * bounded deterministic sample — rows whose `xxhash64(vec_id)` falls
    * under `max(fitSample, 10·k) / n` (the q25 hash pattern: same rows
    * every run, engine, partitioning, cluster size; the `10·k` floor
    * keeps every cell ≥ ~10 expected fit points) — and the FULL corpus
    * is then assigned in ONE non-iterative broadcast-centroid pass
    * (`model.transform`). `fitSample <= 0` forces the full-corpus fit;
    * any `fitSample >= n` is equivalent to it (no filter is planned at
    * all). `nHint` (the F21 pattern) supplies `n` so derived-frame
    * callers skip the sizing `count()` — a count job is noise next to a
    * fit, but not free when the input frame re-executes an upstream
    * pipeline. Refit vs [[ivfAssign]]: appends reuse these centroids;
    * refit when the appended volume rivals the fitted corpus (see
    * [[ivfAssign]]).
    *
    * Fit-cost knobs (round 10): `fitMaxIter` caps the Lloyd iterations
    * (MLlib's default 20; cell ROUTING quality saturates well before
    * convergence-grade centroids — the measured row in BASELINE.md holds
    * recall at the 2.5% nprobe fraction with `fitMaxIter = 10` for a
    * ~1.5× cheaper fit) and `fitInitMode` selects `"k-means||"` (MLlib
    * default — its init is itself multiple distributed passes plus
    * driver work at large k) or `"random"`. Defaults match MLlib
    * exactly; both knobs only shape WHERE the centroids land, never the
    * assignment semantics, and determinism holds for any fixed setting.
    */
  def ivfFit(s: SparkSession, emb: DataFrame, k: Int,
      fitSample: Long = DefaultFitSample, nHint: Long = 0L,
      fitMaxIter: Int = 20, fitInitMode: String = "k-means||"): IvfFitted = {
    VectorFunctions.register(s)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feat = emb.withColumn("features",
      array_to_vector(transform(col("embedding"), _.cast("double"))))
    val fitRows =
      if (fitSample <= 0) feat
      else {
        val n = if (nHint > 0) nHint else emb.count()
        val target = math.max(fitSample, 10L * k)
        if (target >= n) feat
        else feat.filter(
          pmod(xxhash64(col("vec_id")), lit(1000000L)) <
            lit(math.ceil(target.toDouble / n * 1000000L).toLong))
      }
    kmeansFitCount.incrementAndGet()
    val model = new KMeans().setK(k).setSeed(42L).setFeaturesCol("features")
      .setMaxIter(fitMaxIter).setInitMode(fitInitMode).fit(fitRows)
    val assigned = model.transform(feat)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
    val centroids = s.createDataFrame(model.clusterCenters.zipWithIndex.map {
      case (c, i) => (i, c.toArray.map(_.toFloat))
    }.toSeq).toDF("c_cell", "c_emb")
    IvfFitted(assigned, centroids, k)
  }

  /** Append NEW vectors to an existing fitted index WITHOUT a refit —
    * the growing-corpus serving shape the [[IvfFitted.save]]/[[ivfLoad]]
    * split implies: an indexing job fits once, and ingest batches assign
    * themselves against the frozen centroid table forever after. The
    * assignment is the same non-iterative pass k-means itself ends with:
    * per vector, argmin over the BROADCAST centroids of the Euclidean
    * distance — computed as `|c|² − 2·v·c` (`|v|²` is constant per row),
    * with `|c|²` evaluated once per centroid BEFORE the broadcast — via
    * the bounded-heap `collect_top_k(1)` (negated-struct key: min cost,
    * tie → min cell, matching MLlib's lowest-index tie-break). No
    * k-means work, no shuffle beyond the per-vector groupBy.
    *
    * WHEN TO REFIT instead: the centroids never move, so appended mass
    * degrades the index as drift accumulates — cells grow unbalanced
    * (probe cost skews) and recall decays if the new vectors'
    * distribution differs from the fitted corpus. Rule of thumb: refit
    * once appended volume rivals a meaningful fraction (~20%+) of the
    * fitted corpus or measured recall drops below target; with the
    * round-10 sampled fit a refit costs ~one bounded k-means regardless
    * of corpus size, so refitting is cheap insurance, not a 1,210 s
    * penance.
    */
  def ivfAssign(fitted: IvfFitted, newVecs: DataFrame): IvfFitted = {
    VectorFunctions.register(newVecs.sparkSession)
    fitted.copy(assigned =
      fitted.assigned.unionByName(assignCells(fitted.centroids, newVecs)))
  }

  /** The non-iterative assignment pass both [[ivfAssign]] and
    * [[Pq.ivfPqAssign]] append with: per vector, argmin over the
    * BROADCAST centroids of `|c|² − 2·v·c` via the bounded-heap
    * `collect_top_k(1)` (negated-struct key — min cost, tie → min cell,
    * MLlib's lowest-index tie-break). Returns (vec_id, embedding, cell).
    */
  private[graft] def assignCells(centroids: DataFrame, newVecs: DataFrame): DataFrame = {
    val cent = centroids
      .withColumn("c_nrm2", dot(col("c_emb"), col("c_emb")))
    newVecs
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cent))
      .withColumn("cost", col("c_nrm2") - lit(2.0) * dot(col("embedding"), col("c_emb")))
      .select(col("vec_id"), col("embedding"),
        struct((-col("cost")).as("ncost"), (-col("c_cell")).as("ncell"), col("c_cell")).as("p"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        call_function("collect_top_k", col("p"), lit(1), lit(false)).as("top"))
      .select(col("vec_id"), col("embedding"), col("top").getItem(0).getField("c_cell").as("cell"))
  }

  /** Per-query nprobe nearest cells for any (vec_id, embedding) query
    * frame — the same bounded-heap aggregate shape as the final ranking
    * (the heap keeps the k LARGEST, so the key is the NEGATED (dist,
    * cell) pair: max(-dist) = min dist, tie → max(-cell) = min cell,
    * matching the old window's (dist ASC, cell ASC)); the query's
    * embedding rides the groupBy as a first() aggregate, identical
    * across its centroid rows.
    */
  private[graft] def probeCells(centroids: DataFrame, qvecs: DataFrame,
      nprobe: Int): DataFrame =
    qvecs
      .crossJoin(broadcast(centroids))
      .withColumn("c_dist", -dot(col("embedding"), col("c_emb")))
      .select(col("vec_id"), col("embedding"),
        struct((-col("c_dist")).as("nd"), (-col("c_cell")).as("nc"), col("c_cell")).as("p"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("q_emb"),
        call_function("collect_top_k", col("p"), lit(nprobe), lit(false)).as("top"))
      .select(col("vec_id").as("q_id"), col("q_emb"), explode(col("top.c_cell")).as("cell"))

  /** Max probed rows (queries × nprobe) the candidate join will BROADCAST
    * (round 10). The probe side of [[rankProbed]]'s cell equi-join is
    * |queries|·nprobe rows carrying one query embedding each — for a
    * serving batch that is MBs, and broadcasting it leaves the corpus
    * side entirely un-shuffled (map-side hash join against the assigned
    * scan). Without the hint, Catalyst estimates the aggregate-derived
    * probe side pessimistically and falls back to a sort-merge join that
    * SHUFFLES THE WHOLE CORPUS on `cell` — k distinct keys, skewed, per
    * probe batch; measured at 1M vectors / k=1000 / nprobe 25 off a
    * saved index: 27.4 s SMJ vs 6.2 s broadcast (BASELINE.md round 10) —
    * the exact shuffle IVF exists to avoid. 200k rows ≈ 50 MB at dim 64
    * (bytes ≈ rows × 4·dim, so wide embeddings want a lower cap).
    * Queries above the cap keep the planner's choice — a corpus-sized
    * query batch amortizes its shuffle and must not be driver-broadcast.
    */
  val DefaultMaxBroadcastProbes: Long = 200000L

  /** The broadcast decision, factored for testability: broadcast iff the
    * guard is enabled and `nQueries · nprobe <= maxProbes` (division
    * form — no overflow on huge counts). */
  private[graft] def shouldBroadcastProbes(nQueries: Long, nprobe: Int,
      maxProbes: Long): Boolean =
    maxProbes > 0 && nQueries <= maxProbes / math.max(1, nprobe)

  /** The probe-side broadcast guard of every probe entry point: the
    * query count when the probe side is to be broadcast, else None. The
    * [[DefaultMaxBroadcastProbes]] budget first, then the free
    * parallelism veto, then the sizing — `qHint` when the caller knows
    * the batch size (the fit's nHint pattern), else ONE count of
    * `queries` with the predicate pushed to the index scan. */
  private[graft] def broadcastProbes(assigned: DataFrame, queries: DataFrame,
      nprobe: Int, qHint: Long): Option[Long] = {
    val cap = DriverPull.budget(DefaultMaxBroadcastProbes)
    if (cap <= 0 || !adequateStreamParallelism(assigned)) None
    else Some(if (qHint > 0) qHint else queries.count())
      .filter(shouldBroadcastProbes(_, nprobe, cap))
  }

  /** Broadcasting the probe side streams the corpus AT ITS EXISTING
    * partitioning — which is the whole point (no corpus shuffle) when
    * that partitioning is parallel (any real saved index: parquet splits
    * by maxPartitionBytes; any 100 TB frame), and a trap when it is not:
    * a corpus built from one small file plans 1–2 partitions, and the
    * forced broadcast pins the candidate join + ranking to those few
    * cores where the sort-merge shuffle would have re-parallelized it
    * (measured at 1M vectors / nprobe 25: 27.8 s pinned vs 5.5 s
    * shuffled). Rule: the corpus side must bring at least a QUARTER of
    * the shuffle parallelism for the broadcast to win — below that, the
    * shuffle's parallelism gain repays shuffling the corpus.
    */
  private[graft] def adequateStreamParallelism(assigned: DataFrame): Boolean = {
    val shufflePartitions = assigned.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    assigned.rdd.getNumPartitions.toLong * 4L >= shufflePartitions.toLong
  }

  /** Exact-cosine top-`topK` among a probe frame's cell candidates. */
  private def rankProbed(fitted: IvfFitted, probes: DataFrame, topK: Int,
      excludeSelf: Boolean, broadcastProbes: Boolean): DataFrame = {
    val probeSide = if (broadcastProbes) broadcast(probes) else probes
    val cands = probeSide
      .join(fitted.assigned.select(col("vec_id").as("n_id"),
        col("embedding").as("n_emb"), col("cell")), Seq("cell"))
    val filtered = if (excludeSelf) cands.filter(col("q_id") =!= col("n_id")) else cands
    // no distinct(): every corpus vector lives in exactly ONE cell and
    // probeCells emits unique (q_id, cell) rows, so candidate pairs are
    // unique by construction — a dedup here (vestigial from the first
    // IVF cut) shuffled the entire candidate set to remove nothing
    topKByCosine(
      filtered
        .select(col("q_id"), col("n_id"),
          trunc4(dot(col("q_emb"), col("n_emb")) /
            (sqrt(dot(col("q_emb"), col("q_emb"))) * sqrt(dot(col("n_emb"), col("n_emb"))))).as("cos_sim")),
      k = topK)
  }

  /** Default probed-cell count for a k-cell index: AT LEAST 2.5% of
    * cells, floor 8. The fraction is the scaling variable — holding a
    * fixed COUNT while k grows collapses recall (measured at 1M/k=1000:
    * 0.725 at nprobe 8 = 0.8% of cells vs 0.9905 at nprobe 25 = the
    * 2.5% the 100k run probed; BASELINE.md). The fraction is a floor on
    * sane behavior, not a recall guarantee: recall at a fixed fraction
    * still depends on how cell boundaries fall across the query's true
    * neighbors (2.5% measured 0.87@100k but 0.99@1M on the planted
    * corpora; 10% of cells bought 0.9965 at 100k) — raise nprobe when
    * the recall target demands it. For small k the floor dominates
    * (k <= 8 probes every cell — exhaustive and exact, cheap at that
    * size). Like [[autoBandBits]] for LSH bands, the measured scaling
    * lesson lives in the default, not in a doc the caller has to read.
    */
  def autoNprobe(k: Int): Int = math.max(8, math.ceil(k * 0.025).toInt)

  /** `nprobe <= 0` → [[autoNprobe]]; the single resolution point for
    * both probe entry points. */
  private def resolveNprobe(fitted: IvfFitted, nprobe: Int): Int =
    if (nprobe > 0) nprobe else autoNprobe(fitted.k)

  /** Probe a fitted IVF index: corpus-member queries selected by
    * `queryPred` search their own cell plus the `nprobe - 1`
    * next-nearest cells — candidate generation stays an equi-join on
    * cell id, the property that scales. Returns per-query top-`topK`
    * neighbors by exact cosine among probed candidates (self excluded).
    * `nprobe <= 0` (the default) resolves to [[autoNprobe]] of the
    * index's cell count. No k-means work happens here; call repeatedly
    * against one [[ivfFit]] result.
    */
  def ivfProbe(fitted: IvfFitted, queryPred: Column, nprobe: Int = 0,
      topK: Int = 10, qHint: Long = 0L): DataFrame = {
    VectorFunctions.register(fitted.assigned.sparkSession)
    val np = resolveNprobe(fitted, nprobe)
    val queries = fitted.assigned.filter(queryPred)
      .select(col("vec_id"), col("embedding"))
    rankProbed(fitted, probeCells(fitted.centroids, queries, np), topK,
      excludeSelf = true,
      broadcastProbes = broadcastProbes(fitted.assigned, queries, np, qHint).isDefined)
  }

  /** Probe a fitted IVF index with ARBITRARY query vectors — a
    * (q_id, embedding) frame whose rows need NOT be corpus members: the
    * serving-lookup / cross-corpus shape the operator doc names as where
    * IVF beats LSH (an external query has no corpus row to share an LSH
    * band with). `q_id` must be UNIQUE per query vector — cell ranking
    * groups by it, so two rows sharing an id would have their centroid
    * distances mixed and one embedding silently chosen. Cells are
    * ranked per query against the broadcast centroid table exactly as
    * member probes are; candidates come from the same cell equi-join.
    * No self-exclusion — an external query has no self row, and a
    * member vector passed here simply ranks itself first at cosine 1.
    * `nprobe <= 0` (the default) resolves to [[autoNprobe]].
    *
    * The `q_id`-unique contract is GUARDED, not assumed (round-10
    * ADVICE): duplicate ids would silently mix centroid distances
    * across rows while `first()` picks one embedding — wrong neighbors
    * with no error. `dropDuplicates("q_id")` makes a duplicated id
    * resolve to ONE (arbitrary but self-consistent) embedding instead;
    * `assertUnique = true` fails fast on the first duplicate (one extra
    * count job — the debug/test mode).
    */
  def ivfProbeVectors(fitted: IvfFitted, queries: DataFrame, nprobe: Int = 0,
      topK: Int = 10, assertUnique: Boolean = false, qHint: Long = 0L): DataFrame = {
    VectorFunctions.register(queries.sparkSession)
    val q = queries.select(col("q_id").as("vec_id"), col("embedding"))
    if (assertUnique) {
      val dups = q.groupBy("vec_id").count().filter(col("count") > 1).count()
      require(dups == 0L, s"ivfProbeVectors: $dups duplicate q_id value(s) — " +
        "each query vector needs a unique id (cell ranking groups by it)")
    }
    val np = resolveNprobe(fitted, nprobe)
    // the sizing count runs on the RAW frame (an upper bound — counting
    // the deduplicated one would execute the dedup shuffle twice)
    rankProbed(fitted,
      probeCells(fitted.centroids, q.dropDuplicates("vec_id"), np),
      topK, excludeSelf = false,
      broadcastProbes = broadcastProbes(fitted.assigned, q, np, qHint).isDefined)
  }

  /** One-shot IVF ANN: [[ivfFit]] + [[ivfProbe]] in a single call — the
    * shape for a single query batch. When probing the same corpus with
    * MANY batches, fit once and probe repeatedly instead; the fit is the
    * dominant cost and this wrapper pays it every call.
    *
    * Recall is structural, not certain: cell BOUNDARIES can split even
    * near-identical vectors into cells a query never probes, and `nprobe`
    * is the knob — measured at 100k vectors (BASELINE.md round-8 IVF
    * table): recall@49 0.87 at k=√n/nprobe=8 → 0.9965 at nprobe=32 for
    * +26% wall. `nprobe <= 0` resolves to [[autoNprobe]] (the measured
    * ~2.5%-of-cells default). Prefer [[lshCandidates]] for corpus-member
    * near-dup work; IVF wins when queries are not corpus members or the
    * cell fit is reused across many query batches (via
    * [[ivfFit]]/[[ivfProbe]]).
    */
  def ivfKMeans(s: SparkSession, emb: DataFrame, k: Int, nprobe: Int,
      topK: Int, queryPred: Column): DataFrame =
    ivfProbe(ivfFit(s, emb, k), queryPred, nprobe, topK)

  /** Vector corpora at or under this many total floats ride the
    * `cos_edges_above` kernel path in [[exactCosineEdges]] — the table
    * ships as a driver-held literal (≤ ~2 MB plan payload, the
    * prefix_top_values / kmeans_best_q budget class). Larger corpora
    * keep the nested-loop join, which is the honest shape when the
    * reference no longer belongs in the plan — and at genuine corpus
    * scale the brute-force build is the wrong operator anyway
    * ([[semanticClusters]]' useLsh path is the 100 TB shape). */
  val MaxCosKernelFloats: Long = 1L << 19

  /** Exact brute-force cosine near-dup edge list (a_id < b_id, cosine ≥
    * minCos) — the correctness-baseline edge source for [[semanticClusters]].
    *
    * Optimization round 21 (§1.2 — fix the per-pair work): corpora that
    * fit the bounded-literal budget stream ONCE through the
    * `cos_edges_above` kernel against the driver-held normed table — the
    * previous BroadcastNestedLoopJoin shipped ~0.5 µs of join-row
    * machinery per candidate pair to run a 64-float dot (measured: 2,000
    * vectors → 2M pair rows → 1.05 s for 4,137 edges at sf0.1; kernel
    * path ~0.2 s, identical edge set). Same dot order, same norms, same
    * double division, so the boundary cannot move (Round21OptSpec +
    * oracle). Oversized corpora keep the join shape below.
    */
  def exactCosineEdges(s: SparkSession, emb: DataFrame, minCos: Double): DataFrame = {
    VectorFunctions.register(s)
    // sized by floats before any vector leaves the executors: one
    // (rows, floats) aggregate, then the pull only when both fit
    val pulled = DriverPull.collect(emb.select(col("vec_id"), col("embedding")),
      maxRows = (MaxCosKernelFloats / 8).toInt, // dim ≥ 8 in any real corpus
      weight = Some((coalesce(size(col("embedding")), lit(0)), MaxCosKernelFloats)))
    pulled match {
      case Some(rows) =>
        val valid = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        val ids = valid.map(_.getLong(0)).toSeq
        val vecs = valid.map(_.getSeq[Float](1).toSeq).toSeq
        emb.select(col("vec_id").as("a_id"),
          explode(call_function("cos_edges_above", col("vec_id"), col("embedding"),
            lit(minCos), typedLit(ids), typedLit(vecs))).as("b_id"))
      case None =>
        // deliberately NOT [[spread]]: this plan is materialized by the CC
        // loop's eager checkpoint, and the A/B (round 12) measured spread
        // 2× SLOWER there (7.5 vs 3.3 s at sf0.1) — the repartition ahead
        // of the non-equi join flips/fragments the join inside the
        // checkpoint materialization instead of widening useful parallelism
        val n = normedOf(s, emb)
        side(n, "a").join(side(n, "b"), col("a_id") < col("b_id"))
          .filter(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")) >= minCos)
          .select(col("a_id"), col("b_id"))
    }
  }

  /** F21 core: SemDeDup-style semantic-dedup clusters — connected
    * components over the embedding-cosine near-dup graph, one row per
    * vector with its cluster's min vec_id and size.
    *
    * `useLsh = false` is the exact brute-force edge build (the graded
    * oracle contract); `useLsh = true` swaps in [[lshCandidates]] — the
    * same banded sign-LSH equi-join that replaces the cartesian product at
    * 100 TB — and leaves the component loop untouched.
    *
    * Equivalence scope (honest version): the planted-clique spec
    * (SimilaritySpec) proves the LSH composition cluster-identical on
    * NEAR-IDENTICAL duplicates (cos ≳ 0.9), where every band collides
    * with probability ≈ 0.87 and 4 independent bands make a miss
    * vanishingly rare. At MODERATE thresholds (the benched minCos = 0.35)
    * the default 4-band/4-bit scheme recovers only a fraction of
    * borderline edges — CC is union-tolerant (any one edge per pair of
    * subclusters merges them), but clusters can still differ materially
    * from exact. For moderate-threshold runs raise `nPlanes` (more bands)
    * and/or lower `bandBits`; SimilaritySpec records the measured recall
    * gap at minCos = 0.35 instead of asserting it away (sf0.001 corpus:
    * 0.46 edge recall at 16 planes, 0.93 at 64 planes, 257 exact edges).
    *
    * Defaults (round 8): 64 planes with corpus-sized band width
    * ([[autoBandBits]]) — a caller at corpus scale who never reads the
    * knobs gets the non-degenerate join, and a small corpus still gets
    * the narrow recall-friendly bands. `nHint` (round 9) forwards to
    * [[lshCandidates]] so a derived-frame caller avoids the auto-band
    * `count()` re-executing the upstream plan.
    */
  def semanticClusters(s: SparkSession, emb: DataFrame, minCos: Double,
      useLsh: Boolean = false, nPlanes: Int = DefaultPlanes,
      bandBits: Int = AutoBandBits, nHint: Long = 0L): DataFrame = {
    val edges =
      if (useLsh) lshCandidates(s, emb, minCos, nPlanes, bandBits, nHint,
        ordered = false).select(col("a_id"), col("b_id"))
      else exactCosineEdges(s, emb, minCos)
    val nodes = emb.select(col("vec_id").as("doc_id"))
    // CC engine: the round-14 auto-selecting hybrid for BOTH edge builds
    // (replacing round 13's hard-coded per-site picks). Banded LSH at
    // moderate thresholds yields DEEP graphs of borderline pairs (17
    // propagation rounds measured on the graded q_f21b graph), where the
    // hybrid's hand-off to the two-phase star rewrite lands the same win
    // the explicit star call did; exact-edge graphs are complete within
    // clusters (shallow), where the hybrid never leaves min-label's slim
    // label join. One engine, the diameter decides — measured on the
    // graded shapes in BASELINE.md round 14.
    val cc = Dedup.connectedComponents(s, nodes, edges)
    // cluster_size via groupBy+join (Dedup.withClusterSize), not a window:
    // one mega-cluster would pin a whole WindowExec partition otherwise.
    Dedup.withClusterSize(cc)
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  // F21: semantic dedup — connected components over the embedding-cosine
  // near-dup graph (the SemDeDup-style "keep one per semantic cluster"
  // operation; cosine pairs chain exactly like text near-dups, so dedup
  // needs components, not pairs). The GRADED path uses exact brute-force
  // edges — the same expressions as q_f3_cosine_neardup, whose ≥-boundary
  // is already proven parity-safe — so the recursive-CTE oracle matches;
  // the 100 TB path swaps in [[lshCandidates]] for the edge list and the
  // component loop is unchanged (its per-round shuffle is the edge list).
  val qSemanticDedup = Q(
    "q_f21_semantic_dedup",
    s"""WITH RECURSIVE
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |n AS (SELECT vec_id, emb, sqrt(list_inner_product(emb, emb)) AS nrm FROM e),
      |pairs AS (SELECT a.vec_id AS u, b.vec_id AS v FROM n a JOIN n b ON a.vec_id < b.vec_id
      |          WHERE list_inner_product(a.emb, b.emb)/(a.nrm*b.nrm) >= 0.35),
      |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
      |reach AS (SELECT vec_id AS u, vec_id AS r FROM e
      |          UNION
      |          SELECT e2.u, reach.r FROM edges e2 JOIN reach ON e2.v = reach.u),
      |cc AS (SELECT u AS vec_id, min(r) AS cluster_id FROM reach GROUP BY u)
      |SELECT vec_id, cluster_id,
      |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM cc ORDER BY vec_id""".stripMargin) { (s, d) =>
    semanticClusters(s, embeddings(s, d), minCos = 0.35)
  }

  // F21 scale path, graded rows-only: the SAME clustering with the banded
  // sign-LSH edge build instead of the brute-force pair join — what a
  // 100 TB run executes. No DuckDB twin (xxhash64 hyperplanes), so the
  // driver benches it round-over-round and the equivalence-on-planted-
  // cliques law lives in SimilaritySpec.
  val qSemanticDedupLsh = Q.noOracle("q_f21b_semantic_dedup_lsh") { (s, d) =>
    semanticClusters(s, embeddings(s, d), minCos = 0.35, useLsh = true)
  }

  // F12: symmetric int8 quantization per embedding — the storage/serving
  // compression step of a vector pipeline (4 bytes→1 byte per dim).
  // scale = 127/max|x|; q_i = floor(x_i·scale + 0.5) (round-half-up via
  // floor: Spark round() is HALF_UP but DuckDB's is HALF_EVEN on doubles,
  // floor(x+0.5) is portable); reconstruction error reported per vector.
  // Pure per-row map — row-parallel at any scale, no shuffle but the
  // final ORDER BY.
  val qQuantize = Q(
    "q_f12_quantize",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
      |s AS (SELECT vec_id, x,
      |             list_max(list_transform(x, v -> abs(v))) AS amax
      |      FROM e),
      |q AS (SELECT vec_id, amax,
      |             list_transform(x, v -> floor(v * 127.0 / amax + 0.5)) AS qv,
      |             x
      |      FROM s WHERE amax > 0)
      |SELECT vec_id,
      |       floor(amax*1000000)/1000000 AS amax,
      |       CAST(len(list_filter(qv, v -> abs(v) = 127)) AS BIGINT) AS n_sat,
      |       floor(sqrt(list_reduce(list_transform(
      |         list_zip(x, qv),
      |         p -> (p[1] - p[2] * amax / 127.0) * (p[1] - p[2] * amax / 127.0)),
      |         (a, b) -> a + b))*1000000)/1000000 AS recon_err
      |FROM q ORDER BY vec_id""".stripMargin) { (s, d) =>
    VectorFunctions.register(s)
    val x = transform(col("embedding"), _.cast("double"))
    val amax = array_max(transform(x, v => abs(v)))
    val qv = transform(x, v => floor(v * lit(127.0) / col("amax") + lit(0.5)))
    val err = sqrt(aggregate(
      zip_with(x, col("qv"), (v, q) => {
        val diff = v - q * col("amax") / lit(127.0)
        diff * diff
      }),
      lit(0.0), (acc, v) => acc + v))
    // raw columns first, truncation LAST under fresh names: Spark 4's
    // lateral column aliasing would otherwise resolve col("amax") inside
    // `err` to the truncated alias of the same select list (silently —
    // this flipped recon_err by 1e-6 at the truncation boundary)
    embeddings(s, d)
      .withColumn("amax", amax)
      .filter(col("amax") > 0)
      .withColumn("qv", qv)
      .withColumn("raw_err", err)
      .select(col("vec_id"),
        trunc6(col("amax")).as("amax"),
        size(filter(col("qv"), v => abs(v) === 127)).cast("long").as("n_sat"),
        trunc6(col("raw_err")).as("recon_err"))
      .orderBy(col("vec_id"))
  }

  /** F36 (round 14): a FROZEN deterministic k-means model — the cluster
    * step of the published cluster-then-dedup pipelines (SemDeDup, Abbas
    * et al. 2023: k-means the embedding space, then dedup WITHIN each
    * cluster). Unlike the MLlib fit behind [[ivfFit]] (sampled k-means||
    * init — fine for ANN recall, useless for an oracle), every number
    * here is exact integer arithmetic: components are quantized to
    * `floor((clamp(x, ±1) + 1)·10⁶)` — the +1 shift keeps them
    * NON-NEGATIVE, so Spark's truncating `div` and ANSI floor-division
    * agree and centroid means are exact — distances are exact LONG sums
    * (≤ 64·(2·10⁶)² ≈ 2.6·10¹⁴), and the whole fit is a pure function of
    * the corpus: bit-identical across engines, reruns, partitionings.
    * KB-sized (k × dim longs), serializable, reusable.
    *
    * Scale boundary: [[KmeansModel.bestCol]] inlines the centroids as a
    * plan literal (k × dim longs inside the generated code) — the zero-
    * shuffle fast path up to k ≈ 10³, chosen for the graded contract's
    * small k because it keeps the whole assignment inside one codegen
    * stage. [[KmeansModel.assignBroadcast]] is the k = 10⁴–10⁵ variant:
    * the centroid table rides in a broadcast frame and a partial+final
    * struct-min agg picks the winner — same arithmetic and tie order,
    * spec-proven row-identical.
    */
  final case class KmeansModel(centroidsMicros: Seq[Seq[Long]]) {
    def k: Int = centroidsMicros.length
    /** Quantized vector — the exact integer form the model computes in
      * (the codegen `quant_micros` kernel; requires
      * [[graft.functions.VectorFunctions.register]], which every fit/
      * assignment entry point calls). */
    def quantCol(vecCol: Column): Column =
      call_function("quant_micros", vecCol)
    /** struct(d, i): exact squared L2 distance to the nearest centroid
      * and its index (ties → lowest index — the argmin order the graded
      * oracle pins). The codegen `kmeans_best_q` kernel: centroids ride
      * as one long[] constant per task, the inner loop early-exits a
      * centroid at the best-so-far bound (exact for non-decreasing
      * sums), and assignment stays a pure per-row map — ZERO shuffle,
      * no join, any corpus size. An equivalent SQL-lambda formulation
      * (array_min over zip_with/aggregate) is interpreted per element
      * and was measured unusably slow at 1M × k 64 (BASELINE.md).
      */
    def bestCol(vecCol: Column): Column = bestOnQuant(quantCol(vecCol))
    /** Same, over an ALREADY-quantized (long-micros) vector. */
    def bestOnQuant(q: Column): Column =
      call_function("kmeans_best_q", q, typedLit(centroidsMicros))
    /** Nearest-centroid index alone. */
    def assignCol(vecCol: Column): Column = bestCol(vecCol).getField("i")

    /** Large-k assignment: identical arithmetic and tie order to
      * [[bestCol]], but the centroid table rides in a BROADCAST frame
      * instead of a plan literal — the k = 10⁴–10⁵ regime where inlining
      * k × dim longs into generated code would bloat every task binary.
      * The n × k (vector, centroid) fan-out is the same O(n·k) distance
      * work the literal path does, materialized as rows and collapsed by
      * a partial+final struct-min agg on the id — map-side combine keeps
      * one candidate per vector per task, so the only shuffle is
      * id-keyed rows (corpus-sized, never n × k). Returns (idCol,
      * cluster, dist_sq); proven row-identical to the literal path in
      * Round14OpsSpec.
      */
    def assignBroadcast(emb: DataFrame, vecCol: String = "embedding",
        idCol: String = "vec_id"): DataFrame = {
      require(k > 0, "assignBroadcast needs a fitted model (k = 0: the " +
        "empty-cents frame would silently assign nothing)")
      val s = emb.sparkSession
      VectorFunctions.register(s)
      import s.implicits._
      val cents = centroidsMicros.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toDF("c_i", "c_q")
      emb.filter(col(vecCol).isNotNull)
        .select(col(idCol), quantCol(col(vecCol)).as("q"))
        .join(broadcast(cents))
        .select(col(idCol), struct(
          call_function("l2sq_long", col("q"), col("c_q")).as("d"),
          col("c_i").as("i")).as("di"))
        .groupBy(col(idCol))
        .agg(min(col("di")).as("best"))
        .select(col(idCol), col("best.i").as("cluster"),
          col("best.d").as("dist_sq"))
    }
    /** Persist the frozen centroids for cross-session assignment (round
      * 20, [[ModelIO]]) — integer micros round-trip exactly, so a
      * loaded model's assignments are bit-identical. */
    def save(s: SparkSession, path: String): Unit =
      ModelIO.save(s, path, "kmeans") { out =>
        ModelIO.writeLongs2(out, centroidsMicros)
      }
  }

  object KmeansModel {
    /** Load saved centroids; registers the graft kernels on `s` so
      * `quant_micros`/`kmeans_best_q` resolve in a fresh session. */
    def load(s: SparkSession, path: String): KmeansModel =
      ModelIO.load(s, path, "kmeans") { in =>
        KmeansModel(ModelIO.readLongs2(in))
      }
  }

  /** F36 fit: Lloyd iterations with every step deterministic — init is
    * the k lowest (md5 draw, id) vectors (the F33/F35 seeded order, a
    * pseudo-random-but-exact sample), assignment is
    * [[KmeansModel.assignCol]], and the update is the exact integer mean
    * `sum div count` per component (non-negative by the +1 shift, so
    * div ≡ floor on every engine). An empty cluster keeps its previous
    * centroid.
    *
    * Scale: per iteration, ONE corpus pass — the zero-shuffle assignment
    * plus a (cluster, component) partial+final agg whose output is
    * k × dim rows (KBs; the pqFit/nbFit bounded-pull boundary). The
    * vector frame is checkpointed once and reused across iterations.
    */
  def kmeansFitExact(embs: DataFrame, k: Int, iters: Int,
      vecCol: String = "embedding", idCol: String = "vec_id"): KmeansModel = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got $k, $iters")
    VectorFunctions.register(embs.sparkSession)
    val probe = KmeansModel(Seq.empty)
    // reused iters + 1 times
    val q = Lineage.cut(embs.filter(col(vecCol).isNotNull)
      .select(col(idCol).as("id"), probe.quantCol(col(vecCol)).as("q")))
    val init = q
      .withColumn("h",
        conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .orderBy(col("h"), col("id")).limit(k)
      .collect().map(_.getSeq[Long](1).toSeq).toSeq
    require(init.length == k,
      s"kmeansFitExact: corpus has only ${init.length} vectors for k = $k")
    var cents = init
    for (_ <- 1 to iters) {
      val model = KmeansModel(cents)
      val sums = q
        .select(model.bestOnQuant(col("q")).getField("i").as("c"),
          posexplode(col("q")).as(Seq("i", "v")))
        .groupBy(col("c"), col("i"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect() // ≤ k × dim rows — the bounded model-fit pull
        .groupBy(_.getLong(0))
      cents = (0 until k).map { c =>
        sums.get(c.toLong) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1)).map(r => r.getLong(2) / r.getLong(3)).toSeq
          case None => cents(c) // empty cluster keeps its centroid
        }
      }
    }
    KmeansModel(cents)
  }

  /** Graded F36 query: k = 8, 2 Lloyd iterations over the embeddings
    * table; every vector reports its final cluster and exact integer
    * distance. The oracle unrolls BOTH iterations from scratch in SQL —
    * seeded init, argmin assignment, integer-mean update, re-assignment
    * — so the hash grades the quantization shift, the div/floor
    * agreement, the (dist, index) tie order, and the bounded-pull fit
    * loop end to end. Assignment quality is graded implicitly: any
    * drifted centroid reassigns some vector.
    */
  /** The F36 fit unrolled in SQL (k = 8, 2 Lloyd iterations): shared by
    * q_f36_kmeans and q_f36b's SemDeDup oracle. `a3` is the final
    * assignment with the exact dist and the (dist, c) tie order.
    */
  private val kmeansOracleCtes =
    """e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
      |         list_transform(embedding, x ->
      |           CAST(floor((least(1.0, greatest(-1.0, CAST(x AS DOUBLE))) + 1.0)
      |                * 1000000) AS BIGINT)) AS q
      |  FROM embeddings WHERE embedding IS NOT NULL),
      |c0 AS (SELECT q AS cq,
      |         row_number() OVER (
      |           ORDER BY ('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,8))::BIGINT,
      |                    vec_id) - 1 AS c
      |       FROM e QUALIFY c < 8),
      |a1 AS (SELECT vec_id, q, c, row_number() OVER (
      |           PARTITION BY vec_id ORDER BY dist, c) AS rn
      |       FROM (SELECT e.vec_id, e.q, c0.c,
      |               CAST(list_sum(list_transform(list_zip(e.q, c0.cq),
      |                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
      |             FROM e CROSS JOIN c0)),
      |s1 AS (SELECT c, i, sum(q[i]) AS s, count(*) AS n
      |       FROM a1, unnest(generate_series(1, len(q))) AS u(i)
      |       WHERE rn = 1 GROUP BY c, i),
      |c1 AS (SELECT c0.c, coalesce(nc.cq, c0.cq) AS cq
      |       FROM c0 LEFT JOIN (
      |         SELECT c, list(s // n ORDER BY i) AS cq FROM s1 GROUP BY c) nc
      |       USING (c)),
      |a2 AS (SELECT vec_id, q, c, row_number() OVER (
      |           PARTITION BY vec_id ORDER BY dist, c) AS rn
      |       FROM (SELECT e.vec_id, e.q, c1.c,
      |               CAST(list_sum(list_transform(list_zip(e.q, c1.cq),
      |                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
      |             FROM e CROSS JOIN c1)),
      |s2 AS (SELECT c, i, sum(q[i]) AS s, count(*) AS n
      |       FROM a2, unnest(generate_series(1, len(q))) AS u(i)
      |       WHERE rn = 1 GROUP BY c, i),
      |c2 AS (SELECT c1.c, coalesce(nc.cq, c1.cq) AS cq
      |       FROM c1 LEFT JOIN (
      |         SELECT c, list(s // n ORDER BY i) AS cq FROM s2 GROUP BY c) nc
      |       USING (c)),
      |a3 AS (SELECT vec_id, c, dist, row_number() OVER (
      |           PARTITION BY vec_id ORDER BY dist, c) AS rn
      |       FROM (SELECT e.vec_id, c2.c,
      |               CAST(list_sum(list_transform(list_zip(e.q, c2.cq),
      |                 p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT) AS dist
      |             FROM e CROSS JOIN c2))""".stripMargin

  val qKmeans = Q(
    "q_f36_kmeans",
    s"""WITH $kmeansOracleCtes
      |SELECT vec_id, c AS cluster, dist AS dist_sq
      |FROM a3 WHERE rn = 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
    val embs = embeddings(s, d)
    val model = kmeansFitExact(embs, k = 8, iters = 2)
    embs.filter(col("embedding").isNotNull)
      .select(col("vec_id"), model.bestCol(col("embedding")).as("best"))
      .select(col("vec_id"), col("best.i").as("cluster"),
        col("best.d").as("dist_sq"))
      .orderBy(col("vec_id"))
  }

  /** Graded F36b query: SemDeDup at minCos = 0.35 (the F21 threshold,
    * so the two contracts are directly comparable), k = 8, 2 Lloyd
    * iterations. The oracle recomputes the ENTIRE pipeline — the
    * unrolled k-means fit, the final assignment, within-cluster-only
    * cosine pairs, and the recursive-CTE closure — so the hash grades
    * the fit, the restriction of the pair relation to same-cluster, and
    * the CC labels end to end.
    */
  val qSemDedupClustered = Q(
    "q_f36b_semdedup_clustered",
    s"""WITH RECURSIVE $kmeansOracleCtes,
      |fin AS (SELECT vec_id, c AS kc FROM a3 WHERE rn = 1),
      |n2 AS (SELECT e.vec_id, e.emb,
      |         sqrt(list_inner_product(e.emb, e.emb)) AS nrm, f.kc
      |       FROM e JOIN fin f USING (vec_id)),
      |pairs AS (SELECT a.vec_id AS u, b.vec_id AS v
      |          FROM n2 a JOIN n2 b
      |            ON a.kc = b.kc AND a.vec_id < b.vec_id
      |          WHERE list_inner_product(a.emb, b.emb)/(a.nrm*b.nrm) >= 0.35),
      |edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
      |reach AS (SELECT vec_id AS u, vec_id AS r FROM embeddings
      |          UNION
      |          SELECT e2.u, reach.r FROM edges e2 JOIN reach ON e2.v = reach.u),
      |cc AS (SELECT u AS vec_id, min(r) AS cluster_id FROM reach GROUP BY u)
      |SELECT vec_id, cluster_id,
      |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM cc ORDER BY vec_id""".stripMargin) { (s, d) =>
    semanticClustersClustered(s, embeddings(s, d), minCos = 0.35, k = 8)
  }

  /** F51 (round 17): prototype-proximity diversification — SSL-prototype
    * pruning (Sorscher et al., NeurIPS 2022 "Beyond neural scaling laws")
    * as applied by D4 (Tirumala et al. 2023) AFTER SemDeDup: k-means the
    * embedding space with the deterministic [[kmeansFitExact]], rank every
    * vector WITHIN its cluster by exact integer squared distance to its
    * centroid, and mark the closest `dropMillionths` fraction of each
    * cluster as `prototype` (dropped — the most prototypical points carry
    * the least marginal information), `kept` otherwise. The published D4
    * pipeline is [[semanticClustersClustered]] (dedup) THEN this operator
    * (diversify) over the survivors.
    *
    * Verdict rule (pinned): a vector is a prototype iff its per-cluster
    * percent rank `pct_millionths` < `dropMillionths`, where pct is the
    * F44 integer formula `(rank−1)·10⁶ div (n−1)` over (dist ASC, id ASC)
    * order within the cluster (singleton clusters get 10⁶ — never
    * dropped, matching the F44 contract). `drop = 0` keeps everything;
    * `drop = 10⁶` keeps only each cluster's farthest vector (pct = 10⁶
    * exactly) and singletons. Monotone: raising `drop` only shrinks the
    * kept set.
    *
    * Scale: the fit is F36's bounded k×dim pull; assignment is the
    * zero-shuffle `kmeans_best_q` kernel; the within-cluster rank is F44's
    * [[TextOps.scoreCalibration]] three-level cascade (cluster = source,
    * dist = score), so NO corpus-sized — and no cluster-sized — window
    * partition exists for any cluster-size distribution. The assigned
    * frame feeds the calibration's three subtrees once via
    * [[Lineage.cut]].
    */
  def prototypeDiversify(s: SparkSession, emb: DataFrame,
      dropMillionths: Long, k: Int = 0, iters: Int = 2,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    require(dropMillionths >= 0L && dropMillionths <= 1000000L,
      s"dropMillionths must be in [0, 1e6], got $dropMillionths")
    val nonNull = emb.filter(col(vecCol).isNotNull)
    val kk = if (k > 0) k else
      math.ceil(math.sqrt(nonNull.count().toDouble)).toInt.max(1)
    val model = kmeansFitExact(nonNull, kk, iters, vecCol, idCol)
    val assigned = Lineage.cut(nonNull
      .select(col(idCol), model.bestCol(col(vecCol)).as("best"))
      .select(col(idCol), col("best.i").as("cluster"),
        col("best.d").as("dist_sq")))
    TextOps.scoreCalibration(assigned, "dist_sq", sourceCol = "cluster",
      idCol = idCol)
      .select(col(idCol), col("cluster"),
        col("score").cast("long").as("dist_sq"), col("pct_millionths"),
        when(col("pct_millionths") < dropMillionths, lit("prototype"))
          .otherwise(lit("kept")).as("verdict"))
  }

  /** Graded F51 query: k = 8, 2 Lloyd iterations (the q_f36 fit, so the
    * oracle reuses its unrolled CTEs), drop the closest 25% of each
    * cluster. The oracle recomputes the fit, the final assignment, the
    * one-window per-cluster (dist, id) rank, the integer pct, and the
    * verdict from scratch — so the hash grades the fit, the F44 cascade's
    * rank exactness on this distribution, and the threshold rule end to
    * end.
    */
  val qPrototypeDiversify = Q(
    "q_f51_prototype_diversify",
    s"""WITH $kmeansOracleCtes,
      |fin AS (SELECT vec_id, c, dist FROM a3 WHERE rn = 1),
      |cn AS (SELECT c, count(*) AS n FROM fin GROUP BY c),
      |r AS (SELECT vec_id, c, dist, row_number() OVER (
      |          PARTITION BY c ORDER BY dist, vec_id) AS rk
      |      FROM fin),
      |p AS (SELECT r.vec_id, r.c, r.dist,
      |             CASE WHEN cn.n = 1 THEN 1000000
      |                  ELSE ((rk - 1) * 1000000) // (cn.n - 1) END AS pct
      |      FROM r JOIN cn USING (c))
      |SELECT vec_id, c AS cluster, dist AS dist_sq, pct AS pct_millionths,
      |       CASE WHEN pct < 250000 THEN 'prototype' ELSE 'kept' END
      |         AS verdict
      |FROM p ORDER BY vec_id""".stripMargin) { (s, d) =>
    prototypeDiversify(s, embeddings(s, d), dropMillionths = 250000L, k = 8)
      .orderBy(col("vec_id"))
  }

  /** F36b (round 14): SemDeDup proper (Abbas et al. 2023) — k-means the
    * embedding space with the deterministic [[kmeansFitExact]], then run
    * semantic dedup WITHIN each cluster only. The candidate build
    * becomes an EQUI-join on the cluster id (shuffle on k keys) instead
    * of the exact path's O(n²) theta join — the published trade: pairs
    * the clustering separates are forgone BY CONTRACT (the paper dedups
    * within clusters only), in exchange for per-cluster quadratic cost,
    * ~n²/k at balanced clusters. Same output contract as
    * [[semanticClusters]]: every vector labeled (vec_id, cluster_id,
    * cluster_size), cluster_id = min reachable vec_id over the
    * within-cluster edge relation, via the same hybrid CC engine.
    *
    * Choosing k (round 15, verdict item): `k <= 0` selects the
    * √n heuristic — k = ⌈√n⌉ from ONE pushdown count — which balances
    * the two costs that move with k (per-cluster quadratic pair work
    * ~n²/k vs fit work ~k·n per Lloyd pass) and is the common default in
    * the SemDeDup literature's cluster-count ablations. The assignment
    * kernel embeds the centroids as a plan LITERAL, which janino-compiles
    * per query: past k ≈ 10⁴–10⁵ centroids (multi-MB literals), switch to
    * [[KmeansModel.assignBroadcast]] — the 1M-vector stress in BASELINE.md
    * measured the literal form ~17× slower than broadcast already at
    * k = 64 on the FIT side's repeated passes; the broadcast join form is
    * the scale path whenever k itself is large. The assigned frame is
    * cut ([[Lineage.cut]]) so the self-join's two sides share one
    * assignment pass instead of recomputing the kernel per side.
    */
  def semanticClustersClustered(s: SparkSession, emb: DataFrame,
      minCos: Double, k: Int = 0, iters: Int = 2): DataFrame = {
    val kEff =
      if (k > 0) k
      else {
        val n = emb.filter(col("embedding").isNotNull).count()
        require(n > 0, "semanticClustersClustered: no non-null embeddings")
        math.ceil(math.sqrt(n.toDouble)).toInt
      }
    val model = kmeansFitExact(emb, kEff, iters)
    // both join sides share ONE assignment pass
    val n = Lineage.cut(normedOf(s, emb.filter(col("embedding").isNotNull))
      .withColumn("kc", model.assignCol(col("embedding"))))
    val a = n.select(col("kc"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"), col("nrm").as("a_nrm"))
    val b = n.select(col("kc"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"), col("nrm").as("b_nrm"))
    val within = a.join(b, Seq("kc")).filter(col("a_id") < col("b_id"))
      .filter(dot(col("a_emb"), col("b_emb")) / (col("a_nrm") * col("b_nrm")) >= minCos)
      .select(col("a_id"), col("b_id"))
    val cc = Dedup.connectedComponents(s, emb.select(col("vec_id").as("doc_id")),
      within)
    Dedup.withClusterSize(cc)
      .select(col("doc_id").as("vec_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  /** F41 (round 15): hard-negative mining — for every QUERY vector, the
    * top-k most-cosine-similar corpus vectors carrying a DIFFERENT label
    * (the contrastive-training staple: DPR/ANCE-style dense-retriever
    * negatives, CLIP-style batch mining — "the most confusable examples
    * that are provably not positives"). Same-label rows and the query
    * itself are excluded by construction; NULL-label rows on either side
    * are dropped (an unlabeled vector can never be PROVEN negative).
    *
    * Shape: the query set is a probe batch by contract (a training
    * batch / eval query set — thousands, not the corpus), so it rides in
    * as a BROADCAST and the corpus streams ONCE through a nested-loop
    * probe + the bounded-heap `collect_top_k` partial agg: k·|queries|
    * retained rows per task, zero corpus shuffle — the same cost model
    * as F3/F4's brute-force baselines. At corpus scale, use
    * [[hardNegativesClustered]] (round 16): the F36 cluster assignment
    * restricts candidates to each query's probed cells and feeds the
    * restricted pairs through this same top-k agg; the brute-force form
    * here is the exact-recall baseline that path is graded against
    * (nprobe = k equivalence is spec-pinned).
    *
    * Cosines are floor-truncated at 1e-4 (the F3/F4 canon) and the rank
    * order is (cos_sim DESC, n_id ASC) — deterministic under ties.
    */
  def hardNegatives(s: SparkSession, queries: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    VectorFunctions.register(s)
    rankNegatives(
      prepLabeled(corpus, "n")
        .join(broadcast(prepLabeled(queries, "q")),
          col("q_label") =!= col("n_label") && col("q_id") =!= col("n_id")),
      k)
  }

  /** (vec_id, embedding, label) → prefixed (id, emb, nrm, label) with
    * NULL embeddings/labels dropped — the F41 candidate-side prep, shared
    * by the brute-force baseline and the clustered scale path. */
  private def prepLabeled(df: DataFrame, p: String): DataFrame = df
    .filter(col("embedding").isNotNull && col("label").isNotNull)
    .select(col("vec_id").as(s"${p}_id"), col("embedding").as(s"${p}_emb"),
      sqrt(dot(col("embedding"), col("embedding"))).as(s"${p}_nrm"),
      col("label").as(s"${p}_label"))

  /** The shared F41 tail: candidate (q, n) pairs → truncated cosines →
    * the bounded-heap per-query top-k ([[topKByCosine]]), ordered
    * (q_id, rn). Partial aggregation keeps k rows per query per task, so
    * the tail never shuffles the candidate fan-out. */
  private def rankNegatives(pairs: DataFrame, k: Int): DataFrame =
    topKByCosine(
      pairs.select(col("q_id"),
        trunc4(dot(col("q_emb"), col("n_emb")) / (col("q_nrm") * col("n_nrm")))
          .as("cos_sim"),
        col("n_id")),
      k)
      .orderBy(col("q_id"), col("rn"))

  /** F41b (round 16): CLUSTER-RESTRICTED hard-negative mining — the
    * corpus-scale path the F41 scaladoc promised, now code (round-15
    * verdict item 1). The corpus rides the F36 [[KmeansModel]] assignment
    * (zero-shuffle per-row kernel); each query probes its `nprobe`
    * nearest centroids by the model's own exact integer distance (the
    * IVF probe discipline, over the query BATCH × k centroids only);
    * candidates are corpus vectors whose cluster lands in the query's
    * probe set, and the different-label filter + bounded-heap top-k tail
    * is byte-identical to [[hardNegatives]]. Cost: the all-pairs
    * |queries| × |corpus| probe becomes |queries| × (nprobe/k share of
    * the corpus) — still zero corpus shuffle (the probe set broadcasts),
    * which is what makes mining against a 100 TB corpus feasible.
    *
    * Recall contract: `nprobe = model.k` scans every cell — EXACTLY
    * [[hardNegatives]] (spec-pinned). Below that, a true negative is
    * missed only when it lies in a cell the query did not probe — the
    * standard IVF recall trade, measured on planted confusables in the
    * spec (near-identical different-label twins co-assign, so nprobe = 1
    * already finds them) and at 1M vectors in BASELINE.md. Tie order
    * everywhere is the kmeans argmin order (distance, then centroid
    * index), so probe sets — and therefore results — are deterministic.
    */
  def hardNegativesClustered(s: SparkSession, queries: DataFrame,
      corpus: DataFrame, k: Int, model: KmeansModel, nprobe: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(nprobe > 0 && nprobe <= model.k,
      s"nprobe must be in [1, ${model.k}], got $nprobe")
    VectorFunctions.register(s)
    import s.implicits._
    val cents = model.centroidsMicros.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toDF("c_i", "c_q")
    // probe sets: query batch × k centroids (batch-bounded by the F41
    // contract), ranked per query by exact integer distance with the
    // kmeans argmin tie order (d, c_i) — nprobe = 1 therefore agrees
    // with the corpus side's own assignment on every tie
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("__d"), col("c_i"))
    val qp = prepLabeled(queries, "q")
      .withColumn("__qq", model.quantCol(col("q_emb")))
      .crossJoin(broadcast(cents))
      .withColumn("__d", call_function("l2sq_long", col("__qq"), col("c_q")))
      .withColumn("__pr", row_number().over(probeW))
      .filter(col("__pr") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("q_label"),
        col("c_i").as("kc"))
    val cand = prepLabeled(corpus, "n")
      .withColumn("kc", model.assignCol(col("n_emb")))
      .join(broadcast(qp), Seq("kc"))
      .filter(col("q_label") =!= col("n_label") && col("q_id") =!= col("n_id"))
    rankNegatives(cand, k)
  }

  /** Graded F41 query: queries = every 40th vector, corpus = the whole
    * embeddings table, k = 3 — the oracle recomputes norms, the
    * different-label restriction, truncated cosines, and the
    * (cos DESC, n_id ASC) rank from scratch, so the hash grades the
    * exclusion semantics and the bounded-heap ordering end to end.
    */
  val qHardNegatives = Q(
    "q_f41_hard_negatives",
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
      |           FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL),
      |n AS (SELECT vec_id, emb, sqrt(list_inner_product(emb, emb)) AS nrm, label FROM e),
      |p AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |             floor(list_inner_product(q.emb, c.emb)/(q.nrm*c.nrm)*10000)/10000 AS cos_sim
      |      FROM n q JOIN n c ON q.label <> c.label AND q.vec_id <> c.vec_id
      |      WHERE q.vec_id % 40 = 0),
      |r AS (SELECT q_id, n_id, cos_sim,
      |             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
      |      FROM p)
      |SELECT q_id, n_id, cos_sim, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 3
      |ORDER BY q_id, rn""".stripMargin) { (s, d) =>
    val emb = embeddings(s, d)
    hardNegatives(s, emb.filter(col("vec_id") % 40 === 0), emb, k = 3)
  }

  /** Graded F41b query: the SAME query association as q_f41 (every 40th
    * vector, k = 3) but mined through the clustered path — k-means k = 8
    * / 2 Lloyd iterations (the q_f36 fit, so the oracle reuses its
    * unrolled CTEs), nprobe = 2. The oracle recomputes the ENTIRE
    * pipeline — the exact integer fit, the corpus assignment, each
    * query's (distance, centroid) probe ranking, the different-label
    * restriction to probed cells, truncated cosines, and the final
    * (cos DESC, n_id) rank — so the hash grades the restriction
    * semantics end to end, not just the rank arithmetic.
    */
  val qHardNegativesClustered = Q(
    "q_f41b_hard_negatives_clustered",
    s"""WITH $kmeansOracleCtes,
      |fin AS (SELECT vec_id, c AS kc FROM a3 WHERE rn = 1),
      |n0 AS (SELECT e.vec_id, e.emb, sqrt(list_inner_product(e.emb, e.emb)) AS nrm,
      |              l.label, f.kc, e.q
      |       FROM e JOIN embeddings l ON l.vec_id = e.vec_id
      |              JOIN fin f ON f.vec_id = e.vec_id
      |       WHERE l.label IS NOT NULL),
      |qp AS (SELECT q.vec_id AS q_id, c2.c AS kc,
      |              row_number() OVER (PARTITION BY q.vec_id ORDER BY
      |                CAST(list_sum(list_transform(list_zip(q.q, c2.cq),
      |                  p -> (p[1]-p[2])*(p[1]-p[2]))) AS BIGINT), c2.c) AS pr
      |       FROM n0 q CROSS JOIN c2
      |       WHERE q.vec_id % 40 = 0),
      |p2 AS (SELECT qp.q_id, n.vec_id AS n_id,
      |              floor(list_inner_product(q1.emb, n.emb)/(q1.nrm*n.nrm)*10000)/10000 AS cos_sim
      |       FROM qp JOIN n0 n ON n.kc = qp.kc
      |               JOIN n0 q1 ON q1.vec_id = qp.q_id
      |       WHERE qp.pr <= 2 AND q1.label <> n.label AND qp.q_id <> n.vec_id),
      |r AS (SELECT q_id, n_id, cos_sim,
      |             row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) AS rn
      |      FROM p2)
      |SELECT q_id, n_id, cos_sim, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= 3
      |ORDER BY q_id, rn""".stripMargin) { (s, d) =>
    val emb = embeddings(s, d)
    val model = kmeansFitExact(emb, k = 8, iters = 2)
    hardNegativesClustered(s, emb.filter(col("vec_id") % 40 === 0), emb,
      k = 3, model, nprobe = 2)
  }

  def all: Seq[Q] = Seq(qCosineTopk, qCosineNeardup, qKnn, qIvfAnn, qLshNeardup,
    qQuantize, qSemanticDedup, qSemanticDedupLsh, qKmeans, qSemDedupClustered,
    qPrototypeDiversify, qHardNegatives, qHardNegativesClustered)
}
