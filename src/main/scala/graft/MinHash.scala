package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._
import graft.functions.VectorFunctions

/** Near-duplicate detection over documents (SURVEY.md §2.F F2):
  * word-3-gram shingles → MinHash signatures → banded LSH candidate pairs,
  * plus SimHash and exact n-gram Jaccard. Everything is expressed as
  * DataFrame transforms (explode → agg → equi-join on band key), so at
  * 100 TB the candidate join shuffles on small band-hash keys rather than
  * comparing documents pairwise.
  *
  * MinHash/SimHash use xxhash64 (no DuckDB twin → no oracle; correctness is
  * property-tested in ScalaTest: MinHash estimate ≈ exact Jaccard, planted
  * duplicates collide). The exact n-gram Jaccard query IS oracle-graded.
  */
object MinHash {

  val NumPerms = 32
  val BandRows = 4 // 8 bands × 4 rows
  val GramLen = 3

  /** LSH banding auto-tuner (round 14; Leskovec–Rajaraman–Ullman, Mining
    * of Massive Datasets §3.4): among the (bands b, rows r) factorizations
    * of `sigLen`, pick the one minimizing total error mass around the
    * target Jaccard `threshold` — FP area ∫₀ᵗ p(s) ds + FN area
    * ∫ₜ¹ (1 − p(s)) ds under the S-curve p(s) = 1 − (1 − sʳ)ᵇ, evaluated
    * by a fixed 1000-step midpoint rule (deterministic — no float-order
    * dependence; the integrand is smooth so midpoint error ≪ the gaps
    * between candidate factorizations). Ties (possible only if two
    * factorizations produce equal error to the last ulp) break toward
    * more bands = higher recall. Driver-side arithmetic on O(divisors ×
    * 1000) doubles — nanoseconds; nothing touches the cluster.
    *
    * Returns (bands, rowsPerBand) with bands × rowsPerBand == sigLen.
    * The default 8×4 banding of this module sits at S-curve midpoint
    * (1/8)^(1/4) ≈ 0.595 — `tuneBands(32, 0.6)` recovers it.
    */
  def tuneBands(sigLen: Int, threshold: Double): (Int, Int) = {
    require(sigLen >= 2, s"sigLen must be >= 2, got $sigLen")
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    val candidates = (1 to sigLen).filter(sigLen % _ == 0)
      .map(b => (b, sigLen / b))
    def errorMass(b: Int, r: Int): Double = {
      val n = 1000
      var fp = 0.0; var fn = 0.0
      var i = 0
      while (i < n) {
        val s = (i + 0.5) / n
        val p = 1.0 - math.pow(1.0 - math.pow(s, r), b)
        if (s < threshold) fp += p else fn += 1.0 - p
        i += 1
      }
      (fp + fn) / n
    }
    candidates.minBy { case (b, r) => (errorMass(b, r), -b) }
  }

  /** doc_id, sh (string) — distinct word-3-gram shingles. Reference
    * string-level form (used by the ScalaTest cross-checks); production
    * paths hash the shingles inside the codegen `shingle_hashes` kernel
    * (functions.ShingleHashes, one pass per document), which never
    * materializes gram strings — the declarative
    * split/transform/array_distinct/explode formulation below measured
    * 4+ s at sf0.1 purely in interpreted lambda overhead.
    */
  def shingles(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    val grams = transform(
      sequence(lit(0), size(toks) - 3),
      i => concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3)))
    docs.select(col("doc_id"), explode(array_distinct(grams)).as("sh"))
  }

  /** doc_id, sig: array of NumPerms min-hashes — a pure per-row map
    * (functions.MinHashSig), NO shuffle: the previous explode+groupBy
    * formulation shuffled every (doc, shingle) row; this scales
    * row-parallel on a cluster and measured ~10× faster at sf0.1.
    * `sig` is NULL for docs with fewer than GramLen tokens (no shingles →
    * no signature); LSH consumers must filter nulls before banding.
    */
  def signatures(docs: DataFrame): DataFrame = {
    VectorFunctions.registered(docs)
    docs.select(col("doc_id"),
      call_function("minhash_sig", col("text"), lit(NumPerms), lit(GramLen)).as("sig"))
  }

  /** Banded LSH candidate pairs with MinHash-estimated Jaccard ≥ minEst.
    *
    * Candidate generation is a band-key equi-SELF-JOIN: both sides project
    * (band, bkey, tkey, sig) and pairs fall out of the join on
    * (band, bkey) — the same shape as [[Similarity.lshCandidates]] and the
    * shingle join in [[Dedup.jaccardEdgesOf]]. The earlier formulation
    * collect_list'd each (band, bucket) group into one array and generated
    * combos with interpreted flatten/transform/slice lambdas — on a
    * duplicate-heavy corpus (the normal case for a web crawl) exact dups
    * share ALL bands, so one degenerate bucket landed in ONE task and
    * allocated O(bucket²) structs on its heap. As a join, the same hot
    * bucket is an AQE-skew-splittable partition, the pair rows stream
    * through whole-stage codegen, and the match-count is 32 plain column
    * comparisons. Shuffle cost: bands × sig bytes per DISTINCT text on
    * each side — an md5 exact-dup pre-pass collapses identical texts to
    * one banding representative, and group pairs are expanded back to doc
    * pairs by tkey equi-joins afterwards (the dup-heavy-corpus guard on
    * top of the standard LSH trade).
    */
  def candidatePairs(docs: DataFrame, minEst: Double): DataFrame =
    candidatePairs(docs, minEst, BandRows)

  /** [[candidatePairs]] with banding tuned to the threshold by
    * [[tuneBands]] — at the module default minEst ≈ 0.6 this IS the
    * default 8×4 banding (identity, spec-pinned); at lower thresholds it
    * widens to more/shorter bands for recall (e.g. 0.2 → 16×2), at
    * higher ones to fewer/longer bands so off-target pairs never reach
    * the band join. Narrower bands are a strict recall superset: every
    * aligned 4-run of matching perms contains aligned 2-runs, so any
    * default-banding candidate also collides under 16×2 (law-tested). */
  def candidatePairsTuned(docs: DataFrame, minEst: Double): DataFrame = {
    val (_, rows) = tuneBands(NumPerms,
      // the S-curve target is the estimate cut itself, clamped inside
      // (0,1) so minEst 1.0 (exact dups only) still tunes
      math.min(math.max(minEst, 0.01), 0.99))
    candidatePairs(docs, minEst, rows)
  }

  def candidatePairs(docs: DataFrame, minEst: Double, bandRows: Int): DataFrame = {
    require(bandRows >= 1 && NumPerms % bandRows == 0,
      s"bandRows must divide NumPerms=$NumPerms, got $bandRows")
    VectorFunctions.registered(docs)
    // gram-less docs have NULL signatures — they can never near-dup, and
    // banding them would put every short doc in the same bucket.
    // lineage cut: this subtree (scan + md5 + the 32-perm minhash
    // kernel) feeds the band join AND three expansion joins — without the
    // checkpoint Spark re-executes it up to 6× (ReuseExchange only dedupes
    // the identically-shaped a/b shuffles). Lazy form: materialized on the
    // first action, (doc_id, tkey, sig) ≈ 300 B/doc — far smaller than
    // the corpus it replaces re-scanning.
    val sigs = Lineage.cut(docs.select(col("doc_id"), md5(col("text")).as("tkey"),
        call_function("minhash_sig", col("text"), lit(NumPerms), lit(GramLen)).as("sig"))
      .filter(col("sig").isNotNull))
    // exact-dup pre-pass: identical texts have identical signatures, so
    // ONE representative per distinct text enters banding — on a
    // duplicate-heavy crawl this is what keeps band buckets bounded (k
    // copies of a page would otherwise contribute k rows to every one of
    // their 8 buckets and k² rows to every band join). Cost: one extra
    // shuffle keyed on md5 (16 bytes + the 32-long sig per doc), the
    // protective trade. sig is identical within a tkey group, so first()
    // is deterministic here.
    val groups = sigs.groupBy(col("tkey"))
      .agg(min(col("doc_id")).as("doc_id"), first(col("sig")).as("sig"))
    val bands = groups.select(col("tkey"), col("sig"),
      posexplode(array((0 until NumPerms / bandRows).map(b =>
        xxhash64(lit(b) +: (0 until bandRows).map(r =>
          col("sig").getItem(b * bandRows + r)): _*)): _*)).as(Seq("band", "bkey")))
    val a = bands.select(col("tkey").as("a_key"), col("band"), col("bkey"),
      col("sig").as("a_sig"))
    val b = bands.select(col("tkey").as("b_key"), col("band"), col("bkey"),
      col("sig").as("b_sig"))
    val matches = (0 until NumPerms)
      .map(i => when(col("a_sig").getItem(i) === col("b_sig").getItem(i), 1).otherwise(0))
      .reduce(_ + _)
    // distinct-text pair estimates via the band-key equi-self-join — the
    // hot bucket is an AQE-skew-splittable join partition, pair rows
    // stream through whole-stage codegen, and the match-count is 32 plain
    // column comparisons
    val repPairs = a.join(b, Seq("band", "bkey"))
      .filter(col("a_key") < col("b_key"))
      .select(col("a_key"), col("b_key"),
        trunc4(matches.cast("double") / NumPerms).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEst)
      // a pair colliding in several bands appears once per band — same
      // estimate each time; the groupBy is the dedup
      .groupBy(col("a_key"), col("b_key"))
      .agg(max(col("est_jaccard")).as("est_jaccard"))
    // expansion back to doc pairs: cross-group pairs inherit their reps'
    // estimate (signatures depend only on text); within-group pairs are
    // exact duplicates, est 1.0 by construction. Both expansions are
    // equi-joins on tkey — quadratic only in the OUTPUT (the all-pairs
    // contract itself), never in a single task's heap.
    val members = sigs.select(col("tkey"), col("doc_id"))
    val cross = repPairs
      .join(members.select(col("tkey").as("a_key"), col("doc_id").as("ma")), Seq("a_key"))
      .join(members.select(col("tkey").as("b_key"), col("doc_id").as("mb")), Seq("b_key"))
      .select(least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id"), col("est_jaccard"))
    val within = members
      .join(members.select(col("tkey"), col("doc_id").as("b_id")), Seq("tkey"))
      .filter(col("doc_id") < col("b_id"))
      .select(col("doc_id").as("a_id"), col("b_id"), lit(1.0).as("est_jaccard"))
    (if (minEst <= 1.0) cross.unionByName(within) else cross)
      .orderBy(col("est_jaccard").desc, col("a_id"), col("b_id"))
  }

  // F2: MinHash signatures (no oracle — xxhash64). Deterministic rows-only.
  // The signature array is serialized to csv: the driver sorts every output
  // column in pandas even for rows-only checks, and array cells are
  // unhashable there.
  val qMinhashSig = Q.noOracle("q_f2_minhash_sig") { (s, d) =>
    signatures(documents(s, d))
      .select(col("doc_id"),
        array_join(transform(col("sig"), _.cast("string")), ",").as("sig_csv"))
      .orderBy(col("doc_id"))
  }

  // F2: banded-LSH near-dup candidate pairs (no oracle; empty when the
  // corpus has no near-dups — property tests plant duplicates).
  val qMinhashPairs = Q.noOracle("q_f2_minhash_pairs") { (s, d) =>
    candidatePairs(documents(s, d), 0.5)
  }

  // SimHash (64-bit) per document — single codegen'd pass per row
  // (functions.SimHash64): no token explode, no 32-column aggregate, no
  // shuffle except the final ORDER BY. The old explode+agg shape measured
  // 1.69 s at sf0.1; the kernel is a per-row map like minhash_sig.
  val qSimhash = Q.noOracle("q_f2_simhash") { (s, d) =>
    VectorFunctions.register(s)
    documents(s, d)
      .select(col("doc_id"), call_function("simhash64", col("text")).as("simhash"))
      .orderBy(col("doc_id"))
  }

  /** F2c (round 13): SimHash near-dup PAIRS — the banded hamming-distance
    * join that turns [[qSimhash]]'s signatures into an actual dedup
    * operator (Manku, Jain & Sarma, WWW 2007: the Google web-crawl
    * near-dup detector). Pigeonhole: split the 64-bit signature into
    * `maxHamming + 1` contiguous bit bands — any two signatures within
    * `maxHamming` hamming distance agree EXACTLY on at least one band —
    * so candidates come from an equi-join on (band index, band bits) and
    * each survivor is verified by one codegen `bit_count(a XOR b)`.
    * Recall is exact (the pigeonhole is a theorem, not a probability);
    * precision is the verify step. The only shuffle is the band-key
    * equi-join — the same 100 TB shape as the MinHash and sign-LSH
    * joins, skew-bounded because a band key holds only docs that agree
    * on `64/(maxHamming+1)` signature bits. The `maxHamming ≤ 7` bound
    * (round 14, per ADVICE) is what MAKES that claim true: 8 bands of
    * ≥ 8 bits give ≥ 256 distinct keys per band, while the previously
    * permitted 15 shrank bands to 4 bits (16 keys) and degenerated the
    * equi-join toward a quadratic self-join on any large corpus.
    * Manku's production setting is 3–4 bits of distance on 64-bit
    * signatures; for looser matching use MinHash banding instead.
    *
    * Duplicate-heavy-corpus guard (round 14): an md5 exact-dup rep-set
    * collapses identical texts to ONE banding representative (identical
    * text ⇒ identical signature ⇒ identical key in EVERY band, so k
    * copies of a page would otherwise put k² rows into each band join —
    * the [[candidatePairs]] hazard, same cure). Group pairs expand back
    * to doc pairs by tkey equi-joins; within-group pairs are hamming 0
    * by construction. Result set identical to the naive band self-join.
    */
  def simhashPairsOf(docs: org.apache.spark.sql.DataFrame,
      maxHamming: Int = 3): org.apache.spark.sql.DataFrame = {
    val (members, repPairs) = simhashRepPairs(docs, maxHamming)
    // expansion back to doc pairs, exactly the [[candidatePairs]] scheme:
    // cross-group pairs inherit their reps' hamming (signatures depend
    // only on text); within-group pairs are exact text duplicates,
    // hamming 0 by construction. Quadratic only in the OUTPUT (the
    // all-pairs contract itself), never in a band bucket's task heap.
    val cross = repPairs
      .join(members.select(col("tkey").as("a_key"), col("doc_id").as("ma")), Seq("a_key"))
      .join(members.select(col("tkey").as("b_key"), col("doc_id").as("mb")), Seq("b_key"))
      .select(least(col("ma"), col("mb")).as("a_id"),
        greatest(col("ma"), col("mb")).as("b_id"), col("hamming"))
    val within = members
      .join(members.select(col("tkey"), col("doc_id").as("b_id")), Seq("tkey"))
      .filter(col("doc_id") < col("b_id"))
      .select(col("doc_id").as("a_id"), col("b_id"), lit(0L).as("hamming"))
    cross.unionByName(within)
  }

  /** The dup-collapsed core of the SimHash family: distinct-text
    * representatives banded and self-joined. Returns (members: every
    * (tkey = md5(text), doc_id); repPairs: qualifying DISTINCT-TEXT pairs
    * as (a_key, b_key, hamming)). The md5 rep-set pre-pass (round 14) is
    * the same duplicate-heavy-corpus guard [[candidatePairs]] carries:
    * identical texts have identical signatures, hence identical keys in
    * EVERY band — k copies of one page would contribute k rows to each of
    * their band buckets and k² rows to every band join, the exact
    * quadratic degeneration the banding exists to avoid. One
    * representative per distinct text enters banding instead, so a dup
    * blob costs ONE banded row however many copies exist; consumers
    * expand back to doc granularity (all pairs in [[simhashPairsOf]],
    * linear star edges in [[simhashDedupGroups]]).
    */
  private def simhashRepPairs(docs: org.apache.spark.sql.DataFrame,
      maxHamming: Int): (DataFrame, DataFrame) = {
    VectorFunctions.register(docs.sparkSession)
    // lineage cut: the scan + md5 + simhash kernel feed the band join
    // AND the expansion joins — lazy cut so Spark does not re-execute the
    // subtree per consumer (the candidatePairs precedent)
    val sigs = Lineage.cut(docs.filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text")).as("tkey"),
        call_function("simhash64", col("text")).as("sig")))
    // sig is a pure function of text, so first() within a tkey group is
    // deterministic
    val groups = sigs.groupBy(col("tkey")).agg(first(col("sig")).as("sig"))
    val repPairs = hammingPairs64(groups, maxHamming, idCol = "tkey")
      .select(col("a_id").as("a_key"), col("b_id").as("b_key"), col("hamming"))
    (sigs.select(col("tkey"), col("doc_id")), repPairs)
  }

  /** Manku (WWW '07) pigeonhole banding over ARBITRARY 64-bit signatures
    * (round 17: factored out of the SimHash family so the image dHash
    * path — [[Multimodal.imageNearDupPairs]] — rides the identical,
    * spec-proven join). `sigs` is one row per item (`idCol`, `sig:
    * long`); returns every (a_id, b_id, hamming ≤ maxHamming) pair with
    * a_id < b_id, hamming exact. Recall is EXACT by the pigeonhole
    * theorem: two sigs within `maxHamming` bits differ in at most
    * maxHamming of the maxHamming+1 bands, so they COLLIDE in ≥ 1 band
    * and one `bit_count(xor)` verifies. The only shuffle is the (band,
    * key) equi-join — callers feeding duplicate-heavy corpora must
    * rep-collapse first (identical sigs share every band key — the
    * quadratic hazard simhashRepPairs' md5 pre-pass exists for).
    */
  /** The Manku banding of a 64-bit signature column into maxHamming + 1
    * (band, key) structs — by pigeonhole, two sigs within maxHamming
    * bits agree EXACTLY on at least one band. Shared by
    * [[hammingPairs64]] and the round-19 streaming media near screen
    * ([[Multimodal.mediaDedupStreamNear]]) so the two bandings can never
    * drift. */
  private[graft] def bandKeys64(sig: org.apache.spark.sql.Column,
      maxHamming: Int): org.apache.spark.sql.Column = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"maxHamming must be in [0, 7] (band width >= 8 bits keeps the band " +
        s"join skew-bounded), got $maxHamming")
    val nBands = maxHamming + 1
    val base = 64 / nBands
    val rem = 64 % nBands
    // band b: width base (+1 for the first `rem` bands), cumulative offset
    val widths = Seq.tabulate(nBands)(b => base + (if (b < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _).init
    array(Seq.tabulate(nBands) { b =>
      val mask = if (widths(b) == 64) -1L else (1L << widths(b)) - 1L
      struct(lit(b).as("band"),
        shiftrightunsigned(sig, offsets(b)).bitwiseAND(lit(mask)).as("key"))
    }: _*)
  }

  private[graft] def hammingPairs64(sigs: DataFrame, maxHamming: Int,
      idCol: String = "doc_id"): DataFrame = {
    val banded = sigs.select(col(idCol).as("__id"), col("sig"),
      explode(bandKeys64(col("sig"), maxHamming)).as("bk"))
      .select(col("__id"), col("sig"), col("bk.band").as("band"), col("bk.key").as("key"))
    banded.select(col("__id").as("a_id"), col("sig").as("sa"),
        col("band"), col("key"))
      .join(banded.select(col("__id").as("b_id"), col("sig").as("sb"),
        col("band"), col("key")), Seq("band", "key"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      // a pair colliding in several bands appears once per band — same
      // hamming each time; the groupBy is the dedup
      .groupBy(col("a_id"), col("b_id")).agg(min(col("hamming")).as("hamming"))
  }

  // F2c graded query: SimHash pair join at hamming ≤ 3 (no oracle —
  // hash-based like the other F2 entries; golden + the brute-force
  // equivalence spec + cross-parallelism determinism cover it).
  val qSimhashPairs = Q.noOracle("q_f2_simhash_pairs") { (s, d) =>
    simhashPairsOf(documents(s, d), 3)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** F2c composed with F11's clustering (round 14): SimHash dedup GROUPS —
    * connected components over the banded hamming pair list, every doc
    * labeled with its component's min doc_id. Pairs CHAIN (A within 3
    * bits of B, B of C — hamming obeys the triangle inequality only up
    * to 2·maxHamming, so {A,B,C} is one dedup group even when
    * hamming(A,C) > maxHamming), which is the same reason the Jaccard
    * (F11) and edit-distance (F24) families both ship a groups
    * composition: keeping "one of each pair" over-keeps on any chained
    * duplicate cluster. Docs with NULL text (no signature, never paired)
    * still label themselves — every input doc gets a cluster row. The
    * CC loop is the shared hybrid engine ([[Dedup.connectedComponents]]):
    * min-label with contraction on the shallow graphs near-dup corpora
    * produce, auto-switching to the two-phase star rewrite if a deep
    * component reveals itself.
    *
    * Edge volume is LINEAR in the corpus, not pair-quadratic: instead of
    * CC over [[simhashPairsOf]]'s all-pairs expansion (k²/2 edges for a
    * k-copy dup blob), the components run over the distinct-text rep
    * graph plus one member→representative STAR edge per duplicate doc —
    * connectivity-identical (within a text group the star and the clique
    * connect the same node set; a cross-group doc pair and its rep pair
    * link the same two groups), and the spec asserts label equality
    * against the all-pairs formulation.
    */
  def simhashDedupGroups(s: SparkSession, docs: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    val (members, repPairs) = simhashRepPairs(docs, maxHamming)
    // rep doc id per text group — min is the canonical choice
    val reps = members.groupBy(col("tkey")).agg(min(col("doc_id")).as("rep"))
    val repEdges = repPairs
      .join(reps.select(col("tkey").as("a_key"), col("rep").as("a_id")), Seq("a_key"))
      .join(reps.select(col("tkey").as("b_key"), col("rep").as("b_id")), Seq("b_key"))
      .select(col("a_id"), col("b_id"))
    val starEdges = members.join(reps, Seq("tkey"))
      .filter(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("a_id"), col("rep").as("b_id"))
    Dedup.connectedComponents(s, docs.select(col("doc_id")),
      repEdges.unionByName(starEdges))
  }

  // F2c groups graded query (no oracle — hash-based like its F2 siblings;
  // golden + planted-chain spec + cross-parallelism determinism cover it,
  // and the spec proves labels identical across both CC formulations).
  val qSimhashDedupGroups = Q.noOracle("q_simhash_dedup_groups") { (s, d) =>
    Dedup.withClusterSize(simhashDedupGroups(s, documents(s, d), 3))
      .orderBy(col("doc_id"))
  }

  // Exact n-gram Jaccard — oracle-graded near-dup scoring as a THRESHOLDED
  // similarity join (j ≥ 0.5, top 50). The threshold is what makes the
  // operator scale-sane: it admits the AllPairs/PPJoin prefix-filter lemma
  // (Dedup.jaccardPairsOf), so only each doc's first |d| − ⌈t·|d|⌉ + 1
  // sorted shingles enter the candidate join — a ~6× smaller pair space
  // than the full shingle equi-join this query shipped in rounds 1–3,
  // with exact verification by one codegen'd sorted-merge intersect per
  // surviving candidate instead of a count-shuffle of every co-shingle
  // row. An unthresholded global top-k would force full pair enumeration
  // at any scale — at 100 TB the thresholded join IS the contract.
  val qNgramJaccard = Q(
    "q_ngram_jaccard",
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
      |         generate_series(1, len(t) - 2),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |       FROM sp),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id)
      |SELECT a_id, b_id,
      |       floor(i * 1.0 / (sa.sz + sb.sz - i) * 10000)/10000 AS jaccard
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = a_id
      |JOIN sizes sb ON sb.doc_id = b_id
      |WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
      |ORDER BY jaccard DESC, a_id, b_id
      |LIMIT 50""".stripMargin) { (s, d) =>
    // the raw (untruncated) jaccard gates the threshold on BOTH engines —
    // the exact integer operands make the IEEE division bit-identical, so
    // the boundary comparison can't diverge; trunc4 is display-only
    Dedup.jaccardPairsOf(s, documents(s, d), 0.5)
      .select(col("a_id"), col("b_id"), trunc4(col("jaccard")).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(50)
  }

  def all: Seq[Q] = Seq(qMinhashSig, qMinhashPairs, qSimhash, qSimhashPairs,
    qSimhashDedupGroups, qNgramJaccard)
}
