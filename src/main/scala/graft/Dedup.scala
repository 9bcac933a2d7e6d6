package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Tables._
import graft.functions.VectorFunctions

/** Near-duplicate CLUSTERING (SURVEY.md §2.F, training-data pipeline):
  * turn pairwise near-dup evidence into dedup groups — the operation a
  * 100 TB corpus actually needs, since keeping "one of each pair" is wrong
  * when duplicates chain (A≈B, B≈C ⇒ {A,B,C} is one group).
  *
  * Algorithm: connected components by iterative min-label propagation —
  * each node repeatedly takes the smallest label among itself and its
  * neighbors until fixpoint. Convergence is O(component diameter)
  * rounds; near-dup components are shallow (duplicates of a common
  * source), so this terminates in a handful of rounds even at corpus
  * scale, each round one shuffle (join on the edge list) + one partial
  * aggregate. The loop is driver-COORDINATED but data never leaves the
  * cluster (same structure GraphX/GraphFrames use); lineage is cut per
  * round ([[Lineage.cut]]) so plans stay bounded.
  *
  * The DuckDB oracle computes the same fixpoint as a recursive CTE
  * (transitive closure + min over reachable set) — an independent
  * formulation, which is what makes the hash-match meaningful.
  */
object Dedup {

  /** Symmetric near-dup edge list: exact word-3-gram Jaccard ≥ minJaccard
    * over hashed shingles.
    *
    * Prefix-filtered set-similarity join (the AllPairs/PPJoin scheme from
    * the published set-join literature): `shingle_hashes` returns each
    * doc's shingles sorted ascending — a canonical global order — and for
    * Jaccard ≥ t any qualifying pair must (a) have |A∩B| ≥ t·|A| and
    * ≥ t·|B|, hence size ratio min/max ≥ t, and (b) share at least one
    * element within each side's first |d| − ⌈t·|d|⌉ + 1 shingles. So the
    * candidate join explodes only that prefix (0.4·|d| at t = 0.6) instead
    * of every shingle — a ~6× smaller pair space than the full
    * shingle-equi-join — and exact verification is one codegen'd
    * `sorted_intersect_count` merge over the two full arrays per
    * surviving candidate, not a count-shuffle of every co-shingle row.
    * Same result set as the exhaustive join (the lemma is exact, not
    * probabilistic), which is why the recursive-CTE oracle still matches.
    */
  def jaccardEdges(s: SparkSession, d: String, minJaccard: Double): DataFrame =
    jaccardEdgesOf(s, documents(s, d), minJaccard)

  /** Same, over any (doc_id, text) frame — the spec layer plants dup
    * chains in memory and asserts the prefix-filtered plan emits exactly
    * the exhaustive join's edge set.
    */
  def jaccardEdgesOf(s: SparkSession, docs: DataFrame, minJaccard: Double): DataFrame =
    jaccardPairsOf(s, docs, minJaccard).select(col("a_id"), col("b_id"))

  /** Prefix-filtered thresholded similarity join returning the raw (un-
    * truncated) Jaccard value per qualifying pair — the value-carrying
    * form behind both [[jaccardEdgesOf]] and MinHash.qNgramJaccard.
    */
  def jaccardPairsOf(s: SparkSession, docs: DataFrame, minJaccard: Double): DataFrame =
    jaccardJoin(s, docs, docs, minJaccard, sameFrame = true)

  /** BIPARTITE prefix-filtered Jaccard join (round 14): every (left doc,
    * right doc) pair with word-3-gram Jaccard ≥ minJaccard — the
    * INCREMENTAL-dedup primitive. The AllPairs/PPJoin prefix lemma is
    * per-PAIR (a qualifying pair shares an element inside each side's
    * value prefix under the one global hash order), so it restricts a
    * bipartite join exactly as it does the self-join; only the
    * candidate space changes, from corpus × corpus to increment ×
    * corpus — which is the whole point at 100 TB: a daily ingest is
    * deduped against the standing corpus at |Δ|·|C|-prefix cost, never
    * re-deduping C against itself. Emits (a_id from left, b_id from
    * right, jaccard) with NO id-order canonicalization (the sides are
    * different frames; a doc present in both joins itself at 1.0).
    */
  def jaccardPairsBetween(s: SparkSession, left: DataFrame, right: DataFrame,
      minJaccard: Double): DataFrame =
    jaccardJoin(s, left, right, minJaccard, sameFrame = false)

  private def jaccardJoin(s: SparkSession, left: DataFrame, right: DataFrame,
      minJaccard: Double, sameFrame: Boolean): DataFrame = {
    // out-of-range thresholds otherwise surface as a cryptic negative
    // slice length deep inside the codegen prefix filter (round 13)
    require(minJaccard > 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in (0, 1], got $minJaccard")
    VectorFunctions.register(s)
    val t = minJaccard
    def base(docs: DataFrame) = docs
      .select(col("doc_id"),
        call_function("shingle_hashes", col("text"), lit(MinHash.GramLen)).as("shs"))
      .select(col("doc_id"), col("shs"), size(col("shs")).cast("long").as("sz"))
      .filter(col("sz") > 0)
    def pre(b: DataFrame) = {
      val prefLen = (col("sz") - ceil(col("sz") * lit(t)) + 1).cast("int")
      // posexplode (optimization round 20): the 0-based position of each
      // prefix shingle within the (hash-sorted) shingle set feeds the
      // PPJoin POSITIONAL filter below
      b.select(col("doc_id"), col("sz"),
        posexplode(slice(col("shs"), lit(1), prefLen)).as(Seq("pp", "shh")))
    }
    // share ONE plan instance across both sides of the self-join: two
    // `base(left)` calls build two distinct subtrees with fresh expression
    // IDs, so Spark computes the shingle scan twice (round-14 regression,
    // ~1.6× on q_ngram_jaccard); a single instance lets the self-join
    // reuse the exchange. AND cut its lineage (optimization round 21, the
    // containmentPairs round-17 lesson finally applied here too): the
    // instance feeds the prefix explode on BOTH join sides and BOTH
    // verify back-joins, and since those are broadcast subtrees — not
    // shared exchanges — each one re-executed the scan + shingle kernel
    // (4 corpus passes, measured ~0.95 s of q_ngram_jaccard's 1.2 s at
    // sf0.1; at 100 TB, 4 corpus text re-scans vs one slim (id, shs, sz)
    // materialization).
    val lb = Lineage.cut(base(left))
    val rb = if (sameFrame) lb else Lineage.cut(base(right))
    // self-join: the a<b predicate canonicalizes and halves the space;
    // bipartite: every qualifying (left, right) pair is kept as-is
    val orient =
      if (sameFrame) col("a_id") < col("b_id") else lit(true)
    // PPJoin positional filter (optimization round 20 — exact, the
    // published lemma): both shingle sets are sorted under the SAME
    // global (hash) order, so a matched prefix element at 0-based
    // positions (pa, pb) bounds the overlap by ub = min(sa−pa, sb−pb)
    // (the match itself plus everything after it on the shorter tail).
    // A qualifying pair's FIRST common element sits in both prefixes
    // (the prefix lemma) and has no intersection below it, so its row
    // satisfies the bound — dropping rows where even ub's Jaccard
    // ub/(sa+sb−ub) < t loses no pair (same double arithmetic as the
    // verify, so the boundary cannot over-filter). Measured at sf0.1:
    // 291,620 → ~3k candidate pairs for the same 256 survivors.
    val ubJ = {
      val ub = least(col("sa") - col("pa"), col("sb") - col("pb"))
      ub.cast("double") / (col("sa") + col("sb") - ub)
    }
    val cand = pre(lb).select(col("doc_id").as("a_id"), col("sz").as("sa"),
        col("pp").as("pa"), col("shh"))
      .join(pre(rb).select(col("doc_id").as("b_id"), col("sz").as("sb"),
        col("pp").as("pb"), col("shh")), Seq("shh"))
      .filter(orient &&
        col("sb") >= col("sa") * lit(t) && col("sa") >= col("sb") * lit(t) &&
        ubJ >= t)
      .select(col("a_id"), col("b_id"))
      .distinct()
    cand
      .join(lb.select(col("doc_id").as("a_id"), col("shs").as("a_shs"),
        col("sz").as("sa")), Seq("a_id"))
      .join(rb.select(col("doc_id").as("b_id"), col("shs").as("b_shs"),
        col("sz").as("sb")), Seq("b_id"))
      .withColumn("i",
        call_function("sorted_intersect_count", col("a_shs"), col("b_shs")).cast("double"))
      .withColumn("jaccard", col("i") / (col("sa") + col("sb") - col("i")))
      .filter(col("jaccard") >= t)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Shingle vocabularies at or under this size take the
    * `freq_order_values` kernel path in [[containmentPairs]] — the df
    * table rides as a driver-held literal (≤ 1 MB plan payload, the
    * PrefixKernelMaxVocab class). Word-shingle vocabularies grow with
    * the corpus, so at 100 TB the explode + join shape is the expected
    * (and exact-identical) path. */
  val ContainmentKernelMaxVocab: Long = 1L << 16

  /** F47 (round 16): near-CONTAINMENT detection — every ORDERED doc pair
    * (inner, outer) whose word-3-gram containment
    * c(inner → outer) = |S(inner) ∩ S(outer)| / |S(inner)| ≥ `minC`
    * (Broder 1997's second resemblance measure). The asymmetric twin of
    * [[jaccardPairsOf]]: a crawl page that wraps a whole smaller document
    * in boilerplate (quote pages, mirrors with chrome, aggregators) has
    * LOW Jaccard against it — the union is container-sized — but the
    * contained doc's containment is ≈ 1, which is the signal dedup and
    * decontamination actually want there. Emits `c_millionths` =
    * `i·10⁶ div |S(inner)|` (exact integer) per qualifying pair; exact
    * duplicates appear in both directions at 10⁶.
    *
    * Scale: the prefix lemma is one-sided — a qualifying pair shares
    * ≥ ⌈t·|A|⌉ shingles, so it shares one inside A's first
    * |A| − ⌈t·|A|⌉ + 1 shingles under ANY global total order — hence
    * only the INNER side explodes a prefix; the outer side is a full
    * inverted index (the published cost of containment joins: no size
    * upper bound may prune the container side, that asymmetry IS the
    * semantics). The prefix ORDER is document-frequency ASCENDING
    * (df, then hash — the AllPairs canonical order), NOT hash order:
    * prefixes then hold each doc's RAREST shingles, so corpus-hot
    * boilerplate shingles (chrome shared by every wrapper page — df in
    * the millions, and exactly what a containment corpus is full of)
    * sit at the END of the order and never enter the candidate join.
    * Measured on the 1.1M-doc cert: hash-ordered prefixes let 6 chrome
    * shingles × 100k-df each into the join (~10⁹ candidates, unusable);
    * df-ordered prefixes finish the same corpus in seconds with the
    * IDENTICAL result set (the lemma holds for any order — spec-pinned
    * against the exhaustive join). Costs one df partial-agg + one join
    * + a per-doc bounded re-sort over the corpus, all linear.
    * Candidates verify with the same codegen `sorted_intersect_count`
    * merge over the hash-sorted full arrays.
    *
    * Input contract (as [[TextOps.lmBigramScores]]): `doc_id` is assumed
    * UNIQUE. The kernel path orders each INPUT ROW's shingles, while the
    * explode + df-join fallback regroups by (doc_id, sz) and so merges
    * rows that share an id — with duplicate ids the two paths emit
    * different pairs, and which one runs depends on the vocabulary size.
    * The documents contract has unique ids; a caller with duplicates
    * must pre-aggregate.
    */
  def containmentPairs(s: SparkSession, docs: DataFrame, minC: Double): DataFrame = {
    require(minC > 0.0 && minC <= 1.0, s"minC must be in (0, 1], got $minC")
    VectorFunctions.register(s)
    val t = minC
    // ONE plan instance feeds the prefix side, the index side, and both
    // verify joins (the round-14 shared-instance lesson: fresh subtrees
    // re-execute the shingle scan) — and its lineage is cut (round
    // 17, per the verdict's A/B ask): the shared instance prevented
    // re-ANALYSIS but the scan + shingle kernel still re-EXECUTED in up
    // to four sibling subtrees; materializing the slim (id, shs, sz)
    // rows once (the F46 gram-reuse trick) measured a modest warm win
    // on q_f47_containment at sf0.1 (6-rep min 1.42 → 1.34 s; cold rep
    // pays ~0.4 s materialization), identical results — and at 100 TB
    // the avoided work is four corpus-text re-scans, which dwarfs the
    // one slim materialization
    val base = Lineage.cut(docs
      .select(col("doc_id"),
        call_function("shingle_hashes", col("text"), lit(MinHash.GramLen)).as("shs"))
      .select(col("doc_id"), col("shs"), size(col("shs")).cast("long").as("sz"))
      .filter(col("sz") > 0))
    val prefLen = (col("sz") - ceil(col("sz") * lit(t)) + 1).cast("int")
    // per-doc df-ascending order: bounded by doc length (the per-doc
    // collect/sort bound of F11/F30), never a corpus structure. ONE
    // sorted frame serves both sides (optimization round 20): the inner
    // prefix slices it, and the outer inverted index posexplodes it IN
    // THE SAME (df, shingle) ORDER — which is what lets the PPJoin
    // positional filter below apply to the asymmetric join too (both
    // positions are ranks under one shared total order).
    //
    // df FIT + per-doc re-order, two result-identical shapes on the
    // vocab size (optimization round 21, the edit-join qgram_freq_agg
    // pattern):
    //   - vocab ≤ ContainmentKernelMaxVocab (fit non-NULL): ONE bounded
    //     map-aggregate pass (`long_freq_agg`) fits the df table, and
    //     each doc's (df, shingle)-ascending order is the per-row
    //     `freq_order_values` kernel against the driver-held table — no
    //     occurrence explode, no df join, no collect_list doc_id shuffle
    //     (measured 0.61 s of q_f47's 1.05 s at sf0.1);
    //   - larger vocabs (fit NULL — word-shingle vocabularies grow with
    //     the corpus, so this IS the 100 TB path) keep the explode →
    //     df join → sort_array(collect_list) shape, lazily cut so the
    //     aggregation feeds both posexplode sides structurally (the
    //     committed round-20 plans show it planned twice, no
    //     ReusedExchange).
    val fitRow = base
      .agg(call_function("long_freq_agg", col("shs"),
        lit(DriverPull.budget(ContainmentKernelMaxVocab).toInt)).as("ft"))
      .head()
    val fit = if (fitRow.isNullAt(0)) null else fitRow.getStruct(0)
    val ordAll =
      if (fit != null) {
        val keys = fit.getSeq[Long](0).toSeq
        val freqs = fit.getSeq[Long](1).toSeq
        base.select(col("doc_id"), col("sz"),
          call_function("freq_order_values", col("shs"),
            typedLit(keys), typedLit(freqs)).as("ord"))
      } else {
        val sh = base.select(col("doc_id"), col("sz"), explode(col("shs")).as("shh"))
        // global df per shingle: partial-agg collapsed, hot = one row
        val df = sh.groupBy(col("shh")).agg(count(lit(1)).as("__df"))
        Lineage.cut(sh.join(df, Seq("shh"))
          .groupBy(col("doc_id"), col("sz"))
          .agg(expr("transform(sort_array(collect_list(struct(__df, shh))), p -> p.shh)")
            .as("ord")))
      }
    val inner = ordAll
      .select(col("doc_id").as("inner_id"), col("sz").as("sa"),
        posexplode(slice(col("ord"), lit(1), prefLen)).as(Seq("pi", "shh")))
    val outer = ordAll
      .select(col("doc_id").as("outer_id"), col("sz").as("sb"),
        posexplode(col("ord")).as(Seq("po", "shh")))
    // positional bound (exact, the jaccardJoin lemma aimed at
    // containment): a match at 0-based ranks (pi, po) bounds the
    // intersection by ub = min(sa−pi, sb−po); a qualifying pair's FIRST
    // common element satisfies it, so filtering rows where even
    // ub/sa < t (the verify's own double arithmetic) loses no pair.
    val ubC = least(col("sa") - col("pi"), col("sb") - col("po"))
    val cand = inner.join(outer, Seq("shh"))
      // i ≤ sb, so sb ≥ t·sa is a necessary size screen; no upper bound
      // on the container — asymmetry is the point
      .filter(col("inner_id") =!= col("outer_id") &&
        col("sb").cast("double") >= col("sa") * lit(t) &&
        ubC.cast("double") / col("sa") >= t)
      .select(col("inner_id"), col("outer_id"))
      .distinct()
    cand
      .join(base.select(col("doc_id").as("inner_id"), col("shs").as("a_shs"),
        col("sz").as("sa")), Seq("inner_id"))
      .join(base.select(col("doc_id").as("outer_id"), col("shs").as("b_shs")),
        Seq("outer_id"))
      .withColumn("i",
        call_function("sorted_intersect_count", col("a_shs"), col("b_shs")))
      .filter(col("i").cast("double") / col("sa") >= t)
      .select(col("inner_id"), col("outer_id"),
        expr("(i * 1000000L) div sa").as("c_millionths"))
  }

  /** Graded F47 query: ordered containment pairs at 0.75 over the
    * documents corpus (exact-dup families surface in both directions at
    * 10⁶; asymmetric near-containments surface one-way). The oracle
    * recomputes distinct shingles, per-direction intersection counts,
    * and the integer containment from scratch — so the hash grades the
    * prefix filter's exactness, the direction semantics, and the
    * integer arithmetic end to end.
    */
  val qContainment = Q(
    "q_f47_containment",
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
      |         generate_series(1, len(t) - 2),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |       FROM sp),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS inner_id, b.doc_id AS outer_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      |          GROUP BY 1, 2)
      |SELECT inner_id, outer_id,
      |       CAST(i * 1000000 // sa.sz AS BIGINT) AS c_millionths
      |FROM inter JOIN sizes sa ON sa.doc_id = inner_id
      |WHERE i * 1.0 / sa.sz >= 0.75
      |ORDER BY inner_id, outer_id""".stripMargin) { (s, d) =>
    containmentPairs(s, documents(s, d), minC = 0.75)
      .orderBy(col("inner_id"), col("outer_id"))
  }

  /** F47b (round 17): containment DEDUP verdicts — the consumption half
    * of [[containmentPairs]] (the round-16 verdict's gap: every other
    * near-dup family got its composition — F11 groups, F31 keep-best,
    * F45b weights, F28 verdicts — while containment, whose published use
    * IS "drop the contained doc / strip the wrapper", emitted raw
    * edges). Labels every document from the DIRECTED containment
    * relation at `minC`:
    *
    *  - `contained` — some edge (d → o) has NO reverse edge: d is
    *    strictly (near-)contained in a genuinely larger document; drop
    *    it, the container carries its content (Broder '97's use case —
    *    quote pages, boilerplate-wrapped mirrors, aggregators);
    *  - `dup_loser` — d's only containments are MUTUAL (the exact-dup
    *    family: both directions ≥ minC) and some mutual partner beats it
    *    by (`weight` DESC, doc_id ASC) — the F31 keep-best treatment;
    *  - `kept` — everything else (docs with no out-edges, and each
    *    mutual family's best member).
    *
    * Tie/cycle semantics are pinned ONE-PASS, like
    * [[incrementalDedupVerdicts]]' smaller-id-wins rule and unlike CC's
    * transitive closure: d is `contained` even if its container is
    * itself contained (a chain a ⊂ b ⊂ c keeps only c — a's content
    * rides in b's, which rides in c's), a `dup_loser` loses to ANY
    * beating mutual partner, surviving or not (mutual partners are
    * near-identical by construction — one of them survives unless a
    * strict container drops the whole family, which is the correct
    * outcome for a family of wrapped copies), and a non-mutual cycle
    * (a near-threshold measure-zero artifact) drops all members — the
    * conservative direction for dedup. One pass means the contract is
    * plain NOT-EXISTS SQL (the DuckDB oracle) and stable under any
    * partitioning. `weight` must be deterministic and non-NULL on every
    * doc that has an edge (the [[dedupKeepBest]] convention — coalesce
    * to a sentinel before calling).
    *
    * Scale: the verdict logic runs entirely on the SLIM edge list (one
    * self-join for mutuality detection — edges are near-dup-sparse, not
    * corpus-quadratic, by the prefix filter), two weight lookups keyed
    * on doc_id, and one distinct per label; the corpus-sized work is
    * [[containmentPairs]] itself. The edge list is cut
    * once and feeds both sides of the mutual self-join (the round-14
    * shared-instance lesson).
    */
  def containmentVerdicts(s: SparkSession, docs: DataFrame, minC: Double,
      weight: org.apache.spark.sql.Column): DataFrame = {
    // slim; feeds both mutual-join sides
    val e = Lineage.cut(containmentPairs(s, docs, minC)
      .select(col("inner_id"), col("outer_id")))
    val rev = e.select(col("outer_id").as("inner_id"),
      col("inner_id").as("outer_id"), lit(true).as("__mut"))
    val w = docs.select(col("doc_id"), weight.cast("long").as("__w"))
    val marked = e.join(rev, Seq("inner_id", "outer_id"), "left")
    val contained = marked.filter(!coalesce(col("__mut"), lit(false)))
      .select(col("inner_id").as("doc_id")).distinct()
      .withColumn("__c", lit(true))
    val dupLost = marked.filter(coalesce(col("__mut"), lit(false)))
      .join(w.select(col("doc_id").as("inner_id"), col("__w").as("__wi")),
        Seq("inner_id"))
      .join(w.select(col("doc_id").as("outer_id"), col("__w").as("__wo")),
        Seq("outer_id"))
      .filter(col("__wo") > col("__wi") ||
        (col("__wo") === col("__wi") && col("outer_id") < col("inner_id")))
      .select(col("inner_id").as("doc_id")).distinct()
      .withColumn("__l", lit(true))
    docs.select(col("doc_id"))
      .join(contained, Seq("doc_id"), "left")
      .join(dupLost, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(coalesce(col("__c"), lit(false)), lit("contained"))
          .when(coalesce(col("__l"), lit(false)), lit("dup_loser"))
          .otherwise(lit("kept")).as("verdict"))
  }

  /** [[containmentVerdicts]] applied: the input rows whose verdict is
    * `kept`, original schema unchanged — the drop-contained curation
    * primitive. */
  def dropContained(s: SparkSession, docs: DataFrame, minC: Double,
      weight: org.apache.spark.sql.Column): DataFrame =
    docs.join(
      containmentVerdicts(s, docs, minC, weight)
        .filter(col("verdict") === "kept").select("doc_id"),
      Seq("doc_id"), "left_semi")

  /** Graded F47b query: containment verdicts at 0.75 with the F31 weight
    * treatment (n_chars DESC, doc_id ASC). The oracle recomputes the
    * directed edge relation from scratch (shingles, per-direction
    * intersections, the one-sided threshold) and then derives the labels
    * with independent NOT-EXISTS/CASE formulations — so the hash grades
    * the mutuality detection, the beats order, the one-pass chain/cycle
    * semantics, and the kept default end to end over the full corpus.
    */
  val qContainmentVerdicts = Q(
    "q_f47b_containment_verdicts",
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
      |         generate_series(1, len(t) - 2),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |       FROM sp),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS inner_id, b.doc_id AS outer_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      |          GROUP BY 1, 2),
      |edges AS (SELECT inner_id, outer_id
      |          FROM inter JOIN sizes sa ON sa.doc_id = inner_id
      |          WHERE i * 1.0 / sa.sz >= 0.75),
      |m AS (SELECT e.inner_id, e.outer_id,
      |             EXISTS (SELECT 1 FROM edges r
      |                     WHERE r.inner_id = e.outer_id
      |                       AND r.outer_id = e.inner_id) AS mut
      |      FROM edges e),
      |c AS (SELECT DISTINCT inner_id AS doc_id FROM m WHERE NOT mut),
      |l AS (SELECT DISTINCT m.inner_id AS doc_id
      |      FROM m JOIN documents wi ON wi.doc_id = m.inner_id
      |             JOIN documents wo ON wo.doc_id = m.outer_id
      |      WHERE m.mut AND (wo.n_chars > wi.n_chars
      |        OR (wo.n_chars = wi.n_chars AND m.outer_id < m.inner_id)))
      |SELECT d.doc_id,
      |       CASE WHEN c.doc_id IS NOT NULL THEN 'contained'
      |            WHEN l.doc_id IS NOT NULL THEN 'dup_loser'
      |            ELSE 'kept' END AS verdict
      |FROM documents d
      |LEFT JOIN c ON c.doc_id = d.doc_id
      |LEFT JOIN l ON l.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
    containmentVerdicts(s, documents(s, d), minC = 0.75, col("n_chars"))
      .orderBy(col("doc_id"))
  }

  /** F49 (round 17): paragraph relation from a separator regex — one row
    * per paragraph, (doc_id, para_idx, para_text), the input shape for
    * [[paragraphDedupOf]]. The published middle ground between F1
    * whole-doc and F30 8-gram span dedup (FineWeb/RefinedWeb run
    * paragraph-level dedup: boilerplate paragraphs repeat across pages
    * whose documents are NOT near-dups). Per-row explode, zero shuffle.
    */
  def paragraphsOf(docs: DataFrame, sepRegex: String = "\n\n+"): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(split(col("text"), sepRegex)).as(Seq("para_idx", "para_text")))
      // leading/trailing separators split off EMPTY paragraphs — drop
      // them (they are separator artifacts, not content; corpus-wide
      // identical "" paragraphs would otherwise all dup against the
      // first and pollute n_dup counts and the rejoined clean text).
      // para_idx keeps the ORIGINAL split position.
      .filter(col("para_text") =!= "")
      .select(col("doc_id"), col("para_idx").cast("long").as("para_idx"),
        col("para_text"))

  /** The paragraph relation for corpora WITHOUT separator structure:
    * non-overlapping `windowTokens`-token windows (sentence-window
    * dedup — the q_f17 chunking layout at stride = size). Same output
    * schema as [[paragraphsOf]]. */
  def paragraphWindows(docs: DataFrame, windowTokens: Int = 32): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")))
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), col("n") - 1, lit(windowTokens))).as("st"))
      .select(col("doc_id"),
        floor(col("st") / windowTokens).cast("long").as("para_idx"),
        concat_ws(" ", slice(col("t"), col("st") + 1, lit(windowTokens)))
          .as("para_text"))
  }

  /** F49 core: paragraph-granularity near-dup dedup over a (doc_id,
    * para_idx, para_text) relation — a paragraph is DUPLICATED iff a
    * SMALLER-id paragraph has IDENTICAL text, or word-3-gram Jaccard ≥
    * `minJaccard` against it (para_id = doc_id·10⁶ + para_idx, so
    * "smaller" means earlier doc, then earlier position — the
    * [[incrementalDedupVerdicts]] smaller-id-wins rule, NOT-EXISTS-
    * expressible and partitioning-stable; in a chain P₁≈P₂≈P₃ only the
    * smallest survives, duplicates of dropped paragraphs stay dropped).
    * The explicit identical-text rule makes exact copies duplicates even
    * below shingle length (two identical 2-token tails ARE duplicates —
    * the F1-before-F11 layering of the curation pipeline, applied at
    * paragraph granularity). Returns one row per document: `n_paras`,
    * `n_dup_paras`, and `clean_md5` = md5 of the kept paragraphs
    * rejoined with `joiner` in para_idx order (the q_f17 rule: long
    * strings don't survive the driver comparator; the hash pins the
    * cleaned text byte-for-byte — callers wanting the text itself filter
    * the labeled relation).
    *
    * Scale: an md5 rep-set pre-pass FIRST (the round-14
    * candidatePairs lesson, re-proved here): boilerplate paragraphs —
    * the operator's whole reason to exist — repeat millions of times,
    * and feeding identical texts to any pair join is quadratic in the
    * hottest group. One representative (the group's min para_id) per
    * DISTINCT text enters [[jaccardPairsOf]]'s AllPairs prefix-filter
    * join; group members above their rep are duplicates by the exact
    * rule, and a rep near-matching a smaller rep marks its whole group.
    * This rep reduction is EXACT for the smaller-id-wins relation:
    * J(x, ·) depends only on x's text, and a group contains a paragraph
    * smaller than id iff its min does. The rollup is one partial agg
    * with a per-DOC collect bound (paragraphs of one doc — the F11/F30
    * per-doc bound, never a corpus structure). para_idx must be < 10⁶
    * (raised loudly per row — a 10⁶-paragraph document is corrupt
    * input). For corpora where NEAR-identical (not identical)
    * paragraphs form mega-groups, [[paragraphDedupLsh]] is the banded
    * scale path with the same output shape.
    */
  def paragraphDedupOf(s: SparkSession, paras: DataFrame, minJaccard: Double,
      joiner: String = " "): DataFrame =
    paragraphRollup(withParaIds(paras), joiner) { reps =>
      jaccardPairsOf(s, reps, minJaccard)
        .select(col("b_id").as("rep_id"))
    }

  /** F49 banded scale path: [[paragraphDedupOf]] with the rep-level
    * near-dup relation from [[MinHash.candidatePairsTuned]] banding
    * (estimated Jaccard ≥ `minEst`) instead of the exact prefix-filter
    * join — the F2-vs-F11 trade at paragraph granularity, for corpora
    * whose near-identical paragraphs cluster too heavily for exact
    * all-pairs. The identical-text rule is unchanged (exact, via the
    * same md5 rep-set). No oracle (minhash estimates are not
    * SQL-recomputable) — spec'd against the exact path on planted
    * corpora, per SURVEY §7.4.7.
    */
  def paragraphDedupLsh(s: SparkSession, paras: DataFrame, minEst: Double,
      joiner: String = " "): DataFrame =
    paragraphRollup(withParaIds(paras), joiner) { reps =>
      MinHash.candidatePairsTuned(reps, minEst)
        .select(col("b_id").as("rep_id"))
    }

  private def withParaIds(paras: DataFrame): DataFrame =
    paras.withColumn("para_id",
      when(col("para_idx") >= 1000000L || col("para_idx") < 0L,
        raise_error(lit("paragraphDedupOf: para_idx out of [0, 1e6) — " +
          "the composite para_id would collide across documents")))
        .otherwise(col("doc_id") * 1000000L + col("para_idx")))

  /** Shared F49 skeleton: md5 rep-set, rep-level near-dup via
    * `ndOf(reps)` (reps = one (doc_id, text) row per distinct paragraph
    * text, id = group-min para_id; returns dup rep_ids), then the
    * per-paragraph `__dup` label. */
  private def paragraphLabeled(withId: DataFrame)(
      ndOf: DataFrame => DataFrame): DataFrame = {
    val withFp = withId.withColumn("__fp", md5(col("para_text")))
    // feeds the pair join AND the join-back
    val reps = Lineage.cut(withFp.groupBy(col("__fp"))
      .agg(min(col("para_id")).as("rep_id"),
        expr("min_by(para_text, para_id)").as("text")))
    val ndReps = ndOf(reps.select(col("rep_id").as("doc_id"), col("text")))
      .distinct().withColumn("__nd", lit(true))
    withFp
      .join(reps.select(col("__fp"), col("rep_id")), Seq("__fp"))
      .join(ndReps, Seq("rep_id"), "left")
      .withColumn("__dup",
        col("para_id") > col("rep_id") || coalesce(col("__nd"), lit(false)))
  }

  private def paragraphRollup(withId: DataFrame, joiner: String)(
      ndOf: DataFrame => DataFrame): DataFrame =
    paragraphLabeled(withId)(ndOf)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_paras"),
        md5(concat_ws(joiner, transform(
          array_sort(collect_list(
            when(!col("__dup"), struct(col("para_idx"), col("para_text"))))),
          x => x.getField("para_text")))).as("clean_md5"))

  /** F49b (round 17): paragraph CLEANUP — the consumption that
    * paragraph dedup is published FOR (FineWeb/RefinedWeb strip the
    * repeated boilerplate paragraphs and keep the page): every document
    * rewritten with its duplicated paragraphs REMOVED, first global
    * occurrence kept (the [[paragraphDedupOf]] verdicts applied as a
    * text rewrite, the F30 stripDuplicatedSpans shape one granularity
    * up). Returns (doc_id, n_paras, n_removed, clean_text); a doc whose
    * every paragraph is duplicated comes back with empty clean_text —
    * the curation quality gate's minTokens is the intended executioner.
    * Same md5 rep-set scale path as [[paragraphDedupOf]]; the rebuild
    * is the same per-DOC bounded collect.
    */
  def paragraphClean(s: SparkSession, paras: DataFrame, minJaccard: Double,
      joiner: String = " "): DataFrame =
    paragraphLabeled(withParaIds(paras)) { reps =>
      jaccardPairsOf(s, reps, minJaccard).select(col("b_id").as("rep_id"))
    }
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("__dup"), 1L).otherwise(0L)).as("n_removed"),
        concat_ws(joiner, transform(
          array_sort(collect_list(
            when(!col("__dup"), struct(col("para_idx"), col("para_text"))))),
          x => x.getField("para_text"))).as("clean_text"))

  /** Graded F49b query: 32-token-window paragraphs cleaned at Jaccard ≥
    * 0.6 — q_f49's verdicts applied as the text rewrite. The oracle
    * recomputes the full relation (identical rule + exact Jaccard) and
    * rebuilds the text with an ordered string_agg, so the hash grades
    * the rewrite byte-for-byte including the all-removed empty case.
    */
  val qParagraphClean = Q(
    "q_f49b_paragraph_clean",
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |b AS (SELECT doc_id, t, len(t) AS n FROM sp),
      |p AS (SELECT doc_id, CAST(floor(s / 32) AS BIGINT) AS pidx,
      |             t[s+1:s+32] AS pt
      |      FROM b, unnest(generate_series(0, n - 1, 32)) AS u(s)),
      |pid AS (SELECT doc_id, pidx, doc_id * 1000000 + pidx AS para_id, pt
      |        FROM p),
      |sh AS (SELECT DISTINCT para_id,
      |              unnest(list_transform(generate_series(1, len(pt) - 2),
      |                i -> pt[i] || ' ' || pt[i+1] || ' ' || pt[i+2])) AS sh
      |       FROM pid),
      |sizes AS (SELECT para_id, count(*) AS sz FROM sh GROUP BY para_id),
      |inter AS (SELECT a.para_id AS a_id, b.para_id AS b_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.para_id < b.para_id
      |          GROUP BY 1, 2),
      |ex AS (SELECT para_id,
      |              min(para_id) OVER (PARTITION BY array_to_string(pt, ' ')) AS mn
      |       FROM pid),
      |dups AS (SELECT para_id FROM ex WHERE para_id > mn
      |         UNION
      |         SELECT b_id AS para_id
      |         FROM inter JOIN sizes sa ON sa.para_id = a_id
      |                    JOIN sizes sb ON sb.para_id = b_id
      |         WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.6)
      |SELECT pid.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_paras,
      |       CAST(sum(CASE WHEN d.para_id IS NOT NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_removed,
      |       coalesce(string_agg(
      |         CASE WHEN d.para_id IS NULL THEN array_to_string(pt, ' ') END,
      |         ' ' ORDER BY pidx), '') AS clean_text
      |FROM pid LEFT JOIN dups d USING (para_id)
      |GROUP BY pid.doc_id ORDER BY pid.doc_id""".stripMargin) { (s, d) =>
    paragraphClean(s, paragraphWindows(documents(s, d), 32), 0.6)
      .orderBy(col("doc_id"))
  }

  /** Graded F49 query: 32-token-window paragraphs (this corpus carries
    * no separator structure), near-dup at Jaccard ≥ 0.6, doc-level
    * rollup. The oracle recomputes the window slicing, the
    * identical-text rule (a plain min-over-text window — NOT the
    * engine's rep-set reduction, so the hash grades the reduction's
    * exactness), the exact per-paragraph shingle Jaccard over the FULL
    * paragraph pair space, the smaller-id-wins verdicts, and the ordered
    * clean-text hash from scratch.
    */
  val qParagraphDedup = Q(
    "q_f49_paragraph_dedup",
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |b AS (SELECT doc_id, t, len(t) AS n FROM sp),
      |p AS (SELECT doc_id, CAST(floor(s / 32) AS BIGINT) AS pidx,
      |             t[s+1:s+32] AS pt
      |      FROM b, unnest(generate_series(0, n - 1, 32)) AS u(s)),
      |pid AS (SELECT doc_id, pidx, doc_id * 1000000 + pidx AS para_id, pt
      |        FROM p),
      |sh AS (SELECT DISTINCT para_id,
      |              unnest(list_transform(generate_series(1, len(pt) - 2),
      |                i -> pt[i] || ' ' || pt[i+1] || ' ' || pt[i+2])) AS sh
      |       FROM pid),
      |sizes AS (SELECT para_id, count(*) AS sz FROM sh GROUP BY para_id),
      |inter AS (SELECT a.para_id AS a_id, b.para_id AS b_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.para_id < b.para_id
      |          GROUP BY 1, 2),
      |ex AS (SELECT para_id,
      |              min(para_id) OVER (PARTITION BY array_to_string(pt, ' ')) AS mn
      |       FROM pid),
      |dups AS (SELECT para_id FROM ex WHERE para_id > mn
      |         UNION
      |         SELECT b_id AS para_id
      |         FROM inter JOIN sizes sa ON sa.para_id = a_id
      |                    JOIN sizes sb ON sb.para_id = b_id
      |         WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.6)
      |SELECT pid.doc_id,
      |       CAST(count(*) AS BIGINT) AS n_paras,
      |       CAST(sum(CASE WHEN d.para_id IS NOT NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_dup_paras,
      |       md5(coalesce(string_agg(
      |         CASE WHEN d.para_id IS NULL THEN array_to_string(pt, ' ') END,
      |         ' ' ORDER BY pidx), '')) AS clean_md5
      |FROM pid LEFT JOIN dups d USING (para_id)
      |GROUP BY pid.doc_id ORDER BY pid.doc_id""".stripMargin) { (s, d) =>
    paragraphDedupOf(s, paragraphWindows(documents(s, d), 32), 0.6)
      .orderBy(col("doc_id"))
  }

  /** Edit-distance near-dup pairs: every unordered doc pair within
    * `maxDist` Levenshtein edits, id-canonicalized (a_id < b_id).
    *
    * The metric is BYTE-level Levenshtein over UTF-8 (the codegen
    * `byte_levenshtein` kernel) — identical to char distance on ASCII,
    * and exactly the dialect DuckDB 1.0.0's `levenshtein` computes, so
    * the oracle holds on ANY corpus, multibyte included. Byte semantics
    * also make every F24 candidate filter (length, q-gram count, prefix,
    * position) an exact lemma of the verified metric rather than an
    * ASCII-only approximation.
    *
    * Candidate generation is LENGTH-BANDED, not all-pairs: one edit
    * changes a string's byte length by at most 1, so |len(a)−len(b)| ≤
    * maxDist is a necessary condition, and with band width W = maxDist+1
    * any qualifying pair sits in the same or adjacent band of
    * floor(len/W). Each doc joins as the right side under its own band
    * and as the left side under {band, band+1}; the
    * (band<band | band=band ∧ id<id) predicate makes every qualifying
    * pair match in EXACTLY one bucket — an equi-join with a 2× fan-out
    * instead of a cross join, and no dedup pass afterwards. Verification
    * is the threshold-bounded byte DP (banded O(maxDist·n), codegen'd;
    * −1 beyond the threshold), so a far pair costs O(maxDist·len), not
    * O(len²). Result set is identical to the naive all-pairs filter,
    * which is exactly what the DuckDB oracle computes.
    *
    * At 100 TB this is the fuzzy-dedup shape for SHORT records (titles,
    * URLs, lines, OCR fragments) when lengths are DIVERSE; natural
    * corpora cluster in length, making the within-band pair space
    * quadratic — [[editDistancePairsQGram]] is the content-filtered
    * scale path with the same output. For long documents edit distance
    * itself is the wrong metric — use [[jaccardEdgesOf]] / MinHash
    * banding instead.
    */
  def editDistancePairsOf(docs: DataFrame, maxDist: Int): DataFrame =
    bandedEditPairs(docs, maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))

  /** The banded all-pairs engine behind [[editDistancePairsOf]], emitting
    * each verified pair WITH both sides' byte lengths (pre-swap, so
    * `a_len` belongs to the original left side — callers using the
    * lengths must treat them symmetrically). Exposed separately so
    * [[editDistancePairsQGram]]'s short-zone branch can keep "at least
    * one genuinely small side" as a pure length predicate instead of two
    * membership joins against a small-ids frame (optimization round 21:
    * smallness IS `len ≤ q−1+q·maxDist`, the arithmetic inverse of
    * `ng ≤ q·maxDist` — the joins bought nothing but two exchanges).
    */
  private def bandedEditPairs(docs: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    VectorFunctions.registered(docs)
    val w = maxDist + 1
    val base = docs
      .select(col("doc_id"), col("text"), octet_length(col("text")).cast("long").as("len"))
      .withColumn("band", floor(col("len") / w))
    val l = base.select(col("doc_id").as("a_id"), col("text").as("a_text"),
      col("len").as("a_len"), col("band").as("a_band"),
      explode(array(col("band"), col("band") + 1)).as("jband"))
    val r = base.select(col("doc_id").as("b_id"), col("text").as("b_text"),
      col("len").as("b_len"), col("band").as("b_band"))
    l.join(r,
        col("jband") === col("b_band") &&
          (col("a_band") < col("b_band") ||
            (col("a_band") === col("b_band") && col("a_id") < col("b_id"))) &&
          abs(col("a_len") - col("b_len")) <= maxDist)
      .withColumn("dist",
        call_function("byte_levenshtein", col("a_text"), col("b_text"), lit(maxDist)))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"), col("dist"),
        col("a_len"), col("b_len"))
  }

  /** Gram vocabularies at or below this row count are broadcast for the
    * frequency lookup in [[editDistancePairsQGram]] (~4M × ~48 B of
    * hashmap ≈ 200 MB per executor — comfortable); above it the lookup
    * falls back to a shuffle join, identical output.
    */
  val maxBroadcastGrams: Long = 4000000L

  /** Vocabularies at or under this size take the `prefix_top_values`
    * kernel path in [[editDistancePairsQGram]] — the corpus gram
    * frequency table rides as a driver-held literal (≤ 1 MB plan
    * payload), retiring the per-occurrence freq join + heap shuffle.
    * Since round 21 the table itself is FIT by the one-pass
    * `qgram_freq_agg` bounded map aggregate (cap = this constant, so
    * every task buffer stays ≤ 1 MB); an overflowing vocab falls back to
    * the explode + groupBy fit and the guarded-broadcast join shape. */
  val PrefixKernelMaxVocab: Long = 1L << 16

  /** The SCALE path for [[editDistancePairsOf]]: q-gram count/prefix/
    * position-filter candidate generation (the classic approximate-
    * string-join scheme from the published set-join literature — count
    * filtering, sorted-prefix filtering, and the positional-gram filter
    * of the Gravano/Ed-Join family), then the same threshold-bounded
    * byte-Levenshtein verification. EXACT: returns the identical pair set
    * (every filter is a necessary-condition lemma of the BYTE metric, not
    * probabilistic; Round11OpsSpec proves equivalence on seeded corpora,
    * multibyte included).
    *
    * Why banding alone fails at scale: short records cluster tightly in
    * length, so a 1M-title corpus puts tens of thousands of strings in
    * every length band and the within-band pair space is quadratic. The
    * q-gram lemmas cut by CONTENT instead: one byte edit disturbs at most
    * q of a string's positional byte q-grams, so ed(a,b) ≤ D implies an
    * injective positional matching of size ≥ max(|Ga|,|Gb|) − q·D whose
    * edges pair equal grams at byte positions within D of each other.
    * Three consequences, each enforced here:
    *   1. COUNT: multiset overlap |Ga ∩ Bb| ≥ max − q·D
    *      (`sorted_intersect_count` before the DP);
    *   2. PREFIX: under any one global total order on gram keys, the two
    *      docs' VALUE-CLOSED (q·D+1)-prefixes must connect by a matching
    *      edge — closure (keeping every occurrence tied with the
    *      boundary key) is what lets the shared gram also carry the
    *      position guarantee: take the side with the smaller boundary
    *      key; ≥ max − q·D matching edges minus ≤ n − q·D − 1 suffix
    *      occurrences leaves an edge anchored in its prefix, and its
    *      partner's key is ≤ both boundaries, hence inside the other
    *      side's CLOSED prefix by construction;
    *   3. POSITION: that edge's byte positions differ by ≤ D, so joining
    *      on (gram, position band of width D+1) with an adjacent-band
    *      fan-out loses nothing — and splinters every hot gram bucket by
    *      WHERE the gram occurs, the filter that keeps candidate volume
    *      near-linear when corpus growth makes every doc's rarest gram
    *      common in absolute terms (the measured 4.4M-title
    *      superlinearity of the position-free form).
    *
    * The global order is (corpus frequency, gram) ASCENDING — the PPJoin
    * ordering — not raw hash order, and at scale that choice is the whole
    * ballgame: short natural records share ubiquitous grams ("the", "ing",
    * "tok"), and under hash order whichever ubiquitous gram draws a small
    * hash lands in nearly EVERY doc's prefix, collapsing the candidate
    * join into one quadratic hot bucket. Frequency order puts each doc's
    * RAREST grams in its prefix instead, so bucket sizes track gram
    * rarity by construction. Costs one extra aggregate + join (the gram
    * document-frequency table) — the standard two-pass any published
    * prefix-filter join pays.
    *
    * Strings too short for the lemma to prune (|G| ≤ q·D, where the
    * overlap bound is vacuous) fall back to the banded path over the
    * SHORT ZONE (byte len ≤ q−1+q·D+D, every string a small one could
    * pair with): banded pairs there are kept only when at least one side
    * is genuinely small, and the q-gram join covers big×big — each
    * qualifying pair lands in exactly one of the two branches. The zone
    * is bounded by construction, so its quadratic-in-band cost is capped.
    */
  def editDistancePairsQGram(s: SparkSession, docs: DataFrame, maxDist: Int,
      q: Int = 4): DataFrame = {
    require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")
    require(q >= 2, s"q must be >= 2, got $q")
    VectorFunctions.register(s)
    val qd = q * maxDist
    // base is referenced by the prefix pass and BOTH candidate-join
    // back-joins, so it keeps a LAZY lineage cut (one corpus scan, the
    // sibling subtrees read the materialized blocks — without it the
    // plan re-scans the corpus per reference, 4→12 parquet scans
    // measured). `ng` (the positional gram count, round 21) is
    // arithmetic — charQgramHashes emits one hash per byte position, so
    // |G| = max(0, bytelen−q+1) and the round-20 shape's
    // size(char_qgram_hashes(text)) was a full corpus hash+sort pass
    // spent computing a subtraction.
    val base = Lineage.cut(docs
      .select(col("doc_id"), col("text"), octet_length(col("text")).cast("long").as("len"))
      .withColumn("ng", greatest(lit(0L), col("len") - lit((q - 1).toLong))))
    // |G| = max(0, bytelen−q+1); smallness decided on ng, zone on bytes
    val big = base.filter(col("ng") > qd)
    val shortZone = docs.filter(octet_length(col("text")) <= (q - 1) + qd + maxDist)
    // Corpus gram-frequency fit (optimization round 21, guide §2.3/§2.4):
    // ONE bounded map-aggregate pass (`qgram_freq_agg`) replaces the
    // explode-one-row-per-occurrence → groupBy → lineage cut →
    // count() → collect() chain whenever the vocabulary fits the prefix-
    // kernel budget — each task ships a ≤1 MB key/count map instead of
    // ~8× the corpus bytes of gram rows, and the vocab-size probe and the
    // table pull collapse into the same single job. A NULL result means
    // the vocab overflowed the 2^16 cap somewhere; only then is the old
    // explode + groupBy frequency table built (and kept checkpointed for
    // its two consumers), with the guarded broadcast split as before:
    // vocabularies past the broadcast cap fall back to a shuffle join,
    // identical output.
    val fitRow = big
      .agg(call_function("qgram_freq_agg", col("text"), lit(q),
        lit(DriverPull.budget(PrefixKernelMaxVocab).toInt)).as("ft"))
      .head()
    val fit = if (fitRow.isNullAt(0)) null else fitRow.getStruct(0)
    lazy val gx = big.select(col("doc_id"),
      explode(call_function("char_qgram_hashes", col("text"), lit(q))).as("gh"))
    // sized once, reused by join or pull
    lazy val dfreq = Lineage.cut(gx.groupBy(col("gh")).agg(count(lit(1)).as("freq")))
    lazy val vocab = dfreq.count()
    // Prefix VALUES per doc: the distinct grams among the doc's qd+1
    // smallest (freq, gram) occurrence keys, via the bounded-heap
    // collect_top_k over the NEGATED key (freq negated arithmetically,
    // gram by bitwise NOT — an overflow-proof order-reversing bijection
    // where -x breaks down at Long.MinValue) — map-side partials shrink
    // the corpus-wide gram stream to ≤ qd+1 rows per doc BEFORE the
    // doc_id shuffle. Occurrence ties at the boundary key all share one
    // gram VALUE (the key embeds the gram), so the top-k's distinct
    // values are exactly the VALUE-CLOSED prefix's values — closure is
    // recovered value-wise here and occurrence-wise below by re-scanning
    // each doc's short text for those values' positions, instead of
    // carrying positions through a second full-stream shuffle (measured
    // 5× slower at 1.1M titles). Closure matters: lemma 2's position
    // guarantee needs the boundary value's EVERY occurrence in the
    // prefix; an arbitrary tie truncation can strand a matching edge's
    // partner outside it with only a position-incompatible twin inside.
    // Prefix selection, two result-identical shapes on the vocab size
    // (optimization round 20, Round20OptSpec pins equality; the fit
    // itself is the one-pass qgram_freq_agg since round 21):
    //   - vocab ≤ PrefixKernelMaxVocab (fit non-NULL): the aggregate's
    //     table rides as a driver-held literal and each doc's prefix is
    //     selected by the per-row `prefix_top_values` kernel — no
    //     per-occurrence rows, no freq join, no doc_id shuffle;
    //   - larger vocabs (fit NULL) keep the explode → guarded-broadcast
    //     freq join → bounded-heap `collect_top_k` shape.
    val kvalsCol: Column =
      if (fit != null) {
        val keys = fit.getSeq[Long](0).toSeq
        val freqs = fit.getSeq[Long](1).toSeq
        call_function("prefix_top_values",
          call_function("char_qgram_hashes", col("text"), lit(q)),
          lit(qd + 1), typedLit(keys), typedLit(freqs))
      } else null
    def topValsJoin = {
      val dfreqSide =
        if (vocab <= DriverPull.budget(maxBroadcastGrams)) broadcast(dfreq) else dfreq
      gx.join(dfreqSide, Seq("gh"))
        .select(col("doc_id"),
          struct((-col("freq")).as("nf"), expr("~gh").as("ngh")).as("p"))
        .groupBy(col("doc_id"))
        .agg(call_function("collect_top_k", col("p"), lit(qd + 1), lit(false)).as("top"))
        // sort_array desc on the NEGATED structs = ascending (freq, gram)
        // key order, the order the location walk below consumes
        .select(col("doc_id"),
          expr("transform(sort_array(top, false), p -> ~p.ngh)").as("kvals"))
    }
    // LOCATION-adaptive prefix (the Ed-Join shortening): the fixed
    // qd+1-occurrence prefix is the worst case; the kernel walks the
    // candidate values in key order and stops once the accumulated
    // occurrence positions already force > maxDist edits (greedy q-window
    // cover), keeping value closure. Once corpus growth saturates the
    // gram vocabulary every bucket's population grows linearly and the
    // candidate join grows quadratically — prefix LENGTH is the lever
    // that survives saturation (measured: 30M candidates at 4.4M titles
    // with the fixed prefix).
    val withKvals =
      if (kvalsCol != null) big.withColumn("kvals", kvalsCol)
      else big.join(topValsJoin, Seq("doc_id"))
    val pre = withKvals
      .select(col("doc_id"), col("len"), col("text"),
        explode(call_function("adaptive_prefix_values",
          col("text"), col("kvals"), lit(q), lit(maxDist))).as("gh"))
      .select(col("doc_id"), col("len"), col("gh"),
        explode(call_function("qgram_value_positions", col("text"), col("gh"), lit(q)))
          .as("pos"))
      .withColumn("pband", floor(col("pos") / (maxDist + 1)))
    // Candidate join on (gram, position band): a qualifying pair's
    // witnessing edge has |pa − pb| ≤ maxDist < band width, so its bands
    // differ by ≤ 1; the left side fans out to {pband, pband+1} and the
    // (pband< | pband= ∧ id<) predicate matches each witnessing
    // occurrence pair in exactly one bucket. Pairs can still match via
    // several occurrence pairs — the distinct() collapses them — and the
    // canonical (a_id < b_id) orientation is restored by least/greatest
    // since the band order, not the id order, picked the sides.
    val l = pre.select(col("doc_id").as("a_id"), col("len").as("la"),
      col("gh").as("a_gh"), col("pos").as("pa"), col("pband").as("a_pband"),
      explode(array(col("pband"), col("pband") + 1)).as("jband"))
    val r = pre.select(col("doc_id").as("b_id"), col("len").as("lb"),
      col("gh").as("b_gh"), col("pos").as("pb"), col("pband").as("b_pband"))
    val cand = l.join(r,
        col("a_gh") === col("b_gh") && col("jband") === col("b_pband") &&
          col("a_id") =!= col("b_id") &&
          (col("a_pband") < col("b_pband") ||
            (col("a_pband") === col("b_pband") && col("a_id") < col("b_id"))) &&
          abs(col("pa") - col("pb")) <= maxDist &&
          abs(col("la") - col("lb")) <= maxDist)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
      .distinct()
    val bigPairs = cand
      .join(big.select(col("doc_id").as("a_id"), col("text").as("a_text"),
        col("ng").as("na")), Seq("a_id"))
      .join(big.select(col("doc_id").as("b_id"), col("text").as("b_text"),
        col("ng").as("nb")), Seq("b_id"))
      // count filter before the DP: multiset overlap via the same sorted
      // merge kernel the Jaccard join verifies with. Gram arrays are
      // RE-DERIVED from the text per surviving candidate — ~n rehashes +
      // a small sort beat shuffling an n-long array through both
      // candidate joins (the arrays are ~4× the text's bytes)
      .filter(call_function("sorted_intersect_count",
          call_function("char_qgram_hashes", col("a_text"), lit(q)),
          call_function("char_qgram_hashes", col("b_text"), lit(q))) >=
        greatest(col("na"), col("nb")) - lit(qd))
      .withColumn("dist",
        call_function("byte_levenshtein", col("a_text"), col("b_text"), lit(maxDist)))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))
    // short-zone pairs (≥1 genuinely small side) via the banded path.
    // Smallness is arithmetic — ng ≤ qd ⇔ byte len ≤ q−1+qd — so the
    // predicate rides the banded join's own length columns directly
    // (optimization round 21); the retired shape proved the same thing
    // with two membership joins against a small-ids projection of base,
    // which cost two more exchanges and a third base scan for nothing.
    val smallMaxLen = (q - 1) + qd
    val zonePairs = bandedEditPairs(shortZone, maxDist)
      .filter(col("a_len") <= smallMaxLen || col("b_len") <= smallMaxLen)
      .select(col("a_id"), col("b_id"), col("dist"))
    bigPairs.unionByName(zonePairs)
  }

  /** F-family graded query: edit-distance near-dup pairs over `documents`
    * at maxDist = 8 (the planted near-dup mutations sit at distance 4–8;
    * exact dups would appear as dist 0). The graded plan is the q-gram
    * SCALE path — the shape that holds on length-clustered corpora —
    * result-identical to the banded path (Round11OpsSpec equivalence
    * laws), so the naive all-pairs oracle is unchanged. Both engines
    * compute BYTE Levenshtein (DuckDB natively, Spark via the
    * byte_levenshtein kernel) and byte lengths (strlen/octet_length), so
    * the oracle holds on multibyte corpora too.
    */
  val qEditNearDup = Q(
    "q_edit_neardup",
    """SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
      |FROM documents a JOIN documents b
      |  ON a.doc_id < b.doc_id
      | AND abs(strlen(a.text) - strlen(b.text)) <= 8
      |WHERE levenshtein(a.text, b.text) <= 8
      |ORDER BY a_id, b_id""".stripMargin) { (s, d) =>
    editDistancePairsQGram(s, documents(s, d), 8)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** F24 composed with F11's clustering, graded: fuzzy dedup GROUPS —
    * connected components over the edit-distance edge list (duplicates
    * chain: A≈B≈C is one group even when ed(A,C) > maxDist), every doc
    * labeled with its component's min doc_id plus the component size.
    * The edge generation is the q-gram scale path; the oracle recomputes
    * the same fixpoint from naive all-pairs byte-Levenshtein edges via a
    * recursive-CTE transitive closure (the q_f11 pattern) — independent
    * edge generation AND independent closure, which is what makes the
    * hash-match meaningful.
    */
  val qEditDedupGroups = Q(
    "q_edit_dedup_groups",
    """WITH RECURSIVE
      |edges AS (
      |  SELECT a.doc_id AS u, b.doc_id AS v
      |  FROM documents a JOIN documents b
      |    ON a.doc_id <> b.doc_id
      |   AND abs(strlen(a.text) - strlen(b.text)) <= 8
      |  WHERE levenshtein(a.text, b.text) <= 8),
      |reach AS (SELECT doc_id AS u, doc_id AS r FROM documents
      |          UNION
      |          SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
      |cc AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u)
      |SELECT doc_id, cluster_id,
      |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM cc ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = documents(s, d)
    val cc = connectedComponents(s, docs.select(col("doc_id")),
      editDistancePairsQGram(s, docs, 8).select(col("a_id"), col("b_id")))
    withClusterSize(cc).orderBy(col("doc_id"))
  }

  /** doc_id → cluster_id (min doc_id in its connected component) for every
    * document; singletons label themselves. This facade is the
    * AUTO-SELECTING engine (round 14): min-label propagation first, with
    * a hand-off to the two-phase star rewrite if the graph is still
    * unconverged after [[connectedComponentsHybridWithRounds]]'
    * `starSwitchAfter` rounds — shallow graphs (the near-dup norm) run
    * pure min-label, deep ones get the star win without per-site tuning.
    *
    * Driver-side job count is the real cost at small scale (BENCH r2:
    * job-submission overhead dominated), so the loop (a) folds the first
    * propagation into the seed — labels start as doc_id, so round 1 can
    * never converge and needs no check — and (b) runs `checkEvery`
    * propagation steps per materialize+count: min-label is monotone, so
    * overshooting the fixpoint is safe and the convergence check can be
    * amortized over k rounds. Each check is still ONE action (the count
    * materializes the lazy checkpoint). Throws if the loop exits without
    * converging — a silent exit would return wrong cluster_ids for any
    * component whose diameter exceeds the budget.
    */
  def connectedComponents(s: SparkSession, nodes: DataFrame, edges: DataFrame,
      maxIters: Int = 25, checkEvery: Int = 2,
      contractAbove: Long = DefaultContractAbove): DataFrame =
    connectedComponentsHybridWithRounds(s, nodes, edges, maxIters, checkEvery,
      contractAbove)._1

  /** Edge lists at or above this size get label-contracted between
    * convergence blocks; below it the rewrite's two joins + distinct cost
    * more stage overhead than the propagation they would save. ~1M rows
    * ≈ where the megacc stress showed per-round edge volume dominating.
    */
  val DefaultContractAbove: Long = 1000000L

  /** Canonical edge sets at or under this size are solved LOCALLY
    * (optimization round 20): one bounded driver pull + union-find +
    * one broadcast map-back replaces the whole iterative loop — tens of
    * driver round-trips become one job. The distributed loops exist
    * because the EDGE LIST is corpus-sized at 100 TB; but every loop
    * already counts its materialized canonical edges up front, and when
    * that count fits the budget the residual problem is model-sized, the
    * same bounded-pull class as the ≤ order×buckets LM fits and the
    * k×dim k-means pulls (and the standard practice for CC at scale:
    * iterate/contract distributed while the graph is big, finish small
    * residuals locally). 2¹⁸ edges ≈ 4 MB pulled, ≤ 8 MB broadcast back
    * — far under every other bounded-pull ceiling in the repo. Labels
    * are bit-identical to the loops' fixpoint (min node id per
    * component; union-find tracks set minima exactly) — pinned by
    * Round20OptSpec against the forced-distributed run on chains,
    * cliques, random graphs, and forced-contraction shapes. The cap is
    * read through [[DriverPull.budget]]; the loop-mechanics specs force
    * the distributed loop with [[DriverPull.forcingFallbacks]]. Contract
    * (shared with the loops): edges connect ids present in `nodes` —
    * endpoints outside the node frame would seed labels the propagation
    * loops never had.
    */
  val DefaultLocalFinishEdges: Long = 1L << 18

  /** Union-find over a pulled edge array: each endpoint mapped to the
    * MINIMUM id of its component (the loops' label contract). Path
    * halving + union by size; the min is carried per root exactly. */
  private[graft] def localMinLabels(edges: Array[(Long, Long)])
      : java.util.HashMap[java.lang.Long, java.lang.Long] = {
    val idx = new java.util.HashMap[java.lang.Long, Integer](edges.length * 2)
    val ids = new scala.collection.mutable.ArrayBuffer[Long](edges.length * 2)
    def idOf(x: Long): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue()
      else {
        val i = ids.length
        idx.put(x, Integer.valueOf(i)); ids += x; i
      }
    }
    edges.foreach { case (u, v) => idOf(u); idOf(v) }
    val parent = Array.tabulate(ids.length)(identity)
    val size = Array.fill(ids.length)(1)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)); x = parent(x)
      }
      x
    }
    edges.foreach { case (u, v) =>
      val (ru, rv) = (find(idOf(u)), find(idOf(v)))
      if (ru != rv) {
        val (big, small) = if (size(ru) >= size(rv)) (ru, rv) else (rv, ru)
        parent(small) = big
        size(big) += size(small)
      }
    }
    val minOf = new java.util.HashMap[Integer, java.lang.Long](ids.length)
    ids.indices.foreach { i =>
      val r = Integer.valueOf(find(i))
      val cur = minOf.get(r)
      if (cur == null || ids(i) < cur) minOf.put(r, java.lang.Long.valueOf(ids(i)))
    }
    val out = new java.util.HashMap[java.lang.Long, java.lang.Long](ids.length)
    ids.indices.foreach { i =>
      out.put(ids(i), minOf.get(Integer.valueOf(find(i))))
    }
    out
  }

  /** The map-back half of the local finish: non-self (node → min) rows
    * broadcast-joined onto the node frame; untouched nodes label
    * themselves (the loops' seed). Output columns (u, lbl) — the
    * minLabelCore label shape. */
  private def localFinishLabels(s: SparkSession, nodes: DataFrame,
      pulled: Array[(Long, Long)]): DataFrame = {
    val m = localMinLabels(pulled)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row](m.size())
    m.forEach { (k, v) =>
      if (k != v) rows.add(org.apache.spark.sql.Row(k.longValue(), v.longValue()))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("u",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("__lf_lbl",
        org.apache.spark.sql.types.LongType, nullable = false)))
    // parallelize (not a LocalRelation literal): up to 2·threshold rows
    // must not be serialized into the plan tree
    val mapDf = s.createDataFrame(
      s.sparkContext.parallelize(scala.jdk.CollectionConverters
        .ListHasAsScala(rows).asScala.toSeq, 1), schema)
    nodes.select(col("doc_id").as("u"))
      .join(broadcast(mapDf), Seq("u"), "left")
      .select(col("u"), coalesce(col("__lf_lbl"), col("u")).as("lbl"))
  }

  /** Test-only hook (Round9OpsSpec): invoked at the top of every
    * convergence block, standing in for the executor loss local[n]
    * cannot produce — the spec drops every persisted block here and
    * asserts the reliable-checkpoint loop completes with correct labels
    * (its rounds live as FILES under the checkpoint directory, not as
    * executor blocks) while the default local loop dies irrecoverably.
    * Never set outside tests — and fenced so it CANNOT fire outside
    * them: the hook is honored only when scalatest is on the classpath
    * (round-10 ADVICE: a leaked assignment — a spec failing before its
    * `finally`, a concurrent suite — must not silently drop every
    * persisted block in a production run; in a deployed job the fence
    * is structurally closed because no test classpath exists).
    */
  private[graft] var testBlockLossHook: Option[SparkSession => Unit] = None

  private lazy val onTestClasspath: Boolean =
    try { Class.forName("org.scalatest.Suite"); true }
    catch { case _: ClassNotFoundException => false }

  private def fireBlockLossHook(s: SparkSession): Unit =
    if (onTestClasspath) testBlockLossHook.foreach(_(s))

  /** [[connectedComponents]] plus the number of propagation rounds the
    * loop ran — the scale observability hook: at 100 TB the per-round
    * shuffle is the edge list, so rounds × edge volume is the cost model,
    * and a monitoring job wants the round count without re-deriving it
    * from Spark's job history.
    *
    * Edge CONTRACTION (round 7, `contractAbove`): each non-converged
    * block rewrites the big edge list as (lbl(u), lbl(v)), dropping
    * self-loops and duplicates. A component that has already collapsed
    * to one label contributes ZERO edges to every later round — without
    * this, the megacc stress (one 10k-clique + one 300-chain) dragged
    * the clique's 50M edges through all 17 rounds the chain needs.
    * Correct for min-label propagation: labels always name a node of the
    * same component (so contracted edges stay within components), the
    * component min always labels itself, two nodes sharing a label keep
    * sharing one at fixpoint (both chase the same pointer chain through
    * the every-other-step shortcut), and any surviving (La ≠ Lb) edge
    * strictly decreases a label on the next step — so the no-decrease
    * convergence check still certifies the per-component-min fixpoint.
    * DedupSpec forces contraction on planted graphs and asserts labels
    * identical to the uncontracted run.
    *
    * Fault tolerance: every round's labels and the contracted edge list
    * go through [[Lineage.cut]], so with a checkpoint directory set the
    * loop holds no state in executor block storage. Round9OpsSpec
    * simulates total block loss between blocks and asserts the reliable
    * loop completes with correct labels while the local loop fails.
    */
  def connectedComponentsWithRounds(s: SparkSession, nodes: DataFrame,
      edges: DataFrame, maxIters: Int = 25, checkEvery: Int = 2,
      contractAbove: Long = DefaultContractAbove): (DataFrame, Int) = {
    val (lbls, iter, converged, _) = minLabelCore(s, nodes, edges, maxIters,
      checkEvery, contractAbove)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIters rounds — " +
          "a component's diameter exceeds the budget; raise maxIters")
    (lbls.select(col("u").as("doc_id"), col("lbl").as("cluster_id")), iter)
  }

  /** The min-label propagation loop, exit-able before convergence: runs up
    * to `maxIters` rounds and returns (labels as (u, lbl), rounds run,
    * converged?, the eagerly-checkpointed CANONICAL (u, v) edge frame).
    * Shared by [[connectedComponentsWithRounds]] (which throws on
    * non-convergence) and [[connectedComponentsHybridWithRounds]] (which
    * hands the partially-collapsed graph to the star rewrite instead).
    * The ORIGINAL edges — not the loop's internal, possibly
    * intermediate-label-contracted `sym` — are what the hybrid needs: an
    * early-exit label state carries STALE pointers (node → x while x
    * itself moved on to lbl(x) < x), and the contracted graph may no
    * longer mention x at all, so only a fresh final-label contraction of
    * the original edges plus the pointer edges is component-faithful.
    */
  private def minLabelCore(s: SparkSession, nodes: DataFrame,
      edges: DataFrame, maxIters: Int, checkEvery: Int,
      contractAbove: Long): (DataFrame, Int, Boolean, DataFrame) = {
    // materialize the caller's edge plan ONCE and mirror from the cut —
    // a union of plan + swapped plan would execute the (often expensive:
    // LSH bands, prefix-filter joins) edge build twice in the same job
    val e0 = Lineage.cut(edges.select(col("a_id").as("u"), col("b_id").as("v")),
      eager = true)
    val nE = e0.count() // counts the blocks the eager cut just materialized
    // bounded local finish (optimization round 20, [[DefaultLocalFinishEdges]]):
    // an edge set that fits the pull budget is solved in one driver
    // union-find + one broadcast map-back — labels identical, tens of
    // driver rounds saved; the pull reads the just-materialized blocks
    if (nE <= DriverPull.budget(DefaultLocalFinishEdges)) {
      val pulled = e0.collect().map(r => (r.getLong(0), r.getLong(1)))
      return (localFinishLabels(s, nodes, pulled), 0, true, e0)
    }
    var sym: DataFrame =
      e0.unionByName(e0.select(col("v").as("u"), col("u").as("v")))
    var symBig = nE * 2 >= contractAbove

    // one min-label propagation step; passes through any extra columns
    // (the improvement tracker rides along the k-step chain)
    def step(lbls: DataFrame): DataFrame = {
      val nmin = sym
        .join(lbls.select(col("u").as("v"), col("lbl").as("nlbl")), Seq("v"))
        .groupBy(col("u")).agg(min(col("nlbl")).as("nmin"))
      val rest = lbls.columns.filter(c => c != "u" && c != "lbl").toSeq.map(col)
      lbls.join(nmin, Seq("u"), "left")
        .select(col("u") +: least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl") +: rest: _*)
    }

    // pointer-jumping shortcut: lbl := min(lbl, lbl(lbl)). Every label IS
    // a node id of the same component (labels start as self-ids and only
    // ever adopt neighbor/label labels), so following the label's label
    // compresses label chains geometrically — the classic doubling trick
    // that turns O(diameter) propagation rounds into O(log diameter).
    // Cost: one |V|-row self-join on the slim (u, lbl) table, stage
    // overhead rather than data at any scale — so it runs every SECOND
    // step: shallow graphs (the common near-dup case, 3–5 steps) pay for
    // it once or twice, while a 300-node mutation CHAIN (real in
    // adversarial corpora) still converges in 13 steps where plain
    // propagation needs 299 and would exhaust maxIters (simulated; spec
    // asserts the 300-chain). Round-12 negative results, measured on the
    // deep case (q_f21b's moderate-threshold LSH graph, 17 rounds at 2k
    // vectors): shortcutting EVERY step cut rounds only to 15 (the min
    // label still flows along graph paths; jumps compress label chains,
    // not graph distance) while adding a join per step — net slower; and
    // checkEvery=4 made blocks 6–12× slower (5→30 s cc wall) because a
    // 16-join block plan pays superlinear planning/AQE cost — deep
    // blocks are the thing to avoid, not the convergence counts.
    def shortcut(lbls: DataFrame): DataFrame = {
      val rest = lbls.columns.filter(c => c != "u" && c != "lbl").toSeq.map(col)
      val ptr = lbls.select(col("u").as("ju"), col("lbl").as("jlbl"))
      lbls.join(ptr, col("lbl") === col("ju"), "left")
        .select(col("u") +: least(col("lbl"), coalesce(col("jlbl"), col("lbl"))).as("lbl") +: rest: _*)
    }

    // label-contract the edge list: edges between same-label nodes are
    // self-loops of the label graph and can never move a label again THIS
    // side of a merge, which also flows through label-nodes — see the
    // correctness note in the Scaladoc. Runs after the seed step (a
    // 1-step-collapsed mega-component sheds its edges before the block
    // loop ever runs) and after each non-converged block.
    def contract(lbls: DataFrame): Unit = {
      sym = Lineage.cut(sym
        .join(lbls.select(col("u").as("cu"), col("lbl").as("clu")),
          col("u") === col("cu"))
        .join(lbls.select(col("u").as("cv"), col("lbl").as("clv")),
          col("v") === col("cv"))
        .select(col("clu").as("u"), col("clv").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct(),
        eager = true)
      symBig = sym.count() >= contractAbove
    }

    // lazy cut: the seed labels materialize inside the first block's (or
    // the contraction's) job instead of costing a dedicated action — on
    // shallow graphs (the near-dup norm) that is one fewer driver round
    // (the A/B against an eager seed sits inside ambient noise; lazy is
    // kept for the job-count argument)
    var labels = Lineage.cut(step(nodes.select(col("doc_id").as("u"), col("doc_id").as("lbl"))),
      eager = false)
    if (symBig) contract(labels)
    var converged = false
    var iter = 1
    while (!converged && iter < maxIters) {
      fireBlockLossHook(s)
      val k = math.min(checkEvery, maxIters - iter)
      var stepped = labels.withColumn("prev", col("lbl"))
      for (i <- 1 to k) {
        stepped = step(stepped)
        if ((iter + i) % 2 == 0) stepped = shortcut(stepped)
      }
      val next = Lineage.cut(stepped, eager = false)
      // labels only decrease: no change across k steps ⇒ fixpoint (a
      // state stable under neighbor-min alone is already per-component
      // constant at the min id; the shortcut can only reach it sooner)
      converged = next.filter(col("lbl") < col("prev")).count() == 0
      labels = next.select(col("u"), col("lbl"))
      iter += k
      if (!converged && symBig) contract(labels)
    }
    (labels, iter, converged, e0)
  }

  /** AUTO-SELECTING connected components (round 14, per the round-13
    * verdict): start with min-label propagation — the cheap loop (one
    * slim label join per round) that wins on the SHALLOW graphs near-dup
    * corpora overwhelmingly produce (3–5 rounds) — and, if the graph has
    * not converged after `starSwitchAfter` rounds, switch to the
    * two-phase large-star/small-star rewrite for the remainder: diameter
    * has revealed itself, and that is exactly the regime round 13's
    * measurements showed star winning (q_f21b's 17-round LSH graph:
    * 3.55 s propagation vs 1.4–2.0 s star) and min-label losing.
    *
    * The switch is a HAND-OFF, not a restart: the star phase runs over
    * the ORIGINAL edge list contracted by the FINAL labels — every edge
    * rewritten to (lbl(u), lbl(v)), self-loops dropped, so all collapse
    * the first rounds achieved carries over (a component that converged
    * early contributes zero edges) — UNIONED with the pointer edges
    * (u, lbl(u)) for every relabeled node. The pointer union is what
    * makes the hand-off sound: an early-exit label state carries STALE
    * pointer chains (node u holds x while x itself has moved on to
    * lbl(x) < x — the shortcut flattens chains only every other step),
    * and the contracted graph alone may not mention x anywhere, leaving
    * u's cluster unrecoverable (the round-14 forced-contraction bug,
    * caught by DedupSpec). With the union: every original edge (x, y)
    * is witnessed by x — lbl(x) — lbl(y) — y, every union edge stays
    * inside its component (labels only ever name in-component nodes),
    * so the union graph's components over the original node set are
    * EXACTLY the original components, and star labels every node with
    * the component min directly — no composition join. DedupSpec /
    * Round14OpsSpec assert bit-identical labels on chains, cliques,
    * random graphs, singletons, and forced-contraction runs.
    *
    * The star phase gets the full `maxIters` budget (it converges in
    * O(log n) rounds, so it is also the safety net for diameters that
    * would exhaust any propagation budget) and throws if even that fails.
    */
  def connectedComponentsHybridWithRounds(s: SparkSession, nodes: DataFrame,
      edges: DataFrame, maxIters: Int = 25, checkEvery: Int = 2,
      contractAbove: Long = DefaultContractAbove,
      starSwitchAfter: Int = 3): (DataFrame, Int) = {
    require(starSwitchAfter >= 1, s"starSwitchAfter must be >= 1, got $starSwitchAfter")
    val (lbls, iter, converged, e0) = minLabelCore(s, nodes, edges,
      math.min(starSwitchAfter, maxIters), checkEvery, contractAbove)
    if (converged)
      (lbls.select(col("u").as("doc_id"), col("lbl").as("cluster_id")), iter)
    else {
      val e2 = e0
        .join(lbls.select(col("u").as("hu"), col("lbl").as("la")),
          col("u") === col("hu"))
        .join(lbls.select(col("u").as("hv"), col("lbl").as("lb")),
          col("v") === col("hv"))
        .filter(col("la") =!= col("lb"))
        .select(col("la").as("a_id"), col("lb").as("b_id"))
      val ptr = lbls.filter(col("u") =!= col("lbl"))
        .select(col("u").as("a_id"), col("lbl").as("b_id"))
      // the hand-off graph is the contracted residual + pointer edges —
      // at scale this is where the local finish earns its keep: the
      // first rounds collapse the bulk distributed, and the residual
      // that remains usually fits the pull budget
      connectedComponentsStarWithRounds(s, nodes,
        e2.unionByName(ptr), maxIters) match {
        case (starLbls, starRounds) => (starLbls, iter + starRounds)
      }
    }
  }

  /** Two-phase connected components — the alternating large-star /
    * small-star formulation (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014) — implemented round 13 as the
    * published alternative to [[connectedComponentsWithRounds]]'
    * min-label propagation, per the round-12 verdict's ask.
    *
    * Each round rewrites the EDGE list twice:
    *  - large-star: every node u links each LARGER neighbor v to
    *    m(u) = min(Γ(u) ∪ {u}) — long edges hop toward minima;
    *  - small-star: every node x links each parent p (smaller neighbor)
    *    and itself to m(x) = min of its parents — local stars flatten.
    * The edge set converges to a star forest rooted at each component's
    * minimum; labels fall out as each child's unique parent. Convergence
    * is detected by the (count, hash-sum) signature of the canonical
    * edge set going stable — at the star-forest fixpoint both rewrites
    * reproduce the edge set exactly, and any non-fixpoint round changes
    * it (the paper's "no new pairs" condition in aggregate form).
    *
    * MEASURED RESULT (recorded in BASELINE.md round 13): on the
    * q_f21b LSH graph (2k vectors, 17-round diameter for propagation)
    * two-phase converges in FEWER driver rounds but each round costs two
    * groupBy+join+distinct edge rewrites (vs one slim label join), so
    * wall-clock does not beat the shipped loop on the graded shapes —
    * kept as a documented alternative, NOT the graded path. See the
    * BASELINE.md entry for the numbers per graph shape.
    */
  def connectedComponentsStarWithRounds(s: SparkSession, nodes: DataFrame,
      edges: DataFrame, maxIters: Int = 50): (DataFrame, Int) = {
    // canonical undirected edges: (u < v), self-loops dropped. NO initial
    // distinct: duplicate input edges cannot change a groupBy-min and the
    // first large-star's own distinct dedups the set — at 250M edges the
    // skipped distinct is a full extra shuffle whose in-flight blocks
    // plus the checkpoint put the 64 GB heap over the edge (round 13;
    // the one corner effect is an already-star-forest input costing one
    // extra confirmation round, since the raw multiset's signature
    // differs from its deduped rewrite)
    var e = Lineage.cut(edges
      .select(least(col("a_id"), col("b_id")).as("u"),
        greatest(col("a_id"), col("b_id")).as("v"))
      .filter(col("u") =!= col("v")), eager = true)
    def signature(df: DataFrame): (Long, Long) = {
      // bit_xor: overflow-free, order-independent, exact over a DISTINCT
      // edge set. Every per-round state (eS) is distinct by build; the
      // INITIAL multiset may carry duplicates, but its count then exceeds
      // the deduped rewrite's, so the (count, xor) pair still cannot
      // falsely report convergence at round 1
      val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    var sig = signature(e)
    // bounded local finish (optimization round 20, [[DefaultLocalFinishEdges]]):
    // the signature already counted the materialized canonical edges —
    // a set inside the pull budget is solved driver-side in one
    // union-find + broadcast map-back, labels identical (Round20OptSpec)
    if (sig._1 > 0L && sig._1 <= DriverPull.budget(DefaultLocalFinishEdges)) {
      val pulled = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      return (localFinishLabels(s, nodes, pulled)
        .select(col("u").as("doc_id"), col("lbl").as("cluster_id")), 0)
    }
    var iter = 0
    var converged = sig._1 == 0L
    while (!converged && iter < maxIters) {
      fireBlockLossHook(s) // same executor-loss simulation hook as the
      // min-label loop: with a checkpoint directory every round's
      // inputs re-read from files, so total block loss costs a recompute
      // (Round13OpsSpec); with local cuts it is fatal, as documented
      // large-star: (v, m(u)) for every v ∈ Γ(u), v > u; m ≤ u < v keeps
      // the canonical orientation for free
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val minsL = sym.groupBy("u").agg(min(col("v")).as("mv"))
      val eL = sym.join(minsL, Seq("u"))
        .filter(col("v") > col("u"))
        .select(least(col("u"), col("mv")).as("u"), col("v"))
        .distinct()
      // small-star: per child x over its parents p < x: link every p and
      // x itself to m(x) = min parent; m < n after the self-loop filter
      val dirx = eL.select(col("v").as("x"), col("u").as("p"))
      val minsS = dirx.groupBy("x").agg(min(col("p")).as("m"))
      val eS = Lineage.cut(dirx.join(minsS, Seq("x"))
        .select(col("m"), col("p").as("n"))
        .unionByName(minsS.select(col("m"), col("x").as("n")))
        .filter(col("m") =!= col("n"))
        .select(col("m").as("u"), col("n").as("v"))
        .distinct(), eager = true)
      val nextSig = signature(eS)
      converged = nextSig == sig
      sig = nextSig
      e = eS
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"two-phase CC did not converge within $maxIters rounds")
    // star forest: each child v has one parent u = its component min;
    // roots and edge-less nodes label themselves
    val lbls = nodes.select(col("doc_id"))
      .join(e.select(col("v").as("doc_id"), col("u").as("parent")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("parent"), col("doc_id")).as("cluster_id"))
    (lbls, iter)
  }

  // F11: dedup groups — every doc labeled with its component's min doc_id,
  // plus the component size. Oracle: recursive-CTE transitive closure.
  val qDedupGroups = Q(
    "q_f11_dedup_groups",
    """WITH RECURSIVE
      |sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
      |         generate_series(1, len(t) - 2),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |       FROM sp),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT a_id AS u, b_id AS v
      |          FROM inter JOIN sizes sa ON sa.doc_id = a_id
      |                     JOIN sizes sb ON sb.doc_id = b_id
      |          WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.6
      |          UNION ALL
      |          SELECT b_id, a_id
      |          FROM inter JOIN sizes sa ON sa.doc_id = a_id
      |                     JOIN sizes sb ON sb.doc_id = b_id
      |          WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.6),
      |reach AS (SELECT doc_id AS u, doc_id AS r FROM documents
      |          UNION
      |          SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
      |cc AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u)
      |SELECT doc_id, cluster_id,
      |       count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |FROM cc ORDER BY doc_id""".stripMargin) { (s, d) =>
    val cc = connectedComponents(s, documents(s, d),
      jaccardEdges(s, d, 0.6))
    withClusterSize(cc).orderBy(col("doc_id"))
  }

  /** F45b (round 16, verdict item 6): soft dedup over NEAR-DUP clusters —
    * the down-weighting twin of F31's keep-best, and the clustered
    * sibling of F45's exact-group weights: every member of a cluster is
    * KEPT at `10⁶ div cluster_size` millionths, so each near-dup family
    * contributes ~one document of training mass in expectation without
    * choosing a representative (the soft alternative where near-dup
    * frequency is itself signal, but boilerplate families must not
    * dominate the token distribution). Input is any (…, cluster_id)
    * frame — F11/F2c/F21 labels; the weight join rides the SAME slim
    * partial-agg count [[withClusterSize]] uses (mega-cluster-safe,
    * never a window). Feed `weight_millionths` to F18b's
    * `weightedBernoulli(scale = 10⁶)` or carry it into the loss.
    */
  def softDedupWeightsClustered(labeled: DataFrame): DataFrame =
    withClusterSize(labeled)
      .withColumn("weight_millionths", expr("1000000L div cluster_size"))

  /** Graded F45b query: weights over the F11 Jaccard-0.6 clusters. The
    * oracle recomputes the recursive-CTE closure AND the integer weight
    * from scratch, so the hash grades both the cluster labels and the
    * weight arithmetic end to end.
    */
  val qSoftDedupClustered = Q(
    "q_f45b_soft_dedup_clustered",
    """WITH RECURSIVE
      |sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
      |         generate_series(1, len(t) - 2),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |       FROM sp),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT a_id AS u, b_id AS v
      |          FROM inter JOIN sizes sa ON sa.doc_id = a_id
      |                     JOIN sizes sb ON sb.doc_id = b_id
      |          WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.6
      |          UNION ALL
      |          SELECT b_id, a_id
      |          FROM inter JOIN sizes sa ON sa.doc_id = a_id
      |                     JOIN sizes sb ON sb.doc_id = b_id
      |          WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.6),
      |reach AS (SELECT doc_id AS u, doc_id AS r FROM documents
      |          UNION
      |          SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
      |cc AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
      |sized AS (SELECT doc_id, cluster_id,
      |                 count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |          FROM cc)
      |SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
      |       CAST(1000000 // cluster_size AS BIGINT) AS weight_millionths
      |FROM sized ORDER BY doc_id""".stripMargin) { (s, d) =>
    softDedupWeightsClustered(
      connectedComponents(s, documents(s, d), jaccardEdges(s, d, 0.6)))
      .orderBy(col("doc_id"))
  }

  /** F42 (round 15): leakage-safe GROUPED split — assign train/test at
    * the CLUSTER level, so near-duplicates can never straddle the split
    * (the published eval-hygiene rule: dedup-aware splitting; a test doc
    * whose near-twin sits in train is a leaked answer, which is why
    * decontamination appendices split by cluster/URL/document family,
    * never by row). Input is any (…, groupCol) frame — F11/F2c/F21
    * cluster labels, a URL/domain key, a source id; every member of a
    * group draws the SAME integer md5 test (`h(group)·10⁶ <
    * testMillionths·2³²`, both sides ≤ 2⁵² — the F34/F18b exact-draw
    * idiom), so the assignment is a pure function of (group, seed):
    * engine-, rerun-, and partitioning-exact, and changing `seed` is a
    * fresh re-split. Appends `split` ∈ {train, test}.
    *
    * Scale: a per-row map — ZERO shuffles beyond whatever produced the
    * group labels; the expected test fraction is testMillionths/10⁶ of
    * GROUPS (not docs — mega-clusters land whole, by design).
    */
  def splitByGroup(labeled: DataFrame, testMillionths: Long,
      groupCol: String = "cluster_id", seed: Long = 0L): DataFrame = {
    require(testMillionths >= 0 && testMillionths <= 1000000L,
      s"testMillionths must be in [0, 1000000], got $testMillionths")
    val h = conv(substring(md5(concat(lit(s"$seed:"),
        col(groupCol).cast("string"))), 1, 8), 16, 10).cast("long")
    // round 16 (advice): a NULL group id must fail LOUDLY, not silently
    // land in train — md5(NULL) is NULL, the draw comparison is NULL, and
    // the otherwise branch would fire, masking unlabeled rows in exactly
    // the leakage-safety operator whose contract is "members move
    // together" (the nbFit NULL-label convention).
    labeled.withColumn("split",
      when(col(groupCol).isNull,
        raise_error(lit(s"splitByGroup: NULL $groupCol — an unlabeled row " +
          "cannot be leakage-safely placed; filter or label NULL groups first")))
        .when(h * lit(1000000L) < lit(testMillionths) * lit(4294967296L), "test")
        .otherwise("train"))
  }

  /** Graded F42 query: F11 Jaccard clusters at 0.6, split 25% of GROUPS
    * to test (seed 0). The oracle recomputes the recursive-CTE closure
    * AND the integer draw from scratch, so the hash grades both the
    * cluster labels and the members-move-together property end to end.
    */
  val qGroupedSplit = Q(
    "q_f42_grouped_split",
    """WITH RECURSIVE
      |sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
      |         generate_series(1, len(t) - 2),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |       FROM sp),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT a_id AS u, b_id AS v
      |          FROM inter JOIN sizes sa ON sa.doc_id = a_id
      |                     JOIN sizes sb ON sb.doc_id = b_id
      |          WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.6
      |          UNION ALL
      |          SELECT b_id, a_id
      |          FROM inter JOIN sizes sa ON sa.doc_id = a_id
      |                     JOIN sizes sb ON sb.doc_id = b_id
      |          WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.6),
      |reach AS (SELECT doc_id AS u, doc_id AS r FROM documents
      |          UNION
      |          SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
      |cc AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u)
      |SELECT doc_id, cluster_id,
      |       CASE WHEN ('0x' || substr(md5('0:' || CAST(cluster_id AS VARCHAR)), 1, 8))::BIGINT
      |                 * 1000000 < 250000 * 4294967296
      |            THEN 'test' ELSE 'train' END AS split
      |FROM cc ORDER BY doc_id""".stripMargin) { (s, d) =>
    splitByGroup(
      connectedComponents(s, documents(s, d), jaccardEdges(s, d, 0.6)),
      testMillionths = 250000L)
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Decorate a (…, cluster_id) frame with each cluster's member count.
    *
    * Deliberately NOT `count(*) OVER (PARTITION BY cluster_id)`: a window
    * partition cannot be split by AQE, so one mega-cluster (boilerplate-
    * heavy corpus, adversarial near-dup blob) would funnel its entire
    * membership into a single WindowExec partition that buffers every row —
    * the straggler class this module exists to avoid. A partial+final
    * aggregate on the slim (cluster_id) key plus a join back computes the
    * identical column with map-side combine, and AQE is free to broadcast
    * the (typically tiny) size table or split a skewed probe side.
    * ScaleLayoutSpec plants a mega-cluster and asserts no WindowExec over
    * cluster_id survives in the executed plan.
    */
  def withClusterSize(cc: DataFrame): DataFrame = {
    val sizes = cc.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    val rest = cc.columns.filterNot(_ == "cluster_id").toSeq.map(col)
    cc.join(sizes, Seq("cluster_id"))
      .select(rest :+ col("cluster_id") :+ col("cluster_size"): _*)
  }

  /** F31 (round 14): near-dup dedup keeping the BEST-quality
    * representative per cluster — production pipelines keep the highest-
    * scoring member (longest, cleanest, best LM-perplexity), not the
    * smallest doc_id, because a cluster's members differ in exactly the
    * boilerplate/truncation noise the quality signal measures. Clusters
    * are the F11 connected components over Jaccard ≥ minJaccard edges;
    * the representative maximizes (`weight` DESC, doc_id ASC) — the tie
    * order makes the pick total, so the result is engine- and
    * partitioning-exact for any deterministic NON-NULL weight column
    * (a NULL weight makes the struct comparison engine-specific —
    * coalesce the weight to a sentinel before calling).
    *
    * Scale: the argmax is ONE partial+final aggregate on the slim
    * cluster_id key (a lexicographic max of a 3-field struct — map-side
    * combine keeps one candidate per cluster per task, the same
    * mega-cluster-safe shape as [[withClusterSize]], never a window
    * sort), plus a broadcast-friendly join back to the winners' rows.
    */
  def dedupKeepBest(s: SparkSession, docs: DataFrame, minJaccard: Double,
      weight: org.apache.spark.sql.Column): DataFrame = {
    val cc = connectedComponents(s, docs, jaccardEdgesOf(s, docs, minJaccard))
    val scored = cc.join(docs.select(col("doc_id"), weight.as("__w")), Seq("doc_id"))
    val best = scored.groupBy(col("cluster_id"))
      .agg(max(struct(col("__w").as("w"), (-col("doc_id")).as("nid"),
          col("doc_id").as("doc_id"))).as("b"),
        count(lit(1)).as("cluster_size"))
      .select(col("cluster_id"), col("b.doc_id").as("doc_id"),
        col("cluster_size"))
    docs.join(best, Seq("doc_id"))
  }

  /** Graded F31 query: one row per near-dup cluster (Jaccard ≥ 0.6),
    * carrying the representative that maximizes (n_chars DESC, doc_id
    * ASC). The oracle recomputes the clusters with the recursive-CTE
    * closure and picks the representative with an independent QUALIFY
    * row_number window — different CC formulation AND different argmax
    * formulation, so the hash grades both. */
  val qDedupKeepBest = Q(
    "q_dedup_keep_best",
    """WITH RECURSIVE
      |sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
      |         generate_series(1, len(t) - 2),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |       FROM sp),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |          GROUP BY a.doc_id, b.doc_id),
      |edges AS (SELECT a_id AS u, b_id AS v
      |          FROM inter JOIN sizes sa ON sa.doc_id = a_id
      |                     JOIN sizes sb ON sb.doc_id = b_id
      |          WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.6
      |          UNION ALL
      |          SELECT b_id, a_id
      |          FROM inter JOIN sizes sa ON sa.doc_id = a_id
      |                     JOIN sizes sb ON sb.doc_id = b_id
      |          WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.6),
      |reach AS (SELECT doc_id AS u, doc_id AS r FROM documents
      |          UNION
      |          SELECT e.u, reach.r FROM edges e JOIN reach ON e.v = reach.u),
      |cc AS (SELECT u AS doc_id, min(r) AS cluster_id FROM reach GROUP BY u),
      |sized AS (SELECT doc_id, cluster_id,
      |                 count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      |          FROM cc)
      |SELECT s.doc_id, d.n_chars, s.cluster_id, CAST(s.cluster_size AS BIGINT)
      |         AS cluster_size
      |FROM sized s JOIN documents d USING (doc_id)
      |QUALIFY row_number() OVER (PARTITION BY s.cluster_id
      |                           ORDER BY d.n_chars DESC, s.doc_id) = 1
      |ORDER BY s.cluster_id""".stripMargin) { (s, d) =>
    dedupKeepBest(s, documents(s, d).select(col("doc_id"), col("text"),
        col("n_chars")), 0.6, col("n_chars"))
      .select(col("doc_id"), col("n_chars"), col("cluster_id"),
        col("cluster_size"))
      .orderBy(col("cluster_id"))
  }

  /** INCREMENTAL dedup verdicts (round 14): label every increment doc
    * with why it would be dropped against a standing corpus — the
    * daily-ingest operation a 100 TB pipeline actually runs, since
    * re-deduping the whole corpus per ingest is quadratic in history
    * while the delta screen costs |Δ| exact probes + a bipartite
    * Δ×C prefix-filter join.
    *
    * Verdicts, first match wins (the priority makes the label
    * deterministic when several reasons apply):
    *  - `exact_corpus`     — md5(text) already in the corpus;
    *  - `exact_increment`  — a SMALLER-id increment doc has the same md5;
    *  - `neardup_corpus`   — Jaccard ≥ minJaccard against some corpus doc;
    *  - `neardup_increment`— Jaccard ≥ minJaccard against a smaller-id
    *                         increment doc;
    *  - `kept`             — none of the above (NULL-text docs land here:
    *                         a null fingerprint matches nothing and a
    *                         shingle-less doc joins nothing, on both
    *                         engines).
    * Within-increment suppression is "any smaller id wins" — the
    * deterministic batch analogue of the streaming suppressor's
    * first-arrival rule, chosen over CC-transitive semantics so the
    * contract is expressible as plain NOT-EXISTS SQL (the DuckDB oracle)
    * and stable under any partitioning. For transitive within-batch
    * groups run [[qDedupGroups]]' clustering over the increment first.
    */
  def incrementalDedupVerdicts(s: SparkSession, corpus: DataFrame,
      increment: DataFrame, minJaccard: Double): DataFrame = {
    val inc = increment.select(col("doc_id"), col("text"),
      md5(col("text")).as("fp"))
    def flag(ids: DataFrame, name: String): DataFrame =
      ids.select(col("doc_id")).distinct().withColumn(name, lit(true))
    val exactCorp = flag(inc.join(
      corpus.select(md5(col("text")).as("cfp")).distinct(),
      col("fp") === col("cfp"), "left_semi"), "ec")
    val exactInc = flag(inc.join(
      inc.select(col("fp").as("ofp"), col("doc_id").as("oid")),
      col("fp") === col("ofp") && col("oid") < col("doc_id"), "left_semi"), "ei")
    val nearCorp = flag(jaccardPairsBetween(s, increment, corpus, minJaccard)
      .select(col("a_id").as("doc_id")), "nc")
    // self-join pairs come canonicalized a<b: the LARGER id is the one
    // with a smaller-id near-dup
    val nearInc = flag(jaccardPairsOf(s, increment, minJaccard)
      .select(col("b_id").as("doc_id")), "ni")
    increment.select(col("doc_id"))
      .join(exactCorp, Seq("doc_id"), "left")
      .join(exactInc, Seq("doc_id"), "left")
      .join(nearCorp, Seq("doc_id"), "left")
      .join(nearInc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("ec"), "exact_corpus")
          .when(col("ei"), "exact_increment")
          .when(col("nc"), "neardup_corpus")
          .when(col("ni"), "neardup_increment")
          .otherwise("kept").as("verdict"))
  }

  /** The survivors-only form — increment docs admitted against the
    * corpus — with the exact-corpus screen running as the C6c
    * bloom-accelerated ANTI join over md5 fingerprints: at ingest scale
    * the standing corpus' fingerprint set is the bounded side, and the
    * bloom proves absence for the (typical) majority of genuinely-new
    * docs before any join shuffle. Result set ≡ the
    * [[incrementalDedupVerdicts]] rows labeled `kept` (spec-pinned).
    */
  def dedupIncrement(s: SparkSession, corpus: DataFrame, increment: DataFrame,
      minJaccard: Double = 0.6): DataFrame = {
    val incF = increment.withColumn("__fp", md5(col("text")))
    val corpFp = corpus.select(md5(col("text")).as("fp")).distinct()
    val noExactCorp = Relational.bloomAntiJoin(incF, "__fp", corpFp, "fp")
    val dupInc = incF.join(
      incF.select(col("__fp").as("ofp"), col("doc_id").as("oid")),
      col("__fp") === col("ofp") && col("oid") < col("doc_id"), "left_semi")
    val noExact = noExactCorp.join(dupInc.select(col("doc_id")),
      Seq("doc_id"), "left_anti")
    val nearIds = jaccardPairsBetween(s, increment, corpus, minJaccard)
      .select(col("a_id").as("doc_id"))
      .unionByName(jaccardPairsOf(s, increment, minJaccard)
        .select(col("b_id").as("doc_id")))
    noExact.join(nearIds, Seq("doc_id"), "left_anti").drop("__fp")
  }

  /** Graded incremental-dedup query: documents split deterministically
    * (doc_id % 7 = 0 → the increment, ~14%; the rest is the standing
    * corpus), every increment doc labeled. The DuckDB oracle recomputes
    * the verdicts from the naive shingle join + NOT-EXISTS priorities —
    * independent candidate generation (no prefix filter) and independent
    * verdict logic, so the hash match grades both the bipartite join's
    * exactness and the priority semantics.
    */
  val qIncrementalDedup = Q(
    "q_incremental_dedup",
    """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
      |         generate_series(1, len(t) - 2),
      |         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS sh
      |       FROM sp),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |          FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      |          GROUP BY 1, 2),
      |near AS (SELECT a_id, b_id FROM inter
      |         JOIN sizes sa ON sa.doc_id = a_id
      |         JOIN sizes sb ON sb.doc_id = b_id
      |         WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.6)
      |SELECT i.doc_id,
      |  CASE WHEN EXISTS (SELECT 1 FROM documents c
      |                    WHERE c.doc_id % 7 <> 0 AND md5(c.text) = md5(i.text))
      |         THEN 'exact_corpus'
      |       WHEN EXISTS (SELECT 1 FROM documents c
      |                    WHERE c.doc_id % 7 = 0 AND c.doc_id < i.doc_id
      |                      AND md5(c.text) = md5(i.text))
      |         THEN 'exact_increment'
      |       WHEN EXISTS (SELECT 1 FROM near n
      |                    WHERE n.a_id = i.doc_id AND n.b_id % 7 <> 0)
      |         THEN 'neardup_corpus'
      |       WHEN EXISTS (SELECT 1 FROM near n
      |                    WHERE n.a_id = i.doc_id AND n.b_id % 7 = 0
      |                      AND n.b_id < i.doc_id)
      |         THEN 'neardup_increment'
      |       ELSE 'kept' END AS verdict
      |FROM documents i WHERE i.doc_id % 7 = 0
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = documents(s, d)
    incrementalDedupVerdicts(s,
      docs.filter(pmod(col("doc_id"), lit(7)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(7)) === 0), 0.6)
      .orderBy(col("doc_id"))
  }

  /** F56 (round 17): corpus snapshot diff — the dataset-versioning
    * audit every managed-corpus pipeline keeps (what changed between
    * crawl v_n and v_{n+1}: Dolma/FineWeb publish exactly these deltas
    * per release): every doc_id present in either snapshot labeled
    *   - `added`    — id only in `next`,
    *   - `removed`  — id only in `prev`,
    *   - `changed`  — both, text fingerprints differ,
    *   - `unchanged`— both, identical md5.
    * Comparison is by md5(text) so the diff never shuffles full text —
    * the F28 fingerprint discipline; NULL text fingerprints as NULL and
    * NULL = NULL counts as unchanged (both absent ≡ same absence).
    *
    * Scale: two slim (id, fp) projections + ONE full-outer equi-join on
    * the id — the only shuffle; counts per status are the audit.
    */
  def corpusDiff(prev: DataFrame, next: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val a = prev.select(col(idCol), md5(col("text")).as("__fa"),
      lit(true).as("__ina"))
    val b = next.select(col(idCol), md5(col("text")).as("__fb"),
      lit(true).as("__inb"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ina").isNull, lit("added"))
          .when(col("__inb").isNull, lit("removed"))
          .when(col("__fa") <=> col("__fb"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Graded F56 query: the two snapshots are derived deterministically
    * in-query (the F50 convention — the driver ships one corpus):
    * prev = docs with id % 10 ≠ 0; next = docs with id % 7 ≠ 0, text
    * token-appended when id % 5 = 0, plus shifted fresh ids. So every
    * status arises: ids % 70 ∈ … removed (% 7 = 0 ∧ % 10 ≠ 0), added
    * (% 10 = 0 ∧ % 7 ≠ 0 and all the fresh ids), changed (% 5 = 0
    * survivors), unchanged (the rest). The oracle recomputes the
    * snapshot derivation and the four-way labeling from scratch.
    */
  val qCorpusDiff = Q(
    "q_f56_corpus_diff",
    """WITH prev AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
      |next AS (SELECT doc_id,
      |           CASE WHEN doc_id % 5 = 0 THEN text || ' appended' ELSE text END
      |             AS text
      |         FROM documents WHERE doc_id % 7 <> 0
      |         UNION ALL
      |         SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 9 = 0)
      |SELECT coalesce(p.doc_id, n.doc_id) AS doc_id,
      |       CASE WHEN p.doc_id IS NULL THEN 'added'
      |            WHEN n.doc_id IS NULL THEN 'removed'
      |            WHEN md5(p.text) = md5(n.text) THEN 'unchanged'
      |            ELSE 'changed' END AS status
      |FROM prev p FULL OUTER JOIN next n ON p.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = documents(s, d)
    val prev = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val next = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" appended"))).otherwise(col("text"))
          .as("text"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(9)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    corpusDiff(prev, next).orderBy(col("doc_id"))
  }

  def all: Seq[Q] = Seq(qDedupGroups, qEditNearDup, qEditDedupGroups,
    qIncrementalDedup, qDedupKeepBest, qGroupedSplit, qSoftDedupClustered,
    qContainment, qContainmentVerdicts, qParagraphDedup, qParagraphClean,
    qCorpusDiff)
}
