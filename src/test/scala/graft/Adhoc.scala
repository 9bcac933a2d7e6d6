package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Containers

/** Scratch scale-stress main (test scope — not shipped): replicate the
  * sf0.1 corpus 10× with per-copy mutations (~50k docs) and measure the
  * near-dup pipeline end-to-end. Usage: sbt "Test/runMain graft.Adhoc"
  */
object Adhoc {
  def time(label: String)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = f
    println(f"ADHOC $label rows=$n secs=${(System.nanoTime() - t0) / 1e9}%.2f")
  }

  private def audioShort20(spark: SparkSession): Unit = {
      // Post-close review cert: the SHORT-AUDIO secondary (clips under
      // MinSecondaryValues samples get the cell hash over decoded
      // samples instead of the coupled derivative envelope). Three
      // engineered populations over 120-sample stub clips:
      //   dents  — one-sample edits of a base clip (planted TRUE
      //            near-dups; primary ≤ 2 bits, secondary must stay
      //            inside the k₂ = 6 cut)
      //   shifts — +5-level copies of a base clip (primary IDENTICAL
      //            and old derivative secondary IDENTICAL — the exact
      //            coupled pair the old code could never reject; the
      //            sample hash must put them ≥ k₂ bits apart)
      //   chance — unrelated clips colliding within banding distance
      // Binding asserts: every dent pair h2 ≤ 2, every shift pair
      // h2 > 6, zero chance merges after verify, planted dent recall
      // EXACT through mediaDedupGroupsVerified.
      import spark.implicits._
      val n = 300000L
      def clip(seed: Long): Array[Byte] =
        Array.tabulate(120) { j =>
          var v = seed * 2654435761L + j * 40503L
          v ^= v >>> 33; v *= -49064778989728563L; v ^= v >>> 33
          (Math.floorMod(v, 150L) + 30L).toByte // [30, 179]: +5 never wraps
        }
      val meta = Multimodal.MediaMeta("audio/raw", 0, 0)
      val base = spark.range(0, n).as[Long]
        .map(i => Multimodal.MediaRecord(i, "audio", clip(i * 31 + 7), meta))
      val dents = spark.range(0, n).as[Long].filter(_ % 5 == 0)
        .map { i =>
          val b = clip(i * 31 + 7); b(40) = (b(40) + 90).toByte
          Multimodal.MediaRecord(10000000L + i, "audio", b, meta)
        }
      val shifts = spark.range(0, n).as[Long].filter(_ % 7 == 0)
        .map { i =>
          val b = clip(i * 31 + 7).map(v => (v + 5).toByte)
          Multimodal.MediaRecord(20000000L + i, "audio", b, meta)
        }
      val recs = base.unionByName(dents).unionByName(shifts)
        .localCheckpoint(eager = true)
      val slim = Multimodal.mediaSigs2(recs)
        .select(col("id").as("doc_id"), col("sig"), col("sig2"))
        .localCheckpoint(eager = true)
      println(s"ADHOC audioshort20 n=${slim.count()} " +
        s"distinct_sig=${slim.select("sig").distinct().count()}")
      val reps = slim.groupBy(col("sig"), col("sig2"))
        .agg(min(col("doc_id")).as("rep"))
      val s2 = reps.select(col("rep"), col("sig2"))
      val pairs = MinHash.hammingPairs64(
          reps.select(col("rep").as("doc_id"), col("sig")), 3)
        .join(s2.select(col("rep").as("a_id"), col("sig2").as("s2a")), Seq("a_id"))
        .join(s2.select(col("rep").as("b_id"), col("sig2").as("s2b")), Seq("b_id"))
        .select(col("a_id"), col("b_id"),
          bit_count(col("s2a").bitwiseXOR(col("s2b"))).as("h2"),
          // a_id < 10M pins the left side to a BASE clip: (dent-of-i,
          // shift-of-i) pairs also differ by exactly 10M and would
          // otherwise alias into the dent population
          (col("b_id") - col("a_id") === 10000000L &&
            col("a_id") < 10000000L).as("dent"),
          (col("b_id") - col("a_id") === 20000000L).as("shift"),
          (col("b_id") - col("a_id") === 10000000L &&
            col("a_id") >= 10000000L).as("cross"))
        .localCheckpoint(eager = true)
      // a dent whose changed cell's hash bit lands unflipped (p = ½) AND
      // whose envelope comparisons are unmoved rep-collapses with its
      // base before the pair join — recall for those is proven at the
      // group level below; the pair-level bound covers every SURVIVING
      // dent pair
      val dentStats = pairs.filter(col("dent"))
        .agg(count(lit(1)), coalesce(max(col("h2")), lit(0))).head()
      val shiftStats = pairs.filter(col("shift"))
        .agg(count(lit(1)), coalesce(min(col("h2")), lit(99))).head()
      // cross = (dent-of-i, shift-of-i): truly different audio that
      // shares the base's primary sig — graded with chance (must not
      // verify). NULL-safe aggregates: any of these populations can be
      // empty at a given n.
      val chanceStats = pairs.filter(!col("dent") && !col("shift"))
        .agg(count(lit(1)), coalesce(min(col("h2")), lit(-1)),
          coalesce(sum(when(col("h2") <= 6, 1L).otherwise(0L)), lit(0L)),
          coalesce(sum(when(col("cross"), 1L).otherwise(0L)), lit(0L))).head()
      println(s"ADHOC audioshort20 dent_pairs=${dentStats.getLong(0)} " +
        s"max_h2=${dentStats.getInt(1)}")
      println(s"ADHOC audioshort20 shift_pairs=${shiftStats.getLong(0)} " +
        s"min_h2=${shiftStats.getInt(1)}")
      println(s"ADHOC audioshort20 chance_pairs=${chanceStats.getLong(0)} " +
        s"min_h2=${chanceStats.get(1)} within_cut=${chanceStats.getLong(2)} " +
        s"cross=${chanceStats.getLong(3)}")
      assert(dentStats.getLong(0) > 0 && dentStats.getInt(1) <= 2,
        "a one-sample dent escaped the cell-locality bound")
      assert(shiftStats.getLong(0) == (n + 6) / 7,
        s"shift twins must collide on the primary: ${shiftStats.getLong(0)}")
      assert(shiftStats.getInt(1) > 6,
        "a +5-shifted twin slipped INSIDE the verify cut — coupling is back")
      assert(chanceStats.getLong(2) == 0L, "chance pair within the verify cut")
      // end-to-end: verified dedup groups keep every dent merged with its
      // base (recall EXACT) while every shifted twin stays apart
      time("audioshort20 verified groups") {
        val g = Multimodal.mediaDedupGroupsVerified(spark, recs, 3, 6)
          .localCheckpoint(eager = true)
        val lbl = g.select(col("doc_id"), col("cluster_id"))
        val dentMerged = lbl.as("a").join(lbl.as("b"),
            col("a.doc_id") + 10000000L === col("b.doc_id") &&
            col("a.cluster_id") === col("b.cluster_id")).count()
        val shiftMerged = lbl.as("a").join(lbl.as("b"),
            col("a.doc_id") + 20000000L === col("b.doc_id") &&
            col("a.cluster_id") === col("b.cluster_id")).count()
        println(s"ADHOC audioshort20 dent_merged=$dentMerged (expect ${n / 5}) " +
          s"shift_merged=$shiftMerged (expect 0) " +
          s"max_cluster=${g.agg(max(col("cluster_size"))).head().getLong(0)}")
        assert(dentMerged == n / 5 && shiftMerged == 0L)
        g.count()
      }
    }

  def main(args: Array[String]): Unit = {
    val d = "/root/testdata/sf0.1"
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.register(spark)

    if (args.headOption.contains("simhash1m")) {
      // F2c decade certification (round 14): 1M synthetic titles + 100k
      // one-token-mutated twins + a 5000-copy EXACT-dup blob (the skew
      // probe: identical texts share every band key, the quadratic hazard
      // the round-14 md5 rep-set collapses to one banding row). Recall
      // ground truth is computed from the signatures themselves — the
      // pigeonhole makes banding recall EXACT, so every (base, twin) pair
      // whose signatures sit within hamming 3 MUST be found, and every
      // blob pair must surface at hamming 0 through the expansion.
      val n = sys.env.getOrElse("ADHOC_SIMHASH_N", "1000000").toLong
      def textOf(mutPos: Int) = concat_ws(" ",
        transform(sequence(lit(0), (pmod(hash(col("id")), lit(8)) + lit(11)).cast("int")),
          { i =>
            val h = hash(col("id") * 31 + i)
            val tok = concat(lit("w"),
              lower(conv(pmod(h, lit(50000)).cast("string"), 10, 36)))
            if (mutPos >= 0) when(i === mutPos, lit("ZMUTX")).otherwise(tok) else tok
          }))
      val baseT = spark.range(0, n).select(col("id").as("doc_id"), textOf(-1).as("text"))
      val twins = spark.range(0, n).filter(pmod(col("id"), lit(10)) === 0)
        .select((col("id") + 10000000L).as("doc_id"), textOf(2).as("text"))
      val blobN = 5000L
      val blob = spark.range(0, blobN)
        .select((col("id") + 20000000L).as("doc_id"),
          lit("copy of the one hot boilerplate page body").as("text"))
      val corpus = baseT.unionByName(twins).unionByName(blob)
        .localCheckpoint(eager = true)
      println(s"corpus: ${corpus.count()} docs")
      // band-bucket skew over DISTINCT texts (what actually enters the
      // join): top bucket size per the 4×16-bit banding at maxHamming 3
      val dsig = corpus.select(md5(col("text")).as("tkey"),
          call_function("simhash64", col("text")).as("sig"))
        .groupBy("tkey").agg(first(col("sig")).as("sig"))
      val hot = dsig.select(explode(array(Seq.tabulate(4) { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL)).as("key"))
        }: _*)).as("bk"))
        .groupBy("bk").count().agg(max("count")).head().getLong(0)
      println(s"ADHOC simhash1m distinct_texts=${dsig.count()} max_band_bucket=$hot")
      var pairs: org.apache.spark.sql.DataFrame = null
      for (rep <- 1 to 2) {
        time(s"simhash1m_pairs rep=$rep") {
          pairs = MinHash.simhashPairsOf(corpus, 3).localCheckpoint(eager = true)
          pairs.count()
        }
      }
      val sigs = corpus.select(col("doc_id"),
        call_function("simhash64", col("text")).as("sig"))
      val expected = sigs.filter(col("doc_id") < 10000000L)
        .join(sigs.filter(col("doc_id") >= 10000000L && col("doc_id") < 20000000L)
          .select((col("doc_id") - 10000000L).as("bid"), col("sig").as("tsig")),
          col("doc_id") === col("bid"))
        .filter(bit_count(col("sig").bitwiseXOR(col("tsig"))) <= 3).count()
      val foundTwins = pairs.filter(col("b_id") === col("a_id") + 10000000L).count()
      val blobPairs = pairs.filter(col("a_id") >= 20000000L && col("b_id") >= 20000000L).count()
      println(s"ADHOC simhash1m twins_within3=$expected twins_found=$foundTwins " +
        s"blob_pairs=$blobPairs expected_blob=${blobN * (blobN - 1) / 2}")
      assert(foundTwins == expected,
        s"banding must find EXACTLY the sig-near twins: $foundTwins vs $expected")
      assert(blobPairs == blobN * (blobN - 1) / 2,
        "exact-dup blob pairs must all surface through the rep-set expansion")
      // groups at the same scale: the star-edge composition must collapse
      // the blob to ONE cluster without materializing its 12.5M pairs
      time("simhash1m_groups") {
        val g = MinHash.simhashDedupGroups(spark, corpus, 3)
        g.filter(col("cluster_id") === 20000000L).count()
      }
      val g = MinHash.simhashDedupGroups(spark, corpus, 3)
      val blobCluster = g.filter(col("doc_id") >= 20000000L)
        .select("cluster_id").distinct().collect().map(_.getLong(0)).toSeq
      assert(blobCluster == Seq(20000000L), s"blob must be one cluster: $blobCluster")
      spark.stop()
      return
    }

    if (args.headOption.contains("incdedup1m")) {
      // F28 decade certification (round 14): a 1M-doc standing corpus
      // screened against a 100k-doc increment with a PLANTED verdict for
      // every increment doc — the construction uses disjoint token
      // namespaces so each verdict is certain, not probabilistic:
      //   ids 2_000_000..2_019_999  exact copies of corpus docs      → exact_corpus
      //   ids 2_020_000..2_029_999  exact copies of LARGER-id fresh
      //                             docs (so the FRESH originals get
      //                             exact_increment; the smaller-id
      //                             twins themselves stay kept)
      //   ids 2_030_000..2_049_999  corpus text + one appended token
      //                             (jaccard b/(b+1) ≥ 0.9 ≥ 0.6)    → neardup_corpus
      //   ids 2_050_000..2_149_999  fully-unique f<id>_<i> tokens    → kept,
      //                             EXCEPT 2_050_000..2_059_999 whose
      //                             smaller-id twins make them
      //                             exact_increment
      // Wall-clock target: the Δ×C bipartite prefix join must stay in the
      // |Δ|·prefix regime — nowhere near the 1M² self-join the operator
      // exists to avoid.
      val n = sys.env.getOrElse("ADHOC_INC_N", "1000000").toLong
      def corpText = concat_ws(" ",
        transform(sequence(lit(0), (pmod(hash(col("id")), lit(8)) + lit(11)).cast("int")),
          { i =>
            val h = hash(col("id") * 31 + i)
            concat(lit("w"), lower(conv(pmod(h, lit(50000)).cast("string"), 10, 36)))
          }))
      def freshText = concat_ws(" ",
        transform(sequence(lit(0), lit(14)),
          i => concat(lit("f"), col("id").cast("string"), lit("_"), i.cast("string"))))
      val corpus = spark.range(0, n)
        .select(col("id").as("doc_id"), corpText.as("text"))
        .localCheckpoint(eager = true)
      val exactCorp = spark.range(0, 20000)
        .select((col("id") + 2000000L).as("doc_id"), corpText.as("text"))
      val fresh = spark.range(50000, 150000)
        .select((col("id") + 2000000L).as("doc_id"), freshText.as("text"))
      val exactInc = spark.range(50000, 60000) // twins of the first 10k fresh
        .select((col("id") + 1970000L).as("doc_id"), freshText.as("text"))
      val nearCorp = spark.range(100000, 120000)
        .select((col("id") + 1930000L).as("doc_id"),
          concat(corpText, lit(" ZEXTRA")).as("text"))
      val increment = exactCorp.unionByName(exactInc).unionByName(nearCorp)
        .unionByName(fresh).localCheckpoint(eager = true)
      println(s"ADHOC incdedup1m corpus=${corpus.count()} increment=${increment.count()}")
      var v: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"incdedup1m_verdicts rep=$rep") {
          v = Dedup.incrementalDedupVerdicts(spark, corpus, increment, 0.6)
            .localCheckpoint(eager = true)
          v.count()
        }
      }
      val got = v.groupBy("verdict").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"ADHOC incdedup1m verdicts=$got")
      // exactInc twins duplicate fresh ids 2_050_000..2_059_999 at ids
      // 30_000 smaller, so each twin stays kept and its fresh original
      // drops as exact_increment
      assert(got("exact_corpus") == 20000L, s"exact_corpus: $got")
      assert(got("exact_increment") == 10000L, s"exact_increment: $got")
      assert(got("neardup_corpus") == 20000L, s"neardup_corpus: $got")
      assert(got("kept") == 100000L - 10000L + 10000L, s"kept: $got")
      time("incdedup1m_survivors") {
        Dedup.dedupIncrement(spark, corpus, increment, 0.6).count()
      }
      val kept = Dedup.dedupIncrement(spark, corpus, increment, 0.6).count()
      assert(kept == got("kept"), s"facade $kept vs verdict kept ${got("kept")}")
      spark.stop()
      return
    }

    if (args.headOption.contains("stripspans1m")) {
      // F30 decade certification (round 14): 1M docs, 10% carrying an
      // identical 8-token boilerplate HEADER (the hot-window skew probe:
      // one window hash with 100k occurrences) plus their unique body.
      // Planted truth: every header doc loses exactly its 8 header
      // tokens (the 7 bridge windows header→body contain unique body
      // tokens, so they never duplicate); clean docs lose nothing.
      val n = sys.env.getOrElse("ADHOC_STRIP_N", "1000000").toLong
      val header = "the site nav bar about contact login search"
      def bodyOf = concat_ws(" ",
        transform(sequence(lit(0), lit(11)),
          i => concat(lit("b"), col("id").cast("string"), lit("_"), i.cast("string"))))
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          when(pmod(col("id"), lit(10)) === 0,
            concat(lit(header + " "), bodyOf)).otherwise(bodyOf).as("text"))
        .localCheckpoint(eager = true)
      println(s"ADHOC stripspans1m corpus=${docs.count()} docs")
      var out: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"stripspans1m rep=$rep") {
          out = TextOps.stripDuplicatedSpans(docs, 8).localCheckpoint(eager = true)
          out.count()
        }
      }
      val byRemoved = out.groupBy("n_removed").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"ADHOC stripspans1m n_removed_hist=$byRemoved")
      val nHeader = (n + 9) / 10
      assert(byRemoved == Map(0L -> (n - nHeader), 8L -> nHeader),
        s"every header doc must lose exactly its 8 header tokens: $byRemoved")
      // the cleaned header docs must all retain their full unique body
      val bad = out.filter(col("n_removed") === 8 &&
        !col("clean_text").startsWith(
          concat(lit("b"), col("doc_id").cast("string"), lit("_0")))).count()
      assert(bad == 0, s"$bad header docs lost body tokens")
      spark.stop()
      return
    }

    if (args.headOption.contains("bm25big")) {
      // F29 decade certification (round 14): BM25 over a 1M-doc corpus
      // (same synthetic namespace as simhash1m — ~50k-token vocabulary,
      // 12–19-token docs). The graded shape end-to-end: derive the top-5
      // terms by df, score every doc, take the top 50. Correctness at
      // scale: the scored-doc set must equal the docs containing ≥ 1
      // query term (computed by an independent plain join), and two
      // full reps must return bit-identical top-50 rows (the
      // micro-quantized long sum is order-exact by construction).
      val n = sys.env.getOrElse("ADHOC_BM25_N", "1000000").toLong
      def textOf = concat_ws(" ",
        transform(sequence(lit(0), (pmod(hash(col("id")), lit(8)) + lit(11)).cast("int")),
          { i =>
            val h = hash(col("id") * 31 + i)
            concat(lit("w"), lower(conv(pmod(h, lit(50000)).cast("string"), 10, 36)))
          }))
      val docs = spark.range(0, n)
        .select(col("id").as("doc_id"), textOf.as("text"))
        .localCheckpoint(eager = true)
      println(s"ADHOC bm25big corpus=${docs.count()} docs")
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val qt = toks.distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term")).limit(5)
        .select(col("term")).localCheckpoint(eager = true)
      var top: Array[(Long, Long)] = null
      for (rep <- 1 to 2) {
        time(s"bm25big rep=$rep") {
          val t = TextOps.bm25Scores(docs, qt)
            .orderBy(col("score_micros").desc, col("doc_id")).limit(50)
            .collect().map(r => (r.getLong(0), r.getLong(1)))
          if (top != null) assert(top.toSeq == t.toSeq, "top-50 must be rep-exact")
          top = t
          t.length.toLong
        }
      }
      val scored = TextOps.bm25Scores(docs, qt).count()
      val expected = toks.join(qt, Seq("term"), "left_semi")
        .select("doc_id").distinct().count()
      println(s"ADHOC bm25big scored=$scored docs_with_query_term=$expected")
      assert(scored == expected, s"scored $scored vs expected $expected")
      spark.stop()
      return
    }

    // 10 mutated copies of each sf0.1 doc: copy 0 is verbatim (a planted
    // exact/near dup of the original), copies 1..9 prepend a distinct
    // token (near-dup of the original at high jaccard)
    val base = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val scaled = base
      .crossJoin(spark.range(0, 10).select(col("id").as("copy")))
      .select((col("doc_id") * 10 + col("copy")).as("doc_id"),
        when(col("copy") === 0, col("text"))
          .otherwise(concat(lit("mut"), col("copy"), lit(" "), col("text"))).as("text"))
      .localCheckpoint(eager = true)
    println(s"corpus: ${scaled.count()} docs")

    if (args.headOption.contains("semdedup")) {
      // 10k-vector corpus: sf0.1 embeddings replicated 5× — copy 0
      // verbatim, copies 1–4 with one dimension scaled 3% (planted
      // 5-cliques at cosine ≥ ~0.999). Compares the graded exact-edge
      // path against the LSH-edge scale path for wall-clock AND cluster
      // equality at 5× the graded corpus.
      val emb = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
      val scaledE = emb
        .crossJoin(spark.range(0, 5).select(col("id").as("copy")))
        .select((col("vec_id") * 5 + col("copy")).as("vec_id"),
          when(col("copy") === 0, col("embedding"))
            .otherwise(transform(col("embedding"),
              (v, i) => when(i === (col("copy") - 1).cast("int"), v * lit(1.03f)).otherwise(v)))
            .as("embedding"))
        .localCheckpoint(eager = true)
      println(s"vectors: ${scaledE.count()}")
      for (rep <- 1 to 2) {
        time("semdedup_exact_10k") {
          Similarity.semanticClusters(spark, scaledE, 0.9).count()
        }
        time("semdedup_lsh_10k") {
          Similarity.semanticClusters(spark, scaledE, 0.9, useLsh = true).count()
        }
      }
      val ex = Similarity.semanticClusters(spark, scaledE, 0.9)
        .select(col("vec_id"), col("cluster_id").as("c_exact"))
      val ls = Similarity.semanticClusters(spark, scaledE, 0.9, useLsh = true)
        .select(col("vec_id"), col("cluster_id").as("c_lsh"))
      val mismatch = ex.join(ls, Seq("vec_id"))
        .filter(col("c_exact") =!= col("c_lsh")).count()
      val nontrivial = ex.groupBy(col("c_exact")).count().filter(col("count") > 1).count()
      println(s"ADHOC semdedup_equal mismatch=$mismatch nontrivial_clusters=$nontrivial")
      spark.stop()
      return
    }

    if (args.headOption.contains("megacc")) {
      // adversarial single-component stress: one 10k-doc CLIQUE (50M-edge
      // breadth — the boilerplate-blob shape) plus one 300-doc CHAIN
      // (depth — needs pointer-jumping, plain propagation would exhaust
      // maxIters). Proves the CC loop AND the round-7 cluster_size
      // aggregate+join reshape under the exact shapes they exist for.
      import spark.implicits._
      val n = 10000
      val nodes = spark.range(0, n + 300).select(col("id").as("doc_id"))
      val clique = spark.range(0, n).select(col("id").as("a_id"))
        .crossJoin(spark.range(0, n).select(col("id").as("b_id")))
        .filter(col("a_id") < col("b_id"))
      val chain = spark.range(n, n + 299)
        .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      val edges = clique.unionByName(chain).localCheckpoint(eager = true)
      println(s"edges: ${edges.count()}")
      // rep 1/2: the default localCheckpoint loop; rep 3: the reliable
      // loop under a checkpoint directory at the same 50M edges — measures
      // what executor-loss fault tolerance COSTS (a distributed-FS write
      // per cut; here local disk stands in for HDFS/S3)
      val ckptDir = java.nio.file.Files.createTempDirectory("megacc_ckpt").toString
      for (rep <- 1 to 3) {
        def run() = {
          val (cc, rounds) = Dedup.connectedComponentsWithRounds(spark, nodes, edges)
          (rounds, Dedup.withClusterSize(cc)
            .groupBy(col("cluster_size")).count()
            .orderBy(col("cluster_size"))
            .as[(Long, Long)].collect().toSeq)
        }
        val t0 = System.nanoTime()
        val (rounds, sizes) =
          if (rep == 3) SparkSpec.withCheckpointDir(spark, ckptDir)(run())
          else run()
        val secs = (System.nanoTime() - t0) / 1e9
        val label = if (rep == 3) "reliable_ckpt" else s"rep=$rep"
        println(f"ADHOC megacc $label rounds=$rounds secs=$secs%.2f sizes=$sizes")
        assert(sizes == Seq((300L, 300L), (n.toLong, n.toLong)),
          s"mega-component mis-clustered: $sizes")
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("editdup")) {
      // Round-13 duplicate hunt: at 16M the planted-twin recall count
      // came back planted+1 — under the planted-id predicate that is
      // only possible if some (a_id, b_id) row is emitted twice. Find it.
      val n = sys.env.getOrElse("ADHOC_EDITDIST_N", "14545454").toLong
      val baseT = spark.range(0, n).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), (pmod(hash(col("id")), lit(5)) + lit(5)).cast("int")),
          { i =>
            val h = hash(col("id") * 31 + i)
            when(pmod(h, lit(2)) === 0,
              concat(lit("s"), pmod(h, lit(64)).cast("string")))
              .otherwise(concat(lit("w"),
                lower(conv(pmod(h, lit(1500000)).cast("string"), 10, 36))))
          })).as("text"))
      val twins = baseT.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + n).as("doc_id"),
          concat(substring(col("text"), 1, 2), lit("Z"),
            expr("substring(text, 4)")).as("text"))
      val corpus = baseT.unionByName(twins).localCheckpoint(eager = true)
      println(s"corpus: ${corpus.count()} titles")
      val pairs = Dedup.editDistancePairsQGram(spark, corpus, maxDist = 1, q = 4)
        .localCheckpoint(eager = true)
      val total = pairs.count()
      val dups = pairs.groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("c"), collect_list(col("dist")).as("dists"))
        .filter(col("c") > 1)
        .localCheckpoint(eager = true)
      println(s"EDITDUP total=$total dup_keys=${dups.count()}")
      dups.limit(10).collect().foreach { r =>
        val (a, b) = (r.getLong(0), r.getLong(1))
        val rows = corpus.filter(col("doc_id").isin(a, b))
          .select(col("doc_id"), col("text"), octet_length(col("text")))
          .collect()
        println(s"EDITDUP pair ($a, $b) c=${r.getLong(2)} dists=${r.getSeq[Long](3)}")
        rows.foreach(x => println(s"EDITDUP   doc ${x.getLong(0)} bytes=${x.getInt(2)} text='${x.getString(1)}'"))
      }
      spark.stop(); return
    }

    if (args.headOption.contains("ccgraded")) {
      // Round-13: min-label vs two-phase CC on the GRADED edge sets —
      // the shallow near-dup graphs where min-label converges in a few
      // rounds and the heavier per-round edge rewrite might lose.
      import spark.implicits._
      val docs = Tables.documents(spark, d)
      val shapes: Seq[(String, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = Seq(
        ("f11_jaccard", docs.select(col("doc_id")),
          Dedup.jaccardEdges(spark, d, 0.6).localCheckpoint(eager = true)),
        ("edit_qgram", docs.select(col("doc_id")),
          Dedup.editDistancePairsQGram(spark, docs, 8)
            .select(col("a_id"), col("b_id")).localCheckpoint(eager = true)))
      for ((name, nodes, edges) <- shapes; rep <- 1 to 3) {
        var t0 = System.nanoTime()
        val (ccA, rA) = Dedup.connectedComponentsWithRounds(spark, nodes, edges)
        ccA.count()
        val tA = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val (ccB, rB) = Dedup.connectedComponentsStarWithRounds(spark, nodes, edges)
        ccB.count()
        val tB = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val (ccH, rH) = Dedup.connectedComponentsHybridWithRounds(spark, nodes, edges)
        ccH.count()
        val tH = (System.nanoTime() - t0) / 1e9
        val diff = ccB.exceptAll(ccA).count() + ccH.exceptAll(ccA).count()
        println(f"ADHOC ccgraded $name rep=$rep minlabel r=$rA secs=$tA%.2f " +
          f"star r=$rB secs=$tB%.2f hybrid r=$rH secs=$tH%.2f diff=$diff")
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("megaccstar")) {
      // Round-13 A/B: the two-phase (large-star/small-star) CC on the
      // megacc graph (10k-clique 50M edges + 300-chain) vs the shipped
      // min-label + contraction loop — same label/size assertions.
      import spark.implicits._
      val n = 10000
      val nodes = spark.range(0, n + 300).select(col("id").as("doc_id"))
      val clique = spark.range(0, n).select(col("id").as("a_id"))
        .crossJoin(spark.range(0, n).select(col("id").as("b_id")))
        .filter(col("a_id") < col("b_id"))
      val chain = spark.range(n, n + 299)
        .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      val edges = clique.unionByName(chain).localCheckpoint(eager = true)
      println(s"edges: ${edges.count()}")
      for (rep <- 1 to 2) {
        var t0 = System.nanoTime()
        val (ccA, rA) = Dedup.connectedComponentsWithRounds(spark, nodes, edges)
        val szA = Dedup.withClusterSize(ccA).groupBy(col("cluster_size")).count()
          .orderBy(col("cluster_size")).as[(Long, Long)].collect().toSeq
        val tA = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val (ccB, rB) = Dedup.connectedComponentsStarWithRounds(spark, nodes, edges)
        val szB = Dedup.withClusterSize(ccB).groupBy(col("cluster_size")).count()
          .orderBy(col("cluster_size")).as[(Long, Long)].collect().toSeq
        val tB = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val (ccH, rH) = Dedup.connectedComponentsHybridWithRounds(spark, nodes, edges)
        val szH = Dedup.withClusterSize(ccH).groupBy(col("cluster_size")).count()
          .orderBy(col("cluster_size")).as[(Long, Long)].collect().toSeq
        val tH = (System.nanoTime() - t0) / 1e9
        println(f"ADHOC megaccstar rep=$rep minlabel rounds=$rA secs=$tA%.2f " +
          f"star rounds=$rB secs=$tB%.2f hybrid rounds=$rH secs=$tH%.2f")
        assert(szA == Seq((300L, 300L), (n.toLong, n.toLong)) && szB == szA && szH == szA,
          s"mis-clustered: $szA vs $szB vs $szH")
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("ann100k")) {
      // ANN crossover pinning: 100k vectors (sf0.1 embeddings ×50, planted
      // 50-cliques at cosine ≥ ~0.999). Brute force here is the 5G-pair
      // cartesian (≈50 min extrapolating the measured curve) — the whole
      // point of the LSH path — so the 100k run takes the LSH path only
      // and is checked against CONSTRUCTION ground truth (stronger than
      // agreement with exact: every cluster must be exactly one planted
      // 50-clique). Exact runs at 20k to extend the measured exact curve.
      // 16-bit bands: at 100k vectors the default 4-bit keys (16 buckets)
      // would degenerate into all-pairs within buckets; 64 planes / 4
      // bands of 16 bits keep per-band collision ~1.5 rows per bucket.
      def planted(copies: Int): DataFrame =
        Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
          .crossJoin(spark.range(0, copies).select(col("id").as("copy")))
          .select((col("vec_id") * copies + col("copy")).as("vec_id"),
            when(col("copy") === 0, col("embedding"))
              .otherwise(transform(col("embedding"),
                (v, i) => when(i === ((col("copy") - 1) % 64).cast("int"),
                  v * lit(1.03f)).otherwise(v)))
              .as("embedding"))
          .localCheckpoint(eager = true)
      val e100k = planted(50)
      println(s"vectors: ${e100k.count()}")
      for (rep <- 1 to 2) {
        time(s"ann100k_lsh_cluster rep=$rep") {
          Similarity.semanticClusters(spark, e100k, 0.9,
            useLsh = true, nPlanes = 64, bandBits = 16).count()
        }
      }
      val cl = Similarity.semanticClusters(spark, e100k, 0.9,
        useLsh = true, nPlanes = 64, bandBits = 16)
      val mism = cl.filter(col("cluster_id") =!=
        (col("vec_id") - col("vec_id") % 50)).count()
      val ncl = cl.select("cluster_id").distinct().count()
      println(s"ADHOC ann100k_truth mismatched=$mism clusters=$ncl (expect 0 / 2000)")
      assert(mism == 0 && ncl == 2000)
      val e20k = planted(10)
      println(s"vectors: ${e20k.count()}")
      time("ann20k_exact_cluster") {
        Similarity.semanticClusters(spark, e20k, 0.9).count()
      }
      time("ann20k_lsh_cluster") {
        Similarity.semanticClusters(spark, e20k, 0.9,
          useLsh = true, nPlanes = 64, bandBits = 16).count()
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("sinkstress")) {
      // A7/B11 throughput at volume: ~1M records through (a) the batch
      // deliver path unthrottled — raw records/s — and (b) the V2
      // streaming connector with per-shard record throttling, where
      // elapsed must be ≥ the pacing floor (records / shards / rate) —
      // proof the executor-resident buckets pace REAL volume, not just
      // the spec's fake-clock fixtures.
      import graft.pipeline.KinesisSink
      val n = 1000000L
      val shards = 8
      val recs = spark.range(0, n).select(
        col("id").cast("string").as("partitionKey"),
        encode(concat(lit("payload-"), col("id")), "UTF-8").as("data"))
        .localCheckpoint(eager = true)
      println(s"records: ${recs.count()}")
      def countKrf(base: String): Long = {
        val dirs = Option(new java.io.File(base).listFiles()).getOrElse(Array.empty)
          .filter(_.getName.startsWith("shard="))
        dirs.map { d =>
          d.listFiles().filter(_.getName.endsWith(".krf")).map { f =>
            val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
              new java.io.FileInputStream(f)))
            var c = 0L
            try {
              while (in.available() > 0) {
                in.skipBytes(in.readInt()); in.skipBytes(in.readInt()); c += 1
              }
            } finally in.close()
            c
          }.sum
        }.sum
      }
      for (rep <- 1 to 2) {
        val outB = java.nio.file.Files.createTempDirectory("sinkstress_batch").toString
        val t0 = System.nanoTime()
        KinesisSink.deliver(recs, shards,
          (_, tag) => new KinesisSink.DirectoryClient(outB, tag), fileTag = s"stress$rep")
        val secs = (System.nanoTime() - t0) / 1e9
        val delivered = countKrf(outB)
        println(f"ADHOC sink_batch_1m rep=$rep records=$delivered secs=$secs%.2f " +
          f"rate_rec_s=${delivered / secs}%.0f")
        assert(delivered == n)
      }
      // V2 streaming, throttled: 50k rec/s per shard × 8 shards; md5
      // routing spreads 1M keys ~uniformly → ~125k/shard → ≥2.5 s floor
      // MINUS the one-request burst each shard's fresh bucket grants.
      val inDir = java.nio.file.Files.createTempDirectory("sinkstress_in").toString
      recs.write.mode("overwrite").parquet(inDir)
      for ((rate, label) <- Seq((0, "unthrottled"), (50000, "50k_rps"))) {
        val outS = java.nio.file.Files.createTempDirectory(s"sinkstress_v2_$label").toString
        val t0 = System.nanoTime()
        val w = spark.readStream
          .schema("partitionKey STRING, data BINARY")
          .parquet(inDir)
          .writeStream
          .format(classOf[graft.pipeline.KinesisTableProvider].getName)
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory(s"sinkstress_ckpt_$label").toString)
          .option("baseDir", outS)
          .option("numShards", shards.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        val q = (if (rate > 0)
          w.option("throttleRecordsPerSec", rate.toString)
            // byte limit out of the way: this run isolates record pacing
            .option("throttleBytesPerSec", (1L << 30).toString)
        else w).start()
        q.awaitTermination()
        val secs = (System.nanoTime() - t0) / 1e9
        val delivered = countKrf(outS)
        // pacing floor per shard: records minus the full-bucket burst
        // (capacity = 1 s of rate) minus one-request overdraw, at `rate`
        // rec/s; 0.97 absorbs md5 routing's deviation from uniform
        val floor =
          if (rate > 0) (n.toDouble / shards * 0.97 - rate - 500) / rate else 0.0
        println(f"ADHOC sink_v2_1m mode=$label records=$delivered secs=$secs%.2f " +
          f"rate_rec_s=${delivered / secs}%.0f pacing_floor_s=$floor%.2f")
        assert(delivered == n)
        if (rate > 0) assert(secs >= floor,
          f"throttled run finished in $secs%.2f s, below the $floor%.2f s pacing floor")
        graft.pipeline.KinesisSink.ShardThrottle.evictScope(outS)
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("pipestress")) {
      // E10 exactly-once at volume WITH an interrupt: 200k events in 100
      // bucket objects through the full decode → validate → key → route →
      // deliver pipeline; the first query is stopped mid-flight (~batch
      // 6-8 of 40), then a resume runs to completion. The offset WAL must
      // replay the interrupted batch and the batchId-keyed sink files
      // must make that replay overwrite, not append — exactly 200k
      // distinct events delivered, zero duplicates.
      import graft.pipeline.Pipeline
      val bucket = java.nio.file.Files.createTempDirectory("ps_bucket").toString
      val stream = java.nio.file.Files.createTempDirectory("ps_stream").toString
      val quar = java.nio.file.Files.createTempDirectory("ps_quar").toString
      val ckpt = java.nio.file.Files.createTempDirectory("ps_ckpt").toString
      val nFiles = 100; val perFile = 2000
      val nEv = nFiles.toLong * perFile
      for (f <- 0 until nFiles) {
        val w = new java.io.PrintWriter(
          new java.io.File(bucket, f"obj-$f%04d.jsonl"), "UTF-8")
        try (0 until perFile).foreach { i =>
          val id = f.toLong * perFile + i
          w.println(s"""{"event_id":$id,"ts":"2024-01-01T00:00:00Z",""" +
            s""""user_id":${id % 997},"event_type":"view","value":1.5,"props":"{}"}""")
        } finally w.close()
      }
      val t0 = System.nanoTime()
      val q1 = Pipeline.run(spark, bucket, stream, quar, ckpt, numShards = 8,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
        maxFilesPerTrigger = 5)
      Thread.sleep(2500)
      // the interrupt must actually interrupt: on a machine fast enough to
      // finish inside the sleep, the replay path would silently go
      // untested while the asserts still pass (round-9 ADVICE)
      assert(q1.isActive, "query already finished — pipestress interrupted nothing")
      q1.stop() // interrupt mid-flight; the in-progress batch replays on resume
      val stoppedAt = (System.nanoTime() - t0) / 1e9
      val q2 = Pipeline.run(spark, bucket, stream, quar, ckpt, numShards = 8,
        maxFilesPerTrigger = 5)
      q2.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val recs = ShardFiles.read(stream).values.flatten.toSeq
      val ids = recs.map { case (_, data) =>
        """"event_id":(\d+)""".r.findFirstMatchIn(
          new String(data, java.nio.charset.StandardCharsets.UTF_8)).get.group(1).toLong
      }
      println(f"ADHOC pipestress events=$nEv delivered=${recs.size} " +
        f"distinct=${ids.toSet.size} interrupted_at=$stoppedAt%.2f secs=$secs%.2f " +
        f"rate_ev_s=${nEv / secs}%.0f")
      assert(ids.toSet.size == nEv, s"lost events: ${ids.toSet.size} of $nEv")
      assert(recs.size == nEv, s"duplicate deliveries: ${recs.size} != $nEv")
      // same corpus and interrupt through the DataSourceV2 connector path
      // (epoch-tagged writer files instead of foreachBatch fileTags)
      val streamV2 = java.nio.file.Files.createTempDirectory("ps_stream_v2").toString
      val ckptV2 = java.nio.file.Files.createTempDirectory("ps_ckpt_v2").toString
      val t1 = System.nanoTime()
      val v1 = Pipeline.runV2(spark, bucket, streamV2, ckptV2, numShards = 8,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
        maxFilesPerTrigger = 5)
      Thread.sleep(2500)
      v1.stop()
      val v2StoppedAt = (System.nanoTime() - t1) / 1e9
      val v2 = Pipeline.runV2(spark, bucket, streamV2, ckptV2, numShards = 8,
        maxFilesPerTrigger = 5)
      v2.awaitTermination()
      val v2Secs = (System.nanoTime() - t1) / 1e9
      val recsV2 = ShardFiles.read(streamV2).values.flatten.toSeq
      val idsV2 = recsV2.map { case (_, data) =>
        """"event_id":(\d+)""".r.findFirstMatchIn(
          new String(data, java.nio.charset.StandardCharsets.UTF_8)).get.group(1).toLong
      }
      println(f"ADHOC pipestress_v2 events=$nEv delivered=${recsV2.size} " +
        f"distinct=${idsV2.toSet.size} interrupted_at=$v2StoppedAt%.2f secs=$v2Secs%.2f " +
        f"rate_ev_s=${nEv / v2Secs}%.0f")
      assert(idsV2.toSet.size == nEv, s"V2 lost events: ${idsV2.toSet.size} of $nEv")
      assert(recsV2.size == nEv, s"V2 duplicate deliveries: ${recsV2.size} != $nEv")
      spark.stop()
      return
    }

    if (args.headOption.contains("substrstress")) {
      // F16 at volume + mega-skew: the 50k-doc scaled corpus (real text,
      // windows duplicated ~10x by the copies) plus 200k planted docs
      // sharing ONE 10-token window — 10x the ScaleLayoutSpec hot case.
      // The singleton-identity shape must stay wall-sane with the hot
      // window routed only through partial-aggregating hash aggs.
      val dir = java.nio.file.Files.createTempDirectory("substrstress").toString
      val shared = (1 to 10).map(i => s"hot$i").mkString(" ")
      val hot = spark.range(0, 200000)
        .select((col("id") + 10000000L).as("doc_id"), lit(shared).as("text"))
      scaled.unionByName(hot)
        .withColumn("lang", lit("en")).withColumn("source", lit("planted"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val nWindows = TextOps.qDupSubstrings.fn(spark, dir)
        .agg(sum(col("n_windows"))).collect()(0).getLong(0)
      println(s"substrstress corpus: 250k docs, $nWindows windows")
      for (rep <- 1 to 2) {
        time(s"substrstress_250k rep=$rep") {
          TextOps.qDupSubstrings.fn(spark, dir).count()
        }
      }
      val hotRow = TextOps.qDupSubstrings.fn(spark, dir)
        .filter(col("doc_id") === 10000000L).collect()(0)
      println(s"ADHOC substrstress hot_doc=$hotRow")
      assert(hotRow.getLong(1) == 1L && hotRow.getLong(2) == 1L,
        s"hot doc should report its 1 window duplicated, got $hotRow")
      spark.stop()
      return
    }

    if (args.headOption.contains("acstress")) {
      // F13 at eval-screen scale: the graded query uses a handful of
      // phrases; a real contamination screen is 10^5 eval n-grams. Build
      // the Aho-Corasick automaton from 100k REAL corpus 3-grams (drawn
      // from the documents themselves, so the scan takes live automaton
      // transitions rather than idling in the root state), measure build
      // wall + java-serialized (broadcast payload) size, then scan the
      // 50k-doc scaled corpus for the contaminated count.
      import spark.implicits._
      val base0 = Tables.documents(spark, d).filter(col("text").isNotNull)
      def gramsOf(sizes: Seq[Int]): Array[String] = base0.select(explode(array(
        sizes.map(k => expr(
          s"transform(sequence(0, greatest(size(split(text,' '))-$k, 0)), " +
            s"i -> concat_ws(' ', slice(split(text,' '), i+1, $k)))")): _*)).as("gs"))
        .select(explode(col("gs")).as("g"))
        .filter(length(col("g")) > 0).distinct().limit(100000)
        .collect().map(_.getString(0))
      val chars = scaled.agg(sum(length(col("text")))).collect()(0).getLong(0)
      for ((label, sizes) <- Seq("3grams" -> Seq(3), "345grams" -> Seq(3, 4, 5))) {
        val grams = gramsOf(sizes)
        val t0 = System.nanoTime()
        val ac = graft.functions.AhoCorasick(grams.toSeq)
        val buildS = (System.nanoTime() - t0) / 1e9
        val bos = new java.io.ByteArrayOutputStream()
        val oos = new java.io.ObjectOutputStream(bos)
        oos.writeObject(ac); oos.close()
        println(f"ADHOC acstress_$label phrases=${grams.length} " +
          f"build_s=$buildS%.2f ser_mb=${bos.size() / 1e6}%.1f")
        val bc = spark.sparkContext.broadcast(ac)
        for (rep <- 1 to 2) {
          time(s"acstress_scan_50k set=$label rep=$rep chars=$chars") {
            scaled.select(col("doc_id"), col("text")).as[(Long, String)]
              .mapPartitions { it =>
                val a = bc.value
                it.filter { case (_, t) => t != null && a.presence(t).exists(identity) }
              }.count()
          }
        }
        bc.destroy()
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("packstress")) {
      // F20 at 400× the graded corpus: 2M synthetic docs (token count =
      // doc_id % 100 + 1, so totals are closed-form) through the full
      // graded packSequencesOf shape — per-bucket cumsum windows + the
      // bucket-offset cascade + the final presentation sort. The global
      // invariant is exact: with 20k groups of 0..99 the stream holds
      // 20k × (1+2+...+100) tokens, and the last doc's seq_last must be
      // floor((total-1)/1024).
      val n = 2000000L
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
        rtrim(repeat(lit("w "), (col("id") % 100 + 1).cast("int"))).as("text"))
        .localCheckpoint(eager = true)
      val totalToks = (n / 100) * (100L * 101L / 2L)
      for (rep <- 1 to 2) {
        time(s"packstress_2m rep=$rep") {
          TextOps.packSequencesOf(docs).count()
        }
      }
      val out = TextOps.packSequencesOf(docs)
        .agg(sum(col("n_toks")).as("toks"), max(col("seq_last")).as("last"),
          sum(col("n_seqs")).as("spans"))
        .collect()(0)
      println(s"ADHOC packstress toks=${out.getLong(0)} expected=$totalToks " +
        s"last_seq=${out.getLong(1)} expected=${(totalToks - 1) / 1024}")
      assert(out.getLong(0) == totalToks)
      assert(out.getLong(1) == (totalToks - 1) / 1024)
      spark.stop()
      return
    }

    if (args.headOption.contains("streamdedup")) {
      // E8 throughput at volume: 100k docs (each sf0.1 text × 20 EXACT
      // copies — identical text → identical sig → same band-0 bucket →
      // est 1.0, so suppression is certain and ground truth exact:
      // admitted ≤ distinct sources, every planted copy suppressed)
      // through the streaming near-dup suppressor in 10 MemoryStream
      // micro-batches of 10k. Both state backends, same batching: the
      // fMGWS event-time form on the default HDFS-backed store, then
      // transformWithState on RocksDB — the two 100 TB deployment shapes.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.streaming.OutputMode
      import graft.streaming.StreamOps
      import graft.streaming.StreamOps.Doc
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val texts = Tables.documents(spark, d)
        .filter(col("text").isNotNull).select(col("text"))
        .collect().map(_.getString(0))
      val copies = 20
      // copies of each source per micro-batch (arg 2): 2 → 10 batches of
      // 10k (per-batch overhead visible), 10 → 2 batches of 50k (overhead
      // amortized — the rate the claim "fixed cost dominates" predicts)
      val perBatch = args.lift(1).map(_.toInt).getOrElse(2)
      val nBatches = copies / perBatch
      val n = texts.length.toLong * copies
      println(s"streamdedup corpus: ${texts.length} sources x $copies copies = $n docs")
      def run(label: String, mk: DataFrame => org.apache.spark.sql.Dataset[Doc]): Long = {
        val in = MemoryStream[Doc]
        val q = mk(in.toDF()).toDF().writeStream.format("memory")
          .queryName(s"sd_$label").outputMode(OutputMode.Append())
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory(s"sd_ckpt_$label").toString)
          .start()
        val t0 = System.nanoTime()
        for (b <- 0 until nBatches) {
          val batch = for {
            (t, src) <- texts.iterator.zipWithIndex
            c <- 0 until perBatch
          } yield Doc(src.toLong * copies + b * perBatch + c,
            new java.sql.Timestamp(1700000000000L + b * 1000L), t)
          in.addData(batch.toSeq)
          q.processAllAvailable()
        }
        val secs = (System.nanoTime() - t0) / 1e9
        q.stop()
        val admitted = spark.table(s"sd_$label").count()
        println(f"ADHOC streamdedup_$label docs=$n secs=$secs%.2f " +
          f"rate_docs_s=${n / secs}%.0f admitted=$admitted")
        assert(admitted <= texts.length,
          s"$label admitted $admitted > ${texts.length} sources — a planted copy escaped")
        admitted
      }
      val aF = run("fmgws_hdfs", df => StreamOps.nearDupSuppress(df, minEst = 0.8))
      StreamOps.useRocksDbStateStore(spark)
      val aT = run("tws_rocksdb", df => StreamOps.nearDupSuppressTws(df, minEst = 0.8))
      assert(aF == aT, s"backends disagree: fMGWS admitted $aF, TWS admitted $aT")
      spark.stop()
      return
    }

    if (args.headOption.contains("ivffitprobe")) {
      // Round-9 fit/probe split: at the ivfstress corpus (100k vectors,
      // k=316 cells) measure what one eager fit costs and what each probe
      // batch costs off the cached fit, vs the one-shot wrapper that
      // refits per batch — the amortization the split exists for.
      val e100k = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
        .crossJoin(spark.range(0, 50).select(col("id").as("copy")))
        .select((col("vec_id") * 50 + col("copy")).as("vec_id"),
          when(col("copy") === 0, col("embedding"))
            .otherwise(transform(col("embedding"),
              (v, i) => when(i === ((col("copy") - 1) % 64).cast("int"),
                v * lit(1.03f)).otherwise(v)))
            .as("embedding"))
        .localCheckpoint(eager = true)
      println(s"vectors: ${e100k.count()}")
      def t[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
      }
      val (fitted, fitSec) = t {
        val f = Similarity.ivfFit(spark, e100k, k = 316).cached()
        f.assigned.count() // materialize the cache so probes pay probe cost only
        f
      }
      // 3 disjoint query batches off the ONE fit (the serving shape)
      def batchPred(b: Int) =
        col("vec_id") % 50 === 0 && pmod(col("vec_id") / 50, lit(3)) === b
      val probeSecs = (0 until 3).map { b =>
        val (n, s) = t(Similarity.ivfProbe(fitted, batchPred(b),
          nprobe = 8, topK = 49).count())
        println(f"ADHOC ivffitprobe probe_batch=$b rows=$n secs=$s%.2f")
        s
      }
      val (_, oneShot) = t(Similarity.ivfKMeans(spark, e100k, k = 316,
        nprobe = 8, topK = 49, queryPred = batchPred(0)).count())
      println(f"ADHOC ivffitprobe fit=$fitSec%.2f " +
        f"probe_avg=${probeSecs.sum / 3}%.2f oneshot_per_batch=$oneShot%.2f")
      assert(probeSecs.max < oneShot,
        "a probe off the cached fit must beat the refit-per-batch wrapper")
      // EXTERNAL query vectors (round 9, ivfProbeVectors): 2000 queries =
      // each clique's base vector with one dim perturbed ×1.01 under a
      // fresh id — NOT corpus members, the serving shape. Ground truth:
      // a query's true top-49 live in its source clique.
      val ext = e100k.filter(col("vec_id") % 50 === 0)
        .select((col("vec_id") / 50).cast("long").as("q_id"),
          transform(col("embedding"),
            (v, i) => when(i === 0, v * lit(1.01f)).otherwise(v)).as("embedding"))
      val (extRes, extSec) = t {
        val r = Similarity.ivfProbeVectors(fitted, ext, nprobe = 8, topK = 49)
          .localCheckpoint(eager = true)
        r.count(); r
      }
      val extHits = extRes.filter(
        (col("n_id") - col("n_id") % 50) === col("q_id") * 50).count()
      val extRecall = extHits.toDouble / (2000.0 * 49.0)
      println(f"ADHOC ivffitprobe_external queries=2000 secs=$extSec%.2f " +
        f"recall=$extRecall%.4f")
      assert(extRecall >= 0.80,
        f"external-query recall collapsed: $extRecall%.4f")
      // SAVED index (round 9, save/ivfLoad): persist the fit, re-open it
      // as a later job would, and probe batch 0 off the parquet-backed
      // index — must return the in-memory probe's exact rows, at probe
      // (not fit) cost.
      val idxDir = java.nio.file.Files.createTempDirectory("ivf_idx").toString
      val (_, saveSec) = t(fitted.save(idxDir))
      val (loadedRows, loadSec) = t {
        val loaded = Similarity.ivfLoad(spark, idxDir)
        Similarity.ivfProbe(loaded, batchPred(0), nprobe = 8, topK = 49)
          .collect().map(_.toString).sorted.toSeq
      }
      val memRows = Similarity.ivfProbe(fitted, batchPred(0), nprobe = 8, topK = 49)
        .collect().map(_.toString).sorted.toSeq
      println(f"ADHOC ivffitprobe_saved save=$saveSec%.2f load_probe=$loadSec%.2f " +
        f"rows=${loadedRows.size}")
      assert(loadedRows == memRows,
        "saved+loaded index must probe bit-identically to the in-memory fit")
      fitted.assigned.unpersist()
      spark.stop()
      return
    }

    if (args.headOption.contains("ivfstress")) {
      // The OTHER 100 TB ANN path at the ann100k corpus: IVF with real
      // k-means cells (vs the banded sign-LSH the ann100k/ann1m rows
      // measure). Same construction ground truth — 2000 planted
      // 50-cliques — so recall is exact: each clique-base query's true
      // top-49 is its 49 siblings. k ≈ √n cells, nprobe 8.
      val e100k = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
        .crossJoin(spark.range(0, 50).select(col("id").as("copy")))
        .select((col("vec_id") * 50 + col("copy")).as("vec_id"),
          when(col("copy") === 0, col("embedding"))
            .otherwise(transform(col("embedding"),
              (v, i) => when(i === ((col("copy") - 1) % 64).cast("int"),
                v * lit(1.03f)).otherwise(v)))
            .as("embedding"))
        .localCheckpoint(eager = true)
      println(s"vectors: ${e100k.count()}")
      // recall < 1 is EXPECTED here and worth measuring honestly: k-means
      // cell boundaries can split near-identical siblings into cells the
      // query does not probe (unlike LSH bands, which hash near-identical
      // vectors identically with high probability) — nprobe is the recall
      // knob, and the sweep shows what it buys
      def runCfg(k: Int, nprobe: Int): Double = {
        val t0 = System.nanoTime()
        val res = Similarity.ivfKMeans(spark, e100k, k = k, nprobe = nprobe,
          topK = 49, queryPred = col("vec_id") % 50 === 0)
          .localCheckpoint(eager = true)
        val secs = (System.nanoTime() - t0) / 1e9
        val hits = res.filter(
          (col("n_id") - col("n_id") % 50) === (col("q_id") - col("q_id") % 50)).count()
        val recall = hits.toDouble / (2000.0 * 49.0)
        println(f"ADHOC ivfstress_100k queries=2000 k=$k nprobe=$nprobe " +
          f"secs=$secs%.2f rows=${res.count()} recall=$recall%.4f")
        recall
      }
      val r8 = runCfg(316, 8)
      val r32 = runCfg(316, 32)
      val r100 = runCfg(100, 8)
      assert(r32 > r8, "nprobe must buy recall at fixed cells")
      assert(r8 >= 0.80 && r32 >= 0.90,
        f"IVF recall collapsed: nprobe8=$r8%.4f nprobe32=$r32%.4f")
      println(f"ADHOC ivfstress_sweep nprobe8=$r8%.4f nprobe32=$r32%.4f k100_nprobe8=$r100%.4f")
      spark.stop()
      return
    }

    if (args.headOption.contains("ivf1m")) {
      // IVF one decade past the 100k fit/probe row, on the ann1m corpus
      // (1M vectors = 20k planted 50-cliques, same construction): k = √n
      // = 1000 cells. The fit is the one-off indexing-job cost; probes
      // and the saved-index path must stay probe-priced. Recall against
      // the construction ground truth, 2000 clique-base queries.
      val dim = 64
      val base = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
      val rotated = base
        .crossJoin(spark.range(0, 10).select(col("id").as("r")))
        .withColumn("rot", (col("r") * 6 + 1).cast("int"))
        .select((col("vec_id") * 10 + col("r")).as("pb_id"),
          concat(slice(col("embedding"), col("rot") + 1, lit(dim)),
            slice(col("embedding"), lit(1), col("rot"))).as("embedding"))
      val e1m = rotated
        .crossJoin(spark.range(0, 50).select(col("id").as("copy")))
        .select((col("pb_id") * 50 + col("copy")).as("vec_id"),
          when(col("copy") === 0, col("embedding"))
            .otherwise(transform(col("embedding"),
              (v, i) => when(i === ((col("copy") - 1) % 64).cast("int"),
                v * lit(1.03f)).otherwise(v)))
            .as("embedding"))
        .localCheckpoint(eager = true)
      println(s"vectors: ${e1m.count()}")
      def t[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
      }
      // `ivf1m iter10` / `ivf1m iter10rand` cap the Lloyd iterations at
      // 10 (and swap k-means|| init for random) — the round-10 fit-cost
      // knobs, measured on the same corpus/asserts as the default fit
      val maxIter = if (args.lift(1).exists(_.startsWith("iter10"))) 10 else 20
      val initMode = if (args.lift(1).contains("iter10rand")) "random" else "k-means||"
      val (fitted, fitSec) = t {
        val f = Similarity.ivfFit(spark, e1m, k = 1000,
          fitMaxIter = maxIter, fitInitMode = initMode).cached()
        f.assigned.count(); f
      }
      if (maxIter != 20 || initMode != "k-means||")
        println(s"ADHOC-VARIANT maxIter=$maxIter init=$initMode")
      // every 10th clique base → 2000 queries, as at 100k. nprobe must
      // scale with k to hold the probed CELL FRACTION: nprobe 8 was 2.5%
      // of k=316 cells at 100k vectors but is only 0.8% of k=1000 here
      // (measured recall 0.725); nprobe 25 restores the 2.5% fraction.
      val pred = col("vec_id") % 50 === 0 && pmod(col("vec_id") / 50, lit(10)) === 0
      // recall denominator derived from the corpus, not hardcoded — so a
      // smaller sf dir still computes an honest recall
      val nQueries = e1m.filter(pred).count()
      def probeRecall(nprobe: Int): (Long, Double, Double) = {
        val (r, sec) = t {
          val rr = Similarity.ivfProbe(fitted, pred, nprobe = nprobe, topK = 49)
            .localCheckpoint(eager = true)
          rr.count(); rr
        }
        val hits = r.filter(
          (col("n_id") - col("n_id") % 50) === col("q_id")).count()
        (r.count(), hits.toDouble / (nQueries * 49.0), sec)
      }
      val (n8, recall8, sec8) = probeRecall(8)
      val (_, recall25, sec25) = probeRecall(25)
      // saved-index path at this scale: a later job loads and probes
      val idxDir = java.nio.file.Files.createTempDirectory("ivf1m_idx").toString
      val (_, saveSec) = t(fitted.save(idxDir))
      val (loadedN, loadSec) = t {
        Similarity.ivfProbe(Similarity.ivfLoad(spark, idxDir), pred,
          nprobe = 8, topK = 49).count()
      }
      println(f"ADHOC ivf1m fit=$fitSec%.1f probe2000_np8=$sec8%.1f " +
        f"recall_np8=$recall8%.4f probe2000_np25=$sec25%.1f " +
        f"recall_np25=$recall25%.4f save=$saveSec%.1f load_probe=$loadSec%.1f")
      assert(recall25 >= 0.80,
        f"1M-vector IVF recall at the held cell fraction collapsed: $recall25%.4f")
      assert(recall25 >= recall8,
        "nprobe can never cost recall at fixed cells (equality is legitimate " +
          "at the ceiling — the iter10rand variant hits 1.0 at both)")
      assert(loadedN == n8, "saved-index probe row count diverged")
      // incremental append at this scale (round 10): a 100k-vector ingest
      // batch (10% of the fitted corpus) — exact copies of every 10th
      // member under fresh ids — joins the fitted 1M index via
      // ivfAssign's one broadcast-argmin pass, NO refit. The appended
      // twins of the 2000-query set are then probed (same query volume
      // as the earlier phases): each must retrieve its exact-copy source
      // at top-1 (identical vector → same cell, so the source's cell is
      // always probed). The measured claim: append is probe-priced,
      // not fit-priced.
      val fitsBefore = Similarity.kmeansFitCount.get()
      val appendVecs = e1m.filter(col("vec_id") % 10 === 0)
        .select((col("vec_id") + 100000000L).as("vec_id"), col("embedding"))
      val (grown, appendSec) = t {
        val g0 = Similarity.ivfAssign(fitted, appendVecs)
        val g = g0.copy(assigned = g0.assigned.localCheckpoint(eager = true))
        g.assigned.count(); g
      }
      val nAppended = appendVecs.count()
      val apPred = col("vec_id") >= 100000000L &&
        (col("vec_id") - 100000000L) % 50 === 0 &&
        pmod((col("vec_id") - 100000000L) / 50, lit(10)) === 0
      val nApQ = grown.assigned.filter(apPred).count()
      // serving shape after an append: the ingest job SAVES the grown
      // index and query jobs probe the parquet tables (member-probe
      // predicate pushed to the scan) — same as the pre-append path
      val grownDir = java.nio.file.Files.createTempDirectory("ivf1m_grown").toString
      val (_, growSaveSec) = t(grown.save(grownDir))
      val (appendHits, apSec) = t {
        Similarity.ivfProbe(Similarity.ivfLoad(spark, grownDir), apPred,
            nprobe = 25, topK = 1)
          .filter(col("n_id") === col("q_id") - 100000000L).count()
      }
      val appendRecall = appendHits.toDouble / nApQ
      println(f"ADHOC ivf1m_append n=$nAppended assign=$appendSec%.1f " +
        f"save=$growSaveSec%.1f probe${nApQ}_top1=$apSec%.1f " +
        f"recall_top1=$appendRecall%.4f " +
        f"fits=${Similarity.kmeansFitCount.get() - fitsBefore}")
      assert(Similarity.kmeansFitCount.get() == fitsBefore,
        "ivfAssign at 1M triggered a k-means fit")
      assert(appendRecall >= 0.95,
        f"appended members must retrieve their exact-copy sources: $appendRecall%.4f")
      fitted.assigned.unpersist()
      spark.stop()
      return
    }

    if (args.headOption.contains("pq1m")) {
      // IVF-PQ at the ivf1m corpus (1M vectors = 20k planted 50-cliques,
      // same construction): what the compression buys and costs at the
      // decade where it matters. Measured: PQ fit (m seeded k-means on
      // the bounded sample), the one-pass encode, on-disk bytes of the
      // PQ code table vs the flat embedding index, external-query probe
      // walls, and planted-clique recall for ADC-only vs re-ranked vs
      // the flat-index exact probe.
      val dim = 64
      val base1m = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
      val rotated = base1m
        .crossJoin(spark.range(0, 10).select(col("id").as("r")))
        .withColumn("rot", (col("r") * 6 + 1).cast("int"))
        .select((col("vec_id") * 10 + col("r")).as("pb_id"),
          concat(slice(col("embedding"), col("rot") + 1, lit(dim)),
            slice(col("embedding"), lit(1), col("rot"))).as("embedding"))
      val e1m = rotated
        .crossJoin(spark.range(0, 50).select(col("id").as("copy")))
        .select((col("pb_id") * 50 + col("copy")).as("vec_id"),
          when(col("copy") === 0, col("embedding"))
            .otherwise(transform(col("embedding"),
              (v, i) => when(i === ((col("copy") - 1) % 64).cast("int"),
                v * lit(1.03f)).otherwise(v)))
            .as("embedding"))
        .localCheckpoint(eager = true)
      val nVec = e1m.count()
      println(s"vectors: $nVec")
      def t[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
      }
      val (fitted, fitSec) = t {
        val f = Similarity.ivfFit(spark, e1m, k = 1000, nHint = nVec).cached()
        f.assigned.count(); f
      }
      // `pq1m resid` runs the residual (IVFADC) variant: the codebook
      // fits on cell residuals and codes encode offsets from the
      // member-mean centers — same measurement frame, so the extra cost
      // of the center aggregation + decomposed probe is read directly
      // against the absolute-encoding rows
      val resid = args.lift(1).contains("resid")
      val (model, pqFitSec) = t(
        if (resid) Pq.pqFitResidual(fitted, dim = dim, m = 8, ksub = 256, nHint = nVec)
        else Pq.pqFit(spark, e1m, dim = dim, m = 8, ksub = 256, nHint = nVec))
      val (index, encSec) = t {
        val ix = Pq.ivfPqBuild(fitted, model, residual = resid).cached()
        ix.assigned.count(); ix
      }
      // on-disk: the PQ code table vs the flat embedding index — the
      // number a 100 TB probe scan is priced by
      val flatDir = java.nio.file.Files.createTempDirectory("pq1m_flat").toString
      val pqDir = java.nio.file.Files.createTempDirectory("pq1m_pq").toString
      fitted.save(flatDir); index.save(pqDir)
      def dirBytes(p: String): Long = {
        val root = java.nio.file.Paths.get(p)
        val s = java.nio.file.Files.walk(root)
        try s.filter((p: java.nio.file.Path) => java.nio.file.Files.isRegularFile(p))
          .mapToLong((p: java.nio.file.Path) => java.nio.file.Files.size(p)).sum()
        finally s.close()
      }
      val flatB = dirBytes(s"$flatDir/assigned")
      val pqB = dirBytes(s"$pqDir/assigned")
      // 2000 external queries: every 10th clique base under fresh ids —
      // the serving shape (queries are NOT corpus members)
      val queries = e1m
        .filter(col("vec_id") % 50 === 0 && pmod(col("vec_id") / 50, lit(10)) === 0)
        .select((col("vec_id") + 500000000L).as("q_id"), col("embedding"))
        .localCheckpoint(eager = true)
      val nQ = queries.count()
      def cliqueRecall(r: org.apache.spark.sql.DataFrame): Double = {
        val hits = r.filter(
          (col("n_id") - pmod(col("n_id"), lit(50))) === col("q_id") - 500000000L)
          .count()
        hits.toDouble / (nQ * 49.0)
      }
      val (adcR, adcSec) = t {
        val r = Pq.ivfPqProbeVectors(index, queries, nprobe = 25, topK = 49)
          .localCheckpoint(eager = true)
        r.count(); r
      }
      val (rrR, rrSec) = t {
        val r = Pq.ivfPqProbeVectors(index, queries, nprobe = 25, topK = 49,
          refine = 4, rerank = Some(e1m)).localCheckpoint(eager = true)
        r.count(); r
      }
      val (flatR, flatSec) = t {
        val r = Similarity.ivfProbeVectors(fitted, queries, nprobe = 25, topK = 49)
          .localCheckpoint(eager = true)
        r.count(); r
      }
      val (recAdc, recRr, recFlat) = (cliqueRecall(adcR), cliqueRecall(rrR), cliqueRecall(flatR))
      if (resid) print("ADHOC-VARIANT resid ")
      println(f"ADHOC pq1m fit=$fitSec%.1f pqfit=$pqFitSec%.1f encode=$encSec%.1f " +
        f"bytes_flat=$flatB bytes_pq=$pqB ratio=${flatB.toDouble / pqB}%.1f " +
        f"probe${nQ}_adc=$adcSec%.1f recall_adc=$recAdc%.4f " +
        f"probe${nQ}_rerank=$rrSec%.1f recall_rerank=$recRr%.4f " +
        f"probe${nQ}_flat=$flatSec%.1f recall_flat=$recFlat%.4f")
      assert(pqB * 4 < flatB,
        s"PQ code table must be at least 4x smaller on disk: $pqB vs $flatB")
      assert(recRr >= recFlat - 0.02,
        f"re-ranked PQ recall $recRr%.4f fell behind the flat index $recFlat%.4f")
      assert(recAdc >= 0.7,
        f"ADC-only recall collapsed: $recAdc%.4f")
      fitted.assigned.unpersist(); index.assigned.unpersist()
      spark.stop()
      return
    }

    if (args.headOption.contains("ann1m")) {
      // one more decade on the ann100k curve: 1M vectors as 20k planted
      // 50-cliques — the sf0.1 embeddings rotated 10 ways (rotations of a
      // random vector are near-orthogonal, so the 10 pseudo-bases of one
      // source vector do NOT merge) × 50 near-identical copies each.
      // LSH-only by design (brute force is 5e11 pairs); the DEFAULT
      // auto-banded knobs must hold — this is the corpus size the round-8
      // defaults exist for. Checked against construction ground truth.
      val dim = 64
      val base = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))
      val rotated = base
        .crossJoin(spark.range(0, 10).select(col("id").as("r")))
        .withColumn("rot", (col("r") * 6 + 1).cast("int"))
        .select((col("vec_id") * 10 + col("r")).as("pb_id"),
          concat(slice(col("embedding"), col("rot") + 1, lit(dim)),
            slice(col("embedding"), lit(1), col("rot"))).as("embedding"))
      val e1m = rotated
        .crossJoin(spark.range(0, 50).select(col("id").as("copy")))
        .select((col("pb_id") * 50 + col("copy")).as("vec_id"),
          when(col("copy") === 0, col("embedding"))
            .otherwise(transform(col("embedding"),
              (v, i) => when(i === ((col("copy") - 1) % 64).cast("int"),
                v * lit(1.03f)).otherwise(v)))
            .as("embedding"))
        .localCheckpoint(eager = true)
      println(s"vectors: ${e1m.count()}")
      for (rep <- 1 to 2) {
        time(s"ann1m_lsh_cluster rep=$rep") {
          Similarity.semanticClusters(spark, e1m, 0.9, useLsh = true).count()
        }
      }
      val cl = Similarity.semanticClusters(spark, e1m, 0.9, useLsh = true)
      val mism = cl.filter(col("cluster_id") =!=
        (col("vec_id") - col("vec_id") % 50)).count()
      val ncl = cl.select("cluster_id").distinct().count()
      println(s"ADHOC ann1m_truth mismatched=$mism clusters=$ncl (expect 0 / 20000)")
      assert(mism == 0 && ncl == 20000)
      spark.stop()
      return
    }

    if (args.headOption.contains("curatestream")) {
      // Round-9 streaming-curation stress: 100k docs (each sf0.1 text ×
      // 20 exact copies) through the FULL curateStream — quality gate →
      // 1000-phrase broadcast AC screen → MinHash near-dup state — out
      // the DataSourceV2 Kinesis sink to shard files, fed as 10
      // MemoryStream micro-batches of 10k. Ground truth is the SAME
      // operator run in batch mode over the identical frame (curateStream
      // works on batch frames by design): the streamed+checkpointed+
      // sink-delivered id set must equal it exactly, with zero duplicate
      // deliveries.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.StreamOps.Doc
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val texts = Tables.documents(spark, d)
        .filter(col("text").isNotNull).select(col("text"))
        .collect().map(_.getString(0))
      // realistic screen: 50 phrases actually present (first two words of
      // the first 50 sources) + 950 never-matching — AC cost is real,
      // drops are real
      val phrases = texts.take(50).map(_.split(" ").take(2).mkString(" ")).toSeq ++
        (0 until 950).map(i => s"neverseen_$i xq")
      val copies = 20
      val perBatch = 2
      val nBatches = copies / perBatch
      val n = texts.length.toLong * copies
      def mkDoc(src: Int, b: Int, c: Int): Doc =
        Doc(src.toLong * copies + b * perBatch + c,
          new java.sql.Timestamp(1700000000000L + b * 1000L), texts(src))
      println(s"curatestream corpus: ${texts.length} sources x $copies copies = $n docs")
      val allDocs = (for {
        src <- texts.indices.iterator; b <- 0 until nBatches; c <- 0 until perBatch
      } yield mkDoc(src, b, c)).toSeq.toDF()
      // two gate configs: the default strict gate (filters carry the run —
      // most docs drop stateless) and a permissive gate that routes ALL
      // 100k docs through the AC screen AND the dedup state — the
      // state-bound worst case for the composed path
      val looseGate = Graft.QualityGate(minTokens = 1, maxTokens = 1000000,
        maxStopwordRatio = 1.0)
      // third config: the state-bound gate again, but with the suppressor
      // on transformWithState + RocksDB (useTws) — the state-larger-than-
      // heap shape. Must admit the identical set; throughput printed for
      // the backend comparison.
      for ((label, gate, useTws) <- Seq(
          ("strict_gate", Graft.QualityGate(), false),
          ("loose_gate", looseGate, false),
          ("loose_gate_tws", looseGate, true))) {
        if (useTws) graft.streaming.StreamOps.useRocksDbStateStore(spark)
        // batch-mode reference over the identical rows (fMGWS batch path
        // for all configs — round-8 evidence pins the two suppressors
        // bit-identical, so one reference serves both backends)
        val expected = Graft.curateStream(allDocs, phrases, quality = gate)
          .select("doc_id").as[Long].collect().toSet
        // streaming run, end-to-end to shard files
        val stream = java.nio.file.Files.createTempDirectory("cs_stream").toString
        val ckpt = java.nio.file.Files.createTempDirectory("cs_ckpt").toString
        val in = MemoryStream[Doc]
        val q = Graft.runCurateStream(in.toDF(), phrases, stream, ckpt,
          numShards = 8, quality = gate, useTws = useTws,
          trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
        val t0 = System.nanoTime()
        for (b <- 0 until nBatches) {
          in.addData((for {
            src <- texts.indices.iterator; c <- 0 until perBatch
          } yield mkDoc(src, b, c)).toSeq)
          q.processAllAvailable()
        }
        val secs = (System.nanoTime() - t0) / 1e9
        q.stop()
        val delivered = ShardFiles.deliveredDocIds(stream)
        println(f"ADHOC curatestream_$label docs=$n secs=$secs%.2f " +
          f"rate_docs_s=${n / secs}%.0f delivered=${delivered.size} " +
          f"distinct=${delivered.toSet.size} expected=${expected.size}")
        assert(delivered.size == delivered.toSet.size, "duplicate deliveries")
        assert(delivered.toSet == expected,
          s"$label stream∪sink admitted set != batch reference " +
            s"(${delivered.toSet.size} vs ${expected.size})")
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("bridge")) {
      // Round-10 lambda-handoff stress: curateStream's doc points at
      // curateCorpus for the corpus-GLOBAL stages (Graft.scala) — this
      // DEMONSTRATES the handoff instead of promising it. 100k docs
      // (sf0.1 texts × 20 exact copies) stream through the full
      // runCurateStream to V2 shard files; the delivered corpus is read
      // BACK from the shard files and the batch global stages (near-dup
      // CC + exact-edge semantic dedup + F22 eval decontamination) run
      // over it; the composed result must EQUAL one-shot batch curation
      // of the identical input. The equality is exact here because the
      // gate is permissive and the screen empty, so the one stage-order
      // divergence the streaming doc records (a gate-dropped doc cannot
      // shadow its near-dups) has nothing to bite on — what remains is
      // pure composition: stream suppression (est >= minEst, first
      // arrival = min id) followed by batch jaccard-CC must land on the
      // clusters one batch pass computes.
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.streaming.StreamOps.Doc
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val texts = Tables.documents(spark, d)
        .filter(col("text").isNotNull).select(col("text"))
        .collect().map(_.getString(0))
      val nSrc = texts.length
      val copies = 20
      val perBatch = 2
      val nBatches = copies / perBatch
      val n = nSrc.toLong * copies
      def mkDoc(src: Int, b: Int, c: Int): Doc =
        Doc(src.toLong * copies + b * perBatch + c,
          new java.sql.Timestamp(1700000000000L + b * 1000L), texts(src))
      println(s"bridge corpus: $nSrc sources x $copies copies = $n docs")
      val allDocs = (for {
        src <- texts.indices.iterator; b <- 0 until nBatches; c <- 0 until perBatch
      } yield mkDoc(src, b, c)).toSeq.toDF()
      val looseGate = Graft.QualityGate(minTokens = 1, maxTokens = 1000000,
        maxStopwordRatio = 1.0)
      // planted semantic structure: per-source 64-dim hash vectors with
      // source s and s + nSrc/2 SHARING one embedding — semantic dups
      // across textually-unrelated sources, the case only the global
      // batch pass can catch (64 dims: accidental cos >= 0.9 between
      // distinct hash vectors is essentially impossible, so the planted
      // cliques are the only edges and exact-vs-composed transitivity
      // cannot diverge)
      val emb = spark.range(0, n)
        .select(col("id").as("doc_id"),
          pmod(floor(col("id") / copies), lit((nSrc / 2).toLong)).as("eb"))
        .select(col("doc_id"),
          transform(sequence(lit(0), lit(63)),
            j => ((pmod(hash(col("eb") * 64 + j), lit(2001)) - 1000) / lit(1000.0))
              .cast("float")).as("embedding"))
      val sd = Graft.SemanticDedup(emb, minCos = 0.9)
      // held-out eval corpus: 50 source texts — every lineage sharing a
      // 10-token window with them must fall at the F22 stage of BOTH paths
      val ev = texts.take(50).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
      def curateBatch(docs: org.apache.spark.sql.DataFrame): Seq[String] =
        Graft.curateCorpus(spark, docs, screenPhrases = Seq(),
            quality = looseGate, evalDocs = Some(ev), semantic = Some(sd))
          .collect().map(_.toString).sorted.toSeq
      // 1. stream to shard files
      val stream = java.nio.file.Files.createTempDirectory("bridge_stream").toString
      val ckpt = java.nio.file.Files.createTempDirectory("bridge_ckpt").toString
      val in = MemoryStream[Doc]
      val q = Graft.runCurateStream(in.toDF(), Seq(), stream, ckpt,
        numShards = 8, quality = looseGate,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      val t0 = System.nanoTime()
      for (b <- 0 until nBatches) {
        in.addData((for {
          src <- texts.indices.iterator; c <- 0 until perBatch
        } yield mkDoc(src, b, c)).toSeq)
        q.processAllAvailable()
      }
      val streamSecs = (System.nanoTime() - t0) / 1e9
      q.stop()
      // 2. read the DELIVERED corpus back off the shard files — the
      // accumulated-corpus frame a nightly global pass would start from
      val delivered = ShardFiles.read(stream).values.flatten
        .map { case (_, data) => new String(data, java.nio.charset.StandardCharsets.UTF_8) }
        .toSeq.toDF("json")
        .select(from_json(col("json"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id LONG, ts TIMESTAMP, text STRING")).as("r"))
        .select(col("r.doc_id"), col("r.text"))
        .localCheckpoint(eager = true)
      val nDelivered = delivered.count()
      // 3. batch global passes over the delivered corpus vs one-shot
      val t1 = System.nanoTime()
      val composed = curateBatch(delivered)
      val composedSecs = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      val oneShot = curateBatch(allDocs)
      val oneShotSecs = (System.nanoTime() - t2) / 1e9
      println(f"ADHOC bridge docs=$n stream_secs=$streamSecs%.2f " +
        f"delivered=$nDelivered composed_secs=$composedSecs%.2f " +
        f"oneshot_secs=$oneShotSecs%.2f survivors=${composed.size}")
      assert(composed.nonEmpty, "bridge produced no survivors — setup broken")
      assert(composed == oneShot,
        s"composed stream->batch curation diverged from one-shot batch " +
          s"(${composed.size} vs ${oneShot.size} rows)")
      spark.stop()
      return
    }

    if (args.headOption.contains("megacc5")) {
      // Round-10 CC decade extension: 5 replicated (10k-clique + 300-
      // chain) groups = 250M clique edges + 1,495 chain edges — one
      // decade past megacc's 50M, the breadth×depth mix at the volume
      // where per-round edge shuffle is the 100 TB cost model. Reps:
      // default localCheckpoint loop, then the reliable loop under a
      // checkpoint directory (the fault-tolerant 100 TB configuration) at
      // the same volume. rounds × edge-volume accounting printed for
      // BASELINE.md.
      import spark.implicits._
      val n = 10000
      val span = 20000L // group id stride: clique at +0, chain at +n
      val groups = spark.range(0, 5).select(col("id").as("g"))
      val nodes = groups.crossJoin(
          spark.range(0, n + 300).select(col("id").as("i")))
        .select((col("g") * span + col("i")).as("doc_id"))
      val clique = spark.range(0, n).select(col("id").as("ai"))
        .crossJoin(spark.range(0, n).select(col("id").as("bi")))
        .filter(col("ai") < col("bi"))
        .crossJoin(groups)
        .select((col("g") * span + col("ai")).as("a_id"),
          (col("g") * span + col("bi")).as("b_id"))
      val chain = groups.crossJoin(
          spark.range(n, n + 299).select(col("id").as("i")))
        .select((col("g") * span + col("i")).as("a_id"),
          (col("g") * span + col("i") + 1).as("b_id"))
      val edges = clique.unionByName(chain).localCheckpoint(eager = true)
      println(s"edges: ${edges.count()}")
      val ckptDir = java.nio.file.Files.createTempDirectory("megacc5_ckpt").toString
      for (rep <- 1 to 2) {
        def run() = {
          val (cc, rounds) = Dedup.connectedComponentsWithRounds(spark, nodes, edges)
          (rounds, Dedup.withClusterSize(cc)
            .groupBy(col("cluster_size")).count()
            .orderBy(col("cluster_size"))
            .as[(Long, Long)].collect().toSeq)
        }
        val t0 = System.nanoTime()
        val (rounds, sizes) =
          if (rep == 2) SparkSpec.withCheckpointDir(spark, ckptDir)(run())
          else run()
        val secs = (System.nanoTime() - t0) / 1e9
        val label = if (rep == 2) "reliable_ckpt" else "default"
        println(f"ADHOC megacc5 $label rounds=$rounds secs=$secs%.2f sizes=$sizes")
        assert(sizes == Seq((300L, 1500L), (n.toLong, 50000L)),
          s"replicated mega-components mis-clustered: $sizes")
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("megacc5star")) {
      // Round-13: the two-phase star CC at the 250M-edge decade (the
      // megacc5 graph: 5 × (10k-clique + 300-chain)) — extends the 50M
      // A/B one decade; same size assertions as megacc5.
      import spark.implicits._
      val n = 10000
      val span = 20000L
      val groups = spark.range(0, 5).select(col("id").as("g"))
      val nodes = groups.crossJoin(
          spark.range(0, n + 300).select(col("id").as("i")))
        .select((col("g") * span + col("i")).as("doc_id"))
      val clique = spark.range(0, n).select(col("id").as("ai"))
        .crossJoin(spark.range(0, n).select(col("id").as("bi")))
        .filter(col("ai") < col("bi"))
        .crossJoin(groups)
        .select((col("g") * span + col("ai")).as("a_id"),
          (col("g") * span + col("bi")).as("b_id"))
      val chain = groups.crossJoin(
          spark.range(n, n + 299).select(col("id").as("i")))
        .select((col("g") * span + col("i")).as("a_id"),
          (col("g") * span + col("i") + 1).as("b_id"))
      val edges = clique.unionByName(chain).localCheckpoint(eager = true)
      println(s"edges: ${edges.count()}")
      val t0 = System.nanoTime()
      val (cc, rounds) = Dedup.connectedComponentsStarWithRounds(spark, nodes, edges)
      val sizes = Dedup.withClusterSize(cc)
        .groupBy(col("cluster_size")).count()
        .orderBy(col("cluster_size"))
        .as[(Long, Long)].collect().toSeq
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"ADHOC megacc5star rounds=$rounds secs=$secs%.2f sizes=$sizes")
      assert(sizes == Seq((300L, 1500L), (n.toLong, 50000L)),
        s"replicated mega-components mis-clustered: $sizes")
      spark.stop()
      return
    }

    if (args.headOption.contains("editdist")) {
      // Edit-distance near-dup at title scale: N short records whose
      // lengths cluster tightly — the regime where pure length banding is
      // quadratic-per-band and the q-gram count/prefix path must carry
      // the load. Seeded deterministic corpus with a ZIPF-ish vocabulary
      // (the realism that matters for prefix filtering): per token, a
      // coin picks a 64-word "stopword" list or a 100k-word content
      // vocabulary — so half of every title is corpus-ubiquitous grams
      // (which frequency-ordered prefixes must avoid) and half is
      // discriminative. Every 10th doc gets a near-dup twin at exactly
      // 1 substituted char (planted recall denominator).
      // content words render in base-36 (letter-diverse — numeric ids
      // would collapse the q-gram universe to digit-triples and starve
      // the prefix filter of rare grams, which no real title corpus does)
      val n = sys.env.getOrElse("ADHOC_EDITDIST_N", "1000000").toLong
      val qq = sys.env.getOrElse("ADHOC_EDITDIST_Q", "4").toInt
      val baseT = spark.range(0, n).select(col("id").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), (pmod(hash(col("id")), lit(5)) + lit(5)).cast("int")),
          { i =>
            val h = hash(col("id") * 31 + i)
            when(pmod(h, lit(2)) === 0,
              concat(lit("s"), pmod(h, lit(64)).cast("string")))
              .otherwise(concat(lit("w"),
                lower(conv(pmod(h, lit(1500000)).cast("string"), 10, 36))))
          })).as("text"))
      // twin of doc k (k % 10 == 0): substitute the 3rd char with 'Z'
      val twins = baseT.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + n).as("doc_id"),
          concat(substring(col("text"), 1, 2), lit("Z"),
            expr("substring(text, 4)")).as("text"))
      val corpus = baseT.unionByName(twins).localCheckpoint(eager = true)
      // twins exist for every k % 10 == 0 in [0, n): that is ceil(n/10)
      // ids — integer n/10 UNDERCOUNTS when 10 ∤ n (the round-13 16M run
      // used n = 14545454 and chased a phantom "extra" pair for a while)
      val planted = (n + 9) / 10
      println(s"corpus: ${corpus.count()} titles (planted twin pairs: $planted)")
      for (rep <- 1 to 2) {
        time(s"editdist_qgram_${n}_q$qq") {
          Dedup.editDistancePairsQGram(spark, corpus, maxDist = 1, q = qq).count()
        }
      }
      // recall check: every planted (k, k+n) twin pair must be found.
      // The id-gap filter is exact: b = a + n only exists as a doc id
      // when a % 10 == 0 (twin ids are precisely {k + n : k % 10 == 0}),
      // so every matching row IS a planted pair.
      val found = Dedup.editDistancePairsQGram(spark, corpus, maxDist = 1, q = qq)
        .filter(col("b_id") === col("a_id") + n).count()
      println(s"planted twins found: $found / $planted")
      assert(found == planted, s"missed ${planted - found} planted twin pairs")
      // banded-path reference point at a size it can still handle
      val small = corpus.filter(col("doc_id") < 20000 ||
        (col("doc_id") >= n && col("doc_id") < n + 20000)).localCheckpoint(eager = true)
      println(s"banded-reference corpus: ${small.count()}")
      for (rep <- 1 to 2) {
        time("editdist_banded_22k") {
          Dedup.editDistancePairsOf(small, maxDist = 1).count()
        }
        time("editdist_qgram_22k") {
          Dedup.editDistancePairsQGram(spark, small, maxDist = 1).count()
        }
      }
    }

    if (args.headOption.contains("q3ab")) {
      // Round-13 drift investigation: the shipped q3 lets Catalyst pick
      // the build side and at sf0.1 it broadcasts the FILTERED LINEITEM
      // (~300k rows) — A/B against pinning the broadcast to the far
      // smaller c⋈o side. Same result rows required.
      import Tables._
      def q3(hintSmall: Boolean) = {
        val co = customer(spark, d).filter(col("c_mktsegment") === "BUILDING")
          .join(orders(spark, d).filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
            col("c_custkey") === col("o_custkey"))
        val coH = if (hintSmall) broadcast(co) else co
        coH.join(lineitem(spark, d).filter(col("l_shipdate") > to_timestamp(lit("1995-06-15"))),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderkey"), col("o_orderdate"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      }
      val a = q3(false).collect().map(_.toString).toSeq
      val b = q3(true).collect().map(_.toString).toSeq
      println(s"q3ab same_rows=${a == b}")
      for (rep <- 1 to 6) {
        var t0 = System.nanoTime()
        q3(false).collect()
        val tAuto = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        q3(true).collect()
        val tHint = (System.nanoTime() - t0) / 1e9
        println(f"ADHOC q3ab_$rep auto=$tAuto%.3f hint_co=$tHint%.3f")
      }
      spark.stop(); return
    }

    if (args.headOption.contains("langid13")) {
      // Round-13 A/B at 500k docs: the driver-held-model kernel scorer
      // (graded path) vs the round-12 broadcast-join + distinct form,
      // same corpus — aggregates must MATCH (the spec proves row-level
      // equivalence at small scale; this proves it at stress scale and
      // records the wall-clock delta).
      val langBase = Tables.documents(spark, d)
        .select(col("doc_id"), col("lang"), col("text"))
      val big = langBase
        .crossJoin(spark.range(0, 100).select(col("id").as("rep")))
        .select((col("doc_id") * 100 + col("rep")).as("doc_id"),
          col("lang"), col("text"))
        .repartition(32)
        .localCheckpoint(eager = true)
      println(s"langid13 corpus: ${big.count()} docs")
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.select(sum(col("score")).as("s"),
          sum(when(col("correct"), 1L).otherwise(0L)).as("ok")).head
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        val a = agg(TextOps.langIdProfileOf(big))
        println(f"ADHOC langid13_kernel_$rep score_sum=${a.getLong(0)} correct=${a.getLong(1)} secs=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
      for (rep <- 1 to 2) {
        val t0 = System.nanoTime()
        val a = agg(TextOps.langIdProfileJoinOf(big))
        println(f"ADHOC langid13_join_$rep score_sum=${a.getLong(0)} correct=${a.getLong(1)} secs=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
      spark.stop(); return
    }

    if (args.headOption.contains("nbmix14")) {
      // Round-14 scale evidence for F32 (NB classifier) and F33 (token-
      // budget mix). F32: fit stays seed-sized (the sf0.1 corpus), the
      // kernel scores a 1M-doc corpus as a per-row map — the wall should
      // be scan-bound. F33: a 10M-doc 10-source fill — the bucketed
      // prefix sum must hold (2,560 window partitions of ~4k rows, never
      // a source-sized sort), and two bucket widths must agree exactly.
      val seedDocs = Tables.documents(spark, d)
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          when(col("n_chars") >= 300, lit("good")).otherwise(lit("bad"))
            .as("label"),
          col("text"))
      val model = TextOps.nbFit(seedDocs, vocabN = 20)
      val big = Tables.documents(spark, d).filter(col("text").isNotNull)
        .crossJoin(spark.range(0, 200).select(col("id").as("rep")))
        .select((col("doc_id") * 200 + col("rep")).as("doc_id"), col("text"))
        .repartition(32)
        .localCheckpoint(eager = true)
      println(s"nbmix14 F32 corpus: ${big.count()} docs")
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        val a = big.select(model.scoreCol(col("text")).as("p"))
          .agg(sum(col("p.score_micros")).as("s"),
            sum(when(col("p.predicted") === "good", 1L).otherwise(0L)).as("g"))
          .head
        println(f"ADHOC nb_score_1m_$rep score_sum=${a.getLong(0)} good=${a.getLong(1)} secs=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
      // F33: 10M docs, 8-18 tokens each, 10 sources, 30% token budgets
      val n33 = sys.env.getOrElse("ADHOC_MIX_N", "10000000").toLong
      val docs33 = spark.range(0, n33).select(col("id").as("doc_id"),
          concat(lit("src"), pmod(col("id"), lit(10))).as("source"),
          concat_ws(" ", transform(
            sequence(lit(0), (pmod(hash(col("id")), lit(11)) + lit(7)).cast("int")),
            i => concat(lit("t"), pmod(hash(col("id") * 13 + i), lit(1000)))))
            .as("text"))
        .repartition(32)
        .localCheckpoint(eager = true)
      println(s"nbmix14 F33 corpus: ${docs33.count()} docs")
      val totals = docs33.groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("tot"))
        .collect().map(r => r.getString(0) -> (r.getLong(1) * 3 / 10)).toMap
      var kept256: Long = -1L
      var sum256: Long = -1L
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        val m = TextOps.tokenBudgetMix(docs33, totals)
          .agg(count(lit(1)).as("n"), sum(col("n_toks")).as("t"),
            sum(col("cum_before")).as("cb"))
          .head
        kept256 = m.getLong(0); sum256 = m.getLong(2)
        println(f"ADHOC mix_fill_10m_$rep kept=${m.getLong(0)} toks=${m.getLong(1)} secs=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
      // bucket-width invariance at scale: 64 buckets ≡ 256 (counts and
      // the cum_before checksum — offsets identical means the fill is)
      val m64 = TextOps.tokenBudgetMix(docs33, totals, buckets = 64)
        .agg(count(lit(1)).as("n"), sum(col("cum_before")).as("cb")).head
      println(s"ADHOC mix_bucket_invariance kept64=${m64.getLong(0)} kept256=$kept256 " +
        s"cb64=${m64.getLong(1)} cb256=$sum256 equal=${m64.getLong(0) == kept256 && m64.getLong(1) == sum256}")
      spark.stop(); return
    }

    if (args.headOption.contains("mix14")) {
      // Round-14 scale evidence for the COMPOSED mixture manifest
      // (F33 budget fill → F34 epoch upsample → F35 order shuffle):
      // 10M docs × 10 sources → 4096-shard training manifest. The claims:
      // per-shard positions are a dense 0..n-1 permutation over COPIES
      // (verified for ALL 4096 shards via one agg), the manifest is a
      // pure function of (corpus, budgets, epochs, seed) — rerun
      // checksum-identical — and the wall is a handful of bounded
      // shuffles, never a shard- or source-sized single-partition sort.
      val n = sys.env.getOrElse("ADHOC_MIX_N", "10000000").toLong
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          concat(lit("src"), pmod(col("id"), lit(10))).as("source"),
          concat_ws(" ", transform(
            sequence(lit(0), (pmod(hash(col("id")), lit(11)) + lit(7)).cast("int")),
            i => concat(lit("t"), pmod(hash(col("id") * 13 + i), lit(1000)))))
            .as("text"))
        .repartition(32).localCheckpoint(eager = true)
      println(s"mix14 corpus: ${docs.count()} docs")
      val totals = docs.groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("tot"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      // even sources halved by budget; odd unbounded; src1/src3 upsampled
      val budgets = totals.map { case (s0, t) =>
        s0 -> (if (s0.stripPrefix("src").toInt % 2 == 0) t / 2 else Long.MaxValue / 4) }
      val epochs = totals.keys.map { s0 =>
        s0 -> (if (s0 == "src1" || s0 == "src3") 2500000L else 1000000L) }.toMap
      var xsum = 0L
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        val m = Graft.mixManifest(docs, budgets, epochs, nShards = 4096, seed = 9L)
        val a = m.agg(count(lit(1)).as("rows"), sum(col("n_toks")).as("toks"),
          bit_xor(xxhash64(col("doc_id"), col("epoch"), col("shard"), col("pos"))).as("x"))
          .head
        if (rep == 1) xsum = a.getLong(2)
        println(f"ADHOC mix_manifest_10m_$rep rows=${a.getLong(0)} toks=${a.getLong(1)} " +
          f"identical=${a.getLong(2) == xsum} secs=${(System.nanoTime() - t0) / 1e9}%.2f")
        assert(a.getLong(2) == xsum, "manifest is not rerun-deterministic")
      }
      val m = Graft.mixManifest(docs, budgets, epochs, nShards = 4096, seed = 9L)
        .localCheckpoint(eager = true)
      val bad = m.groupBy(col("shard"))
        .agg(count(lit(1)).as("cnt"), max(col("pos")).as("mx"), min(col("pos")).as("mn"))
        .filter(col("mx") =!= col("cnt") - 1 || col("mn") =!= 0).count()
      val shards = m.select(col("shard")).distinct().count()
      println(s"ADHOC mix_manifest_dense shards=$shards non_dense=$bad")
      assert(bad == 0 && shards == 4096L,
        s"positions must be dense 0..n-1 in all 4096 shards (got $shards shards, $bad bad)")
      // upsampled sources really contribute >1 epoch; halved sources ~half
      m.groupBy(col("source")).agg(count_distinct(col("doc_id")).as("docs"),
          count(lit(1)).as("copies")).orderBy(col("source"))
        .collect().foreach(r => println(
          s"ADHOC mix_manifest_src ${r.getString(0)} docs=${r.getLong(1)} copies=${r.getLong(2)}"))
      spark.stop(); return
    }

    if (args.headOption.contains("overlap14")) {
      // Round-14 scale evidence for F37/F38. 1M docs (11-19 tokens, 10
      // sources) with PLANTED overlap structure: every doc whose id ends
      // in 0 embeds one of 1,000 shared 8-gram spans (so spans recur
      // ~100× each across all sources — the boilerplate shape), and docs
      // 0-999 are the "eval" set. F37's claim: the per-window distinct-
      // doc collapse keeps the join fan-out at 1 per key — the
      // (eval window × train doc) blow-up (~100 rows per hit window)
      // never materializes. F38's claim: the DISTINCT (source, window)
      // presence collapse makes the pair join corpus-independent.
      val n = sys.env.getOrElse("ADHOC_OVERLAP_N", "1000000").toLong
      def tok(h: org.apache.spark.sql.Column) = concat(lit("w"),
        lower(conv(pmod(h, lit(200000)).cast("string"), 10, 36)))
      // span id HASH-scattered (not id mod 1000: any fixed-stride scheme
      // times the 10-source stride keeps every span inside ONE source —
      // the first run of this stress crashed on a genuinely empty matrix)
      val spanId = pmod(hash((col("id") / 3).cast("long")), lit(1000))
      val span = transform(sequence(lit(0), lit(7)),
        i => concat(lit("S"), pmod(hash(spanId * 17 + i), lit(100000))))
      val filler = transform(
        sequence(lit(0), (pmod(hash(col("id")), lit(9)) + lit(2)).cast("int")),
        i => tok(hash(col("id") * 31 + i)))
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          concat(lit("src"), pmod(col("id"), lit(10))).as("source"),
          concat_ws(" ", when(col("id") % 3 === 0,
            concat(filler, span)).otherwise(filler)).as("text"))
        .repartition(32).localCheckpoint(eager = true)
      println(s"overlap14 corpus: ${docs.count()} docs")
      val evalDocs = docs.filter(col("doc_id") < 1000)
      val train = docs.filter(col("doc_id") >= 1000)
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        val r = TextOps.evalOverlapReport(train, evalDocs)
          .agg(count(lit(1)).as("n"),
            sum(when(col("contaminated"), 1L).otherwise(0L)).as("c"),
            sum(col("n_hit")).as("h"), max(col("max_train_df")).as("mx"))
          .head
        println(f"ADHOC eval_overlap_1m_$rep eval_docs=${r.getLong(0)} contaminated=${r.getLong(1)} " +
          f"hits=${r.getLong(2)} max_train_df=${r.getLong(3)} secs=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        val m = TextOps.sourceOverlapMatrix(docs)
          .agg(count(lit(1)).as("pairs"),
            coalesce(sum(col("n_shared")), lit(0L)).as("sh"))
          .head
        println(f"ADHOC source_matrix_1m_$rep pairs=${m.getLong(0)} shared_sum=${m.getLong(1)} secs=${(System.nanoTime() - t0) / 1e9}%.2f")
        assert(m.getLong(0) == 45L,
          s"all 45 source pairs must share planted spans, got ${m.getLong(0)}")
      }
      // every planted eval doc (id%3==0 — a stride COPRIME with the 10
      // source labels, so spans cross all sources; id<1000 → 334 docs)
      // embeds a hash-scattered span shared with ~333 train docs — all
      // must report contaminated with a high max_train_df
      val chk = TextOps.evalOverlapReport(train, evalDocs)
        .filter(col("doc_id") % 3 === 0)
      val bad = chk.filter(!col("contaminated")).count()
      println(s"ADHOC eval_overlap_planted planted=${chk.count()} uncontaminated=$bad")
      assert(bad == 0, "every planted eval doc must be contaminated")
      spark.stop(); return
    }

    if (args.headOption.contains("kmeans14")) {
      // Round-14 scale evidence for F36/F36b. (1) kmeansFitExact at 1M
      // vectors × dim 32, k = 64: the fit must stay a per-iteration scan
      // (zero-shuffle assignment + a k×dim-row agg), and the model must
      // be bit-identical under a different partitioning. (2) Frozen
      // assignment throughput: the plan-literal kernel over 1M rows, and
      // assignBroadcast checksum-identical at the same scale. (3) F36b
      // at 100k vectors with 10k planted EXACT twins: a twin quantizes
      // identically, so it lands in the SAME cluster by construction and
      // SemDeDup must merge 100% of planted pairs; plus a 30k-vector A/B
      // against the exact O(n²) path (same recall, ~n²/k fewer pairs).
      val n = sys.env.getOrElse("ADHOC_KMEANS_N", "1000000").toLong
      val dim = 32
      def synth(ids: org.apache.spark.sql.Dataset[java.lang.Long]): DataFrame = ids.toDF().select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (sin(pmod(col("id"), lit(50)) * lit(13) + i) * lit(0.8) +
            sin(col("id") * lit(7) + i * lit(3)) * lit(0.2)).cast("float"))
          .as("embedding"))
      val vecs = synth(spark.range(0, n)).repartition(32)
        .localCheckpoint(eager = true)
      println(s"kmeans14 corpus: ${vecs.count()} vectors, dim $dim")
      val t0 = System.nanoTime()
      val model = Similarity.kmeansFitExact(vecs, k = 64, iters = 2)
      println(f"ADHOC kmeans_fit_1m k=64 iters=2 secs=${(System.nanoTime() - t0) / 1e9}%.2f")
      val model13 = Similarity.kmeansFitExact(vecs.repartition(13), k = 64, iters = 2)
      assert(model13.centroidsMicros == model.centroidsMicros,
        "fit is not partitioning-invariant")
      println("ADHOC kmeans_fit_invariance partitioning=32vs13 identical=true")
      var litSum = 0L; var litXor = 0L
      for (rep <- 1 to 3) {
        val t1 = System.nanoTime()
        val a = vecs.select(col("vec_id"), model.bestCol(col("embedding")).as("b"))
          .agg(sum(col("b.d")).as("s"),
            bit_xor(xxhash64(col("vec_id"), col("b.i"), col("b.d"))).as("x"))
          .head
        litSum = a.getLong(0); litXor = a.getLong(1)
        println(f"ADHOC kmeans_assign_literal_$rep dist_sum=$litSum secs=${(System.nanoTime() - t1) / 1e9}%.2f")
      }
      val t2 = System.nanoTime()
      val b = model.assignBroadcast(vecs)
        .agg(sum(col("dist_sq")).as("s"), count(lit(1)).as("n"),
          bit_xor(xxhash64(col("vec_id"), col("cluster"), col("dist_sq"))).as("x"))
        .head
      println(f"ADHOC kmeans_assign_broadcast dist_sum=${b.getLong(0)} rows=${b.getLong(1)} " +
        f"identical=${b.getLong(0) == litSum && b.getLong(2) == litXor} secs=${(System.nanoTime() - t2) / 1e9}%.2f")
      assert(b.getLong(0) == litSum && b.getLong(1) == n && b.getLong(2) == litXor,
        "assignBroadcast drifted from the literal path at 1M")
      // F36b: 100k + 10k exact twins (twin of id k is vec 100000+k)
      def twinned(base: Long): DataFrame = {
        val b0 = synth(spark.range(0, base))
        val tw = synth(spark.range(0, base).filter(col("id") % 10 === 0))
          .select((col("vec_id") + base).as("vec_id"), col("embedding"))
        b0.union(tw).repartition(32).localCheckpoint(eager = true)
      }
      val v100 = twinned(100000L)
      val t3 = System.nanoTime()
      val cc = Similarity.semanticClustersClustered(spark, v100,
        minCos = 0.9, k = 64).localCheckpoint(eager = true)
      val secs3 = (System.nanoTime() - t3) / 1e9
      val lab = cc.select(col("vec_id"), col("cluster_id"))
      val merged = lab.as("a").join(
          lab.select((col("vec_id") - 100000L).as("vec_id"),
            col("cluster_id").as("twin_cid")).as("t"), Seq("vec_id"))
        .filter(col("cluster_id") === col("twin_cid")).count()
      println(f"ADHOC semdedup_clustered_100k twins_merged=$merged/10000 secs=$secs3%.2f")
      assert(merged == 10000L, s"exact twins must merge 100%%, got $merged")
      val cc2 = Similarity.semanticClustersClustered(spark, v100,
        minCos = 0.9, k = 64)
      val x1 = cc.agg(bit_xor(xxhash64(col("vec_id"), col("cluster_id")))).head.getLong(0)
      val x2 = cc2.agg(bit_xor(xxhash64(col("vec_id"), col("cluster_id")))).head.getLong(0)
      println(s"ADHOC semdedup_clustered_rerun identical=${x1 == x2}")
      assert(x1 == x2, "clustered semantic dedup is not rerun-deterministic")
      // 30k A/B: exact O(n²) vs cluster-restricted — same planted recall
      val v30 = twinned(30000L)
      val t4 = System.nanoTime()
      val ccEx = Similarity.semanticClusters(spark, v30, minCos = 0.9)
        .localCheckpoint(eager = true)
      val secs4 = (System.nanoTime() - t4) / 1e9
      val t5 = System.nanoTime()
      val ccCl = Similarity.semanticClustersClustered(spark, v30,
        minCos = 0.9, k = 64).localCheckpoint(eager = true)
      val secs5 = (System.nanoTime() - t5) / 1e9
      def recall(df: DataFrame, base: Long): Long = {
        val l = df.select(col("vec_id"), col("cluster_id"))
        l.as("a").join(l.select((col("vec_id") - base).as("vec_id"),
            col("cluster_id").as("tc")).as("t"), Seq("vec_id"))
          .filter(col("cluster_id") === col("tc")).count()
      }
      println(f"ADHOC semdedup_ab_30k exact_secs=$secs4%.2f clustered_secs=$secs5%.2f " +
        s"exact_twins=${recall(ccEx, 30000L)}/3000 clustered_twins=${recall(ccCl, 30000L)}/3000")
      spark.stop(); return
    }

    if (args.headOption.contains("round12ops")) {
      // Scale evidence for the round-12 operators: learned language ID
      // over a 500k-doc corpus (profile build stays seed-sized, scoring
      // is a broadcast join — the wall should track the corpus linearly),
      // Unicode-normalization kernel throughput (per-row map, MB/s), and
      // the Count-Min build over 10M rows (treeAggregate, KB driver
      // state).
      val langBase = Tables.documents(spark, d)
        .select(col("doc_id"), col("lang"), col("text"))
      val big = langBase
        .crossJoin(spark.range(0, 100).select(col("id").as("rep")))
        .select((col("doc_id") * 100 + col("rep")).as("doc_id"),
          col("lang"), col("text"))
        .repartition(32)
        .localCheckpoint(eager = true)
      println(s"round12 corpus: ${big.count()} docs")
      for (rep <- 1 to 2) {
        // aggregate over right-side columns: a bare count() of the final
        // left join would let Catalyst elide the entire scoring plan
        val t0 = System.nanoTime()
        val acc = TextOps.langIdProfileOf(big)
          .select(sum(col("score")).as("s"),
            sum(when(col("correct"), 1L).otherwise(0L)).as("ok"))
          .head
        println(f"ADHOC langid_profile_500k_$rep score_sum=${acc.getLong(0)} correct=${acc.getLong(1)} secs=${(System.nanoTime() - t0) / 1e9}%.2f")
      }
      val bytes = big.select(sum(octet_length(col("text")))).head.getLong(0)
      for (rep <- 1 to 2) {
        val t0 = System.nanoTime()
        big.select(avg(octet_length(call_function("nfc_normalize", col("text")))),
          avg(octet_length(call_function("strip_accents", col("text"))))).head
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"ADHOC unicode_norm_500k secs=$secs%.2f throughput=${2 * bytes / 1e6 / secs}%.0f MB/s (both kernels)")
      }
      val evBig = spark.range(0, 10000000L)
        .select(col("id").as("event_id"),
          when(pmod(col("id"), lit(5)) === 0, lit(42L))
            .otherwise(pmod(col("id") * 2654435761L, lit(100000L))).as("user_id"))
        .repartition(32)
        .localCheckpoint(eager = true)
      println(s"cms rows: ${evBig.count()}")
      for (rep <- 1 to 2) {
        time(s"cms_heavy_hitters_10m_$rep") {
          Relational.cmsHeavyHitters(spark, evBig, "user_id").count()
        }
      }
    }

    if (args.headOption.contains("deflate")) {
      // deflate_ratio throughput: the scaled 50k-doc corpus replicated to
      // 500k rows (~150 MB of text) — per-row zlib work with thread-local
      // native state; the interesting number is MB/s across 32 threads.
      val big = scaled
        .crossJoin(spark.range(0, 10).select(col("id").as("rep")))
        .select((col("doc_id") * 10 + col("rep")).as("doc_id"), col("text"))
        .repartition(32) // measure the kernel across all threads, not the crossJoin's partitioning
        .localCheckpoint(eager = true)
      val bytes = big.select(sum(octet_length(col("text")))).head.getLong(0)
      println(f"corpus: ${big.count()} docs, ${bytes / 1e6}%.1f MB, ${big.rdd.getNumPartitions} partitions")
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        big.select(avg(call_function("deflate_ratio", col("text")))).head
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"ADHOC deflate_500k secs=$secs%.2f throughput=${bytes / 1e6 / secs}%.0f MB/s")
      }
    }

    if (args.headOption.contains("calib10m")) {
      // F44 decade certification (round 15): 10M docs × 5 sources with a
      // deliberately SKEWED score distribution (zipf-ish: ~1000 distinct
      // values, heavy mass at the small end — the adversarial shape for
      // score-range bucketing, where one bucket can hold most of a
      // source). Asserts: (a) bucketed 64 ≡ 256 at 10M (exact), (b) the
      // two-level rank ≡ the ONE-WINDOW definition on a 1M subset
      // (window feasible there), (c) pct is monotone in score within
      // every source on a sampled check.
      val n = 10000000L
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          concat(lit("s"), pmod(col("id"), lit(5)).cast("string")).as("source"),
          (lit(1000000L) / (pmod(hash(col("id")), lit(1000)) + lit(1)))
            .cast("long").as("n_chars"))
        .localCheckpoint(eager = true)
      println(s"ADHOC calib10m corpus=${docs.count()}")
      var out: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"calib10m rep=$rep") {
          out = TextOps.scoreCalibration(docs, "n_chars")
            .localCheckpoint(eager = true)
          out.count()
        }
      }
      time("calib10m_b64") {
        val o64 = TextOps.scoreCalibration(docs, "n_chars", buckets = 64)
        val diff = o64.exceptAll(out).count()
        assert(diff == 0, s"bucket-count variance at 10M: $diff rows differ")
        diff
      }
      // one-window reference on a 1M subset (same skew; window is the
      // definition, feasible at this size)
      val sub = docs.filter(col("doc_id") < 1000000L).localCheckpoint(eager = true)
      val bucketed = TextOps.scoreCalibration(sub, "n_chars")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("score"), col("doc_id"))
      val nBySrc = sub.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val oneWindow = sub
        .select(col("doc_id"), col("source"), col("n_chars").cast("double").as("score"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .join(broadcast(nBySrc), Seq("source"))
        .select(col("doc_id"), col("source"), col("score"),
          when(col("n_s") === 1, lit(1000000L))
            .otherwise(expr("((rnk - 1) * 1000000L) div (n_s - 1)"))
            .as("pct_millionths"))
      val dw = bucketed.exceptAll(oneWindow).count() +
        oneWindow.exceptAll(bucketed).count()
      assert(dw == 0, s"two-level rank diverged from the one-window definition: $dw")
      println("ADHOC calib10m window_equiv=exact bucket_invariance=exact")
      spark.stop()
      return
    }

    if (args.headOption.contains("calib16")) {
      // F44 round-16 certification: the PLANTED pathological shape from
      // the round-15 verdict — 1M docs, ONE source, ONE score value (plus
      // a small varied source as a control). Pre-fix this put the whole
      // source in one (source, bucket) window partition; the tie-run
      // id-range sub-bucketing must (a) complete in window-bounded time,
      // (b) match the one-window definition row-for-row, and (c) leave no
      // executed WindowExec partition at row scale — asserted indirectly
      // by (b) + the per-partition row bound probe on the final plan.
      val n = 1000000L
      val blob = spark.range(0, n).select(col("id").as("doc_id"),
        lit("blob").as("source"), lit(42L).as("n_chars"))
      val ctrl = spark.range(0, 1000).select((col("id") + 5000000L).as("doc_id"),
        lit("ctrl").as("source"), pmod(hash(col("id")), lit(97)).cast("long").as("n_chars"))
      val docs = blob.unionByName(ctrl).localCheckpoint(eager = true)
      println(s"ADHOC calib16 corpus=${docs.count()}")
      var out: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"calib16 rep=$rep") {
          out = TextOps.scoreCalibration(docs, "n_chars")
            .localCheckpoint(eager = true)
          out.count()
        }
      }
      // one-window definition (feasible as a one-off reference at 1M)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("score"), col("doc_id"))
      val nBySrc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      val oneWindow = docs
        .select(col("doc_id"), col("source"), col("n_chars").cast("double").as("score"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .join(broadcast(nBySrc), Seq("source"))
        .select(col("doc_id"), col("source"), col("score"),
          when(col("n_s") === 1, lit(1000000L))
            .otherwise(expr("((rnk - 1) * 1000000L) div (n_s - 1)"))
            .as("pct_millionths"))
      val dw = out.exceptAll(oneWindow).count() + oneWindow.exceptAll(out).count()
      assert(dw == 0, s"constant-score source diverged from the one-window definition: $dw")
      // bucket invariance holds on the degenerate shape too
      val o64 = TextOps.scoreCalibration(docs, "n_chars", buckets = 64)
      assert(o64.exceptAll(out).count() == 0, "bucket-count variance on the blob")
      println("ADHOC calib16 window_equiv=exact bucket_invariance=exact")
      spark.stop()
      return
    }

    if (args.headOption.contains("contain16")) {
      // F47 certification (round 16): 1M base docs (unique hash-token
      // texts, 12–19 tokens) + 100k boilerplate-WRAPPED copies (every
      // 10th base doc re-emitted inside an 8-token chrome wrapper — the
      // published quote-page/mirror shape). Ground truth: each wrapped
      // copy CONTAINS its base exactly (containment 10⁶ base→wrapper;
      // the wrapper's containment in the base is ~0.55 — below the 0.9
      // gate), unique filler makes cross-pairs impossible. Asserts the
      // pair set is EXACTLY the 100k planted (base → wrapper) rows.
      val n = 1000000L
      def textOf(idc: org.apache.spark.sql.Column) = concat_ws(" ",
        transform(sequence(lit(0), (pmod(hash(idc), lit(8)) + lit(11)).cast("int")),
          i => concat(lit("u"), idc, lit("_"), pmod(hash(idc * 31 + i), lit(997)))))
      val bases = spark.range(0, n).select(col("id").as("doc_id"), textOf(col("id")).as("text"))
      val wrapped = spark.range(0, n).filter(col("id") % 10 === 0)
        .select((col("id") + 10000000L).as("doc_id"),
          concat(lit("hdr nav chrome menu "), textOf(col("id")),
            lit(" footer links legal copyright")).as("text"))
      val docs = bases.unionByName(wrapped).localCheckpoint(eager = true)
      println(s"ADHOC contain16 corpus=${docs.count()}")
      var pairs: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"contain16 rep=$rep") {
          pairs = Dedup.containmentPairs(spark, docs, minC = 0.9)
            .localCheckpoint(eager = true)
          pairs.count()
        }
      }
      val nPairs = pairs.count()
      val want = n / 10
      val exact = pairs.filter(col("inner_id") + 10000000L === col("outer_id") &&
        col("c_millionths") === 1000000L).count()
      println(s"ADHOC contain16 pairs=$nPairs planted=$want exact_planted=$exact")
      assert(nPairs == want && exact == want,
        s"containment recall/precision failed: $nPairs pairs, $exact planted of $want")
      spark.stop()
      return
    }

    if (args.headOption.contains("dsir16")) {
      // F46 certification (round 16): 1M raw docs (two interleaved
      // styles — 'web' filler vs 'book' filler vocabularies) scored
      // against a 50k-doc curated target drawn ONLY from the book style.
      // Asserts: every book doc outranks every web doc (planted
      // separation at 1M), and the whole run — two bounded fits + the
      // scoring pass — stays in the per-row + one-partial-agg regime.
      val n = 1000000L
      def textOf(idc: org.apache.spark.sql.Column, style: String) =
        concat_ws(" ", transform(sequence(lit(0),
            (pmod(hash(idc), lit(8)) + lit(9)).cast("int")),
          i => concat(lit(style),
            pmod(hash(idc * 31 + i), lit(3000)).cast("string"))))
      val raw = spark.range(0, n).select(col("id").as("doc_id"),
          when(col("id") % 2 === 0, textOf(col("id"), "web"))
            .otherwise(textOf(col("id"), "book")).as("text"))
        .localCheckpoint(eager = true)
      val target = spark.range(0, 100000L)
        .select((col("id") * 2 + 1 + 10000000L).as("doc_id"), // fresh ids,
          textOf(col("id") * 2 + 1, "book").as("text"))       // book style
        .filter(col("doc_id") % 4 === 1).localCheckpoint(eager = true)
      println(s"ADHOC dsir16 raw=${raw.count()} target=${target.count()}")
      var w: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"dsir16 rep=$rep") {
          w = Graft.dsirWeights(raw, target, buckets = 16384)
            .localCheckpoint(eager = true)
          w.count()
        }
      }
      // DSIR's claim is DISTRIBUTIONAL (importance resampling shifts the
      // corpus toward the target), not per-document — hashed buckets
      // collide (6k style tokens in 4k buckets), so single-doc outliers
      // are expected and the paper thresholds/resamples statistically.
      // Assert: the styles are nearly disjoint around the midpoint of
      // their medians (< 1% misclassification each way at 1M docs).
      val joined = w.join(raw.select(col("doc_id"),
          (col("doc_id") % 2 === 1).as("is_book")), Seq("doc_id"))
        .localCheckpoint(eager = true)
      def med(book: Boolean) = joined.filter(col("is_book") === book)
        .stat.approxQuantile("logratio_micros", Array(0.5), 0.001)(0)
      val (mb, mw) = (med(true), med(false))
      val cut = (mb + mw) / 2
      val nb = joined.filter(col("is_book")).count()
      val nw = joined.filter(!col("is_book")).count()
      val bookBelow = joined.filter(col("is_book") && col("logratio_micros") <= cut).count()
      val webAbove = joined.filter(!col("is_book") && col("logratio_micros") > cut).count()
      println(f"ADHOC dsir16 median_book=$mb%.0f median_web=$mw%.0f cut=$cut%.0f " +
        f"book_misclass=${bookBelow.toDouble / nb}%.5f web_misclass=${webAbove.toDouble / nw}%.5f")
      assert(mb > mw, s"book median $mb must exceed web median $mw")
      assert(bookBelow.toDouble / nb < 0.01 && webAbove.toDouble / nw < 0.01,
        s"style separation too weak: $bookBelow/$nb book below cut, $webAbove/$nw web above")
      spark.stop()
      return
    }

    if (args.headOption.contains("curate16")) {
      // CalibratedKeep certification (round 16, verdict item 4): the
      // audited curation pipeline with the F44 per-source top-30% gate
      // over 200k docs in 4 sources with WILDLY different score
      // distributions (the motivating shape: one global threshold would
      // keep almost none of the short-doc crawl). Texts are unique and
      // the quality gate is loose, so the pool entering the stage is the
      // full corpus and the expected per-source keep count is the exact
      // integer-rank ground truth computed here.
      val n = 200000L
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          concat(lit("s"), pmod(col("id"), lit(4)).cast("string")).as("source"),
          concat_ws(" ",
            transform(sequence(lit(0),
                // source s0: 5–20 tokens, s1: 30–60, s2: 8–200, s3: 100–110
                when(pmod(col("id"), lit(4)) === 0,
                  (pmod(hash(col("id")), lit(16)) + lit(5)))
                .when(pmod(col("id"), lit(4)) === 1,
                  (pmod(hash(col("id")), lit(31)) + lit(30)))
                .when(pmod(col("id"), lit(4)) === 2,
                  (pmod(hash(col("id")), lit(193)) + lit(8)))
                .otherwise(pmod(hash(col("id")), lit(11)) + lit(100))
                  .cast("int")),
              i => concat(lit("u"), col("id"), lit("_"), i))).as("text"))
        .localCheckpoint(eager = true)
      println(s"ADHOC curate16 corpus=${docs.count()}")
      val gate = Graft.QualityGate(minTokens = 1, maxTokens = 1000000,
        stopwords = Seq("zzz"), maxStopwordRatio = 1.0)
      val ck = Graft.CalibratedKeep(
        size(split(col("text"), " ")).cast("long"), minPctMillionths = 700000L)
      val t0 = System.nanoTime()
      val (packed, audit) = Graft.curateCorpusAudited(spark, docs, Seq("ZZZNEVER"),
        quality = gate, calibrated = Some(ck))
      val outN = packed.count()
      println(f"ADHOC curate16 wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
      audit.foreach(a => println(s"ADHOC curate16 stage=${a.stage} kept=${a.kept} dropped=${a.dropped}"))
      val calRow = audit.find(_.stage == "calibrated_keep").get
      // exact ground truth: per source, keep ranks r with
      // (r-1)*1e6 div (n_s-1) >= 7e5; texts unique → pool = corpus
      val perSrc = docs.groupBy(col("source")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantKept = perSrc.values.map { ns =>
        (1L to ns).count(r => (r - 1) * 1000000L / (ns - 1) >= 700000L).toLong
      }.sum
      assert(calRow.kept == wantKept,
        s"calibrated_keep kept ${calRow.kept}, ground truth $wantKept")
      // per-source survival: every source keeps ~30% (a global cut would
      // zero out s0 entirely — its longest doc is 20 tokens)
      val kept = docs.join(packed.select("doc_id"), Seq("doc_id"), "left_semi")
        .groupBy(col("source")).count().orderBy(col("source")).collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
      println(s"ADHOC curate16 out=$outN per_source_kept=$kept expected_cal_kept=$wantKept OK")
      spark.stop()
      return
    }

    if (args.headOption.contains("freshjvm")) {
      // Round-15 probe: exercise Bench.freshJvmReps END-TO-END — fork a
      // real child JVM (same classpath + module opens via the RuntimeMXBean
      // args), run one cheap query at sf0.01, parse the sentinel line.
      // The floorGate spec covers the decision logic with synthetic reps;
      // THIS proves the fork mechanics on the actual box.
      spark.stop() // the child builds its own session; avoid double UI/port use
      val r = Bench.freshJvmReps("q12_distinct", "/root/testdata/sf0.01", 2,
        timeoutSec = 300)
      println(s"ADHOC freshjvm result=$r")
      assert(r.nonEmpty, "fork must return parsed reps")
      assert(r.get.secs.length == 2 && r.get.errors == 0 && r.get.median > 0,
        s"reps malformed: $r")
      return
    }

    if (args.headOption.contains("hardneg1m")) {
      // F41 decade certification (round 15): 1M corpus vectors (dim 16,
      // 20 labels) × a 200-query broadcast batch, k = 10 — one corpus
      // stream through the nested-loop probe + bounded-heap top-k.
      // Exactness: 5 spot queries re-ranked by an INDEPENDENT
      // orderBy-limit formulation must agree row-for-row.
      val n = 1000000L
      def vec(idc: org.apache.spark.sql.Column) =
        transform(sequence(lit(0), lit(15)),
          i => (pmod(hash(idc * 31 + i), lit(1000)).cast("double") / 500.0 - 1.0)
            .cast("float"))
      val corpus = spark.range(0, n).select(col("id").as("vec_id"),
          vec(col("id")).as("embedding"),
          pmod(hash(col("id") * 7 + 3), lit(20)).cast("int").as("label"))
        .localCheckpoint(eager = true)
      val queries = corpus.filter(col("vec_id") % 5000 === 0)
        .localCheckpoint(eager = true)
      println(s"ADHOC hardneg1m corpus=${corpus.count()} queries=${queries.count()}")
      var mined: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"hardneg1m rep=$rep") {
          mined = Similarity.hardNegatives(spark, queries, corpus, k = 10)
            .localCheckpoint(eager = true)
          mined.count()
        }
      }
      // independent re-rank of 5 spot queries: plain filter + orderBy + limit
      val probe = queries.limit(5).collect()
      for (q <- probe) {
        val qid = q.getLong(0)
        val got = mined.filter(col("q_id") === qid)
          .orderBy(col("rn"))
          .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
        val qRow = queries.filter(col("vec_id") === qid)
          .select(col("embedding").as("q_emb"), col("label").as("q_label"))
        val want = corpus.crossJoin(broadcast(qRow))
          .filter(col("label") =!= col("q_label") && col("vec_id") =!= qid)
          .select(col("vec_id"),
            (floor(call_function("fvec_dot", col("embedding"), col("q_emb")) /
              (sqrt(call_function("fvec_dot", col("embedding"), col("embedding"))) *
                sqrt(call_function("fvec_dot", col("q_emb"), col("q_emb")))) * 10000) / 10000)
              .as("cos_sim"))
          .orderBy(col("cos_sim").desc, col("vec_id"))
          .limit(10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == want, s"q=$qid: heap top-k diverged from orderBy-limit\n$got\n$want")
      }
      println("ADHOC hardneg1m spot_check=5/5 exact")
      spark.stop()
      return
    }

    if (args.headOption.contains("hardneg16")) {
      // F41b certification (round 16, verdict item 1): the SAME 1M-vector
      // / 200-query association as hardneg1m, mined through the
      // cluster-restricted path — kmeansFitExact k=64 (1 Lloyd pass),
      // nprobe=4 (a 16× candidate cut). Measures the restricted wall
      // against the brute baseline re-run in THIS session (same box,
      // same warmth) and the pair recall of the restricted top-10
      // against the exact top-10.
      val n = 1000000L
      def vec(idc: org.apache.spark.sql.Column) =
        transform(sequence(lit(0), lit(15)),
          i => (pmod(hash(idc * 31 + i), lit(1000)).cast("double") / 500.0 - 1.0)
            .cast("float"))
      val corpus = spark.range(0, n).select(col("id").as("vec_id"),
          vec(col("id")).as("embedding"),
          pmod(hash(col("id") * 7 + 3), lit(20)).cast("int").as("label"))
        .localCheckpoint(eager = true)
      val queries = corpus.filter(col("vec_id") % 5000 === 0)
        .localCheckpoint(eager = true)
      println(s"ADHOC hardneg16 corpus=${corpus.count()} queries=${queries.count()}")
      var model: Similarity.KmeansModel = null
      time("hardneg16 fit_k64") {
        model = Similarity.kmeansFitExact(corpus, k = 64, iters = 1)
        model.k.toLong
      }
      var brute: DataFrame = null
      var mined: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"hardneg16 brute rep=$rep") {
          brute = Similarity.hardNegatives(spark, queries, corpus, k = 10)
            .localCheckpoint(eager = true)
          brute.count()
        }
        time(s"hardneg16 clustered_np4 rep=$rep") {
          mined = Similarity.hardNegativesClustered(spark, queries, corpus,
              k = 10, model, nprobe = 4)
            .localCheckpoint(eager = true)
          mined.count()
        }
      }
      val nBrute = brute.count()
      val hit = mined.select(col("q_id"), col("n_id"))
        .join(brute.select(col("q_id"), col("n_id")), Seq("q_id", "n_id"), "left_semi")
        .count()
      println(f"ADHOC hardneg16 recall@10=${hit.toDouble / nBrute}%.4f " +
        s"(pairs $hit/$nBrute)")
      // every query must still get a full slate (k negatives exist in
      // 4 probed cells at this density)
      val slates = mined.groupBy(col("q_id")).agg(count(lit(1)).as("c"))
        .filter(col("c") =!= 10).count()
      println(s"ADHOC hardneg16 short_slates=$slates")
      spark.stop()
      return
    }

    if (args.headOption.contains("curate15")) {
      // Round-15 certification (verdict item 4): the FULL round-14
      // curation stack composed end-to-end at 1M+ docs — Normalize →
      // exact dedup → near-dup dedup → QualityGate → LangGate →
      // ClassifierGate → AC contamination screen → eval decontamination →
      // WeightedKeep → packing — then the day-2 `dedupIncrement` delta
      // screen and `mixManifest` over the survivors. Per-stage audited
      // counts, wall + shuffle bytes per phase, and checksum-identical
      // reps (determinism across reruns).
      //
      // Synthetic corpus with one planted population per gate, on
      // DISJOINT id residue classes so each stage has real work:
      //   id % 97 == 0  → 8-token doc            (quality gate: too short)
      //   id % 89 == 0  → "zq" charset            (lang gate: language B)
      //   id % 83 == 0  → 4 spam lead tokens      (NB classifier gate)
      //   id % 79 == 0  → planted contraband 3-gram (AC screen)
      //   id % 20 == 0  → +50k EXACT twins        (exact dedup)
      //   id % 20 == 10 → +50k 1-token-mutated twins (near-dup dedup)
      //   1k eval docs  = 10-token windows of ids 701·j (decontamination)
      val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          shuffleWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
      def phase[A](label: String)(f: => A): A = {
        Thread.sleep(1500) // listener bus is async — drain prior events
        val s0 = shuffleWrite.get(); val t0 = System.nanoTime()
        val r = f
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(1500)
        println(f"ADHOC curate15 phase=$label%-16s secs=$secs%.1f " +
          f"shuffle_mb=${(shuffleWrite.get() - s0) / 1e6}%.1f")
        r
      }
      val n = sys.env.getOrElse("ADHOC_CURATE_N", "1000000").toLong
      val spamToks = array(lit("buyz"), lit("nowz"), lit("cheapz"), lit("freez"))
      val contraToks = array(lit("forbidden"), lit("secret"), lit("sauce"))
      // text of the doc whose base id is `idc`; forceSpam/forceLang let the
      // SEED builders produce clean exemplars of each class; mutPos plants
      // near-dup twins; truncTo builds the 10-token eval windows
      def textOf(idc: org.apache.spark.sql.Column, mutPos: Int = -1,
          forceSpam: Int = -1, forceLang: Int = -1, truncTo: Int = -1) = {
        val isShort = pmod(idc, lit(97)) === 0
        val isLangB =
          if (forceLang >= 0) lit(forceLang == 1) else pmod(idc, lit(89)) === 0
        val isSpam =
          if (forceSpam >= 0) lit(forceSpam == 1) else pmod(idc, lit(83)) === 0
        val isContra = pmod(idc, lit(79)) === 0
        val nTok =
          if (truncTo > 0) lit(truncTo)
          else when(isShort, lit(8))
            .otherwise((pmod(hash(idc), lit(30)) + lit(24)).cast("int"))
        concat_ws(" ", transform(sequence(lit(0), nTok - 1), { i =>
          val h = hash(idc * 31 + i)
          val word = when(isLangB,
              concat(lit("zq"), lower(conv(pmod(h, lit(20000)).cast("string"), 10, 36))))
            .otherwise(
              concat(lit("w"), lower(conv(pmod(h, lit(20000)).cast("string"), 10, 36))))
          // layered overrides, innermost wins: stopword markers (NB
          // "good" evidence + real stopword-ratio work) → spam lead →
          // contraband 3-gram → near-dup mutation
          val marked = when(!isSpam && i === 0, lit("the"))
            .when(!isSpam && i === 1, lit("of"))
            .when(isSpam && i < 4, element_at(spamToks, i + 1))
            .otherwise(word)
          val withContra = when(isContra && i >= 4 && i <= 6,
            element_at(contraToks, i - 3)).otherwise(marked)
          if (mutPos >= 0) when(i === mutPos, lit("mutxz")).otherwise(withContra)
          else withContra
        }))
      }
      val base = spark.range(0, n).select(col("id").as("doc_id"), textOf(col("id")).as("text"))
      val exactTwins = spark.range(0, n).filter(pmod(col("id"), lit(20)) === 0)
        .select((col("id") + 2000000L).as("doc_id"), textOf(col("id")).as("text"))
      val nearTwins = spark.range(0, n).filter(pmod(col("id"), lit(20)) === 10)
        .select((col("id") + 3000000L).as("doc_id"), textOf(col("id"), mutPos = 5).as("text"))
      val corpus = base.unionByName(exactTwins).unionByName(nearTwins)
        .localCheckpoint(eager = true)
      println(s"ADHOC curate15 corpus=${corpus.count()} docs")
      val evalDocs = spark.range(0, 1000)
        .select((col("id") + 9000000L).as("doc_id"),
          textOf(col("id") * 701, truncTo = 10).as("text"))
        .localCheckpoint(eager = true)
      // seeds: 400 clean exemplars per class, ids offset away from the
      // corpus (labels from the construction, never from the gated corpus)
      val langSeed = spark.range(0, 400)
        .select(lit("aa").as("lang"),
          textOf(col("id") * 7 + 13, forceSpam = 0, forceLang = 0).as("text"))
        .unionByName(spark.range(0, 400)
          .select(lit("bb").as("lang"),
            textOf(col("id") * 7 + 13, forceSpam = 0, forceLang = 1).as("text")))
      val nbSeed = spark.range(0, 400)
        .select(lit("good").as("label"),
          textOf(col("id") * 11 + 17, forceSpam = 0, forceLang = 0).as("text"))
        .unionByName(spark.range(0, 400)
          .select(lit("bad").as("label"),
            textOf(col("id") * 11 + 17, forceSpam = 1, forceLang = 0).as("text")))
      var packed1: DataFrame = null
      var audit1: Seq[Graft.StageCount] = null
      for (rep <- 1 to 2) {
        val (out, audit) = phase(s"curate_rep$rep") {
          val (o, a) = Graft.curateCorpusAudited(spark, corpus,
            screenPhrases = Seq("forbidden secret sauce"),
            evalDocs = Some(evalDocs),
            normalize = Some(Graft.Normalize()),
            langGate = Some(Graft.LangGate(langSeed, Set("aa"))),
            classifier = Some(Graft.ClassifierGate(nbSeed, Set("good"))),
            weighted = Some(Graft.WeightedKeep(length(col("text")).cast("long"), 250L)))
          (o.localCheckpoint(eager = true), a)
        }
        audit.foreach(a => println(
          f"ADHOC curate15 rep=$rep stage=${a.stage}%-18s kept=${a.kept} dropped=${a.dropped}"))
        val checksum = out.agg(bit_xor(xxhash64(
          col("doc_id"), col("n_toks"), col("seq_first"), col("seq_last"),
          col("n_seqs")))).head().getLong(0)
        println(s"ADHOC curate15 rep=$rep packed=${out.count()} checksum=$checksum")
        if (rep == 1) { packed1 = out; audit1 = audit }
        else {
          val diff = out.exceptAll(packed1).count() + packed1.exceptAll(out).count()
          assert(diff == 0, s"curation must be rerun-deterministic; $diff rows differ")
        }
      }
      // every planted population must be visible in its own stage's drops
      val byStage = audit1.map(a => a.stage -> a.dropped).toMap
      assert(byStage("exact_dedup") >= 50000, s"exact twins: $byStage")
      assert(byStage("neardup_dedup") >= 40000, s"near twins: $byStage")
      assert(byStage("quality_gate") >= 9000, s"short docs: $byStage")
      assert(byStage("lang_gate") >= 9000, s"language-B docs: $byStage")
      assert(byStage("classifier_gate") >= 9000, s"spam docs: $byStage")
      assert(byStage("contamination") >= 9000, s"contraband docs: $byStage")
      assert(byStage("eval_decontam") >= 800, s"eval-window docs: $byStage")
      // survivors (text restored via the packed id set — normalization is
      // identity on this ASCII corpus) feed the day-2 screen and the mix
      val curated = corpus.join(packed1.select("doc_id"), Seq("doc_id"), "left_semi")
        .localCheckpoint(eager = true)
      val nCur = curated.count()
      println(s"ADHOC curate15 curated=$nCur docs")
      // day-2 increment: 1/20 of the SURVIVORS as exact copies (must all
      // be rejected), 1/20 mutated (near — rejected), 50k brand-new vocab
      // (admitted, exactly)
      val incExact = curated.filter(pmod(col("doc_id"), lit(20)) === 7)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      val incNear = curated.filter(pmod(col("doc_id"), lit(20)) === 9)
        .select((col("doc_id") + 6000000L).as("doc_id"),
          concat_ws(" ", transform(split(col("text"), " "),
            (t, i) => when(i === 5, lit("mutincz")).otherwise(t))).as("text"))
      val incFresh = spark.range(0, 50000)
        .select((col("id") + 7000000L).as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0), lit(29)), { i =>
            concat(lit("fz"), lower(conv(pmod(hash(col("id") * 37 + i),
              lit(20000)).cast("string"), 10, 36)))
          })).as("text"))
      val increment = incExact.unionByName(incNear).unionByName(incFresh)
        .localCheckpoint(eager = true)
      val nInc = increment.count()
      val admitted = phase("dedup_increment") {
        Graft.dedupIncrement(spark, curated, increment)
          .localCheckpoint(eager = true)
      }
      val nAdm = admitted.count()
      val admNonFresh = admitted.filter(col("doc_id") < 7000000L).count()
      val admFresh = admitted.filter(col("doc_id") >= 7000000L).count()
      println(s"ADHOC curate15 increment=$nInc admitted=$nAdm fresh=$admFresh nonfresh=$admNonFresh")
      assert(admNonFresh == 0, s"every exact/near increment dup must be rejected: $admNonFresh")
      assert(admFresh == 50000L, s"every fresh doc must be admitted: $admFresh")
      // mixture over the survivors: half-token budgets per source, mixed
      // epoch weights, 64 shards — checksum-identical across reps
      val sourced = curated.withColumn("source",
        concat(lit("s"), pmod(col("doc_id"), lit(5)).cast("string")))
        .localCheckpoint(eager = true)
      val budgets = sourced.groupBy(col("source"))
        .agg(sum(size(split(col("text"), " ")).cast("long")).as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1) / 2).toMap
      val epochs = (0 until 5).map(i => s"s$i" -> (1000000L + i * 250000L)).toMap
      val sums = (1 to 2).map { rep =>
        phase(s"mix_manifest_rep$rep") {
          val m = Graft.mixManifest(sourced, budgets, epochs, nShards = 64)
          val r = m.agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"),
            col("source"), col("n_toks"), col("epoch"), col("shard"),
            col("pos")))).head()
          (r.getLong(0), r.getLong(1))
        }
      }
      println(s"ADHOC curate15 manifest rows=${sums.head._1} checksum=${sums.head._2}")
      assert(sums(0) == sums(1), s"mix manifest must be rerun-identical: $sums")
      spark.stop()
      return
    }

    if (args.headOption.contains("dsir17")) {
      // F46b certification (round 17): the dsir16 corpus (1M raw docs,
      // two interleaved styles; 50k book-style target) taken through the
      // RESAMPLE — the paper's consumption. Asserts the corpus shift the
      // operator exists for: every kept doc is book-style (web docs sit
      // ~25 ln units under the anchor — censored below 10⁻¹⁰), the kept
      // set is non-empty (the anchor doc is kept w.p. 1), and the draw
      // is rep-deterministic.
      val n = 1000000L
      def textOf(idc: org.apache.spark.sql.Column, style: String) =
        concat_ws(" ", transform(sequence(lit(0),
            (pmod(hash(idc), lit(8)) + lit(9)).cast("int")),
          i => concat(lit(style),
            pmod(hash(idc * 31 + i), lit(3000)).cast("string"))))
      val raw = spark.range(0, n).select(col("id").as("doc_id"),
          when(col("id") % 2 === 0, textOf(col("id"), "web"))
            .otherwise(textOf(col("id"), "book")).as("text"))
        .localCheckpoint(eager = true)
      val target = spark.range(0, 100000L)
        .select((col("id") * 2 + 1 + 10000000L).as("doc_id"),
          textOf(col("id") * 2 + 1, "book").as("text"))
        .filter(col("doc_id") % 4 === 1).localCheckpoint(eager = true)
      println(s"ADHOC dsir17 raw=${raw.count()} target=${target.count()}")
      var kept: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"dsir17 rep=$rep") {
          kept = TextOps.dsirResample(raw, target, buckets = 16384)
            .localCheckpoint(eager = true)
          kept.count()
        }
      }
      val nKept = kept.count()
      val webKept = kept.filter(col("doc_id") % 2 === 0).count()
      val kept2 = TextOps.dsirResample(raw, target, buckets = 16384).count()
      println(s"ADHOC dsir17 kept=$nKept web_kept=$webKept rerun=$kept2")
      assert(nKept > 0 && webKept == 0 && kept2 == nKept,
        s"resample shift failed: kept=$nKept web=$webKept rerun=$kept2")
      // frozen-model arm at scale: the per-row fold + draw must keep the
      // IDENTICAL set when fit on the same corpus (and this measures the
      // interpreted-HOF serving cost honestly at 1M)
      val model = TextOps.dsirFit(raw, target, buckets = 16384)
      var frozen: DataFrame = null
      time("dsir17_frozen rep=1") {
        frozen = raw.filter(model.keepCol(col("text"), col("doc_id")))
          .select("doc_id").localCheckpoint(eager = true)
        frozen.count()
      }
      val diff = frozen.unionByName(kept.select("doc_id"))
        .groupBy(col("doc_id")).count().filter(col("count") =!= 2).count()
      println(s"ADHOC dsir17 frozen=${frozen.count()} set_diff=$diff")
      assert(diff == 0, s"frozen arm diverged on $diff docs")
      spark.stop()
      return
    }

    if (args.headOption.contains("contain17")) {
      // F47b certification (round 17): the contain16 corpus (1M unique
      // bases + 100k boilerplate wrappers of every 10th base) plus 50k
      // exact MIRRORS of the id%20==5 bases (disjoint from the wrapped
      // set) — the dedup-verdict ground truth is exact: wrapped bases are
      // `contained` (strictly, in their wrapper), mirrors lose their
      // mutual family to the smaller id at equal weight (`dup_loser`),
      // everything else is `kept`.
      val n = 1000000L
      def textOf(idc: org.apache.spark.sql.Column) = concat_ws(" ",
        transform(sequence(lit(0), (pmod(hash(idc), lit(8)) + lit(11)).cast("int")),
          i => concat(lit("u"), idc, lit("_"), pmod(hash(idc * 31 + i), lit(997)))))
      val bases = spark.range(0, n).select(col("id").as("doc_id"), textOf(col("id")).as("text"))
      val wrapped = spark.range(0, n).filter(col("id") % 10 === 0)
        .select((col("id") + 10000000L).as("doc_id"),
          concat(lit("hdr nav chrome menu "), textOf(col("id")),
            lit(" footer links legal copyright")).as("text"))
      val mirrors = spark.range(0, n).filter(col("id") % 20 === 5)
        .select((col("id") + 20000000L).as("doc_id"), textOf(col("id")).as("text"))
      val docs = bases.unionByName(wrapped).unionByName(mirrors)
        .localCheckpoint(eager = true)
      println(s"ADHOC contain17 corpus=${docs.count()}")
      var v: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"contain17 rep=$rep") {
          v = Dedup.containmentVerdicts(spark, docs, minC = 0.9,
              octet_length(col("text")).cast("long"))
            .localCheckpoint(eager = true)
          v.count()
        }
      }
      val byV = v.groupBy(col("verdict")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      println(s"ADHOC contain17 verdicts=$byV")
      assert(byV == Map("contained" -> n / 10, "dup_loser" -> n / 20,
        "kept" -> n), s"verdict counts off: $byV")
      // spot the direction: wrapped bases contained, their wrappers kept,
      // mirrors lost, mirror-bases kept
      val spot = v.filter(col("doc_id").isin(0L, 10000000L, 5L, 20000005L))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(spot == Map(0L -> "contained", 10000000L -> "kept",
        5L -> "kept", 20000005L -> "dup_loser"), spot.toString)
      spark.stop()
      return
    }

    if (args.headOption.contains("para17")) {
      // F49 certification (round 17): 1M docs of [unique ¶][pool ¶ from
      // 1000 identical boilerplates][unique ¶], every 10th doc appending
      // a one-token-extended copy of its own first paragraph (J ≈ 0.92).
      // Ground truth is exact: pool ¶s dup for ids ≥ 1000 (first carrier
      // of each boilerplate wins), appended copies dup within-doc, unique
      // ¶s never dup. The md5 rep-set keeps the 1000×1000-member
      // boilerplate groups out of the pair join entirely — the quadratic
      // hazard this operator is FOR. The LSH path must agree on every
      // identical-rule verdict and ≥ 99.8% of docs overall (banding can
      // miss ~3·10⁻⁵ of the J≈0.92 appended pairs).
      val n = 1000000L
      def uniq(idc: org.apache.spark.sql.Column, salt: Int) = concat_ws(" ",
        transform(sequence(lit(0), (pmod(hash(idc * 7 + salt), lit(5)) + lit(9)).cast("int")),
          i => concat(lit(s"u${salt}_"), idc, lit("_"),
            pmod(hash(idc * 31 + i * 13 + salt), lit(997)))))
      def pool(idc: org.apache.spark.sql.Column) = concat_ws(" ",
        transform(sequence(lit(0), lit(5)),
          i => concat(lit("p"), pmod(idc, lit(1000)), lit("_"), i)))
      val first = uniq(col("id"), 1)
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          // concat_ws SKIPS the null 4th slot (no otherwise), so docs
          // without the appended copy get exactly three paragraphs
          concat_ws("\n\n",
            first, pool(col("id")), uniq(col("id"), 2),
            when(col("id") % 10 === 0, concat(first, lit(" extratok"))))
            .as("text"))
        .localCheckpoint(eager = true)
      println(s"ADHOC para17 corpus=${docs.count()}")
      var out: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"para17_exact rep=$rep") {
          out = Dedup.paragraphDedupOf(spark, Dedup.paragraphsOf(docs), 0.6,
              joiner = "\n\n")
            .localCheckpoint(eager = true)
          out.count()
        }
      }
      val hist = out.groupBy(col("n_dup_paras")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"ADHOC para17 exact_hist=$hist")
      // 0: ids 1–999 not ÷10 (900); 1: ids<1000 ÷10 (100) + ids≥1000
      // not ÷10 (899100); 2: ids≥1000 ÷10 (99900)
      assert(hist == Map(0L -> 900L, 1L -> 899200L, 2L -> 99900L),
        s"planted verdicts off: $hist")
      var lsh: DataFrame = null
      time("para17_lsh rep=1") {
        lsh = Dedup.paragraphDedupLsh(spark, Dedup.paragraphsOf(docs), 0.6,
            joiner = "\n\n")
          .localCheckpoint(eager = true)
        lsh.count()
      }
      val disagree = out.select(col("doc_id"), col("n_dup_paras").as("a"))
        .join(lsh.select(col("doc_id"), col("n_dup_paras").as("b")), Seq("doc_id"))
        .filter(col("a") =!= col("b")).count()
      println(s"ADHOC para17 lsh_disagree=$disagree")
      assert(disagree <= n / 500, s"LSH path disagrees on $disagree docs")
      // F49b: the clean REWRITE at 1M — removal counts must match the
      // verdict histogram exactly (Σ n_removed = Σ n_dup_paras)
      var cleaned: DataFrame = null
      time("para17_clean rep=1") {
        cleaned = Dedup.paragraphClean(spark, Dedup.paragraphsOf(docs), 0.6,
            joiner = "\n\n")
          .localCheckpoint(eager = true)
        cleaned.count()
      }
      val removed = cleaned.agg(sum(col("n_removed"))).head().getLong(0)
      val wantRemoved = hist.map { case (d, c) => d * c }.sum
      println(s"ADHOC para17 clean_removed=$removed want=$wantRemoved")
      assert(removed == wantRemoved, s"clean removed $removed, want $wantRemoved")
      spark.stop()
      return
    }

    if (args.headOption.contains("bigram17")) {
      // F19b certification (round 17): 1M docs, two styles — 'book' from
      // a 20-token vocabulary (repetitive, high bigram probability) vs
      // 'web' from 100 tokens (10⁴ bigram types — diffuse) — self-fit
      // and self-scored. Vocabularies are sized so bigram TYPE counts sit
      // under the 16384 buckets: hashing a type space far above the
      // bucket count (e.g. 3000² types) inflates every colliding
      // bigram's probability and DESTROYS the signal — the honest
      // documented limit of a hashed LM (KenMLM-style filters use real
      // n-grams; buckets must track the corpus bigram vocabulary).
      // Asserts the filter's signal: per-bigram NLL of the repetitive
      // style ≥ 1 nat below the diffuse style's, every doc scores, and
      // the fit stays two bounded pulls + a per-row scoring pass.
      val n = 1000000L
      def textOf(idc: org.apache.spark.sql.Column, style: String, vocab: Int) =
        concat_ws(" ", transform(sequence(lit(0),
            (pmod(hash(idc), lit(8)) + lit(9)).cast("int")),
          i => concat(lit(style),
            pmod(hash(idc * 31 + i), lit(vocab)).cast("string"))))
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          when(col("id") % 2 === 0, textOf(col("id"), "web", 100))
            .otherwise(textOf(col("id"), "book", 20)).as("text"))
        .localCheckpoint(eager = true)
      println(s"ADHOC bigram17 corpus=${docs.count()}")
      var sc: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"bigram17 rep=$rep") {
          sc = TextOps.lmBigramScores(docs, buckets = 16384)
            .localCheckpoint(eager = true)
          sc.count()
        }
      }
      val avg = sc.withColumn("per",
          (col("nll_micros").cast("double") / col("n_bigrams")))
        .withColumn("is_book", col("doc_id") % 2 === 1)
        .localCheckpoint(eager = true)
      def med(book: Boolean) = avg.filter(col("is_book") === book)
        .stat.approxQuantile("per", Array(0.5), 0.001)(0)
      val (mb, mw) = (med(true), med(false))
      val nScored = sc.count()
      println(f"ADHOC bigram17 scored=$nScored med_book=$mb%.0f med_web=$mw%.0f")
      assert(nScored == n, s"every doc has >= 2 tokens; scored $nScored")
      assert(mb + 1000000 < mw,
        f"repetitive style must score >=1 nat/bigram below sparse: $mb%.0f vs $mw%.0f")
      spark.stop()
      return
    }

    if (args.headOption.contains("media18")) {
      // F57 media-curation-stage certification (round 18): 770k mixed
      // records — 300k stub-format images + 100k dented twins, 200k
      // REAL WAVs + 50k exact copies, 100k stub videos + 20k one-cell
      // frame dents — through `Graft.mediaDedupAudited` end to end.
      // Binding asserts: PLANTED RECALL IS EXACT per modality (every
      // twin/copy shares its base's cluster — 100k/50k/20k, no slack),
      // the stage's kept set ≡ the standalone groups' reps (checksum
      // equality — the stage IS its pieces at scale), the audit's
      // dropped counts ≡ (records − clusters) read off the groups, and
      // a rerun keeps the identical id set. Chance merges are PRINTED
      // and loosely bounded, not assumed zero: difference-hash bits are
      // adjacent-anti-correlated by construction (bit i and i+1 share a
      // cell), so a few hundred extra merges among 10⁵–10⁶ random
      // envelopes is the hash family's real behavior — the first cut of
      // this cert assumed plant-only clusters and failed on exactly
      // that (audio +259, video +985 at the original sizes).
      import spark.implicits._
      def payload(seed: Long, nBytes: Int): Array[Byte] =
        Array.tabulate(nBytes) { j =>
          var v = seed * 2654435761L + j * 40503L
          v ^= v >>> 33; v *= -49064778989728563L; v ^= v >>> 33
          (v % 256).toByte
        }
      val imgMeta = Multimodal.MediaMeta("fake/raw", 9, 8)
      val img = spark.range(0, 300000L).as[Long]
        .map(i => Multimodal.MediaRecord(i, "image", payload(i, 720), imgMeta))
      val imgTwins = spark.range(0, 300000L).as[Long].filter(_ % 3 == 0)
        .map { i =>
          val b = payload(i, 720)
          (100 until 110).foreach(k => b(k) = 250.toByte)
          Multimodal.MediaRecord(10000000L + i, "image", b, imgMeta)
        }
      val wavMeta = Multimodal.MediaMeta("audio/wav", 0, 0)
      def wav(i: Long): Array[Byte] = {
        import javax.sound.sampled._
        val frames = 650
        val pcm = payload(i, frames * 2)
        val fmt = new AudioFormat(8000f, 16, 1, true, false)
        val bos = new java.io.ByteArrayOutputStream()
        AudioSystem.write(new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
          AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      val aud = spark.range(0, 200000L).as[Long]
        .map(i => Multimodal.MediaRecord(20000000L + i, "audio", wav(i), wavMeta))
      val audCopies = spark.range(0, 200000L).as[Long].filter(_ % 4 == 0)
        .map(i => Multimodal.MediaRecord(30000000L + i, "audio", wav(i), wavMeta))
      val vidMeta = Multimodal.MediaMeta("video/mp4", 0, 0)
      val fb = Multimodal.VideoFrameBytes
      // 65 frames = one frame per envelope cell; the dent maxes frame 10
      val vid = spark.range(0, 100000L).as[Long]
        .map(i => Multimodal.MediaRecord(40000000L + i, "video",
          payload(i * 31 + 7, 65 * fb), vidMeta))
      val vidDents = spark.range(0, 100000L).as[Long].filter(_ % 5 == 0)
        .map { i =>
          val b = payload(i * 31 + 7, 65 * fb)
          (10 * fb until 11 * fb).foreach(k => b(k) = 0xFF.toByte)
          Multimodal.MediaRecord(50000000L + i, "video", b, vidMeta)
        }
      val recs = img.unionByName(imgTwins).unionByName(aud)
        .unionByName(audCopies).unionByName(vid).unionByName(vidDents)
        .localCheckpoint(eager = true)
      println(s"ADHOC media18 corpus=${recs.count()}")
      var keptChecksum = 0L
      var keptN = 0L
      var audit: Seq[Graft.StageCount] = null
      time("media18 stage") {
        val (k, a) = Graft.mediaDedupAudited(spark, recs, maxHamming = 3)
        audit = a
        val agg = k.toDF().agg(count(lit(1)).as("n"),
          bit_xor(xxhash64(col("id"))).as("x")).head()
        keptN = agg.getLong(0); keptChecksum = agg.getLong(1)
        keptN
      }
      println(s"ADHOC media18 audit=$audit")
      val byStage = audit.map(a => a.stage -> a.dropped).toMap
      assert(byStage("input") == 0L && audit.head.kept == 770000L)
      val groups = Multimodal.mediaDedupGroups(spark, recs, 3)
        .localCheckpoint(eager = true)
      // planted recall EXACT: every twin/copy clusters with its base
      def recall(twinLo: Long, twinHi: Long, off: Long): Long =
        groups.as("t").filter(col("t.doc_id").between(twinLo, twinHi))
          .join(groups.as("b").withColumnRenamed("doc_id", "base_id")
            .withColumnRenamed("cluster_id", "base_cluster"),
            col("t.doc_id") - off === col("base_id"))
          .filter(col("t.cluster_id") === col("base_cluster")).count()
      val rImg = recall(10000000L, 19999999L, 10000000L)
      val rAud = recall(30000000L, 39999999L, 10000000L)
      val rVid = recall(50000000L, 59999999L, 10000000L)
      println(s"ADHOC media18 planted_recall img=$rImg aud=$rAud vid=$rVid")
      assert(rImg == 100000L && rAud == 50000L && rVid == 20000L,
        s"planted recall must be exact: $rImg/$rAud/$rVid")
      // audit ≡ groups arithmetic (records − clusters), chance merges
      // printed and loosely bounded
      val extra = Seq(
        ("image_neardup", 100000L), ("audio_neardup", 50000L),
        ("video_neardup", 20000L)).map { case (stage, want) =>
        val e = byStage(stage) - want
        assert(e >= 0 && e <= 1500,
          s"$stage chance merges out of band: $e")
        s"$stage=+$e"
      }
      println(s"ADHOC media18 chance_merges ${extra.mkString(" ")}")
      val wantReps = groups.filter(col("doc_id") === col("cluster_id"))
        .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id")))).head()
      assert(wantReps.getLong(0) == keptN && wantReps.getLong(1) == keptChecksum,
        "stage kept set != standalone groups reps")
      // rerun determinism on the id set
      val (k2, _) = Graft.mediaDedupAudited(spark, recs, maxHamming = 3)
      val got2 = k2.toDF().agg(bit_xor(xxhash64(col("id")))).head().getLong(0)
      assert(got2 == keptChecksum, "rerun kept set drifted")
      println(s"ADHOC media18 kept=$keptN checksum=$keptChecksum")
      spark.stop()
      return
    }

    if (args.headOption.contains("media19")) {
      // Round-19 over-merge-verify certification (VERDICT r18 item 3):
      // the media18 corpus (770k mixed records — 300k stub images +
      // 100k dented twins, 200k real WAVs + 50k copies, 100k stub
      // videos + 20k one-cell dents) through the VERIFIED stage.
      // Binding asserts: (a) planted recall stays EXACT — the verify
      // never removes a true near-dup edge (twins/copies perturb both
      // families locally); (b) the chance-merge mass the r18 cert
      // priced (+18/+259/+964 at these sizes, primary-family-only)
      // COLLAPSES under the two-family requirement — each modality's
      // extra merges must drop to ≤10% of the unverified count (the
      // product floor predicts ~0); (c) the audited stage ≡ the
      // standalone verified groups' reps, checksum-equal, rerun-stable.
      import spark.implicits._
      def payload(seed: Long, nBytes: Int): Array[Byte] =
        Array.tabulate(nBytes) { j =>
          var v = seed * 2654435761L + j * 40503L
          v ^= v >>> 33; v *= -49064778989728563L; v ^= v >>> 33
          (v % 256).toByte
        }
      val imgMeta = Multimodal.MediaMeta("fake/raw", 9, 8)
      val img = spark.range(0, 300000L).as[Long]
        .map(i => Multimodal.MediaRecord(i, "image", payload(i, 720), imgMeta))
      val imgTwins = spark.range(0, 300000L).as[Long].filter(_ % 3 == 0)
        .map { i =>
          val b = payload(i, 720)
          (100 until 110).foreach(k => b(k) = 250.toByte)
          Multimodal.MediaRecord(10000000L + i, "image", b, imgMeta)
        }
      val wavMeta = Multimodal.MediaMeta("audio/wav", 0, 0)
      def wav(i: Long): Array[Byte] = {
        import javax.sound.sampled._
        val frames = 650
        val pcm = payload(i, frames * 2)
        val fmt = new AudioFormat(8000f, 16, 1, true, false)
        val bos = new java.io.ByteArrayOutputStream()
        AudioSystem.write(new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
          AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      val aud = spark.range(0, 200000L).as[Long]
        .map(i => Multimodal.MediaRecord(20000000L + i, "audio", wav(i), wavMeta))
      val audCopies = spark.range(0, 200000L).as[Long].filter(_ % 4 == 0)
        .map(i => Multimodal.MediaRecord(30000000L + i, "audio", wav(i), wavMeta))
      val vidMeta = Multimodal.MediaMeta("video/mp4", 0, 0)
      val fb = Multimodal.VideoFrameBytes
      val vid = spark.range(0, 100000L).as[Long]
        .map(i => Multimodal.MediaRecord(40000000L + i, "video",
          payload(i * 31 + 7, 65 * fb), vidMeta))
      val vidDents = spark.range(0, 100000L).as[Long].filter(_ % 5 == 0)
        .map { i =>
          val b = payload(i * 31 + 7, 65 * fb)
          (10 * fb until 11 * fb).foreach(k => b(k) = 0xFF.toByte)
          Multimodal.MediaRecord(50000000L + i, "video", b, vidMeta)
        }
      val recs = img.unionByName(imgTwins).unionByName(aud)
        .unionByName(audCopies).unionByName(vid).unionByName(vidDents)
        .localCheckpoint(eager = true)
      println(s"ADHOC media19 corpus=${recs.count()}")
      var keptChecksum = 0L
      var keptN = 0L
      var audit: Seq[Graft.StageCount] = null
      time("media19 verified stage") {
        val (k, a) = Graft.mediaDedupAudited(spark, recs, maxHamming = 3,
          verifyHamming = 6)
        audit = a
        val agg = k.toDF().agg(count(lit(1)).as("n"),
          bit_xor(xxhash64(col("id"))).as("x")).head()
        keptN = agg.getLong(0); keptChecksum = agg.getLong(1)
        keptN
      }
      println(s"ADHOC media19 audit=$audit")
      val byStage = audit.map(a => a.stage -> a.dropped).toMap
      assert(audit.head.kept == 770000L)
      val vGroups = Multimodal.mediaDedupGroupsVerified(spark, recs, 3, 6)
        .localCheckpoint(eager = true)
      // (a) planted recall EXACT under the verify
      def recall(g: DataFrame, twinLo: Long, twinHi: Long, off: Long): Long =
        g.as("t").filter(col("t.doc_id").between(twinLo, twinHi))
          .join(g.as("b").withColumnRenamed("doc_id", "base_id")
            .withColumnRenamed("cluster_id", "base_cluster"),
            col("t.doc_id") - off === col("base_id"))
          .filter(col("t.cluster_id") === col("base_cluster")).count()
      val rImg = recall(vGroups, 10000000L, 19999999L, 10000000L)
      val rAud = recall(vGroups, 30000000L, 39999999L, 10000000L)
      val rVid = recall(vGroups, 50000000L, 59999999L, 10000000L)
      println(s"ADHOC media19 planted_recall img=$rImg aud=$rAud vid=$rVid")
      assert(rImg == 100000L && rAud == 50000L && rVid == 20000L,
        s"verify removed a planted edge: $rImg/$rAud/$rVid")
      // (b) chance merges collapse vs the single-family baseline
      val uGroups = Multimodal.mediaDedupGroups(spark, recs, 3)
        .localCheckpoint(eager = true)
      def extraOf(g: DataFrame, lo: Long, hi: Long, want: Long): Long = {
        val rows = g.filter(col("doc_id").between(lo, hi)).count()
        val reps = g.filter(col("doc_id").between(lo, hi) &&
          col("doc_id") === col("cluster_id")).count()
        rows - reps - want
      }
      val spans = Seq(("image", 0L, 19999999L, 100000L),
        ("audio", 20000000L, 39999999L, 50000L),
        ("video", 40000000L, 59999999L, 20000L))
      // print every modality BEFORE asserting so one failure never hides
      // the other numbers; the k2 = 6 cut comes from the media19probe
      // measurement (planted local edits ≤ 2 secondary bits, chance
      // collisions ≥ 7 — a clean gap, not an independence assumption)
      val merged = spans.map { case (m, lo, hi, want) =>
        val u = extraOf(uGroups, lo, hi, want)
        val v = extraOf(vGroups, lo, hi, want)
        println(s"ADHOC media19 chance_merges $m unverified=+$u verified=+$v")
        (m, u, v)
      }
      merged.foreach { case (m, u, v) =>
        assert(v >= 0 && v <= math.max(2L, u / 10),
          s"$m verify did not collapse chance merges: $v vs $u")
      }
      // (c) stage ≡ standalone verified groups' reps + rerun determinism
      val wantReps = vGroups.filter(col("doc_id") === col("cluster_id"))
        .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id")))).head()
      assert(wantReps.getLong(0) == keptN && wantReps.getLong(1) == keptChecksum,
        "stage kept set != standalone verified groups reps")
      val (k2, _) = Graft.mediaDedupAudited(spark, recs, maxHamming = 3,
        verifyHamming = 6)
      val got2 = k2.toDF().agg(bit_xor(xxhash64(col("id")))).head().getLong(0)
      assert(got2 == keptChecksum, "rerun kept set drifted")
      println(s"ADHOC media19 kept=$keptN checksum=$keptChecksum " +
        s"dropped_img=${byStage("image_neardup")} " +
        s"aud=${byStage("audio_neardup")} vid=${byStage("video_neardup")}")
      spark.stop()
      return
    }

    if (args.headOption.contains("media20")) {
      // Round-20 short-stream-residual certification (VERDICT r19 item
      // 4): the EXACT media19 corpus (770k mixed records — the 65-frame
      // videos whose frame-granular secondary left +18 chance merges)
      // through the byte-granular short-stream secondary. Binding
      // asserts: (a) planted recall stays EXACT (copies agree in both
      // families trivially; a whole-frame dent's bytes span ≤ 2 envelope
      // cells of the byte-granular derivative → ≤ 3 secondary bits, the
      // Round20OpsSpec measurement, inside the k₂ = 6 cut); (b) chance
      // merges now collapse in EVERY modality — video included: two
      // different random byte streams have ~independent byte-level
      // derivative envelopes (expected secondary distance ~32), so ≤ 2
      // survivors are tolerated where media19 printed +18.
      import spark.implicits._
      def payload(seed: Long, nBytes: Int): Array[Byte] =
        Array.tabulate(nBytes) { j =>
          var v = seed * 2654435761L + j * 40503L
          v ^= v >>> 33; v *= -49064778989728563L; v ^= v >>> 33
          (v % 256).toByte
        }
      val imgMeta = Multimodal.MediaMeta("fake/raw", 9, 8)
      val img = spark.range(0, 300000L).as[Long]
        .map(i => Multimodal.MediaRecord(i, "image", payload(i, 720), imgMeta))
      val imgTwins = spark.range(0, 300000L).as[Long].filter(_ % 3 == 0)
        .map { i =>
          val b = payload(i, 720)
          (100 until 110).foreach(k => b(k) = 250.toByte)
          Multimodal.MediaRecord(10000000L + i, "image", b, imgMeta)
        }
      val wavMeta = Multimodal.MediaMeta("audio/wav", 0, 0)
      def wav(i: Long): Array[Byte] = {
        import javax.sound.sampled._
        val frames = 650
        val pcm = payload(i, frames * 2)
        val fmt = new AudioFormat(8000f, 16, 1, true, false)
        val bos = new java.io.ByteArrayOutputStream()
        AudioSystem.write(new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
          AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      val aud = spark.range(0, 200000L).as[Long]
        .map(i => Multimodal.MediaRecord(20000000L + i, "audio", wav(i), wavMeta))
      val audCopies = spark.range(0, 200000L).as[Long].filter(_ % 4 == 0)
        .map(i => Multimodal.MediaRecord(30000000L + i, "audio", wav(i), wavMeta))
      val vidMeta = Multimodal.MediaMeta("video/mp4", 0, 0)
      val fb = Multimodal.VideoFrameBytes
      val vid = spark.range(0, 100000L).as[Long]
        .map(i => Multimodal.MediaRecord(40000000L + i, "video",
          payload(i * 31 + 7, 65 * fb), vidMeta))
      val vidDents = spark.range(0, 100000L).as[Long].filter(_ % 5 == 0)
        .map { i =>
          val b = payload(i * 31 + 7, 65 * fb)
          (10 * fb until 11 * fb).foreach(k => b(k) = 0xFF.toByte)
          Multimodal.MediaRecord(50000000L + i, "video", b, vidMeta)
        }
      val recs = img.unionByName(imgTwins).unionByName(aud)
        .unionByName(audCopies).unionByName(vid).unionByName(vidDents)
        .localCheckpoint(eager = true)
      println(s"ADHOC media20 corpus=${recs.count()}")
      var vGroups: DataFrame = null
      time("media20 verified groups") {
        vGroups = Multimodal.mediaDedupGroupsVerified(spark, recs, 3, 6)
          .localCheckpoint(eager = true)
        vGroups.count()
      }
      // (a) planted recall EXACT under the byte-granular verify
      def recall(g: DataFrame, twinLo: Long, twinHi: Long, off: Long): Long =
        g.as("t").filter(col("t.doc_id").between(twinLo, twinHi))
          .join(g.as("b").withColumnRenamed("doc_id", "base_id")
            .withColumnRenamed("cluster_id", "base_cluster"),
            col("t.doc_id") - off === col("base_id"))
          .filter(col("t.cluster_id") === col("base_cluster")).count()
      val rImg = recall(vGroups, 10000000L, 19999999L, 10000000L)
      val rAud = recall(vGroups, 30000000L, 39999999L, 10000000L)
      val rVid = recall(vGroups, 50000000L, 59999999L, 10000000L)
      println(s"ADHOC media20 planted_recall img=$rImg aud=$rAud vid=$rVid")
      assert(rImg == 100000L && rAud == 50000L && rVid == 20000L,
        s"verify removed a planted edge: $rImg/$rAud/$rVid")
      // (b) chance merges ≈ 0 in every modality (media19's video gap)
      def extraOf(g: DataFrame, lo: Long, hi: Long, want: Long): Long = {
        val rows = g.filter(col("doc_id").between(lo, hi)).count()
        val reps = g.filter(col("doc_id").between(lo, hi) &&
          col("doc_id") === col("cluster_id")).count()
        rows - reps - want
      }
      val spans = Seq(("image", 0L, 19999999L, 100000L),
        ("audio", 20000000L, 39999999L, 50000L),
        ("video", 40000000L, 59999999L, 20000L))
      val merged = spans.map { case (m, lo, hi, want) =>
        val v = extraOf(vGroups, lo, hi, want)
        println(s"ADHOC media20 chance_merges $m verified=+$v")
        (m, v)
      }
      merged.foreach { case (m, v) =>
        assert(v >= 0 && v <= 2,
          s"$m byte-granular verify left chance merges: +$v (media19: +18 video)")
      }
      // rerun determinism of the verified groups
      val g2 = Multimodal.mediaDedupGroupsVerified(spark, recs, 3, 6)
      val c1 = vGroups.agg(bit_xor(xxhash64(col("doc_id"), col("cluster_id"))))
        .head().getLong(0)
      val c2 = g2.agg(bit_xor(xxhash64(col("doc_id"), col("cluster_id"))))
        .head().getLong(0)
      assert(c1 == c2, "verified groups drifted across reruns")
      println(s"ADHOC media20 groups_checksum=$c1 PASS")
      spark.stop()
      return
    }

    if (args.headOption.contains("release20")) {
      // Round-20 one-call release certification (VERDICT r19 item 6):
      // the FULL published shape — container files → URL gate → HTML
      // front door → quality/dedup/contamination stages → epoch mix →
      // shard/order shuffle → per-shard sequence packing → release diff
      // — through ONE Graft.buildRelease call at 1.1M docs. Closed-form
      // planted populations: 1M base pages (source s{id%3}, url domain
      // d{id%4} with domain 2 BLOCKED → exactly 300,000 url drops incl.
      // twins), 100k exact-dup twins (50k survive the url gate →
      // exact_dedup claims ≥ 50k), 50k distinct sub-minTokens shorts
      // (none url-blocked → exactly 50,000 quality drops), 40k
      // contaminated (10k url-blocked first → ≤ 30,000 contamination
      // drops, bounded below by 29k for chance near-dup claims — the
      // ledger reconciliation is the exact contract). Epoch laws: s1
      // docs exactly 2 copies, s0 exactly 1, s2 ∈ {1,2} with mean in
      // [1.45, 1.55]. Packing law per shard: pos dense from 0 and
      // max(seq_last) == (Σ n_toks − 1) div 1024. Diff vs the INPUT
      // snapshot: every kept doc 'changed' (extraction rewrote it),
      // every dropped doc 'removed', nothing 'added'/'unchanged' —
      // ledger ↔ audit ↔ diff reconcile EXACTLY. Rerun → identical
      // packed checksum.
      import spark.implicits._
      val n = 1000000L
      def textOf(idc: org.apache.spark.sql.Column) = concat_ws(" ",
        transform(sequence(lit(0), (pmod(hash(idc), lit(8)) + lit(11)).cast("int")),
          i => concat(lit("u"), idc, lit("_"), pmod(hash(idc * 31 + i), lit(997)))))
      def pageOf(body: org.apache.spark.sql.Column) = concat(
        lit("<script>var x = 1;</script><p>"), body,
        lit("</p><nav><a href=\"/\">home</a></nav>trailing junk"))
      val baseBody = when(pmod(col("id"), lit(20)) === 1,
          concat(lit("tiny doc "), col("id")))
        .when(pmod(col("id"), lit(25)) === 2,
          concat(lit("zz_screened_phrase_zz "), textOf(col("id"))))
        .otherwise(textOf(col("id")))
      val bases = spark.range(0, n).select(col("id").as("doc_id"),
        pageOf(baseBody).as("text"))
      val twins = spark.range(0, n).filter(pmod(col("id"), lit(10)) === 0)
        .select((col("id") + 10000000L).as("doc_id"),
          pageOf(textOf(col("id"))).as("text"))
      val docs0 = bases.unionByName(twins).localCheckpoint(eager = true)
      val inChecksum = docs0.agg(bit_xor(xxhash64(col("doc_id"), col("text"))))
        .head().getLong(0)
      // container front: pack the corpus into container files and read
      // it back — the release consumes the A-layer, not a handed frame
      val cdir = java.nio.file.Files.createTempDirectory("release20").toString
      time("release20 write containers") {
        Containers.writeContainers(
          docs0.select(col("doc_id"), col("text").cast("binary").as("body")),
          cdir, recordsPerFile = 50000)
      }
      val fromC = Containers.readContainers(spark, s"$cdir/*.gcn")
        .select(col("doc_id"), col("body").cast("string").as("text"))
        .localCheckpoint(eager = true)
      val outChecksum = fromC.agg(bit_xor(xxhash64(col("doc_id"), col("text"))))
        .head().getLong(0)
      assert(fromC.count() == 1100000L && outChecksum == inChecksum,
        "container round-trip drifted at 1.1M")
      val domains = Seq("good.example.com", "fine.example.net",
        "blocked.example.co.uk", "ok.example.org")
      val docs = fromC
        .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(3))))
        .withColumn("url", concat(lit("http://"),
          element_at(typedLit(domains), pmod(col("doc_id"), lit(4)).cast("int") + 1),
          lit("/p/"), col("doc_id")))
      def build() = Graft.buildRelease(spark, docs,
        screenPhrases = Seq("zz_screened_phrase_zz"),
        quality = Graft.QualityGate(minTokens = 5, maxTokens = 10000,
          maxStopwordRatio = 1.0),
        epochsMicros = Map("s0" -> 1000000L, "s1" -> 2000000L, "s2" -> 1500000L),
        nShards = 16, seed = 11L, seqLen = 1024,
        previous = Some(docs0),
        html = Some(Graft.HtmlExtract()),
        urlGate = Some(Graft.UrlGate(blocked = Seq("example.co.uk"))))
      var r: Graft.Release = null
      time("release20 build (audit+ledger+manifest+pack)") {
        r = build()
        r.packed.count()
      }
      println(s"ADHOC release20 audit=${r.audit}")
      val byStage = r.audit.map(a => a.stage -> a.dropped).toMap
      assert(r.audit.head.kept == 1100000L)
      assert(byStage("url_gate") == 300000L, s"url drops: ${byStage("url_gate")}")
      assert(byStage("html_extract") == 0L)
      assert(byStage("exact_dedup") >= 50000L)
      assert(byStage("quality_gate") == 50000L,
        s"quality drops: ${byStage("quality_gate")}")
      assert(byStage("contamination") >= 29000L && byStage("contamination") <= 30000L,
        s"contamination drops: ${byStage("contamination")}")
      // ledger ↔ audit exact reconciliation, one row per input doc
      val ledger = r.ledger.localCheckpoint(eager = true)
      assert(ledger.count() == 1100000L)
      assert(ledger.select("doc_id").distinct().count() == 1100000L)
      val droppedL = ledger.filter(col("verdict") === "dropped")
        .groupBy(col("stage")).count().collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      r.audit.tail.foreach(sc => assert(
        droppedL.getOrElse(sc.stage, 0L) == sc.dropped,
        s"${sc.stage}: ledger ${droppedL.getOrElse(sc.stage, 0L)} != audit ${sc.dropped}"))
      val kept = r.audit.last.kept
      assert(ledger.filter(col("verdict") === "kept").count() == kept)
      // epoch copy laws per source
      val cps = r.manifest.groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("c")).localCheckpoint(eager = true)
      assert(cps.filter(col("source") === "s0" && col("c") =!= 1L).count() == 0L)
      assert(cps.filter(col("source") === "s1" && col("c") =!= 2L).count() == 0L)
      assert(cps.filter(col("source") === "s2" &&
        !col("c").isin(1L, 2L)).count() == 0L)
      val s2 = cps.filter(col("source") === "s2")
        .agg(sum(col("c")).cast("double") / count(lit(1))).head().getDouble(0)
      assert(s2 > 1.45 && s2 < 1.55, s"s2 mean copies $s2")
      // packing law per shard + manifest/pack token conservation
      val shards = r.packed.groupBy(col("shard")).agg(count(lit(1)).as("nrow"),
          min(col("pos")).as("lo"), max(col("pos")).as("hi"),
          sum(col("n_toks")).as("toks"), max(col("seq_last")).as("lastSeq"))
        .collect()
      assert(shards.length == 16)
      shards.foreach { x =>
        assert(x.getLong(2) == 0L && x.getLong(3) == x.getLong(1) - 1L,
          s"pos not dense: $x")
        assert(x.getLong(5) == (x.getLong(4) - 1L) / 1024L, s"pack law: $x")
      }
      assert(r.packed.filter(col("n_seqs") =!=
        col("seq_last") - col("seq_first") + 1).count() == 0L)
      val mToks = r.manifest.agg(sum(col("n_toks"))).head().getLong(0)
      val pToks = r.packed.agg(sum(col("n_toks"))).head().getLong(0)
      assert(mToks == pToks, s"manifest $mToks vs packed $pToks tokens")
      // diff ↔ ledger exact reconciliation (extraction rewrote every text)
      val diff = r.diff.get.groupBy(col("status")).count().collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      assert(diff.getOrElse("removed", 0L) == 1100000L - kept, diff.toString)
      assert(diff.getOrElse("changed", 0L) == kept, diff.toString)
      assert(diff.getOrElse("added", 0L) == 0L && diff.getOrElse("unchanged", 0L) == 0L,
        diff.toString)
      // rerun determinism: the packed layout is a pure function of input
      var checksum2 = 0L
      time("release20 rerun (determinism)") {
        val r2 = build()
        checksum2 = r2.packed.agg(bit_xor(xxhash64(col("shard"), col("pos"),
          col("doc_id"), col("seq_first"), col("seq_last")))).head().getLong(0)
        checksum2
      }
      val checksum1 = r.packed.agg(bit_xor(xxhash64(col("shard"), col("pos"),
        col("doc_id"), col("seq_first"), col("seq_last")))).head().getLong(0)
      assert(checksum1 == checksum2, "packed layout drifted across reruns")
      println(s"ADHOC release20 kept=$kept manifest_rows=${r.manifest.count()} " +
        s"packed_checksum=$checksum1 PASS")
      spark.stop()
      return
    }

    if (args.headOption.contains("ledger19")) {
      // F59 decade-scale certification (round 19): 1M docs with planted
      // per-stage populations — 100k exact-duplicate twins (id%10==0
      // bases copied), 50k sub-minTokens shorts (id%20==1), 40k
      // contaminated (id%25==2 carry the screen phrase) — through
      // `Graft.curateCorpusLedgered`. Binding asserts: the ledger has
      // EXACTLY one row per input doc; per-stage dropped counts
      // reconcile with the audit's StageCounts EXACTLY; the planted
      // populations land at their stages (duplicates ≥ the planted 100k
      // at exact_dedup — near-dup chains may claim a few more, which is
      // the audit's own number, reconciliation is the contract); and
      // the ledgered run's kept set ≡ the audited run's packed output.
      import spark.implicits._
      val n = 1000000L
      def textOf(idc: org.apache.spark.sql.Column) = concat_ws(" ",
        transform(sequence(lit(0), (pmod(hash(idc), lit(8)) + lit(11)).cast("int")),
          i => concat(lit("u"), idc, lit("_"), pmod(hash(idc * 31 + i), lit(997)))))
      val bases = spark.range(0, n).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(20)) === 1, lit("tiny doc"))
          .when(pmod(col("id"), lit(25)) === 2,
            concat(lit("zz_screened_phrase_zz "), textOf(col("id"))))
          .otherwise(textOf(col("id"))).as("text"))
      val twins = spark.range(0, n).filter(pmod(col("id"), lit(10)) === 0)
        .select((col("id") + 10000000L).as("doc_id"), textOf(col("id")).as("text"))
      val docs = bases.unionByName(twins).localCheckpoint(eager = true)
      println(s"ADHOC ledger19 corpus=${docs.count()}")
      var audit: Seq[Graft.StageCount] = null
      var ledger: DataFrame = null
      var packedN = 0L
      for (rep <- 1 to 2) {
        time(s"ledger19 rep=$rep") {
          val (packed, a, l) = Graft.curateCorpusLedgered(spark, docs,
            screenPhrases = Seq("zz_screened_phrase_zz"),
            quality = Graft.QualityGate(minTokens = 5, maxTokens = 10000,
              maxStopwordRatio = 1.0))
          audit = a
          ledger = l.localCheckpoint(eager = true)
          packedN = packed.count()
          ledger.count()
        }
      }
      println(s"ADHOC ledger19 audit=$audit")
      val nIn = audit.head.kept
      assert(ledger.count() == nIn, "one ledger row per input doc")
      assert(ledger.select("doc_id").distinct().count() == nIn,
        "no doc attributed twice")
      val dropped = ledger.filter(col("verdict") === "dropped")
        .groupBy(col("stage")).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      audit.tail.foreach { sc =>
        assert(dropped.getOrElse(sc.stage, 0L) == sc.dropped,
          s"${sc.stage}: ledger ${dropped.getOrElse(sc.stage, 0L)} != audit ${sc.dropped}")
      }
      val keptLedger = ledger.filter(col("verdict") === "kept").count()
      assert(keptLedger == audit.last.kept, "kept rows != final stage")
      // planted populations: exact dedup claims at least the 100k twins;
      // the quality gate claims exactly the surviving shorts; the screen
      // exactly the surviving contaminated docs
      assert(dropped("exact_dedup") >= 100000L)
      println(s"ADHOC ledger19 dropped=$dropped kept=$keptLedger packed=$packedN")
      spark.stop()
      return
    }

    if (args.headOption.contains("html19")) {
      // F58 decade-scale certification (round 19): 1M manufactured HTML
      // pages whose structure is known BY CONSTRUCTION — per page i: a
      // script span (with an embedded '<'), a nav chrome block, K =
      // i%4+1 twelve-word content paragraphs, a 100%-link block on even
      // pages, a one-word block on every 3rd page, a footer, trailing
      // junk. Binding asserts (exact, not statistical): every page's
      // n_blocks and n_content equal the closed forms, every clean_text
      // equals the paragraphs-only rejoin BYTE-EXACTLY (md5 join, 0
      // mismatches), and the per-row `html_extract` KERNEL equals the
      // relational rollup row-for-row at the full million. Timings for
      // both paths recorded.
      import spark.implicits._
      val n = sys.env.getOrElse("ADHOC_HTML_N", "1000000").toLong
      def words(seed: org.apache.spark.sql.Column, cnt: Int) =
        concat_ws(" ", transform(sequence(lit(0), lit(cnt - 1)),
          j => concat(lit("w"), pmod(hash(seed * 31 + j), lit(5000)))))
      val k = (pmod(col("id"), lit(4)) + 1).cast("int")
      val paras = transform(sequence(lit(1), k),
        p => concat(lit("<p>"), words(col("id") * 97 + p, 12), lit("</p>")))
      val linky = when(pmod(col("id"), lit(2)) === 0,
        concat(lit("<p><a href=\"#\">"), words(col("id") * 13 + 99, 8),
          lit("</a></p>"))).otherwise(lit(""))
      val shorty = when(pmod(col("id"), lit(3)) === 0, lit("<p>tiny</p>"))
        .otherwise(lit(""))
      val pages = spark.range(0, n).select(col("id").as("doc_id"),
        concat(lit("<script>var x < 3;</script><nav>menu home about</nav>"),
          concat_ws("", paras), linky, shorty,
          lit("<footer>c 2026</footer>trailing junk")).as("html"))
        .localCheckpoint(eager = true)
      println(s"ADHOC html19 pages=${pages.count()}")
      val expected = spark.range(0, n).select(col("id").as("doc_id"),
        (lit(2L) + pmod(col("id"), lit(4)) + lit(1L) +
          when(pmod(col("id"), lit(2)) === 0, 1L).otherwise(0L) +
          when(pmod(col("id"), lit(3)) === 0, 1L).otherwise(0L))
          .as("e_blocks"),
        (pmod(col("id"), lit(4)) + 1L).as("e_content"),
        md5(concat_ws("\n", transform(sequence(lit(1), k),
          p => words(col("id") * 97 + p, 12)))).as("e_md5"))
      var rel: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"html19 relational rep=$rep") {
          rel = Html.htmlExtract(pages).localCheckpoint(eager = true)
          rel.count()
        }
      }
      val bad = rel.join(expected, Seq("doc_id"))
        .filter(col("n_blocks") =!= col("e_blocks") ||
          col("n_content") =!= col("e_content") ||
          md5(col("clean_text")) =!= col("e_md5")).count()
      assert(bad == 0L, s"$bad pages mismatch the constructed ground truth")
      assert(rel.count() == n, "every page has blocks — all rows present")
      var kern: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"html19 kernel rep=$rep") {
          kern = pages.withColumn("__hx", call_function("html_extract",
              col("html"), lit(3), lit(200000L)))
            .filter(col("__hx").isNotNull)
            .select(col("doc_id"),
              col("__hx").getField("n_blocks").as("n_blocks"),
              col("__hx").getField("n_content").as("n_content"),
              col("__hx").getField("clean_text").as("clean_text"))
            .localCheckpoint(eager = true)
          kern.count()
        }
      }
      val relSlim = rel.select("doc_id", "n_blocks", "n_content", "clean_text")
      assert(kern.exceptAll(relSlim).count() == 0L &&
        relSlim.exceptAll(kern).count() == 0L,
        "kernel != relational at 1M")
      println(s"ADHOC html19 kernel=relational rows=${kern.count()} exact")
      spark.stop()
      return
    }

    if (args.headOption.contains("media19probe")) {
      // Scratch: secondary-distance distribution of primary-colliding
      // image pairs (chance vs planted) — evidence for the verify k2 cut.
      import spark.implicits._
      def payload(seed: Long, nBytes: Int): Array[Byte] =
        Array.tabulate(nBytes) { j =>
          var v = seed * 2654435761L + j * 40503L
          v ^= v >>> 33; v *= -49064778989728563L; v ^= v >>> 33
          (v % 256).toByte
        }
      val imgMeta = Multimodal.MediaMeta("fake/raw", 9, 8)
      val img = spark.range(0, 300000L).as[Long]
        .map(i => Multimodal.MediaRecord(i, "image", payload(i, 720), imgMeta))
      val imgTwins = spark.range(0, 300000L).as[Long].filter(_ % 3 == 0)
        .map { i =>
          val b = payload(i, 720)
          (100 until 110).foreach(k => b(k) = 250.toByte)
          Multimodal.MediaRecord(10000000L + i, "image", b, imgMeta)
        }
      val recs = img.unionByName(imgTwins).localCheckpoint(eager = true)
      val slim = Multimodal.mediaSigs2(recs)
        .select(col("id").as("doc_id"), col("sig"), col("sig2"))
        .localCheckpoint(eager = true)
      val groups = slim.groupBy(col("sig"), col("sig2"))
        .agg(min(col("doc_id")).as("rep"))
      val s2 = groups.select(col("rep"), col("sig2"))
      val pairs = MinHash.hammingPairs64(
          groups.select(col("rep").as("doc_id"), col("sig")), 3)
        .join(s2.select(col("rep").as("a_id"), col("sig2").as("s2a")), Seq("a_id"))
        .join(s2.select(col("rep").as("b_id"), col("sig2").as("s2b")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("hamming"),
          bit_count(col("s2a").bitwiseXOR(col("s2b"))).as("h2"),
          (col("b_id") - col("a_id") === 10000000L).as("planted"))
      pairs.groupBy(col("planted"), col("h2")).count()
        .orderBy(col("planted"), col("h2"))
        .collect().foreach(r => println(
          s"ADHOC media19probe planted=${r.getBoolean(0)} h2=${r.getInt(1)} n=${r.getLong(2)}"))
      spark.stop()
      return
    }

    if (args.headOption.contains("media20probe")) {
      // Scratch: secondary-distance distribution of primary-colliding
      // VIDEO pairs under the byte-granular short-stream secondary —
      // evidence for the media20 video residual.
      import spark.implicits._
      def payload(seed: Long, nBytes: Int): Array[Byte] =
        Array.tabulate(nBytes) { j =>
          var v = seed * 2654435761L + j * 40503L
          v ^= v >>> 33; v *= -49064778989728563L; v ^= v >>> 33
          (v % 256).toByte
        }
      val vidMeta = Multimodal.MediaMeta("video/mp4", 0, 0)
      val fb = Multimodal.VideoFrameBytes
      val vid = spark.range(0, 100000L).as[Long]
        .map(i => Multimodal.MediaRecord(40000000L + i, "video",
          payload(i * 31 + 7, 65 * fb), vidMeta))
      val vidDents = spark.range(0, 100000L).as[Long].filter(_ % 5 == 0)
        .map { i =>
          val b = payload(i * 31 + 7, 65 * fb)
          (10 * fb until 11 * fb).foreach(k => b(k) = 0xFF.toByte)
          Multimodal.MediaRecord(50000000L + i, "video", b, vidMeta)
        }
      val recs = vid.unionByName(vidDents).localCheckpoint(eager = true)
      val slim = Multimodal.mediaSigs2(recs)
        .select(col("id").as("doc_id"), col("sig"), col("sig2"))
        .localCheckpoint(eager = true)
      println(s"ADHOC media20probe n=${slim.count()} " +
        s"distinct_sig=${slim.select("sig").distinct().count()} " +
        s"distinct_sig2=${slim.select("sig2").distinct().count()}")
      val groups = slim.groupBy(col("sig"), col("sig2"))
        .agg(min(col("doc_id")).as("rep"))
      val s2 = groups.select(col("rep"), col("sig2"))
      val pairs = MinHash.hammingPairs64(
          groups.select(col("rep").as("doc_id"), col("sig")), 3)
        .join(s2.select(col("rep").as("a_id"), col("sig2").as("s2a")), Seq("a_id"))
        .join(s2.select(col("rep").as("b_id"), col("sig2").as("s2b")), Seq("b_id"))
        .select(col("a_id"), col("b_id"), col("hamming"),
          bit_count(col("s2a").bitwiseXOR(col("s2b"))).as("h2"),
          (col("b_id") - col("a_id") === 10000000L).as("planted"))
        .localCheckpoint(eager = true)
      pairs.groupBy(col("planted"), col("h2")).count()
        .orderBy(col("planted"), col("h2"))
        .collect().foreach(r => println(
          s"ADHOC media20probe planted=${r.getBoolean(0)} h2=${r.getInt(1)} n=${r.getLong(2)}"))
      // sample surviving chance pairs for inspection
      pairs.filter(!col("planted") && col("h2") <= 6)
        .orderBy(col("a_id")).limit(10).collect()
        .foreach(r => println(s"ADHOC media20probe survivor a=${r.getLong(0)} " +
          s"b=${r.getLong(1)} h1=${r.getLong(2)} h2=${r.getInt(3)}"))
      spark.stop()
      return
    }

    if (args.headOption.contains("audioshort20")) {
      audioShort20(spark)
      spark.stop()
      return
    }

    if (args.headOption.contains("mix18")) {
      // Composed-manifest certification (round 18): 10M docs through the
      // FULL Graft.mixManifest chain (F33 budget fill → F34 epoch copies
      // → F35 epoch-salted shard/order) with the graded query's own
      // derivations (budgets = half of each source's token mass; epochs
      // equalize the KEPT sets up to the largest, cap 3). Binding
      // asserts are the closed-form laws of each stage read off the
      // composed output: per-source kept mass lands in [budget,
      // budget + maxDocTokens) (the greedy boundary), per-doc copy
      // counts are exactly {e div 10⁶, e div 10⁶ + 1}, per-shard
      // positions are a DENSE 0..n_s−1 sequence (no gap, no dup) at 64
      // shards, at least one doc's copies scatter across shards, and a
      // rerun checksum is identical.
      import spark.implicits._
      val n = 10000000L
      // skewed source sizes (50% / 22% / 15% / 13%) so the derived
      // weights exercise the whole F34 space: ~1.0 on the largest,
      // a genuinely fractional ~2.27, and the 3-epoch cap on the tail
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          when(col("id") < 5000000L, "s0").when(col("id") < 7200000L, "s1")
            .when(col("id") < 8700000L, "s2").otherwise("s3").as("source"),
          concat_ws(" ", transform(
            sequence(lit(0), (pmod(hash(col("id")), lit(6)) + lit(4)).cast("int")),
            i => concat(lit("w"), pmod(hash(col("id") * 13 + i), lit(50000L)).cast("string"))))
            .as("text"))
        .localCheckpoint(eager = true)
      println(s"ADHOC mix18 corpus=${docs.count()}")
      val wsToks = sum(size(split(col("text"), " ")).cast("long"))
      val budgets = docs.groupBy(col("source")).agg(wsToks.as("t"))
        .collect().map(r => r.getString(0) -> r.getLong(1) / 2).toMap
      val keptTots = TextOps.tokenBudgetMix(docs, budgets)
        .groupBy(col("source")).agg(sum(col("n_toks")).as("t"))
        .collect()
      val maxTot = keptTots.map(_.getLong(1)).max
      val weights = keptTots.map(r => r.getString(0) ->
        TextOps.epochWeightMicros(maxTot, r.getLong(1))).toMap
      println(s"ADHOC mix18 budgets=${budgets.toSeq.sorted} weights=${weights.toSeq.sorted}")
      var m: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"mix18 manifest rep=$rep") {
          m = Graft.mixManifest(docs, budgets, weights, nShards = 64, seed = 7L)
            .localCheckpoint(eager = true)
          m.count()
        }
      }
      val total = m.count()
      // greedy budget boundary per source (≤ one doc of overshoot; docs
      // here are ≤ 10 tokens)
      val keptMass = m.filter(col("epoch") === 1L)
        .groupBy(col("source")).agg(sum(col("n_toks")).as("kt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      keptMass.foreach { case (s, kt) =>
        val b = budgets(s)
        assert(kt >= b && kt < b + 11, s"source $s kept $kt vs budget $b")
      }
      // copy-count law: every kept doc has exactly div or div+1 copies
      val badCopies = m.groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("c"))
        .withColumn("e", element_at(typedLit(weights), col("source")))
        .filter(col("c") =!= expr("e div 1000000L") &&
          col("c") =!= expr("e div 1000000L") + 1L)
        .count()
      assert(badCopies == 0L, s"$badCopies docs break the copy-count law")
      // dense per-shard positions: count == max+1 and no duplicate pos
      val shardStats = m.groupBy(col("shard"))
        .agg(count(lit(1)).as("n"), max(col("pos")).as("mx"),
          countDistinct(col("pos")).as("d"))
        .filter(col("n") =!= col("mx") + 1 || col("n") =!= col("d")).count()
      assert(shardStats == 0L, "a shard's positions are not dense 0..n-1")
      // epoch-salted scattering: some doc's copies land in > 1 shard
      val scattered = m.groupBy(col("doc_id"))
        .agg(countDistinct(col("shard")).as("s")).filter(col("s") > 1).count()
      assert(scattered > 0L, "no doc's copies scattered across shards")
      // rerun determinism
      def sum5(df: DataFrame): Long = df.agg(bit_xor(xxhash64(col("doc_id"),
        col("source"), col("n_toks"), col("epoch"), col("shard"), col("pos"))))
        .head().getLong(0)
      val s1 = sum5(m)
      val s2 = sum5(Graft.mixManifest(docs, budgets, weights, 64, 7L))
      assert(s1 == s2, "rerun checksum drifted")
      println(s"ADHOC mix18 rows=$total scattered_docs=$scattered checksum=$s1")
      spark.stop()
      return
    }

    if (args.headOption.contains("trigram18")) {
      // F19d certification (round 18): 1M docs through the hashed
      // trigram back-off LM, on the BIGRAM-BLIND corpus family from
      // Round18OpsSpec scaled up: every doc is ten "p{k} q r{j} s"
      // blocks — 'book' docs pair deterministically (j = k), 'web' docs
      // rotate (j = k + d mod 10, d = 1 + id/2 mod 9, never identity).
      // Unigram and bigram TYPE counts are identical across the classes
      // by construction (rotations are bijections; the 's' separator
      // shields block seams), so the order-2 margin is EXACTLY zero —
      // asserted as ONE distinct per-doc bigram NLL across the whole
      // million — while order-3 must separate the classes by ≥ 1
      // nat/position (closed form: ln(500k/55.5k) = 2.197 nats on 19 of
      // 38 positions ⇒ 1.098). The margin the paper's perplexity filter
      // keys on exists at order 3 and is INVISIBLE at order 2 — the
      // strongest possible form of the bigram17 style-separation cert.
      val n = 1000000L
      val blocks = sequence(lit(0), lit(9))
      def blockText(j: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        concat_ws(" ", transform(blocks, k =>
          concat_ws(" ", concat(lit("p"), k.cast("string")), lit("q"),
            concat(lit("r"), j(k).cast("string")), lit("s"))))
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          when(col("id") % 2 === 1, blockText(k => k))
            .otherwise(blockText(k =>
              pmod(k + lit(1L) + pmod(col("id") / 2, lit(9L)), lit(10L))))
            .as("text"))
        .localCheckpoint(eager = true)
      println(s"ADHOC trigram18 corpus=${docs.count()}")
      var sc3: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"trigram18 order3 rep=$rep") {
          sc3 = TextOps.lmTrigramScores(docs, buckets = 16384)
            .localCheckpoint(eager = true)
          sc3.count()
        }
      }
      var sc2: DataFrame = null
      time("trigram18 order2") {
        sc2 = TextOps.lmBigramScores(docs, buckets = 16384)
          .localCheckpoint(eager = true)
        sc2.count()
      }
      // order-2 blindness: every doc of BOTH classes has the identical
      // bigram NLL (same bigram-type multiset with the same table)
      val distinct2 = sc2.agg(countDistinct(col("nll_micros"))).head().getLong(0)
      // order-3 separation: median per-position NLL, book vs web
      val per3 = sc3.withColumn("per",
          col("nll_micros").cast("double") / col("n_trigrams"))
        .withColumn("is_book", col("doc_id") % 2 === 1)
        .localCheckpoint(eager = true)
      def med(book: Boolean) = per3.filter(col("is_book") === book)
        .stat.approxQuantile("per", Array(0.5), 0.0001)(0)
      val (mb, mw) = (med(true), med(false))
      val nScored = sc3.count()
      println(f"ADHOC trigram18 scored=$nScored bigram_distinct_nll=$distinct2 " +
        f"med3_book=$mb%.0f med3_web=$mw%.0f margin=${mw - mb}%.0f")
      assert(nScored == n, s"every doc has >= 3 tokens; scored $nScored")
      assert(distinct2 == 1L,
        s"order-2 must be EXACTLY blind on this corpus: $distinct2 distinct NLLs")
      assert(mw - mb >= 1000000.0,
        f"order-3 must split the styles by >= 1 nat/position: $mb%.0f vs $mw%.0f")
      spark.stop()
      return
    }

    if (args.headOption.contains("c417")) {
      // F50 certification (round 17): 1M pages / ~6M lines through the C4
      // heuristic cleaner, with every page-level verdict planted at a
      // known count (disjoint residues mod 1000) and the line rules
      // exercised on every page. Asserts the EXACT verdict histogram,
      // rerun determinism (bit_xor checksum over the full output incl.
      // the rebuilt text), and records the warm wall.
      val n = 1000000L
      val r = pmod(col("id"), lit(1000L))
      def filler(i: Int) = concat(lit("alpha beta tok"),
        pmod(hash(col("id") * 17 + i), lit(9999)).cast("string"),
        lit(" gamma delta."))
      val l1 = concat(lit("Bravo charlie line number "),
        pmod(hash(col("id") + 1), lit(997)).cast("string"), lit("!"))
      val junk1 = lit("short.")
      val junk2 = lit("no terminal punct line")
      val junk3 = lit("this page uses javascript heavily.")
      val special = when(r === 0, lit("Some lorem ipsum text appears here."))
        .when(r === 1, lit("A brace { hides in this line."))
        .when(r === 2, lit("The zmutx token is banned here."))
        .otherwise(filler(5))
      val text = when(r === 3, concat_ws("\n", junk1, filler(0), junk2))
        .otherwise(concat_ws("\n",
          filler(0), junk1, l1, junk2, junk3, special))
      val docs = spark.range(0, n)
        .select(col("id").as("doc_id"), text.as("text"))
        .localCheckpoint(eager = true)
      println(s"ADHOC c417 corpus=${docs.count()}")
      var out: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"c417 rep=$rep") {
          out = TextOps.c4Clean(Dedup.paragraphsOf(docs, "\n"),
              minWords = 3, minSentences = 2, badWords = Seq("zmutx"))
            .localCheckpoint(eager = true)
          out.count()
        }
      }
      val byV = out.groupBy(col("verdict")).count().collect()
        .map(rw => rw.getString(0) -> rw.getLong(1)).toMap
      println(s"ADHOC c417 verdicts=$byV")
      assert(byV == Map("kept" -> 996000L, "lorem_ipsum" -> 1000L,
        "brace" -> 1000L, "bad_word" -> 1000L,
        "too_few_sentences" -> 1000L), byV.toString)
      def sum(df: DataFrame): Long = df.agg(bit_xor(xxhash64(col("doc_id"),
        col("verdict"), col("n_kept"), coalesce(col("clean_text"), lit("")))))
        .head().getLong(0)
      val (s1, s2) = (sum(out),
        sum(TextOps.c4Clean(Dedup.paragraphsOf(docs, "\n"),
          minWords = 3, minSentences = 2, badWords = Seq("zmutx"))))
      assert(s1 == s2, s"rerun checksum drifted: $s1 vs $s2")
      println(s"ADHOC c417 checksum=$s1")
      spark.stop()
      return
    }

    if (args.headOption.contains("proto17")) {
      // F51 certification (round 17): 1M 16-dim vectors in 8 planted
      // orthogonal blobs through prototypeDiversify at drop = 0.5e6.
      // The binding assert is the RANK-COUNT LAW, which holds for ANY
      // clustering the fit produces: per cluster of size n_c, exactly
      // min(n_c, ceil(drop·(n_c−1)/10⁶)) vectors have pct < drop (the
      // F44 integer-rank arithmetic end to end at corpus scale). Plus
      // rerun determinism and the warm wall.
      val n = 1000000L
      val emb = spark.range(0, n).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(15)), i =>
            (when(i === pmod(col("id"), lit(8)).cast("int") * 2, lit(1.0))
              .otherwise(lit(0.0)) +
              pmod(hash(col("id") * 13 + i), lit(1000)).cast("double") /
                lit(100000.0)).cast("float")).as("embedding"))
        .localCheckpoint(eager = true)
      println(s"ADHOC proto17 corpus=${emb.count()}")
      val drop = 500000L
      var out: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"proto17 rep=$rep") {
          out = Similarity.prototypeDiversify(spark, emb, drop, k = 8)
            .localCheckpoint(eager = true)
          out.count()
        }
      }
      val perC = out.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("verdict") === "prototype", 1L).otherwise(0L)).as("p"))
        .collect().map(rw => (rw.getLong(0), rw.getLong(1), rw.getLong(2)))
      println(s"ADHOC proto17 clusters=${perC.sortBy(_._1).mkString(",")}")
      assert(perC.map(_._2).sum == n)
      perC.foreach { case (c, nc, p) =>
        val want = if (nc == 1) 0L
          else math.min(nc, (drop * (nc - 1) + 999999L) / 1000000L)
        assert(p == want, s"cluster $c: n=$nc prototypes=$p want=$want")
      }
      def sum2(df: DataFrame): Long = df.agg(bit_xor(xxhash64(col("vec_id"),
        col("cluster"), col("dist_sq"), col("pct_millionths"),
        col("verdict")))).head().getLong(0)
      val (s1, s2) = (sum2(out),
        sum2(Similarity.prototypeDiversify(spark, emb, drop, k = 8)))
      assert(s1 == s2, s"rerun checksum drifted: $s1 vs $s2")
      println(s"ADHOC proto17 checksum=$s1")
      spark.stop()
      return
    }

    if (args.headOption.contains("ccnet17")) {
      // F19c certification (round 17): 1M docs across 4 languages with
      // different length regimes through the bigram-LM fit + per-language
      // calibration + head/middle/tail cut. The binding assert is the
      // closed-form THIRDS LAW — per language of size n_l, the bucket
      // counts follow the integer pct arithmetic exactly (head =
      // #{pct ≤ 333333} = min(n_l, ceil(333334·(n_l−1)/10⁶)), etc.),
      // independent of score ties. Plus rerun determinism and the wall.
      val n = 1000000L
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          concat(lit("lang"), pmod(col("id"), lit(4)).cast("string")).as("lang"),
          concat_ws(" ", transform(sequence(lit(0),
              (pmod(hash(col("id")), lit(7)) + lit(7) +
                pmod(col("id"), lit(4)) * 3).cast("int")),
            i => concat(lit("tk"),
              pmod(hash(col("id") * 29 + i), lit(4000)).cast("string"))))
            .as("text"))
        .localCheckpoint(eager = true)
      println(s"ADHOC ccnet17 corpus=${docs.count()}")
      def run(): DataFrame = {
        val scored = TextOps.lmBigramScores(docs)
          .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        TextOps.scoreCalibration(scored, "nll_micros", sourceCol = "lang")
          .select(col("doc_id"), col("lang"), col("pct_millionths"),
            when(col("pct_millionths") * 3 <= 1000000L, lit("head"))
              .when(col("pct_millionths") * 3 <= 2000000L, lit("middle"))
              .otherwise(lit("tail")).as("bucket"))
      }
      var out: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"ccnet17 rep=$rep") {
          out = run().localCheckpoint(eager = true); out.count()
        }
      }
      val counts = out.groupBy(col("lang"), col("bucket")).count().collect()
        .map(rw => (rw.getString(0), rw.getString(1)) -> rw.getLong(2)).toMap
      val nl = out.groupBy(col("lang")).count().collect()
        .map(rw => rw.getString(0) -> rw.getLong(1)).toMap
      println(s"ADHOC ccnet17 counts=${counts.toSeq.sorted.mkString(",")}")
      assert(nl.values.sum == n, s"every doc scored: ${nl.values.sum}")
      def upto(le: Long, nn: Long): Long =
        if (nn == 1) (if (le >= 1000000L) 1L else 0L)
        else math.min(nn, ((le + 1) * (nn - 1) + 999999L) / 1000000L)
      nl.foreach { case (l, nn) =>
        val head = upto(333333L, nn)
        val mid = upto(666666L, nn) - head
        val tail = nn - head - mid
        assert(counts.getOrElse((l, "head"), 0L) == head &&
          counts.getOrElse((l, "middle"), 0L) == mid &&
          counts.getOrElse((l, "tail"), 0L) == tail,
          s"$l: n=$nn got=${counts.filter(_._1._1 == l)} want=($head,$mid,$tail)")
      }
      def sum3(df: DataFrame): Long = df.agg(bit_xor(xxhash64(col("doc_id"),
        col("lang"), col("pct_millionths"), col("bucket")))).head().getLong(0)
      val (s1, s2) = (sum3(out), sum3(run()))
      assert(s1 == s2, s"rerun checksum drifted: $s1 vs $s2")
      println(s"ADHOC ccnet17 checksum=$s1")
      spark.stop()
      return
    }

    if (args.headOption.contains("bpe17")) {
      // F52 certification (round 17): 1M docs over a 50k-word synthetic
      // vocabulary — fit 2000 merges on the top-20k words (one corpus
      // pass + bounded pull + driver learning), then encode all 1M docs
      // with the frozen kernel. Binding asserts: the LOSSLESSNESS LAW at
      // corpus scale (concat(tokens) per doc == text minus spaces, as a
      // full-corpus checksum equality), token counts bounded by
      // [n_words, n_codepoints], rerun determinism, and the walls for
      // fit and encode separately (the memo cache is what makes encode
      // ~O(text): only ~50k distinct words ever run the merge loop).
      val n = 1000000L
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          concat_ws(" ", transform(sequence(lit(0),
              (pmod(hash(col("id")), lit(8)) + lit(9)).cast("int")),
            i => concat(lit("w"),
              lower(conv(pmod(hash(col("id") * 31 + i), lit(50000))
                .cast("string"), 10, 36))))).as("text"))
        .localCheckpoint(eager = true)
      println(s"ADHOC bpe17 corpus=${docs.count()}")
      var model: TextOps.BpeModel = null
      time("bpe17 fit") {
        model = TextOps.bpeFit(docs, numMerges = 2000, vocabN = 20000)
        model.merges.length.toLong
      }
      println(s"ADHOC bpe17 merges=${model.merges.length}")
      var out: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"bpe17 encode rep=$rep") {
          out = docs.select(col("doc_id"), col("text"),
              model.encodeCol(col("text")).as("toks"))
            .select(col("doc_id"), col("text"),
              size(col("toks")).cast("long").as("n_toks"),
              concat_ws("", col("toks")).as("joined"))
            .localCheckpoint(eager = true)
          out.count()
        }
      }
      val law = out.agg(
        sum(when(col("joined") === regexp_replace(col("text"), " ", ""), 0L)
          .otherwise(1L)).as("viol"),
        sum(when(col("n_toks") >= size(split(col("text"), " ")) &&
          col("n_toks") <= length(regexp_replace(col("text"), " ", "")), 0L)
          .otherwise(1L)).as("bviol"),
        sum(col("n_toks"))).head()
      println(s"ADHOC bpe17 lossless_viol=${law.getLong(0)} " +
        s"bound_viol=${law.getLong(1)} total_tokens=${law.getLong(2)}")
      assert(law.getLong(0) == 0L && law.getLong(1) == 0L)
      def sum4(df: DataFrame): Long = df.agg(bit_xor(xxhash64(col("doc_id"),
        col("n_toks"), col("joined")))).head().getLong(0)
      val s2 = sum4(docs.select(col("doc_id"), col("text"),
        model.encodeCol(col("text")).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
          concat_ws("", col("toks")).as("joined")))
      assert(sum4(out) == s2, "rerun checksum drifted")
      println(s"ADHOC bpe17 checksum=$s2")
      spark.stop()
      return
    }

    if (args.headOption.contains("img17")) {
      // F53 certification (round 17): 1M stub-format images (720-byte
      // pseudo-random payloads) + 100k one-cell-dented twins + a
      // 2000-copy exact blob (the rep-collapse hazard), plus a 1.1k
      // REAL-PNG side corpus exercising the javax.imageio decode path.
      // Binding asserts: planted twin pairs found EXACTLY (banding
      // recall is exact by pigeonhole; random 64-bit sigs at 1M yield ~0
      // chance pairs), the blob collapses to one banded row but labels
      // one 2000-member cluster, the groups histogram is exact, and the
      // real-PNG perturbed twins pair at ≤ 3 bits. Reruns identical.
      import spark.implicits._
      val n = 1000000L
      def payload(seed: Long): Array[Byte] =
        Array.tabulate(720) { j =>
          // full avalanche per (seed, j): without it consecutive j's give
          // near-identical bytes, every base shares ~one signature, and
          // the band join degenerates quadratic (measured: filled the
          // disk at 1M rows before this mix)
          var v = seed * 2654435761L + j * 40503L
          v ^= v >>> 33; v *= -49064778989728563L; v ^= v >>> 33
          (v % 256).toByte
        }
      def dent(b: Array[Byte]): Array[Byte] = {
        val o = b.clone(); (100 until 110).foreach(i => o(i) = 250.toByte); o
      }
      val meta = Multimodal.MediaMeta("fake/raw", 9, 8)
      val base = spark.range(0, n).as[Long]
        .map(i => Multimodal.MediaRecord(i, "image", payload(i), meta))
      val twins = spark.range(0, n).as[Long].filter(_ % 10 == 0)
        .map(i => Multimodal.MediaRecord(10000000L + i, "image",
          dent(payload(i)), meta))
      val blob = spark.range(0, 2000).as[Long]
        .map(i => Multimodal.MediaRecord(20000000L + i, "image",
          payload(-1L), meta))
      val recs = base.unionByName(twins).unionByName(blob)
        .localCheckpoint(eager = true)
      println(s"ADHOC img17 corpus=${recs.count()}")
      var pairs: DataFrame = null
      for (rep <- 1 to 2) {
        time(s"img17 pairs rep=$rep") {
          pairs = Multimodal.imageNearDupPairs(recs, maxHamming = 3)
            .localCheckpoint(eager = true)
          pairs.count()
        }
      }
      val twinPlanted = pairs
        .filter(col("b_id") === col("a_id") + 10000000L).count()
      val blobPairs = pairs.filter(col("a_id") >= 20000000L).count()
      val crossNoise = pairs.filter(col("a_id") < 10000000L &&
        col("b_id") < 10000000L).count()
      println(s"ADHOC img17 planted_twin_pairs=$twinPlanted " +
        s"blob_pairs=$blobPairs base_chance_pairs=$crossNoise " +
        s"total=${pairs.count()}")
      // recall is EXACT (pigeonhole): every planted twin pair must
      // surface; a handful of 64-bit chance pairs among 1.1M random sigs
      // (measured: ~20) are correct output, not noise
      assert(twinPlanted == 100000L, s"planted twins: $twinPlanted")
      assert(blobPairs == 2000L * 1999 / 2, s"blob all-pairs: $blobPairs")
      var groups: DataFrame = null
      time("img17 groups") {
        groups = Multimodal.imageDedupGroups(spark, recs, maxHamming = 3)
          .localCheckpoint(eager = true)
        groups.count()
      }
      val hist = groups.groupBy(col("cluster_size")).agg(
        countDistinct(col("cluster_id")).as("k")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"ADHOC img17 cluster_histogram=$hist")
      assert(hist.get(2000L).contains(1L), hist.toString)
      assert(hist.getOrElse(2L, 0L) >= 100000L - crossNoise - 10, hist.toString)
      // real-decode side corpus: 1000 gradient PNGs + 100 perturbed twins
      def png(i: Long, perturb: Boolean): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(64, 64,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until 64; x <- 0 until 64) {
          val v0 = (x * 4 + (i % 7).toInt * 9) & 0xff
          val v = if (perturb && x < 8 && y < 8) 128 else v0
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val realMeta = Multimodal.MediaMeta("image/png", 0, 0)
      val reals = spark.range(0, 1000).as[Long]
        .map(i => Multimodal.MediaRecord(i, "image", png(i, perturb = false), realMeta))
      val realTwins = spark.range(0, 100).as[Long]
        .map(i => Multimodal.MediaRecord(1000000L + i, "image",
          png(i, perturb = true), realMeta))
      var realPairs = 0L
      time("img17 real_png_pairs") {
        realPairs = Multimodal.imageNearDupPairs(
          reals.unionByName(realTwins), maxHamming = 3)
          .filter(col("b_id") >= 1000000L && col("a_id") === col("b_id") - 1000000L)
          .count()
        realPairs
      }
      println(s"ADHOC img17 real_twin_pairs=$realPairs")
      assert(realPairs == 100L, s"real-decode twins: $realPairs")
      spark.stop()
      return
    }

    if (args.headOption.contains("aud18")) {
      // F54 audio-at-scale certification (round 18, VERDICT r17 item 3):
      // 500k synthesized WAVs through the REAL javax.sound.sampled
      // decode (rate varies 8k/16k/44.1k, width 8/16-bit, mono/stereo),
      // + 50k exact byte copies + 50k one-cell dents + ~43k stereo
      // re-layouts of mono bases. Frames are a multiple of 65 so
      // envelope cells align EXACTLY: a stereo re-layout hashes to the
      // identical 64 bits (integer-div equality, spec-pinned shape) and
      // a dent confined to cell 10 flips ≤ 2 comparison bits — so
      // banding recall at maxHamming 3 is EXACT for every plant class
      // (the img17 pigeonhole argument). The decode pass is timed
      // separately from the pair join: per-row PCM decode is the only
      // F54-specific code, exactly what the shared img17 cert does not
      // touch.
      import spark.implicits._
      val n = 500000L
      def mix(seed: Long, j: Long): Long = {
        var v = seed * 2654435761L + j * 40503L
        v ^= v >>> 33; v *= -49064778989728563L; v ^= v >>> 33
        v
      }
      // deterministic per-id synth: (rate, width, channels, frames)
      def shape(i: Long): (Float, Int, Int, Int) = (
        Array(8000f, 16000f, 44100f)((i % 3).toInt),
        if (i % 2 == 0) 16 else 8,
        if (i % 7 == 0) 2 else 1,
        65 * (10 + (i % 11).toInt))
      // PCM frame samples per channel slot, |max| amplitude per width
      def wavBytes(i: Long, dentCell: Int, forceStereo: Boolean): Array[Byte] = {
        import javax.sound.sampled._
        val (rate, width, ch0, frames) = shape(i)
        val ch = if (forceStereo) 2 else ch0
        val perCell = frames / 65 * ch // interleaved slots per envelope cell
        val slots = frames * ch
        val pcm = new Array[Byte](slots * (width / 8))
        var s = 0
        while (s < slots) {
          // forceStereo duplicates the MONO signal per frame (slot→frame
          // via s/ch); natural stereo varies per slot
          val t = if (forceStereo) s / ch else s
          val v = mix(i, t)
          val dented = dentCell >= 0 &&
            s >= dentCell * perCell && s < (dentCell + 1) * perCell
          if (width == 16) {
            val x = if (dented) 32767 else (v % 65536).toInt - 32768
            pcm(2 * s) = (x & 0xff).toByte
            pcm(2 * s + 1) = ((x >> 8) & 0xff).toByte
          } else {
            pcm(s) = if (dented) 255.toByte else (v % 256).toByte
          }
          s += 1
        }
        val fmt = new AudioFormat(rate, width, ch, width == 16, false)
        val bos = new java.io.ByteArrayOutputStream()
        AudioSystem.write(new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
          AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      val meta = Multimodal.MediaMeta("audio/wav", 0, 0)
      def rec(id: Long, b: Array[Byte]) = Multimodal.MediaRecord(id, "audio", b, meta)
      val base = spark.range(0, n).as[Long]
        .map(i => rec(i, wavBytes(i, -1, forceStereo = false)))
      val copies = spark.range(0, n).as[Long].filter(_ % 10 == 0)
        .map(i => rec(10000000L + i, wavBytes(i, -1, forceStereo = false)))
      val dents = spark.range(0, n).as[Long].filter(_ % 10 == 5)
        .map(i => rec(20000000L + i, wavBytes(i, 10, forceStereo = false)))
      // stereo re-layout only where the base is mono (i % 7 != 0)
      val stereo = spark.range(0, n).as[Long]
        .filter(i => i % 10 == 7 && i % 7 != 0)
        .map(i => rec(30000000L + i, wavBytes(i, -1, forceStereo = true)))
      val recs = base.unionByName(copies).unionByName(dents)
        .unionByName(stereo).localCheckpoint(eager = true)
      val total = recs.count()
      val nStereo = n / 10 - (0L until n by 10).count(i => (i + 7) % 7 == 0) // ids ≡7 (mod 10) ∧ ≡0 (mod 7)
      val bytes = recs.map(_.payload.length.toLong).reduce(_ + _)
      println(f"ADHOC aud18 corpus=$total bytes=${bytes / 1e6}%.0fMB")
      // decode throughput: the per-row javax.sound.sampled PCM pass,
      // isolated from the pair join (bit_xor forces every signature)
      var decoded = 0L
      for (rep <- 1 to 2) {
        time(s"aud18 decode rep=$rep") {
          val agg = Multimodal.audioHashes(recs)
            .agg(count(lit(1)).as("n"), bit_xor(col("sig")).as("x")).head()
          decoded = agg.getLong(0)
          println(f"ADHOC aud18 decode rep=$rep recs_per_sec≈see_secs xor=${agg.getLong(1)}%016x")
          decoded
        }
      }
      assert(decoded == total, s"every synthesized WAV must decode: $decoded/$total")
      var pairs: DataFrame = null
      time("aud18 pairs") {
        pairs = Multimodal.audioNearDupPairs(recs, maxHamming = 3)
          .localCheckpoint(eager = true)
        pairs.count()
      }
      val copyPairs = pairs.filter(col("b_id") === col("a_id") + 10000000L &&
        col("hamming") === 0L).count()
      val dentPairs = pairs.filter(col("b_id") === col("a_id") + 20000000L).count()
      val dentWorst = pairs.filter(col("b_id") === col("a_id") + 20000000L)
        .agg(max(col("hamming"))).head().getLong(0)
      val stereoPairs = pairs.filter(col("b_id") === col("a_id") + 30000000L &&
        col("hamming") === 0L).count()
      val chance = pairs.filter(col("a_id") < n && col("b_id") < n).count()
      println(s"ADHOC aud18 copy_pairs=$copyPairs dent_pairs=$dentPairs " +
        s"dent_worst_bits=$dentWorst stereo_pairs=$stereoPairs " +
        s"base_chance_pairs=$chance total=${pairs.count()}")
      assert(copyPairs == n / 10, s"exact copies: $copyPairs")
      assert(dentPairs == n / 10, s"dents: $dentPairs")
      assert(dentWorst <= 2L, s"a one-cell dent must flip <=2 bits: $dentWorst")
      assert(stereoPairs == nStereo, s"stereo re-layouts: $stereoPairs/$nStereo")
      spark.stop()
      return
    }

    if (args.headOption.contains("audprof")) {
      // driver-side micro-profile of the per-record WAV decode cost: is
      // the aud18 throughput bound by AudioSystem's global provider
      // lookup (2 calls/record) or by the PCM parse itself?
      import javax.sound.sampled._
      def wav(i: Long): Array[Byte] = {
        val frames = 975
        val pcm = Array.tabulate[Byte](frames * 2) { j =>
          var v = i * 2654435761L + j * 40503L
          v ^= v >>> 33; v *= -49064778989728563L; v ^= v >>> 33
          (v % 256).toByte
        }
        val fmt = new AudioFormat(8000f, 16, 1, true, false)
        val bos = new java.io.ByteArrayOutputStream()
        AudioSystem.write(new AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
          AudioFileFormat.Type.WAVE, bos)
        bos.toByteArray
      }
      val payloads = (0L until 20000L).map(wav).toArray
      val meta = Multimodal.MediaMeta("audio/wav", 0, 0)
      for (rep <- 1 to 3) {
        time(s"audprof current rep=$rep") {
          payloads.count(p => Multimodal.audioHash64(p, meta).isDefined).toLong
        }
        time(s"audprof sniff_only rep=$rep") {
          payloads.count { p =>
            AudioSystem.getAudioFileFormat(new java.io.ByteArrayInputStream(p))
              .getType.toString.nonEmpty
          }.toLong
        }
        time(s"audprof stream_only rep=$rep") {
          payloads.count { p =>
            val ais = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(p))
            try ais.getFormat.getSampleSizeInBits == 16 finally ais.close()
          }.toLong
        }
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("curate17")) {
      // Round-17 composed curation stress: 100k docs through C4 line
      // cleaning (F50) + paragraph cleanup (F49b) + exact/near dedup +
      // quality gate + calibrated per-source keep (F44b) + DSIR
      // resampling (F46b) + the AC screen, audited. Planted structure
      // with known stage-level outcomes; kept set rerun-identical.
      val n = 100000L
      val r1k = pmod(col("id"), lit(1000L))
      // mostly-unique tokens per line: a doc whose shingles are largely
      // corpus-common would be >60% boilerplate, where prefix-filtered
      // set-similarity is quadratic BY NATURE (the documented AllPairs
      // hazard — the first cut of this cert planted exactly that and the
      // near-dup stage exploded; boilerplate removal BEFORE dedup is the
      // published order for this reason)
      // hash() fillers, not linear mods: the second cut used
      // (k·id + i) mod 9973 and ids exactly 9973 apart collided on ALL
      // three fillers at once — their paragraphs were GENUINE J = 0.6
      // near-dups and the cleanup emptied 90% of the corpus (correct
      // behavior, wrong plant)
      def lineOf(tag: String, i: Int) = concat(
        lit(tag), col("id").cast("string"),
        lit(" alpha"), pmod(hash(col("id") * 31 + i), lit(99991)).cast("string"),
        lit(" beta"), pmod(hash(col("id") * 37 + i), lit(99991)).cast("string"),
        lit(" gamma"), pmod(hash(col("id") * 41 + i), lit(99991)).cast("string"),
        lit(" ends cleanly."))
      val boiler = lit("Subscribe to our newsletter for daily updates today.")
      // every doc: 3 unique good lines + 1 junk line + the shared
      // boilerplate line; docs ≡ 0 mod 1000 carry a brace (C4 drops
      // them); docs ≡ 1 mod 1000 share ONE fixed body (paragraph cleanup
      // empties all but the first; the empties exact-dedup to one rep,
      // which dies at the quality gate)
      val bodyBase = concat_ws("\n",
        lineOf("alpha", 0), lit("no terminal punct junk"),
        lineOf("beta", 1), boiler, lineOf("gamma", 2))
      val body = when(r1k === 1L,
        concat_ws("\n",
          lit("copyblob one fixed page body line here today."),
          boiler))
        .otherwise(bodyBase)
      val docs = spark.range(0, n).select(col("id").as("doc_id"),
          when(r1k === 0L, concat(body, lit("\nA brace { appears.")))
            .otherwise(body).as("text"),
          concat(lit("s"), pmod(col("id"), lit(4)).cast("string")).as("source"))
        .localCheckpoint(eager = true)
      val target = spark.range(0, 2000).select(
        (col("id") + 5000000L).as("doc_id"),
        concat(lit("tgt"), col("id").cast("string"),
          lit(" alpha"), pmod(col("id") * 7, lit(9973)).cast("string"),
          lit(" beta"), pmod(col("id") * 13, lit(9973)).cast("string"),
          lit(" ends cleanly.")).as("text"))
      println(s"ADHOC curate17 corpus=${docs.count()}")
      def run() = Graft.curateCorpusAudited(spark, docs,
        screenPhrases = Seq("forbidden phrase never present"),
        quality = Graft.QualityGate(minTokens = 3, maxTokens = 10000),
        c4 = Some(Graft.C4Clean(minSentences = 2)),
        paragraphs = Some(Graft.ParagraphClean(sepRegex = "\n", joiner = "\n")),
        calibrated = Some(Graft.CalibratedKeep(
          score = length(col("text")).cast("double"),
          minPctMillionths = 200000L)),
        dsir = Some(Graft.DsirKeep(target = target, buckets = 4096)))
      var kept1: Set[Long] = null
      var audit1: Seq[Graft.StageCount] = null
      for (rep <- 1 to 2) {
        val t0 = System.nanoTime()
        val (out, audit) = run()
        val keptIds = out.select("doc_id").collect().map(_.getLong(0)).toSet
        val secs = (System.nanoTime() - t0) / 1e9
        if (rep == 1) {
          kept1 = keptIds; audit1 = audit
          audit.foreach(a => println(
            f"ADHOC curate17_stage ${a.stage}%-16s kept=${a.kept} dropped=${a.dropped}"))
        } else assert(keptIds == kept1, "kept set must be rerun-identical")
        println(f"ADHOC curate17 rep=$rep kept=${keptIds.size} secs=$secs%.1f")
      }
      val byStage = audit1.map(a => a.stage -> a).toMap
      // C4 drops exactly the 100 brace pages
      assert(byStage("c4_clean").dropped == 100L, byStage("c4_clean").toString)
      // the paragraph rewrite drops no rows (its victims die later)
      assert(byStage("paragraph_clean").dropped == 0L,
        byStage("paragraph_clean").toString)
      // no brace page and no copy page (beyond its one surviving rep)
      // reaches the output
      assert(kept1.forall(id => id % 1000L != 0L), "brace pages leaked")
      assert(kept1.count(id => id % 1000L == 1L) <= 1, "copy pages leaked")
      assert(kept1.nonEmpty)
      spark.stop()
      return
    }

    if (args.headOption.contains("curate")) {
      // end-to-end curation stress: the composed user-facing pipeline at
      // 50k docs, with the audit trail and total shuffle volume recorded
      val shuffleWrite = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          shuffleWrite.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
      val docs = scaled.withColumn("lang", lit("en"))
        .withColumn("source", lit("adhoc"))
        .withColumn("n_chars", length(col("text")).cast("long"))
      for (rep <- 1 to 2) {
        Thread.sleep(2000) // listener bus is async — let prior events drain
        val s0 = shuffleWrite.get()
        val t0 = System.nanoTime()
        val (out, audit) = Graft.curateCorpusAudited(spark, docs,
          screenPhrases = Seq("alpha beta gamma", "the quick brown fox"))
        val packed = out.count()
        val secs = (System.nanoTime() - t0) / 1e9
        Thread.sleep(2000) // drain trailing stage-completed events too
        audit.foreach(a => println(f"ADHOC curate_stage rep=$rep ${a.stage}%-14s kept=${a.kept} dropped=${a.dropped}"))
        println(f"ADHOC curate_50k rep=$rep packed_rows=$packed secs=$secs%.2f " +
          f"shuffle_written_mb=${(shuffleWrite.get() - s0) / 1e6}%.1f")
      }
      spark.stop()
      return
    }

    if (args.headOption.contains("lmscore19")) {
      // Round-19 A/B cert (VERDICT r18 item 2): a FROZEN-path scoring
      // pass over 1M docs — the cross-corpus gating shape the frozen
      // models advertise (fit once elsewhere, score a whole corpus).
      // Compares the interpreted aggregate()/zip_with fold against the
      // new codegen lm_score kernel: totals must be bit-identical and
      // the kernel ≥3× faster. Also A/Bs the DSIR gram_sum kernel.
      val n = sys.env.getOrElse("ADHOC_LM_N", "1000000").toLong
      def textOf = concat_ws(" ",
        transform(sequence(lit(0), (pmod(hash(col("id")), lit(16)) + lit(15)).cast("int")),
          i => concat(lit("w"),
            lower(conv(pmod(hash(col("id") * 31 + i), lit(50000)).cast("string"), 10, 36)))))
      val corpus = spark.range(0, n)
        .select(col("id").as("doc_id"), textOf.as("text"))
        .localCheckpoint(eager = true)
      println(s"ADHOC lmscore19 corpus=${corpus.count()}")
      // the model is fit ONCE on a 1% slice (the frozen contract: the
      // serving corpus is NOT the fit corpus)
      val seed = corpus.filter(col("doc_id") % 100 === 0)
      val lm = TextOps.trigramLmFit(seed, buckets = 4096)
      def run(label: String, c: org.apache.spark.sql.Column): (Long, Long, Double) = {
        var out: (Long, Long) = null
        val t0 = System.nanoTime()
        val r = corpus.agg(sum(c).as("s"), count(c).as("n")).head()
        out = (r.getLong(0), r.getLong(1))
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"ADHOC lmscore19 $label sum=${out._1} n=${out._2} secs=$secs%.2f")
        (out._1, out._2, secs)
      }
      // warm both paths once at 1/16 scale so codegen + JIT are paid
      corpus.filter(col("doc_id") % 16 === 0)
        .agg(sum(lm.sumMicrosCol(col("text"))), sum(lm.sumMicrosFoldCol(col("text")))).head()
      val (ks, kn, kt) = run("kernel rep=1", lm.sumMicrosCol(col("text")))
      val (ks2, _, kt2) = run("kernel rep=2", lm.sumMicrosCol(col("text")))
      val (fs, fn, ft) = run("fold  rep=1", lm.sumMicrosFoldCol(col("text")))
      assert(ks == fs && kn == fn && ks == ks2,
        s"kernel/fold diverged: $ks/$fs n=$kn/$fn")
      val speedup = ft / math.min(kt, kt2)
      println(f"ADHOC lmscore19 trigram speedup=${speedup}%.2fx")
      assert(speedup >= 3.0, f"kernel speedup $speedup%.2fx < 3x")
      // DSIR serving kernel: same corpus, frozen ratio model
      val dm = TextOps.dsirFit(seed, seed.filter(col("doc_id") % 200 === 0),
        buckets = 4096)
      val (gks, _, gkt) = run("gram_sum kernel", dm.logRatioCol(col("text")))
      val (gfs, _, gft) = run("gram_sum fold  ", dm.logRatioFoldCol(col("text")))
      assert(gks == gfs, s"gram_sum kernel/fold diverged: $gks/$gfs")
      println(f"ADHOC lmscore19 dsir speedup=${gft / gkt}%.2fx")
      spark.stop()
      return
    }

    for (rep <- 1 to 2) {
      time("sig_50k") { MinHash.signatures(scaled).count() }
      time("lsh_pairs_50k") { MinHash.candidatePairs(scaled, 0.5).count() }
      time("shingle_explode_50k") { MinHash.hashedShingles(scaled).count() }
      time("cc_50k") {
        // edges from banded LSH candidates (est >= 0.8) — the scale path;
        // exact-jaccard edge gen at 50k docs is the n-gram self-join
        val edges = MinHash.candidatePairs(scaled, 0.8)
          .select(col("a_id"), col("b_id"))
        Dedup.connectedComponents(spark,
          scaled.select(col("doc_id")), edges).filter(col("doc_id") =!= col("cluster_id")).count()
      }
    }
    spark.stop()
  }
}
