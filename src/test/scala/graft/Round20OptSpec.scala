package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Optimization-round-20 equivalence pins: every internals change this
  * round replaced a declarative (explode/join) form with a kernel or a
  * literal filter — these specs re-derive the RETIRED form in-spec and
  * assert bit-identical output, so the optimization can never silently
  * change what a graded query computes.
  */
class Round20OptSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("round20opt")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    functions.VectorFunctions.register(s)
    s
  }

  /** Edge-heavy corpus: empties, single tokens, doubled spaces (empty
    * tokens), unicode, repeats, a NULL text. */
  private def corpus(): DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the the the the"),
      (3L, ""),
      (4L, "one"),
      (5L, "a  b   c"), // doubled/tripled spaces → empty tokens
      (6L, "naïve café über alles naïve café"),
      (7L, "x y"),
      (8L, null.asInstanceOf[String]),
      (9L, "the quick brown fox jumps over the lazy dog"),
      (10L, " leading and trailing ")
    ).toDF("doc_id", "text")
  }

  /** The RETIRED unified gram explode, re-derived declaratively. */
  private def explodeCounts(df: DataFrame, maxOrder: Int, buckets: Int)
      : Map[(Int, Long), Long] = {
    val empty = array().cast("array<struct<o:int,g:string>>")
    def ngrams(o: Int) =
      when(size(col("t")) >= o,
        transform(sequence(lit(0), (size(col("t")) - o).cast("int")), i =>
          struct(lit(o).as("o"),
            concat_ws(" ", (1 to o).map(k =>
              element_at(col("t"), i + k)): _*).as("g"))))
        .otherwise(empty)
    df.filter(col("text").isNotNull)
      .select(split(col("text"), " ").as("t"))
      .select(explode(concat((1 to maxOrder).map(ngrams): _*)).as("x"))
      .select(col("x.o").as("o"),
        pmod(conv(substring(md5(col("x.g")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).as("b"))
      .groupBy(col("o"), col("b")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
  }

  test("gram_bucket_counts ≡ the retired unified gram explode (orders 1–5)") {
    val df = corpus()
    for (buckets <- Seq(16, 1024)) {
      val maxOrder = 5
      val flat = df.filter(col("text").isNotNull)
        .agg(call_function("gram_bucket_counts", col("text"),
          lit(1), lit(maxOrder), lit(buckets)))
        .head().getSeq[Long](0)
      assert(flat.length == maxOrder * buckets)
      val ref = explodeCounts(df, maxOrder, buckets)
      for (o <- 1 to maxOrder; b <- 0 until buckets) {
        val got = flat((o - 1) * buckets + b)
        val want = ref.getOrElse((o, b.toLong), 0L)
        assert(got == want, s"order $o bucket $b: kernel $got vs explode $want")
      }
    }
  }

  test("gram_bucket_counts partial-agg merge: counts invariant under repartition") {
    val df = corpus()
    def pull(d: DataFrame) = d.filter(col("text").isNotNull)
      .agg(call_function("gram_bucket_counts", col("text"), lit(1), lit(3), lit(64)))
      .head().getSeq[Long](0)
    assert(pull(df.repartition(7)) == pull(df.coalesce(1)))
  }

  test("LM batch scorers (lm_score kernel) ≡ the interpreted fold twins") {
    val df = corpus()
    // bigram
    val lm2 = TextOps.bigramLmFit(df, 64)
    val ref2 = df.filter(col("text").isNotNull && size(split(col("text"), " ")) >= 2)
      .select(col("doc_id"), (-lm2.sumMicrosFoldCol(col("text"))).as("nll"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got2 = TextOps.lmBigramScores(df, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got2 == ref2)
    // trigram
    val lm3 = TextOps.trigramLmFit(df, 64)
    val ref3 = df.filter(col("text").isNotNull && size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"), (-lm3.sumMicrosFoldCol(col("text"))).as("nll"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got3 = TextOps.lmTrigramScores(df, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got3 == ref3)
    // order 5
    val lm5 = TextOps.ngramLmFit(df, 5, 64)
    val ref5 = df.filter(col("text").isNotNull && size(split(col("text"), " ")) >= 5)
      .select(col("doc_id"), (-lm5.sumMicrosFoldCol(col("text"))).as("nll"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got5 = TextOps.lmNgramScores(df, 5, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got5 == ref5)
  }

  test("dsirWeights (kernel fit + gram_sum scoring) ≡ the retired explode") {
    val df = corpus()
    val target = df.filter(col("doc_id") % 2 === 0)
    val buckets = 64
    // retired reference, re-derived: explode unigrams+bigrams, fit both
    // models, score via per-gram table lookup + doc agg
    def gramBuckets(d: DataFrame) = d
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), explode(concat(
          col("t"),
          when(size(col("t")) >= 2,
            transform(sequence(lit(0), (size(col("t")) - 2).cast("int")), i =>
              concat_ws(" ", element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
            .otherwise(array().cast("array<string>"))))
        .as("g"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).as("b"))
    def fit(d: DataFrame): (Map[Long, Long], Long) = {
      val rows = d.groupBy(col("b")).agg(count(lit(1)).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (rows, rows.values.sum)
    }
    val (tc, tn) = fit(gramBuckets(target))
    val (rc, rn) = fit(gramBuckets(df))
    val lr = (0L until buckets.toLong).map { b =>
      val pt = (tc.getOrElse(b, 0L) + 1.0) / (tn + buckets)
      val pr = (rc.getOrElse(b, 0L) + 1.0) / (rn + buckets)
      math.floor((math.log(pt) - math.log(pr)) * 1e6).toLong
    }
    val ref = gramBuckets(df)
      .select(col("doc_id"),
        element_at(typedLit(lr), (col("b") + 1).cast("int")).as("lr"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), sum(col("lr")).as("logratio_micros"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = TextOps.dsirWeights(df, target, buckets)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == ref)
  }

  test("lmAutoOrder occupancy from the kernel counts ≡ countDistinct over the explode") {
    val df = corpus()
    for ((budget, buckets) <- Seq((5L, 16), (40L, 64), (1000L, 64))) {
      // reference: the retired countDistinct occupancy
      val maxOrder = 4
      val ref = {
        val occ = explodeCounts(df, maxOrder, buckets)
          .groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
        def estTypes(o: Int): Double = {
          val k = occ.getOrElse(o, 0L)
          if (k >= buckets) Double.PositiveInfinity
          else -buckets.toDouble * math.log1p(-k.toDouble / buckets)
        }
        val fits = (1 to maxOrder).map(o => estTypes(o) <= budget.toDouble)
        (2 to maxOrder).foldLeft(2) { (best, o) =>
          if (fits.take(o).forall(identity)) o else best
        }
      }
      assert(TextOps.lmAutoOrder(df, maxOrder, budget, buckets) == ref,
        s"budget=$budget buckets=$buckets")
    }
  }

  test("CC local finish ≡ the distributed loops on every graph shape") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // mixed shapes: deep chain, clique, random blob, isolated pair,
    // singletons, duplicate + reversed edges
    val chain = (0L until 120L).sliding(2).map(s => (s(0), s(1))).toSeq
    val clique = for (a <- 200L until 212L; b <- (a + 1) until 212L) yield (a, b)
    val blob = Seq.fill(300)((300L + rnd.nextInt(80), 300L + rnd.nextInt(80)))
      .filter(p => p._1 != p._2)
    val dupRev = Seq((0L, 1L), (1L, 0L), (500L, 501L), (501L, 500L))
    val edges = (chain ++ clique ++ blob ++ dupRev).toDF("a_id", "b_id")
    val nodes = ((0L until 120L) ++ (200L until 212L) ++ (300L until 380L) ++
      (500L until 505L)).toDF("doc_id")
    def lbls(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val local = lbls(Dedup.connectedComponents(spark, nodes, edges))
    val distMin = DriverPull.forcingFallbacks(lbls(
      Dedup.connectedComponentsWithRounds(spark, nodes, edges, maxIters = 200)._1))
    val distStar = DriverPull.forcingFallbacks(lbls(
      Dedup.connectedComponentsStarWithRounds(spark, nodes, edges)._1))
    assert(local == distMin, "local finish diverged from min-label")
    assert(local == distStar, "local finish diverged from star")
    // star entry point local path too
    val localStar = lbls(Dedup.connectedComponentsStarWithRounds(
      spark, nodes, edges)._1)
    assert(localStar == distStar)
    // edge-less input: all self-labels on both paths
    val solo = lbls(Dedup.connectedComponents(spark,
      Seq(1L, 2L).toDF("doc_id"),
      spark.range(0).select(col("id").as("a_id"), col("id").as("b_id"))))
    assert(solo == Seq((1L, 1L), (2L, 2L)))
  }

  test("localMinLabels union-find: exact set minima") {
    val m = Dedup.localMinLabels(Array((5L, 3L), (3L, 9L), (20L, 21L), (7L, 7L)))
    assert(m.get(5L) == 3L && m.get(3L) == 3L && m.get(9L) == 3L)
    assert(m.get(20L) == 20L && m.get(21L) == 20L && m.get(7L) == 7L)
  }

  test("prefix_top_values kernel ≡ the retired freq-join + collect_top_k chain") {
    import spark.implicits._
    val q = 3
    val k = 7
    val docs = Seq(
      (1L, "the cat sat on the mat the cat"),
      (2L, "aaaaaaaaaaaaaaa"), // degenerate: one repeated gram
      (3L, "xyzzyxzyzxyzzyx"),
      (4L, "short"),
      (5L, "the quick brown fox jumps over the lazy dog again and again"),
      (6L, "naïve café über façade naïve café") // multibyte
    ).toDF("doc_id", "text")
    val g = docs.select(col("doc_id"),
      call_function("char_qgram_hashes", col("text"), lit(q)).as("g"))
    val gx = g.select(col("doc_id"), explode(col("g")).as("gh"))
    val dfreq = gx.groupBy(col("gh")).agg(count(lit(1)).as("freq"))
    // retired shape
    val ref = gx.join(broadcast(dfreq), Seq("gh"))
      .select(col("doc_id"),
        struct((-col("freq")).as("nf"), expr("~gh").as("ngh")).as("p"))
      .groupBy(col("doc_id"))
      .agg(call_function("collect_top_k", col("p"), lit(k), lit(false)).as("top"))
      .select(col("doc_id"),
        expr("transform(sort_array(top, false), p -> ~p.ngh)").as("kvals"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // kernel shape
    val rows = dfreq.collect()
    val keys = rows.map(_.getLong(0)).toSeq
    val freqs = rows.map(_.getLong(1)).toSeq
    val got = docs.select(col("doc_id"),
        call_function("prefix_top_values",
          call_function("char_qgram_hashes", col("text"), lit(q)),
          lit(k), typedLit(keys), typedLit(freqs)).as("kvals"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got == ref)
  }

  test("editDistancePairsQGram (kernel prefix path) ≡ the banded exact baseline") {
    import spark.implicits._
    // near-dup chain at distance 2–6 + unrelated docs + a short doc
    val base = "the quick brown fox jumps over the lazy dog and then some more"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("quick", "quack")),
      (3L, base.replace("jumps", "stomps")),
      (4L, "a completely different document about other things entirely here"),
      (5L, "tiny"),
      (6L, base + " tail")
    ).toDF("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = pairs(Dedup.editDistancePairsQGram(spark, docs, 8))
    val want = pairs(Dedup.editDistancePairsOf(docs, 8))
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }

  test("domainGate literal fast path ≡ the bloom-join path (block + allow)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://news.example.com/a"),
      (2L, "http://blog.sub.example.co.uk/x?utm_source=t"),
      (3L, "https://shop.example.com.au/"),
      (4L, "http://example.net/p"),
      (5L, null.asInstanceOf[String]),
      (6L, "https://api.example.com/v1")
    ).toDF("doc_id", "url")
    val blocked = Seq("example.co.uk", "example.com.au")
    val allowed = Seq("example.com", "example.net")
    // reference: the join path, forced by a list wider than the literal
    // threshold (pad with never-matching domains)
    val pad = (1 to Urls.MaxLiteralGateList).map(i => s"zz-pad-$i.invalid")
    def ids(d: DataFrame) = d.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids(Urls.domainGate(docs, blocked)) ==
      ids(Urls.domainGate(docs, blocked ++ pad)))
    assert(ids(Urls.domainGate(docs, blocked, Some(allowed))) ==
      ids(Urls.domainGate(docs, blocked ++ pad, Some(allowed ++ pad))))
    assert(ids(Urls.domainGate(docs, Nil, Some(allowed))) ==
      ids(Urls.domainGate(docs, Nil, Some(allowed ++ pad))))
  }
}
