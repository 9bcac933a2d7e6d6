package graft

import org.apache.spark.sql.functions._

/** Optimization round 21: equivalence pins for every operator whose
  * internals changed this round.
  *
  *   1. `qgram_freq_agg` — the one-pass edit-join frequency fit — must
  *      produce the exact table the retired explode → groupBy shape
  *      built, overflow to NULL past its vocab cap, and survive
  *      merge-heavy plans (repartition invariance).
  *   2. `url_host` / `reg_domain` — the byte-walk F60 kernels — must be
  *      byte-equal to the retired regex/split chains on every
  *      manufactured shape plus adversarial corners (the DuckDB oracle
  *      still computes the chains independently, so the graded parity
  *      hash re-proves this corpus-wide at verify time).
  *   3. The edit-join short-zone restructure (length predicate instead
  *      of membership joins) and the jaccard base lineage cut are
  *      covered by the existing DedupSpec/Round11OpsSpec equivalence
  *      laws, re-run green this round; the pins here add the corpus-
  *      level identity against the banded reference at a second q.
  *   4. Every kernel-or-fallback fork decided through [[DriverPull]]
  *      returns the same rows on both sides: each operator runs once
  *      plainly (kernel or local path, on these small seeded inputs) and
  *      once under `DriverPull.forcingFallbacks` (distributed path).
  */
class Round21OptSpec extends SparkSpec {

  import spark.implicits._

  private def docsDf(rows: Seq[(Long, String)]) =
    rows.toDF("doc_id", "text")

  // ---- 1. qgram_freq_agg ≡ explode + groupBy ------------------------------

  private val fitCorpus = docsDf(Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumped over a lazy dog",
    3L -> "pack my box with five dozen liquor jugs",
    4L -> "aaaaaaaaaaaaaaaaaaaaaa", // self-repetitive: heavy duplicate grams
    5L -> "héllo wörld — mültibyte ünïcode bytes",
    6L -> "", // shorter than q: contributes nothing
    7L -> null.asInstanceOf[String] // NULL text: contributes nothing
  ))

  private def oldFit(q: Int): Map[Long, Long] =
    fitCorpus
      .select(explode(call_function("char_qgram_hashes", col("text"), lit(q))).as("gh"))
      .groupBy(col("gh")).agg(count(lit(1)).as("freq"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def newFit(q: Int, maxVocab: Int): Option[(Seq[Long], Seq[Long])] = {
    val row = fitCorpus
      .agg(call_function("qgram_freq_agg", col("text"), lit(q), lit(maxVocab)).as("ft"))
      .head()
    if (row.isNullAt(0)) None
    else {
      val st = row.getStruct(0)
      Some((st.getSeq[Long](0).toSeq, st.getSeq[Long](1).toSeq))
    }
  }

  test("qgram_freq_agg matches the explode+groupBy fit exactly (q = 3, 4, 8)") {
    for (q <- Seq(3, 4, 8)) {
      val old = oldFit(q)
      val Some((keys, freqs)) = newFit(q, 1 << 16)
      assert(keys == keys.sorted, s"q=$q: keys must be ascending")
      assert(keys.distinct.size == keys.size, s"q=$q: keys must be distinct")
      assert(keys.zip(freqs).toMap == old,
        s"q=$q: aggregate table != explode+groupBy table")
    }
  }

  test("qgram_freq_agg is repartition-invariant (merge path exercised)") {
    val base = oldFit(4)
    for (n <- Seq(1, 3, 7)) {
      val row = fitCorpus.repartition(n)
        .agg(call_function("qgram_freq_agg", col("text"), lit(4), lit(1 << 16)).as("ft"))
        .head()
      val st = row.getStruct(0)
      assert(st.getSeq[Long](0).zip(st.getSeq[Long](1)).toMap == base,
        s"repartition($n) changed the fit")
    }
  }

  test("qgram_freq_agg overflows to NULL past its vocab cap — never a wrong table") {
    val vocab = oldFit(4).size
    assert(vocab > 8, "corpus too small to exercise overflow")
    assert(newFit(4, vocab).isDefined, "cap == vocab must fit")
    assert(newFit(4, vocab - 1).isEmpty, "cap == vocab-1 must overflow to NULL")
    assert(newFit(4, 1).isEmpty)
  }

  test("editDistancePairsQGram stays identical to the banded reference at q = 3") {
    // a second q (the graded queries run q = 4) so the freq-fit rewire is
    // pinned off the default path too; corpus plants near-dups, an exact
    // dup pair, short-zone strings, and multibyte text
    val docs = docsDf(Seq(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumped over the lazy dog",
      3L -> "the quick brown fox jumps over the lazy dog",
      4L -> "pack my box with five dozen liquor jugs",
      5L -> "tiny",
      6L -> "tony",
      7L -> "héllo wörld",
      8L -> "héllo wörld!"
    ))
    val ref = Dedup.editDistancePairsOf(docs, 4)
      .orderBy("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = Dedup.editDistancePairsQGram(spark, docs, 4, q = 3)
      .orderBy("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == ref.toSeq)
    assert(ref.nonEmpty, "corpus must actually produce pairs")
  }

  // ---- 2. url_host / reg_domain ≡ the retired regex/split chains ----------

  /** The retired declarative host chain, verbatim. */
  private def regexHostCol(url: org.apache.spark.sql.Column) = {
    val nofrag = regexp_extract(url, "^[^#]*", 0)
    val rest = regexp_replace(nofrag, "^[^:]+://", "")
    val auth = regexp_extract(rest, "^[^/?]*", 0)
    lower(regexp_extract(auth, "^[^:]*", 0))
  }

  /** The retired declarative registered-domain chain, verbatim. */
  private def splitDomainCol(host: org.apache.spark.sql.Column) = {
    val labels = split(host, "[.]")
    val n = size(labels)
    val last2 = concat_ws(".", slice(labels, n - 1, lit(2)))
    val last3 = concat_ws(".", slice(labels, n - 2, lit(3)))
    when(n >= 3 && last2.isin(Urls.MultiPartSuffixes: _*), last3)
      .when(n >= 2, last2)
      .otherwise(host)
  }

  private val urlCorners = Seq(
    "HTTP://WWW.Example.COM/Path/File", "http://a.com/x#frag",
    "http://a.com/x#", "http://a.com:80/x", "https://a.com:443/x",
    "http://a.com:8080/x", "http://a.com", "http://a.com?b=2&a=1",
    "https://blog.sub.example.co.uk/p/q?z=9", "ftp://Shop.Example.COM.AU",
    "http://localhost:8080/", "http://co.uk/", "example.net/no-scheme",
    "://no-scheme-host", "http://", "x:/y", "http://a.com/p://weird",
    "#onlyfrag", "", "no-delimiters-at-all", "http://host#frag:8080/x",
    "https://Data.Example.co.uk?a", "http://a..b/x", "http://a../",
    "http://.a/", "http://.", "http://..", "http://:8080/x",
    "http://HÖST.example.com/x", "http://a.com/ü?k=v#f"
  )

  test("url_host kernel is byte-equal to the retired regex chain") {
    val df = urlCorners.map(Tuple1(_)).toDF("url")
      .select(col("url"),
        call_function("url_host", col("url")).as("k"),
        regexHostCol(col("url")).as("r"))
    val bad = df.filter(!(col("k") <=> col("r"))).collect()
    assert(bad.isEmpty, s"kernel != regex chain on: ${bad.mkString(", ")}")
  }

  test("reg_domain kernel is byte-equal to the retired split chain") {
    val hosts = urlCorners ++ Seq("blog.sub.example.co.uk", "example.com.au",
      "a.b.c.d.e", "co.uk", "uk", "a..", "..", ".", "a.co.uk", "x.com.br",
      "deep.path.ac.uk", "AC.UK")
    val df = hosts.map(Tuple1(_)).toDF("h")
      .select(col("h"),
        call_function("reg_domain", col("h"), typedLit(Urls.MultiPartSuffixes)).as("k"),
        splitDomainCol(col("h")).as("r"))
    val bad = df.filter(!(col("k") <=> col("r"))).collect()
    assert(bad.isEmpty, s"kernel != split chain on: ${bad.mkString(", ")}")
  }

  // ---- 3. cos_edges_above kernel ≡ the nested-loop join edge build --------

  test("exactCosineEdges kernel path matches the join shape edge-for-edge") {
    val rnd = new scala.util.Random(21)
    val rows = (1L to 200L).map { i =>
      (i, Array.fill(16)((rnd.nextFloat() - 0.5f) * 2f).toSeq)
    } ++ Seq(
      (202L, null.asInstanceOf[Seq[Float]]) // null embedding drops both ways
    )
    val emb = rows.toDF("vec_id", "embedding")
    val minCos = 0.2
    // the retired join shape, verbatim
    def n = emb.select(col("vec_id"), col("embedding"),
      sqrt(call_function("fvec_dot", col("embedding"), col("embedding"))).as("nrm"))
    def s(p: String) = n.select(col("vec_id").as(s"${p}_id"),
      col("embedding").as(s"${p}_emb"), col("nrm").as(s"${p}_nrm"))
    val ref = s("a").join(s("b"), col("a_id") < col("b_id"))
      .filter(call_function("fvec_dot", col("a_emb"), col("b_emb")) /
        (col("a_nrm") * col("b_nrm")) >= minCos)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Similarity.exactCosineEdges(spark, emb, minCos)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == ref)
    assert(ref.nonEmpty, "corpus must actually produce edges")
  }

  test("cos_edges_above raises ANSI divide-by-zero on a zero-norm vector, like the join") {
    // the retired join's Divide raises under ANSI when a norm is 0.0; the
    // kernel must not be quietly more tolerant on contract-violating input
    val emb = (Seq((1L, Seq.fill(8)(0f))) ++
      (2L to 4L).map(i => (i, Seq.fill(8)(i.toFloat)))).toDF("vec_id", "embedding")
    val e = intercept[org.apache.spark.SparkException] {
      Similarity.exactCosineEdges(spark, emb, 0.2).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(_.isInstanceOf[ArithmeticException]),
      s"expected an ArithmeticException cause, got: $e")
  }

  // ---- 4. term_tf_counts kernel ≡ the explode + join BM25 tf pass ---------

  test("bm25Scores kernel path matches the explode+join shape row-for-row") {
    val docs = docsDf(Seq(
      1L -> "the cat sat on the mat",
      2L -> "the dog  sat", // double space: empty token preserved
      3L -> "cat cat cat dog",
      4L -> "völlig ünrelated wörds",
      5L -> "",
      6L -> null.asInstanceOf[String]
    ))
    val terms = Seq("cat", "the", "dog", "absent", "cat", null)
      .map(Tuple1(_)).toDF("term") // duplicate + null query terms
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val got = canon(TextOps.bm25Scores(docs, terms))
    // the retired shape, verbatim
    val base = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("toks"), size(col("toks")).cast("long").as("dl"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = base.select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(terms.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("doc_id"), col("term"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf6 = Tables.trunc6(log(
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)))
    val tfNorm = (col("tf") * lit(2.25)) /
      (col("tf") + lit(1.25) * (lit(1.0) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
    val ref = canon(tf.join(broadcast(df_), Seq("term")).crossJoin(broadcast(stats))
      .select(col("doc_id"), floor(idf6 * tfNorm * lit(1000000.0)).cast("long").as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("score_micros")))
    assert(got == ref)
    assert(ref.nonEmpty)
  }

  // ---- 5. kernel ≡ fallback through the DriverPull hook --------------------

  private def words(rnd: scala.util.Random, n: Int): String =
    Seq.fill(n)(s"w${rnd.nextInt(40)}").mkString(" ")

  /** Runs `op` plainly and with every budget forced to 0; asserts the two
    * results are equal and that `kernel` names an expression only the
    * plain plan holds (the hook really moved the fork). */
  private def bothSides[A](kernel: Option[String])(
      op: => org.apache.spark.sql.DataFrame)(rows: org.apache.spark.sql.DataFrame => A): A = {
    val plain = op
    val forced = DriverPull.forcingFallbacks(op)
    kernel.foreach { k =>
      assert(plain.queryExecution.analyzed.toString.contains(k), s"plain run lost $k")
      assert(!forced.queryExecution.analyzed.toString.contains(k), s"forced run kept $k")
    }
    val want = rows(plain)
    assert(rows(forced) == want, "the forced fallback changed the result")
    want
  }

  test("exactCosineEdges: the kernel and the forced join return the same edges") {
    val rnd = new scala.util.Random(5)
    val emb = ((1L to 150L).map(i => (i, Seq.fill(12)((rnd.nextFloat() - 0.5f) * 2f))) ++
      Seq((151L, null.asInstanceOf[Seq[Float]]))).toDF("vec_id", "embedding")
    val got = bothSides(Some("cos_edges_above"))(
      Similarity.exactCosineEdges(spark, emb, 0.3))(
      _.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(got.nonEmpty)
  }

  test("bm25Scores: the term-table kernel and the forced explode+join agree") {
    val rnd = new scala.util.Random(6)
    val docs = docsDf((1L to 80L).map(i => i -> words(rnd, 3 + rnd.nextInt(20))) ++
      Seq(81L -> "", 82L -> "w1  w2", 83L -> null.asInstanceOf[String]))
    val terms = Seq("w1", "w2", "w3", "w7", "absent", "w1").map(Tuple1(_)).toDF("term")
    val got = bothSides(Some("term_tf_counts"))(TextOps.bm25Scores(docs, terms))(
      _.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    assert(got.size > 40)
  }

  test("containmentPairs: the df-order kernel and the forced explode+join agree") {
    val rnd = new scala.util.Random(7)
    val inner = (1L to 30L).map(i => i -> words(rnd, 12 + rnd.nextInt(20)))
    // wrappers: chrome around an inner doc (contained), some mutated
    val outer = inner.take(12).map { case (i, t) =>
      val body = if (i % 3 == 0) t.replaceFirst("w", "x") else t
      (100L + i) -> s"${words(rnd, 6)} $body ${words(rnd, 6)}"
    }
    val docs = docsDf(inner ++ outer :+ (200L -> "too short"))
    val got = bothSides(Some("freq_order_values"))(
      Dedup.containmentPairs(spark, docs, minC = 0.75))(
      _.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    assert(got.exists(_._2 >= 100L), "planted containments must surface")
  }

  test("editDistancePairsQGram: the prefix kernel and the forced freq join agree") {
    val rnd = new scala.util.Random(8)
    val alphabet = "abcdefghij klmnop"
    def text(n: Int) = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    def mutate(t: String, edits: Int) = (1 to edits).foldLeft(t) { (s, _) =>
      val at = rnd.nextInt(s.length)
      s.substring(0, at) + alphabet(rnd.nextInt(alphabet.length)) + s.substring(at + 1)
    }
    val roots = (1L to 25L).map(i => i -> text(30 + rnd.nextInt(40)))
    val twins = roots.map { case (i, t) => (100L + i) -> mutate(t, 1 + rnd.nextInt(5)) }
    val docs = docsDf(roots ++ twins ++ Seq(300L -> "short", 301L -> "shorts"))
    val got = bothSides(Some("prefix_top_values"))(
      Dedup.editDistancePairsQGram(spark, docs, 4))(
      _.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    assert(got.count(_._2 >= 100L) >= 20, "planted twins must pair")
  }

  test("connectedComponents: the local finish and the forced distributed loop agree") {
    val rnd = new scala.util.Random(9)
    val chain = (0L until 60L).map(i => (i, i + 1))
    val blob = Seq.fill(200)((100L + rnd.nextInt(120), 100L + rnd.nextInt(120)))
      .filter(p => p._1 != p._2)
    val edges = (chain ++ blob).toDF("a_id", "b_id")
    val nodes = ((0L to 60L) ++ (100L until 220L) ++ (300L until 305L)).toDF("doc_id")
    val got = bothSides(None)(Dedup.connectedComponents(spark, nodes, edges))(
      _.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    assert(got.size == 186 && got.toMap.apply(60L) == 0L)
    val (_, plainRounds) = Dedup.connectedComponentsWithRounds(spark, nodes, edges)
    val (_, forcedRounds) = DriverPull.forcingFallbacks(
      Dedup.connectedComponentsWithRounds(spark, nodes, edges))
    assert(plainRounds == 0 && forcedRounds > 0,
      s"the hook must move the graph off the local finish: $plainRounds vs $forcedRounds")
  }

  test("url kernels propagate NULL like the chains they replaced") {
    val df = Seq(Tuple1(null.asInstanceOf[String])).toDF("url")
      .select(call_function("url_host", col("url")).as("k"),
        call_function("reg_domain", col("url"), typedLit(Urls.MultiPartSuffixes)).as("d"))
    val r = df.head()
    assert(r.isNullAt(0) && r.isNullAt(1))
  }
}
