package graft

import org.apache.spark.sql.functions._

/** Round-11 additions: edit-distance near-dup pairs (length-banded
  * Levenshtein join) and the `deflate_ratio` compression quality signal —
  * plus the events-timestamp generation shim (`Tables.events` must hand
  * every caller the same epoch-nanos-long `ts` whether the parquet file
  * carries TIMESTAMP(NANOS) or TIMESTAMP(MICROS)).
  */
class Round11OpsSpec extends SparkSpec {

  import spark.implicits._

  // ---- editDistancePairsOf -------------------------------------------

  /** Reference implementation: naive all-pairs filter on the unbounded
    * BYTE-Levenshtein kernel (the F24 metric — DuckDB's dialect).
    */
  private def naivePairs(docs: org.apache.spark.sql.DataFrame, maxDist: Int) = {
    functions.VectorFunctions.register(spark)
    docs.select(col("doc_id").as("a_id"), col("text").as("a_text"))
      .crossJoin(docs.select(col("doc_id").as("b_id"), col("text").as("b_text")))
      .filter(col("a_id") < col("b_id"))
      .withColumn("dist",
        call_function("byte_levenshtein", col("a_text"), col("b_text"), lit(-1)))
      .filter(col("dist") <= maxDist)
      .select(col("a_id"), col("b_id"), col("dist"))
  }

  test("editDistancePairsOf equals the naive all-pairs filter (planted corpus)") {
    // planted: exact dup (0 edits), 1-edit, 3-edit, far pair, and a
    // length-boundary pair whose lengths differ by exactly maxDist
    val docs = Seq(
      (0L, "the quick brown fox jumps"),
      (1L, "the quick brown fox jumps"),         // dist 0 vs 0
      (2L, "the quick brown fox jumped"),        // dist ≤ 2 vs 0/1
      (3L, "the slow brown fox crawls"),
      (4L, "completely different text here"),
      (5L, "the quick brown fox jumps!!!"),      // +3 chars: dist 3 vs 0
      (6L, "xx"),
      (7L, "xxxxx")                              // len diff 3 vs doc 6
    ).toDF("doc_id", "text")
    for (d <- Seq(0, 1, 3)) {
      val got = Dedup.editDistancePairsOf(docs, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = naivePairs(docs, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got == want, s"maxDist=$d")
      if (d == 0) assert(got.contains((0L, 1L, 0L)))
    }
  }

  test("editDistancePairsOf law: banded join equals naive on seeded random corpora") {
    val rnd = new scala.util.Random(11)
    // tiny alphabets + short strings → dense near-dup structure across
    // band boundaries in every seeded corpus; the second alphabet mixes
    // 1-, 2-, and 3-byte UTF-8 chars so the byte-length banding and byte
    // DP are exercised on genuinely multibyte text
    for (alphabet <- Seq("ab", "aé日"); trial <- 1 to 5) {
      val docs = (0L until 40L).map { i =>
        val len = 1 + rnd.nextInt(12)
        (i, Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString)
      }.toDF("doc_id", "text")
      val d = 1 + rnd.nextInt(4)
      val got = Dedup.editDistancePairsOf(docs, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = naivePairs(docs, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got == want, s"alphabet=$alphabet trial=$trial maxDist=$d")
      assert(got.nonEmpty, s"trial=$trial produced no pairs — corpus too sparse to test")
    }
  }

  test("editDistancePairsOf emits each qualifying pair exactly once") {
    // identical docs in the same band AND across adjacent bands
    val docs = Seq((10L, "aaaa"), (3L, "aaaa"), (7L, "aaaab"), (1L, "aaa"))
      .toDF("doc_id", "text")
    val rows = Dedup.editDistancePairsOf(docs, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.distinct.length, "duplicate pair emitted")
    // canonical orientation regardless of which side was longer
    assert(rows.forall { case (a, b) => a < b })
  }

  test("editDistancePairsQGram (scale path) equals the banded path on seeded corpora") {
    val rnd = new scala.util.Random(7)
    // adversarial mix: tiny alphabets (duplicate q-grams stress the
    // MULTISET count/prefix lemmas AND the value-closed prefix boundary —
    // massive key ties are the exact case arbitrary tie truncation gets
    // wrong), lengths straddling the short-zone boundary, plus longer
    // strings; the multibyte alphabet exercises the byte-gram/byte-DP
    // consistency that makes the filters exact off ASCII
    for (alphabet <- Seq("ab", "aé日"); trial <- 1 to 4) {
      val docs = (0L until 60L).map { i =>
        val len = 1 + rnd.nextInt(30)
        (i, Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString)
      }.toDF("doc_id", "text")
      val d = 1 + rnd.nextInt(3)
      val got = Dedup.editDistancePairsQGram(spark, docs, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      val want = Dedup.editDistancePairsOf(docs, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      assert(got == want, s"alphabet=$alphabet trial=$trial maxDist=$d")
      assert(got.nonEmpty, s"trial=$trial degenerate corpus")
    }
    // realistic planted case: titles with ≤2-edit mutations
    val titles = Seq(
      (0L, "distributed query optimization in shared-nothing systems"),
      (1L, "distributed query optimisation in shared-nothing systems"), // 1 edit
      (2L, "distributed query optimization in shared nothing systems"), // 1 edit
      (3L, "approximate string joins in a database almost for free"),
      (4L, "approximate string joins in a database almost for free!"),  // 1 edit
      (5L, "an entirely different title about stream processing")
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairsQGram(spark, titles, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    // (1,2) transitively: optimisation→optimization (1) + "-"→" " (1) = 2
    assert(got == Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 4L)))
  }

  test("char_qgram_hashes keeps duplicate grams (multiset) and sorts ascending") {
    functions.VectorFunctions.register(spark)
    val r = Seq(("aaaa", 1L)).toDF("text", "id")
      .select(call_function("char_qgram_hashes", col("text"), lit(3)).as("g"))
      .head.getSeq[Long](0)
    assert(r.length == 2, "4-char string has 2 positional 3-grams")
    assert(r(0) == r(1), "identical grams must BOTH survive (multiset)")
    val s = Seq(("abcdef", 1L)).toDF("text", "id")
      .select(call_function("char_qgram_hashes", col("text"), lit(3)).as("g"))
      .head.getSeq[Long](0)
    assert(s.length == 4 && s == s.sorted)
    val empty = Seq(("ab", 1L)).toDF("text", "id")
      .select(call_function("char_qgram_hashes", col("text"), lit(3)).as("g"))
      .head.getSeq[Long](0)
    assert(empty.isEmpty, "shorter than q → no grams")
  }

  // ---- deflate_ratio --------------------------------------------------

  test("deflate_ratio separates repetition from high-entropy text") {
    functions.VectorFunctions.register(spark)
    val rnd = new scala.util.Random(42)
    val repetitive = "spam ham " * 400
    val natural = "the quick brown fox jumps over the lazy dog and then " +
      "wanders off toward the river bank looking for something new to chase"
    val noise = Seq.fill(800)(rnd.nextPrintableChar()).mkString
    val df = Seq((1L, repetitive), (2L, natural), (3L, noise), (4L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), call_function("deflate_ratio", col("text")).as("r"))
    val m = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m(1L) < 0.05, s"heavy repetition should compress hard, got ${m(1L)}")
    assert(m(2L) > 0.3 && m(2L) < 1.0, s"natural prose mid-range, got ${m(2L)}")
    assert(m(3L) > m(2L), "random text must compress worse than prose")
    assert(m(4L) == 1.0, "empty input is 1.0 by convention")
    // ratio is a pure function of the bytes: re-evaluation is identical
    val again = Seq((1L, repetitive)).toDF("doc_id", "text")
      .select(call_function("deflate_ratio", col("text"))).head.getDouble(0)
    assert(again == m(1L))
  }

  test("deflate_ratio null propagates; type errors rejected") {
    functions.VectorFunctions.register(spark)
    val withNull = Seq((1L, Some("abc")), (2L, None: Option[String]))
      .toDF("doc_id", "text")
      .select(col("doc_id"), call_function("deflate_ratio", col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(withNull(1L) != null && withNull(2L) == null)
    val err = intercept[Exception] {
      Seq(1L).toDF("x").select(call_function("deflate_ratio", col("x"))).head
    }
    assert(err.getMessage.contains("deflate_ratio"))
  }

  test("edit-distance joins are equi-joins — no cartesian in either path's plan") {
    val docs = Tables.documents(spark, sf001)
    for (df <- Seq(Dedup.editDistancePairsOf(docs, 8),
        Dedup.editDistancePairsQGram(spark, docs, 8))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"cartesian product in edit-distance plan:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"BNLJ in edit-distance plan:\n$plan")
    }
  }

  test("edit-distance and compression ops on degenerate inputs (empty, null text)") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType))))
    assert(Dedup.editDistancePairsOf(empty, 2).count() == 0)
    assert(Dedup.editDistancePairsQGram(spark, empty, 2).count() == 0)
    assert(Graft.compressionSignals(spark, empty).count() == 0)
    // null text: excluded from pairing by both paths (null length/grams
    // fail every band and gram filter), null ratio propagates in signals
    val withNull = Seq((1L, Some("aaa")), (2L, Some("aab")), (3L, None: Option[String]))
      .toDF("doc_id", "text")
    val pairsA = Dedup.editDistancePairsOf(withNull, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val pairsB = Dedup.editDistancePairsQGram(spark, withNull, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairsA == Seq((1L, 2L)) && pairsB == Seq((1L, 2L)))
    val sig = Graft.compressionSignals(spark, withNull)
      .collect().map(r => r.getLong(0) -> r.isNullAt(2)).toMap
    assert(!sig(1L) && sig(3L), "null text must yield null ratio")
  }

  // ---- facade integration --------------------------------------------

  test("QualityGate deflateRatioRange drops boilerplate; default None changes nothing") {
    val docs = Seq(
      (1L, "w1 " + (20 to 50).map(i => s"word$i").mkString(" ")),   // natural
      (2L, ("spam ham " * 20).trim)                                  // boilerplate, 40 tokens
    ).toDF("doc_id", "text")
      .withColumn("ts", current_timestamp())
    val gate = Graft.QualityGate(minTokens = 10, maxTokens = 60,
      maxStopwordRatio = 1.0)
    val (_, auditNone) = Graft.curateCorpusAudited(spark, docs, Nil, quality = gate)
    val (_, auditRange) = Graft.curateCorpusAudited(spark, docs, Nil,
      quality = gate.copy(deflateRatioRange = Some((0.2, 1.5))))
    def kept(a: Seq[Graft.StageCount]) =
      a.find(_.stage == "quality_gate").get.kept
    // both docs pass the token gate; only the boilerplate doc compresses
    // below 0.2 and is dropped by the range gate
    assert(kept(auditNone) == 2, s"default gate must keep both: $auditNone")
    assert(kept(auditRange) == 1, s"range gate must drop the boilerplate doc: $auditRange")
  }

  test("edit-distance pairs: banded and q-gram paths, identical output") {
    val docs = Seq((1L, "hello world"), (2L, "hello worlds"), (3L, "bye"))
      .toDF("doc_id", "text")
    val a = Dedup.editDistancePairsOf(docs, maxDist = 1)
      .collect().map(_.toString).sorted.toSeq
    val b = Dedup.editDistancePairsQGram(spark, docs, maxDist = 1)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("deflateRatioRange gate resolves in the STREAMING pipeline on a fresh session") {
    // curateStream shares qualityPredicate with the batch path; building
    // the streaming frame forces analysis, which is where an unregistered
    // deflate_ratio would throw (the FreshSessionSpec escape class)
    val fresh = spark.newSession()
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = fresh.sqlContext
    import fresh.implicits._
    val ms = MemoryStream[(Long, java.sql.Timestamp, String)]
    val docs = ms.toDF().toDF("doc_id", "ts", "text")
    val out = Graft.curateStream(docs, Nil,
      quality = Graft.QualityGate(minTokens = 1, maxTokens = 1000,
        maxStopwordRatio = 1.0, deflateRatioRange = Some((0.1, 1.5))))
    assert(out.isStreaming && out.columns.contains("doc_id"))
  }

  test("edit-distance dedup groups cluster transitive edit chains") {
    // A~B (1 edit), B~C (1 edit), but A~C is 2 edits > maxDist=1 —
    // clustering must still put all three in one group (chaining),
    // which a keep-one-of-each-pair policy would get wrong
    val docs = Seq(
      (10L, "abcdef"), (11L, "abcdeX"), (12L, "abcdYX"),
      (20L, "totally unrelated")
    ).toDF("doc_id", "text")
    val paths = Seq(
      "banded" -> Dedup.editDistancePairsOf(docs, maxDist = 1),
      "q-gram" -> Dedup.editDistancePairsQGram(spark, docs, maxDist = 1))
    for ((path, pairs) <- paths) {
      val m = Dedup.connectedComponents(spark, docs.select($"doc_id"),
          pairs.select($"a_id", $"b_id"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(m(10L) == 10L && m(11L) == 10L && m(12L) == 10L,
        s"chain must collapse to min id ($path pairs): $m")
      assert(m(20L) == 20L, "singleton labels itself")
    }
  }

  test("facade compressionSignals returns a ratio per doc") {
    val out = Graft.compressionSignals(spark,
      Seq((1L, "abc abc abc abc abc abc abc abc")).toDF("doc_id", "text")).head
    assert(out.getLong(1) == 31L && out.getDouble(2) > 0.0)
  }

  // ---- byte_levenshtein: the oracle's dialect, byte-proof -------------
  // Round 11 tripwired the byte/char divergence (DuckDB counts BYTES,
  // Spark's built-in counts CHARS) by asserting the corpus was ASCII;
  // round 12 ELIMINATES it: every graded levenshtein column now runs the
  // byte_levenshtein kernel on the Spark side, so the oracle holds on any
  // corpus and no tripwire is needed. These laws pin the kernel.

  test("byte_levenshtein matches DuckDB 1.0.0's byte dialect on multibyte text") {
    functions.VectorFunctions.register(spark)
    // values verified against DuckDB 1.0.0 this round:
    //   levenshtein('café','cafe') = 2, levenshtein('日本語','日本') = 3
    val rows = Seq(("café", "cafe"), ("日本語", "日本"), ("abc", "abc"),
      ("", "日本"), ("kitten", "sitting"))
      .toDF("a", "b")
      .select(call_function("byte_levenshtein", col("a"), col("b"), lit(-1)))
      .collect().map(_.getLong(0)).toSeq
    assert(rows == Seq(2L, 3L, 0L, 6L, 3L))
    // Spark's built-in disagrees on the multibyte rows — the divergence
    // that forced the kernel (char view: café→cafe = 1, 日本語→日本 = 1)
    val charDists = Seq(("café", "cafe"), ("日本語", "日本")).toDF("a", "b")
      .select(levenshtein(col("a"), col("b"))).collect().map(_.getInt(0)).toSeq
    assert(charDists == Seq(1, 1))
  }

  test("byte_levenshtein law: equals char levenshtein on ASCII; threshold DP equals full DP") {
    functions.VectorFunctions.register(spark)
    val rnd = new scala.util.Random(12)
    val docs = (0L until 30L).map { i =>
      val len = rnd.nextInt(15)
      (i, Seq.fill(len)("abcd"(rnd.nextInt(4))).mkString)
    }.toDF("doc_id", "text")
    val pairs = docs.select(col("doc_id").as("a_id"), col("text").as("a"))
      .crossJoin(docs.select(col("doc_id").as("b_id"), col("text").as("b")))
      .filter(col("a_id") < col("b_id"))
    val diverged = pairs.select(
        call_function("byte_levenshtein", col("a"), col("b"), lit(-1)).as("bl"),
        levenshtein(col("a"), col("b")).cast("long").as("cl"))
      .filter(col("bl") =!= col("cl")).count()
    assert(diverged == 0, "byte and char levenshtein must agree on ASCII")
    // banded: −1 iff the full distance exceeds the threshold, else equal
    for (t <- Seq(0, 1, 3, 7)) {
      val bad = pairs.select(
          call_function("byte_levenshtein", col("a"), col("b"), lit(t)).as("bt"),
          call_function("byte_levenshtein", col("a"), col("b"), lit(-1)).as("bf"))
        .filter(!((col("bf") <= t && col("bt") === col("bf")) ||
          (col("bf") > t && col("bt") === -1L))).count()
      assert(bad == 0, s"threshold=$t banded DP diverged from full DP")
    }
  }

  test("byte_levenshtein null propagation and unicode threshold behavior") {
    functions.VectorFunctions.register(spark)
    val r = Seq((Some("café"), Some("cafe")), (None, Some("x")), (Some("x"), None))
      .toDF("a", "b")
      .select(call_function("byte_levenshtein", col("a"), col("b"), lit(1)).as("d"))
      .collect().map(x => if (x.isNullAt(0)) null else x.getLong(0)).toSeq
    // byte distance 2 > threshold 1 → −1; nulls propagate
    assert(r == Seq(-1L, null, null))
  }

  // ---- events timestamp generation shim ------------------------------

  test("Tables.events hands back epoch-nanos longs for the current testdata generation") {
    val ev = Tables.events(spark, sf001)
    assert(ev.schema("ts").dataType == org.apache.spark.sql.types.LongType,
      s"ts must be epoch-nanos long, got ${ev.schema("ts").dataType}")
    val one = ev.select(col("ts"), Tables.tsUs.as("ts_us")).head
    assert(one.getLong(0) == one.getLong(1) * 1000L,
      "tsUs must be the µs truncation of the nanos-long ts")
    // plausible epoch range (2020–2040) — catches unit mistakes (ms/us/ns)
    val ns = one.getLong(0)
    assert(ns > 1.5e18.toLong && ns < 2.3e18.toLong,
      s"ts=$ns outside plausible epoch-nanos range")
  }
}
