package graft

import org.apache.spark.sql.functions._

/** Round-19 additions, per the round-18 verdict: the F58 HTML→text
  * extraction front door (planted-structure proofs: chrome/link-heavy/
  * short/script blocks dropped, prose kept byte-exact, entities decoded),
  * plus the curation-stage wiring.
  */
class Round19OpsSpec extends SparkSpec {

  import spark.implicits._

  // ---- F58: HTML→text extraction ------------------------------------------

  private val plantedHtml =
    "<script>if (x < 3) { alert('&amp;'); }</script>" + // stripped whole
      "<style>p { color: red; }</style>" + // stripped whole
      "<nav><a href=\"/\">home</a> <a href=\"/a\">about</a></nav>" + // chrome
      "<h1>The Article Title Here</h1>" + // content
      "<p>First real paragraph with enough words to keep.</p>" + // content
      "<p><a href=\"/x\">click here for more great links</a></p>" + // link_heavy
      "<p>ok</p>" + // short (1 word)
      "<div>Entities: &lt;tag&gt; &amp; &quot;quoted&quot; &#39;s&nbsp;end</div>" + // content
      "<p>   </p>" + // empty after ws-normalize
      "<footer>copyright 2026 every right reserved</footer>" + // chrome
      "trailing junk with no block tag" // not a block

  test("F58 htmlBlocks: the planted page classifies block-by-block") {
    val pages = Seq((1L, plantedHtml)).toDF("doc_id", "html")
    val rows = Html.htmlBlocks(pages)
      .orderBy(col("block_pos"))
      .select("tag", "verdict", "text")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSeq === Seq(
      ("nav", "chrome", "home about"),
      ("h1", "content", "The Article Title Here"),
      ("p", "content", "First real paragraph with enough words to keep."),
      ("p", "link_heavy", "click here for more great links"),
      ("p", "short", "ok"),
      ("div", "content", "Entities: <tag> & \"quoted\" 's end"),
      ("p", "empty", ""),
      ("footer", "chrome", "copyright 2026 every right reserved")))
  }

  test("F58 htmlExtract: prose kept byte-exact, boilerplate gone") {
    val pages = Seq((1L, plantedHtml)).toDF("doc_id", "html")
    val r = Html.htmlExtract(pages).collect().head
    assert(r.getAs[Long]("n_blocks") === 8L)
    assert(r.getAs[Long]("n_content") === 3L)
    assert(r.getAs[String]("clean_text") ===
      "The Article Title Here\n" +
        "First real paragraph with enough words to keep.\n" +
        "Entities: <tag> & \"quoted\" 's end")
    assert(r.getAs[Long]("n_chars") ===
      r.getAs[String]("clean_text").length.toLong)
  }

  test("F58 link density: partial links below the threshold survive") {
    // 20 anchor chars over >100 text chars is ~16% < the 20% default
    val body = "word " * 20 + "tail"
    val pages = Seq(
      (1L, s"""<p><a href="/x">twenty anchor chars.</a> $body</p>"""),
      (2L, s"""<p><a href="/x">$body</a></p>""")).toDF("doc_id", "html")
    val v = Html.htmlBlocks(pages).orderBy("doc_id")
      .select("verdict").as[String].collect()
    assert(v.toSeq === Seq("content", "link_heavy"))
  }

  test("F58: a page with no block structure produces no row (step 7)") {
    val pages = Seq(
      (1L, "plain text, zero tags"),
      (2L, "<span>inline only</span> <b>bold</b>"),
      (3L, "<p>a real block with enough words here</p>"))
      .toDF("doc_id", "html")
    val out = Html.htmlExtract(pages).select("doc_id").as[Long].collect()
    assert(out.toSeq === Seq(3L))
    // NULL html: filtered, never a crash (the F2 null-input rule)
    val withNull = Seq((4L, null: String)).toDF("doc_id", "html")
    assert(Html.htmlExtract(withNull).count() === 0L)
  }

  test("F58: tag-name prefixes do not cross-match (<pre> is not <p>)") {
    val pages = Seq(
      (1L, "<pre>code block not in the model</pre>"),
      (2L, "<p>para with plenty of words to keep</p>")).toDF("doc_id", "html")
    val out = Html.htmlBlocks(pages).select("doc_id", "tag")
      .as[(Long, String)].collect()
    assert(out.toSeq === Seq((2L, "p")))
  }

  test("html_extract kernel ≡ the relational htmlExtract (planted + corpus)") {
    graft.functions.VectorFunctions.register(spark)
    def kernelOf(pages: org.apache.spark.sql.DataFrame) = pages
      .withColumn("__hx", call_function("html_extract", col("html"),
        lit(3), lit(200000L)))
      .filter(col("__hx").isNotNull)
      .select(col("doc_id"), col("__hx").getField("n_blocks").as("n_blocks"),
        col("__hx").getField("n_content").as("n_content"),
        col("__hx").getField("clean_text").as("clean_text"))
    // the planted page byte-for-byte
    val planted = Seq((1L, plantedHtml)).toDF("doc_id", "html")
    val k = kernelOf(planted).collect().head
    val r = Html.htmlExtract(planted).collect().head
    assert(k.getLong(1) === r.getAs[Long]("n_blocks"))
    assert(k.getLong(2) === r.getAs[Long]("n_content"))
    assert(k.getString(3) === r.getAs[String]("clean_text"))
    // the whole manufactured sf0.001 corpus, row-for-row (incl. the
    // no-block drop contract: same doc_id sets)
    val pages = Html.syntheticPages(spark, sf001)
      .unionByName(Seq((999999L, "no blocks at all"),
        (999998L, null.asInstanceOf[String])).toDF("doc_id", "html"))
    val want = Html.htmlExtract(pages)
      .select("doc_id", "n_blocks", "n_content", "clean_text")
    assert(kernelOf(pages).exceptAll(want).count() === 0L)
    assert(want.exceptAll(kernelOf(pages)).count() === 0L)
  }

  test("curateStream html stage ≡ the batch front door (admitted text)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val docs = Seq(
      (1L, "<p>the quick brown fox jumps over the lazy dog</p>" +
        "<nav><a href=\"/\">chrome here should vanish now</a></nav>"),
      (2L, "block-less page that must drop whole"),
      (3L, "<div>another unique page with plenty of words</div>"))
      .map { case (id, t) =>
        (id, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), t)
      }
    val batch = Graft.curateStream(
      docs.toDF("doc_id", "ts", "text"), Nil,
      quality = Graft.QualityGate(minTokens = 3, maxTokens = 1000,
        maxStopwordRatio = 1.0),
      html = Some(Graft.HtmlExtract()))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batch.keySet === Set(1L, 3L))
    assert(batch(1L) === "the quick brown fox jumps over the lazy dog")
    // MemoryStream run admits the same docs with the same cleaned text
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Graft.curateStream(
      in.toDS().toDF("doc_id", "ts", "text"), Nil,
      quality = Graft.QualityGate(minTokens = 3, maxTokens = 1000,
        maxStopwordRatio = 1.0),
      html = Some(Graft.HtmlExtract()))
      .select("doc_id", "text")
      .writeStream.format("memory").queryName("html_stream19")
      .outputMode("append").start()
    in.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("html_stream19").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(streamed === batch)
  }

  // ---- lm_score / gram_sum codegen kernels (VERDICT r18 item 2) -----------

  /** Edge-heavy corpus: empty text (one empty token), consecutive spaces
    * (empty middle tokens), leading/trailing spaces, multi-byte UTF-8,
    * below-order docs (NULL contract), exactly-order docs. */
  private val kernelCorpus = Seq(
    (1L, "the cat sat on the mat and the dog ran away"),
    (2L, "the  cat   sat"), // empty tokens between consecutive spaces
    (3L, " leading and trailing "),
    (4L, "über die brücke läuft öl"), // multi-byte UTF-8 tokens
    (5L, ""), // one empty token
    (6L, "solo"),
    (7L, "two tokens"),
    (8L, "exactly three tokens"),
    (9L, "four tokens right here"),
    (10L, "five tokens sit right here"))

  private def kernelVsFold(order: Int): Unit = {
    val df = kernelCorpus.toDF("doc_id", "text")
    val lm = TextOps.ngramLmFit(df, order, 64)
    val got = df.select(col("doc_id"), lm.sumMicrosCol(col("text")).as("k"),
      lm.sumMicrosFoldCol(col("text")).as("f")).collect()
    got.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2),
        s"order $order doc ${r.getLong(0)}: null mismatch")
      if (!r.isNullAt(1))
        assert(r.getLong(1) === r.getLong(2),
          s"order $order doc ${r.getLong(0)}")
    }
    // NULL exactly for docs below order tokens
    val nulls = got.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    val want = kernelCorpus.filter(_._2.split(" ", -1).length < order)
      .map(_._1).toSet
    assert(nulls === want, s"order $order null set")
  }

  test("lm_score kernel ≡ interpreted fold, bit-exact at orders 2/3/5") {
    kernelVsFold(2); kernelVsFold(3); kernelVsFold(5)
  }

  test("lm_score kernel ≡ BigramLm/TrigramLm folds (the graded shapes)") {
    val df = kernelCorpus.toDF("doc_id", "text")
    val b = TextOps.bigramLmFit(df, 64)
    val t = TextOps.trigramLmFit(df, 64)
    val rows = df.select(
      b.sumMicrosCol(col("text")).as("bk"),
      b.sumMicrosFoldCol(col("text")).as("bf"),
      t.sumMicrosCol(col("text")).as("tk"),
      t.sumMicrosFoldCol(col("text")).as("tf")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1) &&
        (r.isNullAt(0) || r.getLong(0) === r.getLong(1)))
      assert(r.isNullAt(2) === r.isNullAt(3) &&
        (r.isNullAt(2) || r.getLong(2) === r.getLong(3)))
    }
  }

  test("gram_sum kernel ≡ DsirModel interpreted fold, bit-exact") {
    val df = kernelCorpus.toDF("doc_id", "text")
    val target = df.filter(col("doc_id") <= 4L)
    val model = TextOps.dsirFit(df, target, buckets = 64)
    val rows = df.select(model.logRatioCol(col("text")).as("k"),
      model.logRatioFoldCol(col("text")).as("f")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("frozen DSIR gate output unchanged by the kernel swap") {
    val df = kernelCorpus.toDF("doc_id", "text")
    val target = df.filter(col("doc_id") <= 4L)
    val model = TextOps.dsirFit(df, target, buckets = 64)
    // the keep decision via the kernel path (keepCol → pLogCol →
    // logRatioCol) ≡ the same draw against the fold score
    val h = conv(substring(md5(concat(lit("0:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val drawLt = floor(log((h * 2 + 1) / lit(8589934592.0)) * 1e6).cast("long") <
      (model.logRatioFoldCol(col("text")) - lit(model.anchorMicros))
    val kernelKeep = df.filter(model.keepCol(col("text"), col("doc_id")))
      .select("doc_id").as[Long].collect().toSet
    val foldKeep = df.filter(drawLt).select("doc_id").as[Long].collect().toSet
    assert(kernelKeep === foldKeep)
  }

  test("lm_score stays inside whole-stage codegen") {
    // a LocalTableScan (Seq.toDF) has no codegen span at all — probe the
    // plan over a range-backed projection, the shape a corpus scan has
    val lm = TextOps.trigramLmFit(kernelCorpus.toDF("doc_id", "text"), 64)
    val df = spark.range(100).select(
      concat(lit("tok"), col("id"), lit(" b c d e")).as("text"))
    val plan = df.select(lm.sumMicrosCol(col("text"))).queryExecution
      .executedPlan.toString
    // the compact plan string marks WholeStageCodegen stages with `*(n)`;
    // the lm_score projection must sit inside one
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("lm_score")), plan.take(500))
  }

  // ---- media over-merge verify stage (VERDICT r18 item 3) -----------------

  private val vidMeta = Multimodal.MediaMeta("video/mp4", 0, 0)
  private def vidOf(frames: Seq[Int]): Array[Byte] =
    frames.flatMap(v =>
      Array.fill(Multimodal.VideoFrameBytes)(v.toByte)).toArray

  /** Two DIFFERENT 130-frame videos engineered to collide on the primary
    * envelope (every 2-frame cell averages 20 in both → sig = 0) while
    * their DERIVATIVE envelopes differ widely: A's |deltas| are constant
    * 20 (alternating 10, 30), B's octet pattern [0,40,0,40,40,0,40,0]
    * yields deltas [40,40,40,0,40,40,40,0] whose cells oscillate — the
    * chance-merge shape the single-family r18 cert measured (+964 video
    * merges at 10⁵–10⁶). */
  private def primaryCollisionPair: (Array[Byte], Array[Byte]) = {
    val a = Seq.tabulate(130)(f => if (f % 2 == 0) 10 else 30)
    val octet = Seq(0, 40, 0, 40, 40, 0, 40, 0)
    val b = Seq.tabulate(130)(f => octet(f % 8))
    (vidOf(a), vidOf(b))
  }

  test("media verify: an engineered primary-family collision no longer merges") {
    val (pa, pb) = primaryCollisionPair
    val recs = Seq(
      Multimodal.MediaRecord(1L, "video", pa, vidMeta),
      Multimodal.MediaRecord(2L, "video", pb, vidMeta)).toDS()
    // the two payloads DO collide on the primary family (the hazard)
    val sigs = Multimodal.mediaSigs2(recs).orderBy("id")
      .select("sig", "sig2").collect()
    assert(sigs(0).getLong(0) === sigs(1).getLong(0), "primary must collide")
    assert(java.lang.Long.bitCount(
      sigs(0).getLong(1) ^ sigs(1).getLong(1)) > 10, "secondary must differ")
    // single-family groups merge them; verified groups keep them apart
    val unverified = Multimodal.mediaDedupGroups(spark, recs, 3)
      .agg(max(col("cluster_size"))).head().getLong(0)
    val verified = Multimodal.mediaDedupGroupsVerified(spark, recs, 3, 6)
      .agg(max(col("cluster_size"))).head().getLong(0)
    assert(unverified === 2L && verified === 1L)
    // and the audited stage (verify on by default) keeps BOTH exemplars
    val (kept, audit) = Multimodal.mediaDedupAudited(spark, recs)
    assert(kept.collect().map(_.id).toSet === Set(1L, 2L))
    assert(audit.last.kept === 2L)
  }

  test("media verify never removes a planted TRUE near-dup edge") {
    // plants: byte-copy video, a one-cell frame dent (the r18 shape:
    // ≤2 primary bits, and ≤3 offset-phase bits — local edits stay
    // local in BOTH families), plus an unsigned sub-frame record
    val fb = Multimodal.VideoFrameBytes
    val base = Array.tabulate[Byte](130 * fb)(i => ((i * 37 + 11) % 251).toByte)
    val dented = base.clone()
    (20 * fb until 22 * fb).foreach(i => dented(i) = 0xFF.toByte)
    val recs = Seq(
      Multimodal.MediaRecord(1L, "video", base, vidMeta),
      Multimodal.MediaRecord(2L, "video", base.clone(), vidMeta),
      Multimodal.MediaRecord(3L, "video", dented, vidMeta),
      Multimodal.MediaRecord(4L, "video", Array.tabulate[Byte](64)(_.toByte),
        vidMeta)).toDS()
    val groups = Multimodal.mediaDedupGroupsVerified(spark, recs, 3, 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(1L) === 1L && groups(2L) === 1L && groups(3L) === 1L,
      groups.toString) // copy AND dent both verified into the cluster
    assert(groups(4L) === 4L) // unsigned labels itself
  }

  test("round-19 kernels compile when one projection references them repeatedly") {
    // janino rejects a redefined local, and a FIXED-name local in
    // doGenCode collides when the expression appears more than once in
    // one generated function — Spark then silently falls back to
    // interpreted eval (caught at the html19 1M cert: three getFields of
    // one html_extract call). freshName is the fix; this pins it with
    // fallback DISABLED so a regression THROWS instead of slowing down.
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    strict.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    graft.functions.VectorFunctions.register(strict)
    val pages = strict.range(50).selectExpr(
      "concat('<p>plenty of words in this block ', id, '</p>') AS html")
    val hx = call_function("html_extract", col("html"), lit(3), lit(200000L))
    val got = pages.select(hx.getField("n_blocks").as("b"),
      hx.getField("n_content").as("c"), hx.getField("clean_text").as("t"))
      .agg(sum(col("b")), sum(col("c")), count(col("t"))).head()
    assert(got.getLong(0) === 50L && got.getLong(1) === 50L &&
      got.getLong(2) === 50L)
    val lmDocs = strict.range(50).selectExpr(
      "concat('tok', id, ' b c d e') AS text")
    val lm = TextOps.trigramLmFit(kernelCorpus.toDF("doc_id", "text"), 64)
    val two = lmDocs.select(lm.sumMicrosCol(col("text")).as("a"),
      lm.sumMicrosCol(col("text")).as("b"))
      .agg(sum(col("a")), sum(col("b"))).head()
    assert(two.getLong(0) === two.getLong(1))
  }

  // ---- F19f auto-order decision rule (VERDICT r18 item 7) -----------------

  /** Vocab-8 pseudo-random corpus: exact type counts ~8/64/512/4096 at
    * orders 1..4 — wide gaps so the occupancy inversion's ±few-% error
    * cannot move the cut. */
  private lazy val autoCorpus: Seq[(Long, String)] = (0L until 2000L).map { i =>
    val toks = (0 until 20).map { j =>
      // full fmix64 — a weak mixer here leaves the token stream
      // structured and collapses the engineered type-count gaps
      var v = i * 1000003L + j * 7919L
      v ^= v >>> 33; v *= -49064778989728563L
      v ^= v >>> 33; v *= -4265267296055464877L
      v ^= v >>> 33
      s"w${((v % 8) + 8) % 8}"
    }
    (i, toks.mkString(" "))
  }

  private def exactTypes(o: Int): Long =
    autoCorpus.flatMap(_._2.split(" ", -1).sliding(o).filter(_.size == o)
      .map(_.mkString(" "))).distinct.size.toLong

  test("lmAutoOrder picks the deepest order under the type budget") {
    val df = autoCorpus.toDF("doc_id", "text")
    val (t3, t4) = (exactTypes(3), exactTypes(4))
    assert(t3 * 2 < t4, s"need a wide gap, got $t3/$t4") // engineered
    val budget = (t3 + t4) / 2
    // budget between types(3) and types(4) → order 3; generous → 4;
    // below types(2) → the order-2 floor
    assert(TextOps.lmAutoOrder(df, 4, budget, 16384) === 3)
    assert(TextOps.lmAutoOrder(df, 4, t4 * 4, 16384) === 4)
    assert(TextOps.lmAutoOrder(df, 4, exactTypes(2) / 2, 16384) === 2)
    // a FULLY saturated level estimates ∞ and blocks every deeper order
    // even under an unbounded budget (512 trigram types over 32 buckets)
    assert(TextOps.lmAutoOrder(df, 4, Long.MaxValue / 2, 32) === 2)
    // a tiny cyclic language never saturates → maxOrder wins
    val cyc = (0L until 50L)
      .map(i => (i, (0 until 30).map(j => s"s${(i + j) % 10}").mkString(" ")))
      .toDF("doc_id", "text")
    assert(TextOps.lmAutoOrder(cyc, 5, 64, 1024) === 5)
  }

  test("ngramLmFitAuto and ccnetBucketsAuto thread the decision") {
    val df = autoCorpus.toDF("doc_id", "text")
    val budget = (exactTypes(3) + exactTypes(4)) / 2
    val lm = TextOps.ngramLmFitAuto(df, 4, budget, 16384)
    assert(lm.order === 3)
    val withLang = df.withColumn("lang", lit("en"))
    val cut = TextOps.ccnetBucketsAuto(withLang, maxOrder = 4,
      typeBudget = budget, buckets = 16384).localCheckpoint()
    assert(cut.select("lm_order").head().getInt(0) === 3)
    assert(cut.count() === 2000L)
    // the cut's NLL at the chosen order ≡ the standalone F19e scorer
    val want = TextOps.lmNgramScores(withLang, 3, 16384)
      .select(col("doc_id"), col("nll_micros"))
    assert(cut.select(col("doc_id"), col("nll_micros"))
      .exceptAll(want).count() === 0L)
  }

  // ---- banded NEAR-match streaming media screen (VERDICT r18 item 5) ------

  test("mediaDedupStreamNear screens 1-3-bit re-encodes the exact screen admits") {
    val fb = Multimodal.VideoFrameBytes
    def vid(seed: Int): Array[Byte] =
      Array.tabulate[Byte](130 * fb)(i => ((i * 37 + seed) % 251).toByte)
    val base = vid(11)
    val dented = base.clone() // a 1-3-bit near re-encode of the base
    (20 * fb until 22 * fb).foreach(i => dented(i) = 0xFF.toByte)
    val delivered = Seq(
      Multimodal.MediaRecord(1L, "video", base, vidMeta)).toDS()
    val arrivals = Seq(
      Multimodal.MediaRecord(10L, "video", base.clone(), vidMeta), // exact
      Multimodal.MediaRecord(11L, "video", dented, vidMeta), // near, ≤3 bits
      Multimodal.MediaRecord(12L, "video", vid(99), vidMeta), // fresh
      Multimodal.MediaRecord(13L, "video", Array.tabulate[Byte](64)(_.toByte),
        vidMeta), // NULL sig — passes through
      Multimodal.MediaRecord(14L, "image", base.clone(),
        Multimodal.MediaMeta("fake/raw", 9, 8))) // other modality: isolated
    val bands = Multimodal.mediaSigBands(delivered, 3).localCheckpoint()
    // ground truth from the brute verdicts: admitted iff NULL sig or no
    // delivered same-modality sig within 3 bits
    val deliveredSigs = Multimodal.mediaSigs(delivered)
      .select("modality", "sig").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = Multimodal.mediaSigs(arrivals.toDS())
      .select("id", "modality", "sig").collect().collect {
        case r if r.isNullAt(2) => r.getLong(0)
        case r if !deliveredSigs.exists { case (m, s) =>
          m == r.getString(1) &&
            java.lang.Long.bitCount(s ^ r.getLong(2)) <= 3 } => r.getLong(0)
      }.toSet
    assert(want === Set(12L, 13L, 14L), want.toString)
    // batch form (how the contract is pinned)
    val batch = Multimodal.mediaDedupStreamNear(arrivals.toDS(), bands, 3)
      .collect().map(_.id).toSet
    assert(batch === want, batch.toString)
    // the exact screen ADMITS the 1-3-bit re-encode (the gap this closes)
    val exact = Multimodal.mediaDedupStream(arrivals.toDS(),
      Multimodal.mediaSigFingerprints(delivered))
      .collect().map(_.id).toSet
    assert(exact === want + 11L, exact.toString)
    // MemoryStream run ≡ batch
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Multimodal.MediaRecord]
    val q = Multimodal.mediaDedupStreamNear(in.toDS(), bands, 3)
      .writeStream.format("memory").queryName("media_near19")
      .outputMode("append").start()
    in.addData(arrivals: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("media_near19")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(streamed === want, streamed.toString)
  }

  // ---- per-doc provenance ledger (VERDICT r18 item 4) ---------------------

  test("curateCorpusLedgered: ledger reconciles exactly with the audit") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog today"), // exact dup
      (3L, "tiny"), // dies at quality gate (minTokens)
      (4L, "a perfectly fine unique document with many words inside it"),
      (5L, "contains the forbidden marker phrase right here ok ok ok"),
      (6L, null.asInstanceOf[String])) // pre-input, never in the ledger
      .toDF("doc_id", "text")
    val (_, audit, ledger) = Graft.curateCorpusLedgered(spark, docs,
      screenPhrases = Seq("forbidden marker"),
      quality = Graft.QualityGate(minTokens = 5, maxTokens = 1000,
        maxStopwordRatio = 1.0))
    val led = ledger.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // exactly one row per input doc (null-text doc 6 is pre-input)
    assert(led.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    val byDoc = led.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byDoc(2L) === (("exact_dedup", "dropped")))
    assert(byDoc(3L) === (("quality_gate", "dropped")))
    assert(byDoc(5L) === (("contamination", "dropped")))
    assert(byDoc(1L)._2 === "kept" && byDoc(4L)._2 === "kept")
    // ledger counts reconcile with StageCounts EXACTLY
    val droppedByStage = led.filter(_._3 == "dropped")
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    audit.tail.foreach { sc =>
      assert(droppedByStage.getOrElse(sc.stage, 0L) === sc.dropped,
        s"stage ${sc.stage}")
    }
    assert(led.count(_._3 == "kept").toLong === audit.last.kept)
  }

  test("mediaDedupLedgered: ledger reconciles with the media audit") {
    val fb = Multimodal.VideoFrameBytes
    val base = Array.tabulate[Byte](130 * fb)(i => ((i * 37 + 11) % 251).toByte)
    val recs = Seq(
      Multimodal.MediaRecord(1L, "video", base, vidMeta),
      Multimodal.MediaRecord(2L, "video", base.clone(), vidMeta), // dup of 1
      Multimodal.MediaRecord(3L, "video",
        Array.tabulate[Byte](130 * fb)(i => ((i * 53 + 5) % 241).toByte),
        vidMeta),
      Multimodal.MediaRecord(4L, "text",
        "no hash family".getBytes("UTF-8"),
        Multimodal.MediaMeta("text/plain", 0, 0))).toDS()
    val (kept, audit, ledger) = Multimodal.mediaDedupLedgered(spark, recs)
    val led = ledger.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(led.map(_._1).sorted.toSeq === Seq(1L, 2L, 3L, 4L))
    val byDoc = led.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byDoc(2L) === (("video_neardup", "dropped")))
    assert(byDoc(1L)._2 === "kept" && byDoc(3L)._2 === "kept" &&
      byDoc(4L)._2 === "kept")
    assert(kept.collect().map(_.id).toSet ===
      led.filter(_._3 == "kept").map(_._1).toSet)
    val droppedByStage = led.filter(_._3 == "dropped")
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    audit.tail.foreach(sc =>
      assert(droppedByStage.getOrElse(sc.stage, 0L) === sc.dropped))
  }

  test("F58 curation stage: html_extract fronts the audited pipeline") {
    val docs = Seq(
      (1L, "<p>the quick brown fox jumps over the lazy dog</p>" +
        "<nav><a href=\"/\">one two three four five</a></nav>"),
      (2L, "<p>the quick brown fox jumps over the lazy dog</p>" +
        "<footer>chrome differs but content is identical</footer>"),
      (3L, "no block structure at all"),
      (4L, "<div>a unique surviving document with plenty of words</div>"))
      .toDF("doc_id", "text")
    val (_, audit) = Graft.curateCorpusAudited(spark, docs, Nil,
      quality = Graft.QualityGate(minTokens = 3, maxTokens = 1000,
        maxStopwordRatio = 1.0),
      html = Some(Graft.HtmlExtract()))
    val byStage = audit.map(sc => sc.stage -> sc).toMap
    assert(audit.head.stage === "input" && audit.head.kept === 4L)
    // doc 3 (no block structure) drops AT html_extract
    assert(byStage("html_extract").kept === 3L &&
      byStage("html_extract").dropped === 1L)
    // docs 1 and 2 extract to IDENTICAL clean text (chrome stripped) —
    // exact dedup sees through the differing boilerplate
    assert(byStage("exact_dedup").kept === 2L &&
      byStage("exact_dedup").dropped === 1L)
  }
}
