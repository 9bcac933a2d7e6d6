package graft

import org.apache.spark.sql.functions._

/** Round-7 facade surface: semantic dedup composed into the curation
  * pipeline as a first-class audited stage.
  */
class Round7OpsSpec extends SparkSpec {

  import spark.implicits._

  private def plantedDocs(rows: Seq[(Long, String)]): String = {
    val dir = tmpDir("r7docs")
    rows.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("planted"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def healthy(tag: String): String = (1 to 30).map(i => s"$tag$i").mkString(" ")

  test("semantic dedup composes as an audited curation stage") {
    // four TEXT-unique docs (all survive exact + near-dup text dedup); docs
    // 1 and 2 are semantic twins by embedding, doc 3 is orthogonal, doc 4
    // has no embedding row at all
    val d = plantedDocs(Seq(
      (1L, healthy("a")),
      (2L, healthy("b")), // embedding-dup of doc 1 → dropped at semantic_dedup
      (3L, healthy("c")),
      (4L, healthy("d")))) // no embedding → passes the stage untouched
    val docs = Tables.documents(spark, d)
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.02f, 0.0f, 0.0f)), // cos(1,2) ≈ 0.9998 ≥ 0.9
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))    // orthogonal to both
    ).toDF("doc_id", "embedding")
    val (out, audit) = Graft.curateCorpusAudited(spark, docs,
      screenPhrases = Seq("never present"),
      semantic = Some(Graft.SemanticDedup(emb, minCos = 0.9)))
    // the stage slots between the text dedups and the quality gate, and
    // charges exactly the planted embedding-dup
    assert(audit == Seq(
      Graft.StageCount("input", 4, 0),
      Graft.StageCount("exact_dedup", 4, 0),
      Graft.StageCount("neardup_dedup", 4, 0),
      Graft.StageCount("semantic_dedup", 3, 1),
      Graft.StageCount("quality_gate", 3, 0),
      Graft.StageCount("contamination", 3, 0)), s"audit was $audit")
    assert(out.select("doc_id").as[Long].collect().toSeq.sorted ==
      Seq(1L, 3L, 4L))
    // the un-audited pipeline returns the same frame
    val plain = Graft.curateCorpus(spark, docs,
        screenPhrases = Seq("never present"),
        semantic = Some(Graft.SemanticDedup(emb, minCos = 0.9)))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(plain == Seq(1L, 3L, 4L))
    // without the knob the stage is absent and the embedding-dup survives
    val (noSemOut, noSemAudit) = Graft.curateCorpusAudited(spark, docs,
      screenPhrases = Seq("never present"))
    assert(!noSemAudit.exists(_.stage == "semantic_dedup"))
    assert(noSemOut.select("doc_id").as[Long].collect().toSeq.sorted ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("F22 eval broadcast is size-guarded: the shuffle fallback is plan-different, output-identical") {
    graft.functions.VectorFunctions.register(spark)
    val train = (10 to 40).map(i =>
      (i.toLong, (1 to 14).map(j => s"t${i}_$j").mkString(" "))).toDF("doc_id", "text")
    // eval shares doc 10's first 10 tokens → doc 10 contaminated, rest clean
    val eval = Seq((1L, (1 to 10).map(j => s"t10_$j").mkString(" ")),
      (2L, (1 to 12).map(j => s"e$j").mkString(" "))).toDF("doc_id", "text")
    // auto-broadcast off both at plan and AQE time: on this tiny fixture
    // AQE would otherwise re-broadcast the fallback join and hide the plan
    // difference the guard exists to create; the explicit broadcast() hint
    // on the guarded path is immune to the thresholds
    val prev = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k =>
      k -> spark.conf.getOption(k))
    try {
      prev.foreach { case (k, _) => spark.conf.set(k, "-1") }
      val viaBroadcast = TextOps.ngramDecontamOf(train, eval)
      val viaShuffle = DriverPull.forcingFallbacks(TextOps.ngramDecontamOf(train, eval))
      val a = viaBroadcast.collect().toSeq
      val b = viaShuffle.collect().toSeq
      assert(a == b, s"fallback changed the result:\n$a\nvs\n$b")
      assert(a.exists(r => r.getLong(0) == 10L && r.getBoolean(3)))
      val pb = viaBroadcast.queryExecution.executedPlan.toString
      val ps = viaShuffle.queryExecution.executedPlan.toString
      assert(pb.contains("BroadcastHashJoin") || pb.contains("BroadcastExchange"),
        s"small eval set should broadcast:\n$pb")
      assert(!ps.contains("BroadcastHashJoin") && !ps.contains("BroadcastExchange"),
        s"guarded fallback must not broadcast:\n$ps")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("semantic dedup only clusters docs still alive after text dedup") {
    // doc 2 is an EXACT text dup of doc 1 and also doc 3's semantic twin.
    // Because 2 dies at exact_dedup, its embedding must not be allowed to
    // bridge 1 and 3 into one semantic cluster — the stage clusters the
    // docs that reach it, not the raw input
    val d = plantedDocs(Seq(
      (1L, healthy("a")),
      (2L, healthy("a")), // exact dup of 1 → gone before semantic_dedup
      (3L, healthy("c"))))
    val docs = Tables.documents(spark, d)
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(0.7f, 0.7f, 0.0f, 0.0f)), // ≥0.9 to BOTH 1 and 3
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("doc_id", "embedding")
    // minCos = 0.5: cos(1,2) = cos(2,3) ≈ 0.707 ≥ 0.5, so doc 2 WOULD
    // bridge 1–3 if its embedding participated; cos(1,3) = 0 keeps the
    // survivors apart only if it doesn't
    val (out, audit) = Graft.curateCorpusAudited(spark, docs,
      screenPhrases = Seq("never present"),
      semantic = Some(Graft.SemanticDedup(emb, minCos = 0.5)))
    assert(audit.exists(sc => sc.stage == "semantic_dedup" && sc.dropped == 0),
      s"audit was $audit")
    assert(out.select("doc_id").as[Long].collect().toSeq.sorted == Seq(1L, 3L))
  }
}
