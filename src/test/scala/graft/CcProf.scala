package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only profiler for the q_f21b wall: lsh candidates vs CC loop vs
  * decoration, with per-phase walls and the CC round count.
  * Usage: sbt "Test/runMain graft.CcProf"
  */
object CcProf {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.register(spark)
    val d = "/root/testdata/sf0.1"
    val emb = Tables.embeddings(spark, d).select(col("vec_id"), col("embedding"))

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"CCPROF $label secs=${(System.nanoTime() - t0) / 1e9}%.2f")
      r
    }

    if (args.headOption.contains("shapes")) {
      // round-14: the three loops on every OTHER graded CC edge shape —
      // exact cosine (clique-heavy), simhash rep+star, f11 jaccard —
      // with round counts, to calibrate the hybrid switch point
      val docs = Tables.documents(spark, d)
      val exactEdges = Similarity.exactCosineEdges(spark, emb, 0.35)
        .localCheckpoint(eager = true)
      MinHash.simhashDedupGroups(spark, docs, 3).count() // warm kernels
      val shapes = Seq(
        ("f21_exact", emb.select(col("vec_id").as("doc_id")), exactEdges))
      for ((name, nodes, edges) <- shapes; rep <- 1 to 3) {
        var t0 = System.nanoTime()
        val (a, rA) = DriverPull.forcingFallbacks(
          Dedup.connectedComponentsWithRounds(spark, nodes, edges))
        a.count(); val tA = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val (b, rB) = DriverPull.forcingFallbacks(
          Dedup.connectedComponentsStarWithRounds(spark, nodes, edges))
        b.count(); val tB = (System.nanoTime() - t0) / 1e9
        for (sw <- Seq(2, 4, 8)) {
          t0 = System.nanoTime()
          val (h, rH) = DriverPull.forcingFallbacks(Dedup.connectedComponentsHybridWithRounds(spark, nodes,
            edges, starSwitchAfter = sw))
          h.count(); val tH = (System.nanoTime() - t0) / 1e9
          val diff = h.exceptAll(a).count() + b.exceptAll(a).count()
          println(f"CCPROF shape=$name rep=$rep minlabel r=$rA $tA%.2f star r=$rB $tB%.2f hybrid_sw$sw r=$rH $tH%.2f diff=$diff")
        }
      }
      // simhash groups breakdown: pairs wall vs CC wall
      for (rep <- 1 to 3) {
        var t0 = System.nanoTime()
        val pairs = MinHash.simhashPairsOf(docs, 3).localCheckpoint(eager = true)
        val np = pairs.count()
        val tP = (System.nanoTime() - t0) / 1e9
        t0 = System.nanoTime()
        val g = MinHash.simhashDedupGroups(spark, docs, 3)
        g.count()
        val tG = (System.nanoTime() - t0) / 1e9
        val (_, rS) = DriverPull.forcingFallbacks(Dedup.connectedComponentsHybridWithRounds(spark,
          docs.select(col("doc_id")), pairs.select(col("a_id"), col("b_id"))))
        println(f"CCPROF simhash rep=$rep pairs=$np pairs_s=$tP%.2f groups_s=$tG%.2f cc_rounds=$rS")
      }
      spark.stop()
      return
    }

    for (rep <- 1 to 3) {
      val edges = t(s"lsh_edges_plan_build_$rep") {
        Similarity.lshCandidates(spark, emb, 0.35, ordered = false)
          .select(col("a_id"), col("b_id"))
      }
      val ne = t(s"lsh_edges_count_$rep") { edges.count() }
      val nodes = emb.select(col("vec_id").as("doc_id"))
      val (cc, rounds) = t(s"cc_$rep") {
        val r = DriverPull.forcingFallbacks(
          Dedup.connectedComponentsWithRounds(spark, nodes, edges))
        (r._1.localCheckpoint(eager = true), r._2)
      }
      println(s"CCPROF rounds=$rounds edges=$ne")
      t(s"decorate_$rep") {
        Dedup.withClusterSize(cc)
          .select(col("doc_id").as("vec_id"), col("cluster_id"), col("cluster_size"))
          .orderBy(col("vec_id")).count()
      }
      t(s"full_query_$rep") {
        Similarity.semanticClusters(spark, emb, 0.35, useLsh = true).count()
      }
      // round-13 A/B: the Kiveris two-phase (large-star/small-star)
      // formulation on the SAME graph
      val (ccStar, starRounds) = t(s"cc_star_$rep") {
        val r = DriverPull.forcingFallbacks(
          Dedup.connectedComponentsStarWithRounds(spark, nodes, edges))
        (r._1.localCheckpoint(eager = true), r._2)
      }
      println(s"CCPROF star_rounds=$starRounds")
      val diff = ccStar.select(col("doc_id"), col("cluster_id"))
        .exceptAll(cc.select(col("doc_id"), col("cluster_id"))).count()
      println(s"CCPROF star_label_diff=$diff")
      // round-14: the hybrid at several switch points on the same graph
      for (sw <- Seq(2, 4, 6)) {
        val (ccH, hRounds) = t(s"cc_hybrid_sw${sw}_$rep") {
          val r = DriverPull.forcingFallbacks(Dedup.connectedComponentsHybridWithRounds(spark, nodes, edges,
            starSwitchAfter = sw))
          (r._1.localCheckpoint(eager = true), r._2)
        }
        val hDiff = ccH.select(col("doc_id"), col("cluster_id"))
          .exceptAll(cc.select(col("doc_id"), col("cluster_id"))).count()
        println(s"CCPROF hybrid_sw$sw rounds=$hRounds diff=$hDiff")
      }
    }
    // deep-graph A/B: a 100k-node chain forest (1k chains × 100 nodes) +
    // one 3k-node chain — the diameter shape where round count dominates
    val deepEdges = spark.range(0, 100000)
      .select(col("id").as("a_id"), (col("id") + 1).as("b_id"))
      .filter(col("b_id") % 100 =!= 0)
      .unionByName(spark.range(200000, 203000)
        .select(col("id").as("a_id"), (col("id") + 1).as("b_id")))
      .localCheckpoint(eager = true)
    val deepNodes = spark.range(0, 100001).select(col("id").as("doc_id"))
      .unionByName(spark.range(200000, 203001).select(col("id").as("doc_id")))
      .localCheckpoint(eager = true)
    for (rep <- 1 to 2) {
      val (ccA, rA) = t(s"deep_minlabel_$rep") {
        val r = DriverPull.forcingFallbacks(Dedup.connectedComponentsWithRounds(spark, deepNodes, deepEdges,
          maxIters = 200))
        (r._1.localCheckpoint(eager = true), r._2)
      }
      val (ccB, rB) = t(s"deep_star_$rep") {
        val r = DriverPull.forcingFallbacks(Dedup.connectedComponentsStarWithRounds(spark, deepNodes,
          deepEdges))
        (r._1.localCheckpoint(eager = true), r._2)
      }
      val dd = ccB.exceptAll(ccA).count()
      println(s"CCPROF deep minlabel_rounds=$rA star_rounds=$rB label_diff=$dd")
    }
    spark.stop()
  }
}
