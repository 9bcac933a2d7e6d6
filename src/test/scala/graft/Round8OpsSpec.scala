package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.sql.functions._

/** Round-8 hardening: scale-aware LSH band defaults, the reliable-
  * checkpoint escape hatch for the CC loop, the F22 single-sizing-job
  * contract, and the lock-free throttle idle sweep.
  */
class Round8OpsSpec extends SparkSpec {

  import spark.implicits._

  test("autoBandBits grows with the corpus and always divides nPlanes") {
    // small corpora keep the recall-friendly narrow bands...
    assert(Similarity.autoBandBits(100, 64) == 4)
    assert(Similarity.autoBandBits(250, 64) == 4)
    // ...and the width tracks log2(n) upward: the ann100k-proven config
    // (4 bands of 16 bits at 100k vectors) is now what the DEFAULT derives
    assert(Similarity.autoBandBits(2000, 64) == 8)
    assert(Similarity.autoBandBits(100000, 64) == 16)
    assert(Similarity.autoBandBits(1000000, 64) == 16)
    assert(Similarity.autoBandBits(100000000, 64) == 32)
    // cap: never wider than 32 bits (the shift/mask extraction's limit)
    assert(Similarity.autoBandBits(Long.MaxValue / 2, 64) == 32)
    // divisibility holds for non-power-of-two plane counts too
    for (np <- Seq(16, 24, 48, 64); n <- Seq(10L, 5000L, 200000L, 50000000L)) {
      val bb = Similarity.autoBandBits(n, np)
      assert(bb > 0 && bb <= 32 && np % bb == 0, s"n=$n np=$np -> $bb")
    }
  }

  test("default LSH banding does not degenerate at 100k vectors") {
    // the round-7 verdict's #1: the old fixed 4-bit default put 100k
    // vectors into 16 buckets per band — the candidate join collapsed
    // toward all-pairs (~5e9). With the corpus-sized default the TOTAL
    // candidate volume must stay sub-linear-in-n² — measured here by
    // running the real operator with a threshold every verified pair
    // passes, so the output count IS the deduped candidate-pair count.
    val n = 100000
    // deterministic pseudo-random 16-dim unit-ish vectors (hash-derived)
    val emb = spark.range(0, n).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        j => ((pmod(hash($"id" * 16 + j), lit(2001)) - 1000) / lit(1000.0)).cast("float"))
        .as("embedding"))
    val cands = Similarity.lshCandidates(spark, emb, minCos = -2.0).count()
    // 64 planes / auto(100k) = 16-bit bands → 4 bands of 65536 buckets;
    // expected random collisions ≈ n²/2 × 4 × 2⁻¹⁶ ≈ 3e5. Allow an order
    // of magnitude of slack — the assert exists to catch the DEGENERATE
    // regime (≥ 1e9 pairs), not to pin the constant.
    assert(cands > 0, "sanity: some candidate pairs must exist")
    assert(cands < 10000000L,
      s"default banding produced $cands candidate pairs at n=$n — degenerate")
  }

  test("CC labels are identical under the reliable-checkpoint option") {
    // 2 planted components: a 2k-node star and a 60-node chain (deep
    // enough to run several convergence blocks → several checkpoint cuts)
    val nodes = spark.range(0, 2060).select($"id".as("doc_id"))
    val star = spark.range(1, 2000).select(lit(0L).as("a_id"), $"id".as("b_id"))
    val chain = spark.range(2000, 2059)
      .select($"id".as("a_id"), ($"id" + 1).as("b_id"))
    val edges = star.unionByName(chain)
    def labels(): Map[Long, Long] = DriverPull.forcingFallbacks {
      Dedup.connectedComponents(spark, nodes, edges, contractAbove = 1L)
        .as[(Long, Long)].collect().toMap
    }
    val dir = tmpDir("cc_reliable_ckpt")
    val reliable = withCheckpointDir(dir)(labels())
    assert(reliable == labels(), "reliable checkpoint changed the labels")
    assert(reliable(1999L) == 0L && reliable(2059L) == 2000L)
    // and it really went through the reliable path: checkpoint files exist
    val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    assert(wrote > 0, "no reliable checkpoint files were written")
  }

  test("F22 computes the eval window set exactly once on both sides of the broadcast threshold") {
    // the sizing count() materializes the lazily-checkpointed distinct
    // window set; the semi-join must REUSE those blocks, not re-run the
    // eval scan — asserted at row granularity with an accumulator riding
    // the eval frame (stronger than a job count: any recompute of the
    // lineage re-fires it). Both threshold sides share the contract.
    graft.functions.VectorFunctions.register(spark)
    val train = (10 to 30).map(i =>
      (i.toLong, (1 to 14).map(j => s"t${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val evalRows = Seq((1L, (1 to 10).map(j => s"t10_$j").mkString(" ")),
      (2L, (1 to 12).map(j => s"e$j").mkString(" ")))
    for (forced <- Seq(false, true)) {
      val acc = spark.sparkContext.longAccumulator(s"evalScans-forced-$forced")
      val eval = evalRows.toDS().map { r => acc.add(1); r }.toDF("doc_id", "text")
      val out =
        if (forced) DriverPull.forcingFallbacks(TextOps.ngramDecontamOf(train, eval))
        else TextOps.ngramDecontamOf(train, eval)
      val afterSizing = acc.value.longValue()
      assert(afterSizing == evalRows.size.toLong,
        s"the sizing pass must scan eval exactly once, saw $afterSizing row-visits")
      val rows = out.collect()
      assert(rows.exists(r => r.getLong(0) == 10L && r.getBoolean(3)),
        "planted contamination must surface")
      assert(acc.value.longValue() == afterSizing,
        s"executing the join re-computed the eval windows " +
          s"(fallbacks forced: $forced): ${acc.value} row-visits")
    }
  }

  test("throttle idle sweep never blocks on a bucket sleeping out its debt") {
    // round-7 ADVICE (medium): idleBeyondHorizon used to synchronize on
    // the bucket monitor that acquire HOLDS WHILE SLEEPING, so one
    // indebted shard's sleep serialized every resident() lookup on the
    // executor. The sweep now reads volatile stamps lock-free.
    val scope = "r8_sweep_noblock"
    val sleeping = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val bucket = new graft.pipeline.KinesisSink.ShardThrottle(
      recordsPerSec = 1, bytesPerSec = Long.MaxValue / 4,
      sleep = ms => {
        if (sleeping.getCount > 0) { sleeping.countDown(); release.await() }
        else Thread.sleep(ms) // post-release repayments sleep for real
      })
    graft.pipeline.KinesisSink.ShardThrottle.register(scope, 0, bucket)
    val t = new Thread(() => {
      bucket.acquire(2, 1L) // overdraws the 1-token bucket
      bucket.acquire(1, 1L) // must sleep the debt out — holds the monitor
    })
    t.start()
    try {
      assert(sleeping.await(10, TimeUnit.SECONDS), "bucket never started sleeping")
      val t0 = System.nanoTime()
      graft.pipeline.KinesisSink.ShardThrottle.sweepIdle()
      val sweepMs = (System.nanoTime() - t0) / 1e6
      assert(sweepMs < 1000.0,
        f"sweepIdle blocked $sweepMs%.0f ms on a sleeping bucket's monitor")
      // the sleeping bucket is NOT idle (its acquire is mid-flight) —
      // the sweep must have left it registered
      assert(graft.pipeline.KinesisSink.ShardThrottle.scopes.contains(scope))
    } finally {
      release.countDown()
      t.join(10000)
      graft.pipeline.KinesisSink.ShardThrottle.evictScope(scope)
    }
  }
}
