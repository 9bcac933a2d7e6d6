package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.rng.Seed

import graft.pipeline.KinesisSink._

/** ScalaCheck operator laws (SURVEY.md §5.4) — pure (no Spark) properties
  * run under ScalaCheck's own sbt framework.
  */
object SinkProps extends Properties("KinesisSink") {

  private val recGen = Gen.chooseNum(1, 200000).map(n => KinesisRecord("k", new Array[Byte](n)))

  property("batches never exceed 500 records / 5 MiB and preserve order") =
    Prop.forAll(Gen.listOfN(60, recGen)) { recs =>
      val bs = RecordingClient.requests(recs.iterator)
      bs.forall(_.size <= MaxRecordsPerRequest) &&
        bs.forall(_.map(r => r.data.length.toLong + r.partitionKey.length).sum <= MaxBytesPerRequest) &&
        bs.flatten == recs
    }

  property("throttle long-run admitted rate never exceeds the configured limit") = {
    // the B11 contract as a LAW (round-10 VERDICT stretch): over ANY
    // admission sequence — bursts, overdraws, debt — the tokens admitted
    // by fake-clock time t are bounded by limit·(t + 1s) + one request's
    // overdraw (the 1s is the initial full bucket, the overdraw the
    // single admitted-then-charged request the doc promises). Dividing
    // by t: the long-run rate converges to the limit from above, with a
    // burst of exactly one bucket + one request, never more.
    val reqGen = Gen.zip(Gen.chooseNum(1, 500), Gen.chooseNum(1L, 5L * 1024 * 1024))
    Prop.forAll(Gen.listOfN(40, reqGen)) { reqs =>
      val rps = 100
      val bps = 100000L
      var now = 0L
      val t = new ShardThrottle(rps, bps,
        nanoTime = () => now, sleep = ms => now += ms * 1000000L)
      var recs = 0L
      var bytes = 0L
      reqs.forall { case (n, b) =>
        t.acquire(n, b)
        recs += n
        bytes += b
        val sec = now / 1e9
        recs <= rps * (sec + 1) + MaxRecordsPerRequest &&
          bytes <= (bps * (sec + 1) + MaxBytesPerRequest).toLong
      }
    }
  }

  property("shardFor is total, in-range, deterministic") =
    Prop.forAll(Gen.alphaNumStr, Gen.chooseNum(1, 64)) { (key, n) =>
      val s = shardFor(key, n)
      s >= 0 && s < n && s == shardFor(key, n)
    }

  property("retry delivers everything a flaky-but-recovering client accepts") =
    Prop.forAll(Gen.chooseNum(1, 40), Gen.chooseNum(0, 2)) { (n, failRounds) =>
      var round = 0
      val client = new PutRecordsClient {
        override def putRecords(shard: Int, records: Seq[KinesisRecord]): Seq[PutResult] = {
          round += 1
          records.zipWithIndex.map { case (_, i) =>
            if (round <= failRounds && i % 3 == 0) PutResult(None, Some("Throttled"))
            else PutResult(Some(1L), None)
          }
        }
      }
      val recs = (1 to n).map(i => KinesisRecord(i.toString, Array[Byte](1)))
      putWithRetry(client, 0, recs, maxAttempts = 5, sleep = _ => ()) == n
    }
}

/** Spark-backed laws using seeded deterministic Gen samples. */
class SparkLawsSpec extends SparkSpec {

  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  test("law: exact-dedup is idempotent (10 seeded corpora)") {
    val corpusGen = Gen.listOfN(30, Gen.oneOf("a b c", "d e f", "g h i", "j k l"))
    (1L to 10L).foreach { seed =>
      val texts = sample(corpusGen, seed)
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val once = docs.dropDuplicates("text")
      assert(once.dropDuplicates("text").count() == once.count())
      assert(once.count() == texts.distinct.size)
    }
  }

  test("law: identical docs share minhash signatures; disjoint docs mostly differ") {
    val docs = Seq(
      (1L, "p q r s t u v w x y z"),
      (2L, "p q r s t u v w x y z"),
      (3L, "aa bb cc dd ee ff gg hh ii jj kk")).toDF("doc_id", "text")
    val sigs = MinHash.signatures(docs).as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) == sigs(2L))
    val matches = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(matches < MinHash.NumPerms / 2)
  }

  test("law: LSH candidates are ordered pairs with no duplicates") {
    val emb = Tables.embeddings(spark, sf001).select("vec_id", "embedding")
    val cands = Similarity.lshCandidates(spark, emb, minCos = 0.0).collect()
    assert(cands.nonEmpty)
    assert(cands.forall(r => r.getLong(0) < r.getLong(1)))
    val pairs = cands.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
  }

  test("law: sorted_intersect_count equals set intersection (20 seeded pairs)") {
    graft.functions.VectorFunctions.register(spark)
    import org.apache.spark.sql.functions.{call_function, col}
    val setGen = Gen.listOfN(40, Gen.chooseNum(-500L, 500L))
    val rows = (1L to 20L).map { seed =>
      val a = sample(setGen, seed).distinct.sorted
      val b = sample(setGen, seed + 1000).distinct.sorted
      (seed, a, b, a.toSet.intersect(b.toSet).size.toLong)
    }
    val got = rows.map { case (id, a, b, w) => (id, a, b, w) }
      .toDF("id", "a", "b", "want")
      .select(col("id"), call_function("sorted_intersect_count", col("a"), col("b")).as("got"),
        col("want"))
      .as[(Long, Long, Long)].collect()
    got.foreach { case (id, g, w) => assert(g == w, s"seed $id: $g != $w") }
  }

  test("law: simhash64 is a bag-of-tokens hash — word order never changes it") {
    graft.functions.VectorFunctions.register(spark)
    import org.apache.spark.sql.functions.call_function
    val wordsGen = Gen.listOfN(25, Gen.oneOf("red", "green", "blue", "cyan", "teal", "plum"))
    (1L to 10L).foreach { seed =>
      val ws = sample(wordsGen, seed)
      val shuffled = sample(wordsGen, seed).reverse
      val docs = Seq((1L, ws.mkString(" ")), (2L, shuffled.mkString(" ")))
        .toDF("doc_id", "text")
      val sh = docs.select(call_function("simhash64", $"text")).as[Long].collect()
      assert(sh(0) == sh(1), s"seed $seed: permuting tokens changed simhash")
    }
  }

  test("law: minhash estimate tracks exact Jaccard within 0.25 (10 seeded mutations)") {
    val vocab = (1 to 60).map(i => s"tok$i")
    (1L to 10L).foreach { seed =>
      val k = sample(Gen.chooseNum(0, 8), seed)
      val base = vocab.mkString(" ")
      val mutated = vocab.zipWithIndex.map { case (w, i) =>
        if (i % 7 == 0 && i / 7 < k) s"MUT$i" else w
      }.mkString(" ")
      val docs = Seq((1L, base), (2L, mutated)).toDF("doc_id", "text")
      val sh = MinHash.shingles(docs).as[(Long, String)].collect().groupBy(_._1)
      val a = sh(1L).map(_._2).toSet
      val b = sh(2L).map(_._2).toSet
      val exact = a.intersect(b).size.toDouble / a.union(b).size
      val pairs = MinHash.candidatePairs(docs, minEst = 0.0).as[(Long, Long, Double)].collect()
      if (pairs.nonEmpty)
        assert(math.abs(pairs.head._3 - exact) < 0.25,
          s"seed $seed: est ${pairs.head._3} vs exact $exact")
      else assert(exact < 0.7, s"seed $seed: exact $exact but no LSH candidate")
    }
  }

  test("law: rank equals row_number under distinct order keys (10 seeded tables)") {
    // C15: with a total order inside each partition (distinct keys), rank
    // can never skip — any gap means ties were fabricated or rows lost
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, rank, row_number}
    val keysGen = Gen.listOfN(40, Gen.chooseNum(0L, 1000000L)).map(_.distinct)
    (1L to 10L).foreach { seed =>
      val keys = sample(keysGen, seed)
      val rows = keys.zipWithIndex.map { case (k, i) => (i % 3, k) }
      val w = Window.partitionBy(col("p")).orderBy(col("k"))
      val bad = rows.toDF("p", "k")
        .select(rank().over(w).as("rk"), row_number().over(w).as("rn"))
        .filter(col("rk") =!= col("rn")).count()
      assert(bad == 0L, s"seed $seed: rank skipped on distinct keys")
    }
  }

  test("law: tumbling windows partition events exactly (sum of counts = total)") {
    // E1: windowing must neither lose nor double-count — every event falls
    // in exactly one tumbling window
    import org.apache.spark.sql.functions.col
    val evGen = Gen.listOfN(200, for {
      t <- Gen.chooseNum(0L, 3600L * 1000)
      k <- Gen.oneOf("click", "view", "buy")
      v <- Gen.chooseNum(-100, 100)
    } yield (new java.sql.Timestamp(1700000000000L + t), k, v))
    (1L to 5L).foreach { seed =>
      val evs = sample(evGen, seed)
      val df = evs.toDF("ts", "event_type", "value")
      val agg = graft.streaming.StreamOps.tumblingCounts(df, "10 minutes")
      assert(agg.agg(org.apache.spark.sql.functions.sum(col("n")))
        .as[Long].head() == evs.size.toLong, s"seed $seed: events lost/duplicated")
      assert(agg.agg(org.apache.spark.sql.functions.sum(col("total")))
        .as[Long].head() == evs.map(_._3.toLong).sum, s"seed $seed: values drifted")
    }
  }

  test("SQL surface: registered tables + fvec_dot are reachable from spark.sql") {
    Graft.registerTables(spark, sf001)
    val n = spark.sql("SELECT count(*) AS n FROM lineitem JOIN orders ON l_orderkey = o_orderkey")
      .as[Long].head()
    assert(n > 0)
    val d = spark.sql(
      """SELECT fvec_dot(embedding, embedding) AS nsq FROM embeddings ORDER BY vec_id LIMIT 1""")
      .as[Double].head()
    assert(d > 0.0)
    val ev = spark.sql("SELECT count(*) FROM events WHERE ts > 0").as[Long].head()
    assert(ev > 0)
  }
}
