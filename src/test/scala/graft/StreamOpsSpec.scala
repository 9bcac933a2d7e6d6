package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

import graft.pipeline.Metering
import graft.streaming.StreamOps
import graft.streaming.StreamOps.Ev

/** E1–E8 over MemoryStream micro-batches with deterministic asserts. */
class StreamOpsSpec extends SparkSpec {

  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  private def ev(id: Long, min: Int, user: Long = 1, tpe: String = "view",
      value: Double = 1.0): Ev = Ev(id, ts(min), user, tpe, value)

  private var qn = 0
  private def nextName(): String = { qn += 1; s"st_q$qn" }

  private def runToTable(df: org.apache.spark.sql.DataFrame, mode: OutputMode)(
      feed: () => Unit): String = {
    val name = nextName()
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    feed()
    q.processAllAvailable()
    q.stop()
    name
  }

  test("E1: tumbling window counts") {
    val in = MemoryStream[Ev]
    val name = runToTable(StreamOps.tumblingCounts(in.toDF()), OutputMode.Complete()) { () =>
      in.addData(ev(1, 1), ev(2, 3), ev(3, 11), ev(4, 12, tpe = "click"))
    }
    val rows = spark.table(name)
      .select("w_start", "event_type", "n").as[(Timestamp, String, Long)].collect().toSet
    assert(rows == Set((ts(0), "view", 2L), (ts(10), "view", 1L), (ts(10), "click", 1L)))
  }

  test("E2: sliding windows double-count rows in overlapping panes") {
    val in = MemoryStream[Ev]
    val name = runToTable(StreamOps.slidingCounts(in.toDF()), OutputMode.Complete()) { () =>
      in.addData(ev(1, 7))
    }
    // a row at 00:07 belongs to [00:00,00:10) and [00:05,00:15)
    val starts = spark.table(name).select("w_start").as[Timestamp].collect().toSet
    assert(starts == Set(ts(0), ts(5)))
  }

  test("E3: session windows split on the gap") {
    val in = MemoryStream[Ev]
    val name = runToTable(StreamOps.sessionCounts(in.toDF(), gap = "5 minutes"),
      OutputMode.Complete()) { () =>
      in.addData(ev(1, 1), ev(2, 3), ev(3, 20), ev(4, 22))
    }
    val rows = spark.table(name).select("s_start", "n").as[(Timestamp, Long)].collect().toSet
    assert(rows == Set((ts(1), 2L), (ts(20), 2L)))
  }

  test("E4: watermark drops late rows from a finalized window") {
    val in = MemoryStream[Ev]
    val name = nextName()
    val q = StreamOps.watermarkedCounts(in.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    in.addData(ev(1, 1), ev(2, 5))      // window [00:00,00:10): 2 rows
    q.processAllAvailable()
    in.addData(ev(3, 31))               // watermark → 00:21, finalizes [00:00,00:10)
    q.processAllAvailable()
    in.addData(ev(4, 2))                // LATE: before watermark → dropped
    q.processAllAvailable()
    in.addData(ev(5, 45))               // advance again so late effects would surface
    q.processAllAvailable()
    q.stop()
    val w0 = spark.table(name).filter($"w_start" === ts(0)).select("n").as[Long].collect()
    assert(w0.toSeq == Seq(2L), "late row must not re-open the finalized window")
  }

  test("E5: dropDuplicatesWithinWatermark emits one row per event_id") {
    val in = MemoryStream[Ev]
    val name = nextName()
    val q = StreamOps.dedup(in.toDF()).writeStream
      .format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    in.addData(ev(1, 1), ev(1, 1), ev(2, 2))
    q.processAllAvailable()
    in.addData(ev(1, 3), ev(3, 3))      // duplicate id 1 within watermark
    q.processAllAvailable()
    q.stop()
    val ids = spark.table(name).select("event_id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("E6: stream-static broadcast enrichment") {
    val users = Seq((1L, "alice"), (2L, "bob")).toDF("u_id", "name")
    val in = MemoryStream[Ev]
    val name = runToTable(
      StreamOps.enrich(in.toDF(), users).select($"event_id", $"name"),
      OutputMode.Append()) { () =>
      in.addData(ev(10, 1, user = 1), ev(11, 1, user = 9))
    }
    val rows = spark.table(name).as[(Long, Option[String])].collect().toSet
    assert(rows == Set((10L, Some("alice")), (11L, None)))
  }

  test("E7: stream-stream interval join pairs purchases with recent clicks") {
    val in = MemoryStream[Ev]
    val name = runToTable(
      StreamOps.purchaseAfterClick(in.toDF()).select($"purchase_id", $"click_id"),
      OutputMode.Append()) { () =>
      in.addData(
        ev(1, 1, user = 7, tpe = "click"),
        ev(2, 5, user = 7, tpe = "purchase"),   // 4 min after click → joined
        ev(3, 20, user = 7, tpe = "purchase"),  // 19 min after click → outside window
        ev(4, 4, user = 8, tpe = "purchase"))   // no click for user 8
    }
    val rows = spark.table(name).as[(Long, Long)].collect().toSet
    assert(rows == Set((2L, 1L)))
  }

  test("E8/E9: transformWithState running totals in Update mode (RocksDB store)") {
    val in = MemoryStream[Ev]
    val name = nextName()
    val ckpt = tmpDir("tws_ckpt")
    StreamOps.useRocksDbStateStore(spark)
    val q = StreamOps.runningTotals(in.toDS()).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", ckpt)
      .start()
    in.addData(ev(1, 1, user = 5, value = 2.0), ev(2, 2, user = 5, value = 3.0))
    q.processAllAvailable()
    in.addData(ev(3, 3, user = 5, value = 4.0))
    q.processAllAvailable()
    q.stop()
    // update mode: one emission per batch per touched key; state carries over
    val rows = spark.table(name).filter($"user_id" === 5L)
      .select("n_events", "total_value").as[(Long, Double)].collect().toSet
    assert(rows == Set((2L, 5.0), (3L, 9.0)))
  }

  test("E8: flatMapGroupsWithState closes sessions when the watermark passes the gap") {
    val in = MemoryStream[Ev]
    val name = nextName()
    val q = StreamOps.sessionize(in.toDS(), gapMillis = 600000L).toDF()
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    in.addData(ev(1, 1, user = 42, value = 2.0), ev(2, 2, user = 42, value = 3.0))
    q.processAllAvailable()
    // event at 00:30 → watermark 00:30 > 00:02 + 10 min → session 42 closes
    in.addData(ev(3, 30, user = 7))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table(name)
      .filter($"closed" && $"user_id" === 42L)
      .select("n_events", "total_value").as[(Long, Double)].collect()
    assert(closed.toSeq == Seq((2L, 5.0)))
  }

  test("E8: transformWithState event-time timers close sessions at the gap") {
    val in = MemoryStream[Ev]
    val name = nextName()
    StreamOps.useRocksDbStateStore(spark)
    val q = StreamOps.sessionizeTws(in.toDS(), gapMillis = 600000L).toDF()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir("tws_sess_ckpt"))
      .outputMode(OutputMode.Append()).start()
    in.addData(ev(1, 1, user = 42, value = 2.0), ev(2, 2, user = 42, value = 3.0))
    q.processAllAvailable()
    // re-arming must replace the timer, not stack one per arrival: a third
    // event extends the session rather than closing it at 00:01 + gap
    in.addData(ev(3, 5, user = 42, value = 4.0))
    q.processAllAvailable()
    // watermark 00:30 > 00:05 + 10 min → the timer fires and emits ONE
    // closed session for user 42
    in.addData(ev(4, 30, user = 7))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table(name)
      .filter($"closed" && $"user_id" === 42L)
      .select("n_events", "total_value").as[(Long, Double)].collect()
    assert(closed.toSeq == Seq((3L, 9.0)))
  }

  test("streaming near-dup suppression: later near-duplicates are dropped, novel docs pass") {
    import graft.streaming.StreamOps.Doc
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "one two three four five six seven eight nine ten").trim
    // mutation chosen so the FIRST band of the MinHash signature provably
    // stays identical to base's (verified against the deterministic
    // kernel: est 0.91, band-0 equal) — the suppressor keys by band 0
    val nearDup = base.replace("kappa", "KAPPA")
    val unrelated = "completely different words with zero overlap whatsoever " +
      "nothing shared here at all honestly not a single trigram in common"
    val in = MemoryStream[Doc]
    val name = nextName()
    val q = StreamOps.nearDupSuppress(in.toDF(), minEst = 0.5).toDF()
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    in.addData(Doc(1L, ts(1), base))
    q.processAllAvailable()
    // second batch: a near-dup of doc 1 (must be dropped — state carries
    // across batches), an exact dup (dropped), and a novel doc (passes)
    in.addData(Doc(2L, ts(2), nearDup), Doc(3L, ts(3), base), Doc(4L, ts(4), unrelated))
    q.processAllAvailable()
    q.stop()
    val survivors = spark.table(name).select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 4L))
  }

  test("near-dup state TTL: an expired signature is evicted and a late near-dup passes") {
    import graft.streaming.StreamOps.Doc
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "one two three four five six seven eight nine ten").trim
    val nearDup = base.replace("kappa", "KAPPA")
    val unrelated = "completely different words with zero overlap whatsoever " +
      "nothing shared here at all honestly not a single trigram in common"
    val in = MemoryStream[Doc]
    val name = nextName()
    // 5-minute TTL on retained signatures
    val q = StreamOps.nearDupSuppress(in.toDF(), minEst = 0.5, ttlMillis = 300000L).toDF()
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    in.addData(Doc(1L, ts(1), base))
    q.processAllAvailable()
    // unrelated doc at 00:30 advances the watermark far past 00:01 + TTL
    in.addData(Doc(2L, ts(30), unrelated))
    q.processAllAvailable()
    // doc 1's signature expired → its near-dup is ADMITTED now
    in.addData(Doc(3L, ts(31), nearDup))
    q.processAllAvailable()
    // ...and the refreshed state still suppresses an immediate re-dup
    in.addData(Doc(4L, ts(32), nearDup))
    q.processAllAvailable()
    q.stop()
    val survivors = spark.table(name).select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L))
  }

  test("all-band suppression catches a dup that band-0 keying misses (batch-exact)") {
    import graft.streaming.StreamOps.Doc
    import graft.functions.ShingleOps
    import org.apache.spark.unsafe.types.UTF8String
    val nPerms = MinHash.NumPerms
    val bandRows = MinHash.BandRows
    def sig(t: String): IndexedSeq[Long] = {
      val a = ShingleOps.minhashSig(UTF8String.fromString(t), nPerms, MinHash.GramLen)
      (0 until nPerms).map(a.getLong)
    }
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "one two three four five six seven eight nine ten").trim
    val words = base.split(" ")
    val sBase = sig(base)
    // deterministic search for a one-word mutation whose band 0 differs
    // from base (single-band keying routes them to different buckets) but
    // whose overall estimate stays ≥ 0.5 with some later band colliding
    val dup = (0 until words.length).iterator
      .map(i => words.updated(i, "MUTANT").mkString(" "))
      .find { m =>
        val sm = sig(m)
        val band0Differs = (0 until bandRows).exists(r => sm(r) != sBase(r))
        val laterBandMatches = (1 until nPerms / bandRows).exists(b =>
          (0 until bandRows).forall(r => sm(b * bandRows + r) == sBase(b * bandRows + r)))
        val e = (0 until nPerms).count(p => sm(p) == sBase(p)).toDouble / nPerms
        band0Differs && laterBandMatches && e >= 0.5
      }
    assert(dup.isDefined, "no mutation with the required band profile exists")
    val docs = Seq(Doc(1L, ts(1), base), Doc(2L, ts(2), dup.get)).toDF()
    val singleBand = StreamOps.nearDupSuppress(docs, minEst = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(singleBand == Set(1L, 2L), "band-0 keying must miss this dup by construction")
    val allBands = StreamOps.nearDupSuppressAllBands(docs, minEst = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(allBands == Set(1L), "full fan-out must catch the band-2+ collision")
  }

  test("all-band suppression runs on a real stream (fMGWS chained into windowed agg)") {
    import graft.streaming.StreamOps.Doc
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "one two three four five six seven eight nine ten").trim
    val exactDup = base // exact dup collides in EVERY band — no band search needed
    val farFuture = "totally different filler words to push the watermark forward now"
    val in = MemoryStream[Doc]
    val name = nextName()
    val q = StreamOps.nearDupSuppressAllBands(in.toDF(), minEst = 0.5,
        allowUnsafeChain = true).toDF()
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    in.addData(Doc(1L, ts(1), base), Doc(2L, ts(2), exactDup))
    q.processAllAvailable()
    // advance the watermark past doc 1/2's window so the verdict agg emits
    in.addData(Doc(3L, ts(30), farFuture))
    q.processAllAvailable()
    in.addData(Doc(4L, ts(45), "one more batch to close doc 3's window out"))
    q.processAllAvailable()
    q.stop()
    val survivors = spark.table(name).select("doc_id").as[Long].collect().toSet
    assert(survivors.contains(1L) && !survivors.contains(2L),
      s"expected doc 1 admitted and dup 2 suppressed, got $survivors")
  }

  test("all-band state TTL: an expired bucket is evicted and a late dup passes") {
    import graft.streaming.StreamOps.Doc
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "one two three four five six seven eight nine ten").trim
    val unrelated = "completely different words with zero overlap whatsoever " +
      "nothing shared here at all honestly not a single trigram in common"
    val filler = "yet more filler tokens marching the watermark forward again now"
    val in = MemoryStream[Doc]
    val name = nextName()
    // 5-minute TTL: every (band, bucket) of doc 1 must be gone by 00:30
    val q = StreamOps.nearDupSuppressAllBands(in.toDF(), minEst = 0.5,
        ttlMillis = 300000L, allowUnsafeChain = true).toDF()
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    in.addData(Doc(1L, ts(1), base))
    q.processAllAvailable()
    // watermark jumps far past 00:01 + TTL — doc 1's buckets expire
    in.addData(Doc(2L, ts(30), unrelated))
    q.processAllAvailable()
    // exact dup of doc 1 (collides in EVERY band) — ADMITTED, state expired
    in.addData(Doc(3L, ts(31), base))
    q.processAllAvailable()
    // ...and the refreshed state still suppresses an immediate re-dup
    in.addData(Doc(4L, ts(32), base))
    q.processAllAvailable()
    // close out the later windows so the verdict agg emits them
    in.addData(Doc(5L, ts(60), filler))
    q.processAllAvailable()
    in.addData(Doc(6L, ts(90), filler + " final"))
    q.processAllAvailable()
    q.stop()
    val survivors = spark.table(name).select("doc_id").as[Long].collect().toSet
    assert(survivors.contains(1L) && survivors.contains(3L),
      s"doc 3 must be re-admitted after TTL expiry, got $survivors")
    assert(!survivors.contains(4L), s"doc 4 must be suppressed, got $survivors")
  }

  test("all-band chain never silently strips the session correctness guard (opt-in required)") {
    import graft.streaming.StreamOps.Doc
    val conf = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    // fresh session: runtime conf starts at the default regardless of what
    // earlier tests (which DO opt in) did to the shared one
    val ns = spark.newSession()
    val in = MemoryStream[Doc](org.apache.spark.sql.Encoders.product[Doc], ns.sqlContext)
    val ex = intercept[IllegalArgumentException] {
      StreamOps.nearDupSuppressAllBands(in.toDF(), minEst = 0.5)
    }
    assert(ex.getMessage.contains("allowUnsafeChain"))
    // refusing must leave the guard ON for every other stateful query in
    // the caller's session — the round-4 complaint was the silent disable
    assert(ns.conf.get(conf, "true") == "true")
    // explicit opt-in flips it, on this session only
    StreamOps.nearDupSuppressAllBands(in.toDF(), minEst = 0.5, allowUnsafeChain = true)
    assert(ns.conf.get(conf, "true") == "false")
  }

  test("transformWithState near-dup suppression holds state across batches (RocksDB ListState)") {
    import graft.streaming.StreamOps.Doc
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "one two three four five six seven eight nine ten").trim
    val nearDup = base.replace("kappa", "KAPPA")
    val unrelated = "completely different words with zero overlap whatsoever " +
      "nothing shared here at all honestly not a single trigram in common"
    val fresh = (1 to 25).map(k => s"zw$k").mkString(" ")
    StreamOps.useRocksDbStateStore(spark)
    val in = MemoryStream[Doc]
    val out = tmpDir("tws_nd_out"); val ckpt = tmpDir("tws_nd_ckpt")
    // a file sink: the memory sink refuses to resume an append query from
    // its checkpoint, and the restart below is half of the contract
    def start(): StreamingQuery =
      StreamOps.nearDupSuppressTws(in.toDF(), minEst = 0.5).toDF()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).start()
    def delivered(): Seq[Long] =
      spark.read.parquet(out).select("doc_id").as[Long].collect().toSeq.sorted
    val q = start()
    in.addData(Doc(1L, ts(1), base))
    q.processAllAvailable()
    in.addData(Doc(2L, ts(2), nearDup), Doc(3L, ts(3), base), Doc(4L, ts(4), unrelated))
    q.processAllAvailable()
    q.stop()
    assert(delivered() == Seq(1L, 4L))
    // restart on the same checkpoint: nothing re-delivered, the restored
    // ListState still suppresses a near-dup of doc 1, and a copy of a
    // fresh doc in the same batch is suppressed by that doc
    in.addData(Doc(10L, ts(11), nearDup), Doc(11L, ts(12), fresh), Doc(12L, ts(13), fresh))
    val restarted = start()
    restarted.processAllAvailable()
    restarted.stop()
    assert(delivered() == Seq(1L, 4L, 11L),
      s"after restart: ${delivered()} (10 and 12 must be suppressed; 1 and 4 not re-delivered)")
  }

  test("transformWithState TTL: an expired signature is evicted and a late near-dup passes") {
    import graft.streaming.StreamOps.Doc
    // the PROCESSING-time sibling of the fMGWS event-time TTL test: the
    // TTLConfig cap is what bounds RocksDB state operationally, so prove
    // it actually evicts — suppress inside the TTL, admit after it, and
    // suppress again off the refreshed entry.
    val base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon " +
      "one two three four five six seven eight nine ten").trim
    val nearDup = base.replace("kappa", "KAPPA")
    StreamOps.useRocksDbStateStore(spark)
    val in = MemoryStream[Doc]
    val name = nextName()
    val ttl = org.apache.spark.sql.streaming.TTLConfig(java.time.Duration.ofSeconds(10))
    // Processing-time TimeMode makes the engine schedule NO-DATA batches
    // to advance the clock, which (a) free-runs the continuous default
    // trigger and (b) keeps resetting processAllAvailable's wait
    // condition so it never returns. So: a real trigger interval, and
    // progress-polling instead of processAllAvailable.
    val q = StreamOps.nearDupSuppressTws(in.toDF(), minEst = 0.5, ttl).toDF()
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", tmpDir("tws_ttl_ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(200L))
      .outputMode(OutputMode.Append()).start()
    def survivors(): Set[Long] =
      spark.table(name).select("doc_id").as[Long].collect().toSet
    // await on the SINK TABLE, not recentProgress: the no-data batches
    // advancing the TTL clock overflow the 100-entry progress ring
    def awaitTable(expected: Set[Long]): Unit = {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (survivors() != expected && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(survivors() == expected, s"sink table stuck at ${survivors()}")
    }
    in.addData(Doc(1L, ts(1), base))
    awaitTable(Set(1L))
    in.addData(Doc(2L, ts(2), nearDup)) // within the TTL → suppressed
    Thread.sleep(2000)
    assert(survivors() == Set(1L), s"doc 2 must be suppressed: ${survivors()}")
    Thread.sleep(12000) // let doc 1's entry expire (processing-time TTL)
    in.addData(Doc(3L, ts(3), nearDup)) // expired → ADMITTED
    awaitTable(Set(1L, 3L))
    in.addData(Doc(4L, ts(4), nearDup)) // refreshed entry → suppressed again
    Thread.sleep(2000)
    q.stop()
    assert(survivors() == Set(1L, 3L), s"got ${survivors()}")
  }

  test("curateStream: gate + AC screen + dedup state survive a checkpoint restart, E2E to shard files") {
    import graft.streaming.StreamOps.Doc
    // the reference's north-star shape: docs in → curated → Kinesis out.
    // Batch 1 exercises every stage; the restart proves the offsets AND
    // the near-dup state both recover from the one checkpoint.
    val in = MemoryStream[Doc]
    val stream = tmpDir("curate_stream"); val ckpt = tmpDir("curate_ckpt")
    def words(tag: String): String = (1 to 25).map(k => s"${tag}w$k").mkString(" ")
    val phrases = Seq("contraband phrase")
    def run(): Unit = {
      val q = Graft.runCurateStream(in.toDF(), phrases, stream, ckpt,
        numShards = 3,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      q.processAllAvailable(); q.stop()
    }
    def delivered(): Seq[Long] = ShardFiles.deliveredDocIds(stream)
    in.addData(
      Doc(1L, ts(1), words("a")),
      Doc(2L, ts(2), words("a")),                        // exact dup of 1 → suppressed
      Doc(3L, ts(2), "only five little tokens here"),    // gate: too short
      Doc(4L, ts(3), words("c") + " contraband phrase")) // AC screen hit
    run()
    assert(delivered().sorted == Seq(1L), s"batch 1 delivered ${delivered().sorted}")
    // restart on the same checkpoint: nothing re-delivered, and the dedup
    // state is restored — a post-restart near-dup of doc 1 still suppressed
    in.addData(
      Doc(10L, ts(11), words("a")),  // dup of doc 1, across the restart
      Doc(11L, ts(12), words("z")))  // fresh doc
    run()
    assert(delivered().sorted == Seq(1L, 11L),
      s"after restart: ${delivered().sorted} (10 must be suppressed by restored state; 1 not re-delivered)")
    // the Kinesis routing law holds for curated records too
    ShardFiles.read(stream).foreach { case (shard, rs) =>
      rs.foreach { case (pk, _) =>
        assert(graft.pipeline.KinesisSink.shardFor(pk, 3) == shard)
      }
    }
  }

  test("curateStream corpusFp screen: stream-static anti join, re-resolved per micro-batch") {
    import graft.streaming.StreamOps.Doc
    // the streaming sibling of F28's exact path: arrivals already
    // fingerprinted in the DELIVERED corpus are dropped before they can
    // occupy suppressor state. The static side is a file-based frame, so
    // a fingerprint appended between micro-batches screens WITHOUT a
    // stream restart — the property that lets an external appender keep
    // the screen current at ingest cadence.
    def words(tag: String): String = (1 to 25).map(k => s"${tag}w$k").mkString(" ")
    val fpDir = tmpDir("corpus_fp")
    val standing = Seq((100L, words("corp"))).toDF("doc_id", "text")
    Graft.corpusFingerprints(standing).write.mode("overwrite").parquet(fpDir)
    val corpusFp = spark.read.parquet(fpDir) // file-based: re-planned per batch
    val in = MemoryStream[Doc]
    val out = in.toDF()
    val q = Graft.curateStream(out, Nil, corpusFp = Some(corpusFp))
      .writeStream.format("memory").queryName("fp_screen")
      .outputMode("append").start()
    in.addData(
      Doc(1L, ts(1), words("corp")),   // exact copy of the standing doc → screened
      Doc(2L, ts(2), words("fresh")))  // admitted
    q.processAllAvailable()
    def admitted(): Seq[Long] = spark.table("fp_screen")
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(admitted() == Seq(2L), s"batch 1 admitted ${admitted()}")
    // append doc 2's OWN fingerprint to the static side mid-stream (the
    // delivered-corpus appender): a later exact copy must now be screened
    // by the refreshed static frame, not by suppressor state — prove it
    // with a DIFFERENT doc carrying the same text
    Graft.corpusFingerprints(Seq((2L, words("fresh"))).toDF("doc_id", "text"))
      .write.mode("append").parquet(fpDir)
    in.addData(
      Doc(3L, ts(3), words("fresh")),  // fp added between batches → screened
      Doc(4L, ts(4), words("newer")))  // admitted
    q.processAllAvailable(); q.stop()
    assert(admitted() == Seq(2L, 4L), s"batch 2 admitted ${admitted()}")
    // batch-frame pinning: same operator semantics on a plain DataFrame
    val batch = Seq(Doc(11L, ts(5), words("corp")), Doc(12L, ts(6), words("solo"))).toDF()
    val kept = Graft.curateStream(batch, Nil, corpusFp = Some(corpusFp))
      .select("doc_id").as[Long].collect().toSeq.sorted
    assert(kept == Seq(12L), s"batch-mode kept $kept")
  }

  test("curateStream corpusFp screen survives a checkpoint restart, E2E to shard files") {
    import graft.streaming.StreamOps.Doc
    // round 15 (verdict item): the stream-static anti join's exactly-once
    // story under the E10 treatment — kill the query, restart on the SAME
    // checkpoint, and assert (a) nothing re-delivers, (b) the screen still
    // applies post-restart, (c) a fingerprint appended while the query was
    // DOWN is picked up on restart (the static side re-resolves from
    // files, no state involved).
    def words(tag: String): String = (1 to 25).map(k => s"${tag}w$k").mkString(" ")
    val fpDir = tmpDir("fp_rs_corpus")
    Graft.corpusFingerprints(Seq((100L, words("corp"))).toDF("doc_id", "text"))
      .write.mode("overwrite").parquet(fpDir)
    val in = MemoryStream[Doc]
    val stream = tmpDir("fp_rs_stream"); val ckpt = tmpDir("fp_rs_ckpt")
    def run(): Unit = {
      // fp frame re-read per (re)start, exactly like a production restart
      val q = Graft.runCurateStream(in.toDF(), Nil, stream, ckpt, numShards = 3,
        corpusFp = Some(spark.read.parquet(fpDir)),
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      q.processAllAvailable(); q.stop()
    }
    def delivered(): Seq[Long] = ShardFiles.deliveredDocIds(stream)
    in.addData(
      Doc(1L, ts(1), words("corp")),   // in the standing corpus → screened
      Doc(2L, ts(2), words("fresh")))  // admitted + delivered
    run()
    assert(delivered().sorted == Seq(2L), s"batch 1 delivered ${delivered().sorted}")
    // while the query is DOWN: the delivered-corpus appender records doc 2
    Graft.corpusFingerprints(Seq((2L, words("fresh"))).toDF("doc_id", "text"))
      .write.mode("append").parquet(fpDir)
    in.addData(
      Doc(3L, ts(3), words("fresh")),  // fp appended during downtime → screened
      Doc(4L, ts(4), words("corp")),   // original corpus fp still screens
      Doc(5L, ts(5), words("novel")))  // admitted
    run()
    assert(delivered().sorted == Seq(2L, 5L),
      s"after restart: ${delivered().sorted} (2 not re-delivered; 3 and 4 screened)")
  }

  private val WidthKey = "spark.sql.shuffle.partitions"

  /** Runs `body` with the session's shuffle width at `n`, then restores it. */
  private def atSessionWidth[A](n: Int)(body: => A): A = {
    val prev = spark.conf.get(WidthKey)
    spark.conf.set(WidthKey, n.toString)
    try body finally spark.conf.set(WidthKey, prev)
  }

  /** The first `n` metered batches that read input under `q`'s id (a
    * restart keeps the id), once the listener bus has delivered them:
    * progress events reach listeners asynchronously. */
  private def dataBatches(m: Metering, q: StreamingQuery, n: Int = 1): Seq[m.BatchMetric] = {
    val deadline = System.nanoTime() + 30000000000L
    def got = m.batches(q.id).filter(_.numInputRows > 0)
    while (got.size < n && System.nanoTime() < deadline) Thread.sleep(50)
    got.take(n)
  }

  test("runCurateStream starts fresh near-dup state at defaultParallelism, not the session's width") {
    import graft.streaming.StreamOps.Doc
    val width = spark.sparkContext.defaultParallelism
    assert(width != 32, "the spec needs a cluster narrower than the session width")
    def words(tag: String): String = (1 to 25).map(k => s"${tag}w$k").mkString(" ")
    val in = MemoryStream[Doc]
    in.addData(Doc(1L, ts(1), words("a")), Doc(2L, ts(2), words("a")), Doc(3L, ts(3), words("b")))
    val m = Metering.attach(spark)
    try atSessionWidth(32) {
      val q = Graft.runCurateStream(in.toDF(), Nil, tmpDir("width_stream"),
        tmpDir("width_ckpt"), numShards = 3, trigger = Trigger.ProcessingTime(0L))
      try {
        assert(spark.conf.get(WidthKey) == "32", "start() must restore the caller's width")
        q.processAllAvailable()
        assert(q.lastProgress.stateOperators.head.numShufflePartitions == width)
      } finally q.stop()
      val metered = dataBatches(m, q)
      assert(metered.nonEmpty && metered.forall(_.stateShufflePartitions == width),
        s"metered state widths ${metered.map(_.stateShufflePartitions)}, want $width")
      assert(metered.forall(b => b.stateRows > 0 && b.stateMemoryBytes > 0 && b.watermarkMs.nonEmpty),
        s"metered $metered")
    } finally Metering.detach(spark, m)
  }

  test("a checkpoint written at the session's 32 state partitions restarts through runCurateStream at 32, every doc once") {
    // a checkpoint whose state took the session's width (the same query
    // started straight through writeStream). A restart through
    // runCurateStream must keep that width (the state is laid out by it)
    // and lose or repeat no doc.
    def words(tag: String): String = (1 to 25).map(k => s"${tag}w$k").mkString(" ")
    def line(id: Long, min: Int, text: String): String =
      f"""{"doc_id":$id,"ts":"2024-01-01T00:$min%02d:00Z","text":"$text"}"""
    def drop(dir: String, name: String, lines: Seq[String]): Unit = {
      val tmp = new java.io.File(tmpDir("width_stage"), name)
      java.nio.file.Files.write(tmp.toPath, lines.mkString("\n").getBytes("UTF-8"))
      java.nio.file.Files.move(tmp.toPath, new java.io.File(dir, name).toPath)
    }
    val schema = "doc_id LONG, ts TIMESTAMP, text STRING"
    val phrases = Seq("contraband phrase")
    val inbox = tmpDir("width_in"); val stream = tmpDir("width_rs_stream")
    val ckpt = tmpDir("width_rs_ckpt")
    def docs() = spark.readStream.schema(schema).json(inbox)
    drop(inbox, "a.json", Seq(
      line(1L, 1, words("a")),
      line(2L, 2, words("a")),                         // dup of 1
      line(3L, 3, words("b")),
      line(4L, 3, "too short"),                        // quality gate
      line(5L, 4, words("c") + " contraband phrase"))) // screen
    val m = Metering.attach(spark)
    try atSessionWidth(32) {
      val first = Graft.curateStream(docs(), phrases)
        .select(col("partitionKey"), col("data"))
        .writeStream.format(Graft.KinesisSinkFormat)
        .option("checkpointLocation", ckpt).option("baseDir", stream)
        .option("numShards", "3").trigger(Trigger.ProcessingTime(0L)).start()
      first.processAllAvailable(); first.stop()
      assert(dataBatches(m, first).map(_.stateShufflePartitions) == Seq(32L))
      drop(inbox, "b.json", Seq(
        line(10L, 11, words("a")),  // dup of 1, across the restart
        line(11L, 12, words("z")),
        line(12L, 13, words("b")),  // dup of 3, across the restart
        line(13L, 14, words("y"))))
      val second = Graft.runCurateStream(docs(), phrases, stream, ckpt,
        numShards = 3, trigger = Trigger.ProcessingTime(0L))
      second.processAllAvailable(); second.stop()
      assert(dataBatches(m, second, 2).map(_.stateShufflePartitions) == Seq(32L, 32L),
        "a restart must keep the width recorded in the checkpoint")
    } finally Metering.detach(spark, m)
    val delivered = ShardFiles.deliveredDocIds(stream)
    assert(delivered.size == delivered.distinct.size, s"a doc was delivered twice: ${delivered.sorted}")
    val batch = Graft.curateStream(spark.read.schema(schema).json(inbox), phrases)
      .select("doc_id").as[Long].collect().toSet
    assert(delivered.toSet == batch, s"stream ${delivered.sorted} vs batch ${batch.toSeq.sorted}")
    assert(batch == Set(1L, 3L, 11L, 13L))
  }

  test("streamed curation, then the batch global stages over the delivered corpus ≡ one batch pass") {
    import graft.streaming.StreamOps.Doc
    // 12 graded texts × 4 exact copies, two micro-batches. The gate is
    // permissive and the screen empty, so the only stream-side drops are
    // near-dup suppressions; the batch pass over what the sink delivered
    // (jaccard CC, semantic dedup, eval decontamination) must land on the
    // rows one batch pass over the whole input computes
    val texts = Tables.documents(spark, sf001).filter(col("text").isNotNull)
      .orderBy("doc_id").limit(12).select("text").as[String].collect()
    val (copies, perBatch) = (4, 2)
    def batch(b: Int): Seq[Doc] = for {
      src <- texts.indices; c <- 0 until perBatch
    } yield Doc(src.toLong * copies + b * perBatch + c, ts(b), texts(src))
    val allDocs = (0 until copies / perBatch).flatMap(batch).toDF()
    val gate = Graft.QualityGate(minTokens = 1, maxTokens = 1000000, maxStopwordRatio = 1.0)
    // source s and s + 6 share one 64-dim hash vector: semantic dups that
    // only the corpus-global pass can see
    val emb = spark.range(0, texts.length.toLong * copies).select(col("id").as("doc_id"),
      transform(sequence(lit(0), lit(63)), j => ((pmod(hash(pmod(floor(col("id") / copies),
        lit(6L)) * 64 + j), lit(2001)) - 1000) / lit(1000.0)).cast("float")).as("embedding"))
    val evalDocs = texts.take(5).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("doc_id", "text")
    def curateBatch(docs: org.apache.spark.sql.DataFrame): Seq[String] =
      Graft.curateCorpus(spark, docs, screenPhrases = Seq(), quality = gate,
        evalDocs = Some(evalDocs), semantic = Some(Graft.SemanticDedup(emb, minCos = 0.9)))
        .collect().map(_.toString).sorted.toSeq
    val in = MemoryStream[Doc]
    val stream = tmpDir("bridge_stream")
    val q = Graft.runCurateStream(in.toDF(), Seq(), stream, tmpDir("bridge_ckpt"),
      numShards = 2, quality = gate, trigger = Trigger.ProcessingTime(0L))
    (0 until copies / perBatch).foreach { b => in.addData(batch(b)); q.processAllAvailable() }
    q.stop()
    val delivered = ShardFiles.read(stream).values.flatten
      .map { case (_, data) => new String(data, java.nio.charset.StandardCharsets.UTF_8) }
      .toSeq.toDF("json")
      .select(from_json(col("json"), org.apache.spark.sql.types.StructType
        .fromDDL("doc_id LONG, ts TIMESTAMP, text STRING")).as("r"))
      .select("r.doc_id", "r.text")
    val composed = curateBatch(delivered)
    assert(composed.nonEmpty, "no survivors: the setup is broken")
    assert(composed == curateBatch(allDocs))
  }

  test("gram-less docs bypass near-dup state and always pass") {
    import graft.streaming.StreamOps.Doc
    // < 3 tokens → NULL signature; the old sentinel signature made all of
    // these collide as 'perfect' dups and only doc 1 survived
    val docs = Seq(Doc(1L, ts(1), "hi"), Doc(2L, ts(2), "yo there"),
      Doc(3L, ts(3), "hi")).toDF()
    val survivors = StreamOps.nearDupSuppress(docs, minEst = 0.1)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 2L, 3L))
  }
}
