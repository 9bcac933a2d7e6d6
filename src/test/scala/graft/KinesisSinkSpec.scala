package graft

import java.io.{DataInputStream, File, FileInputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import graft.pipeline.KinesisSink
import graft.pipeline.KinesisSink._

class KinesisSinkSpec extends SparkSpec {

  private def rec(pk: String, n: Int = 8): KinesisRecord =
    KinesisRecord(pk, Array.fill[Byte](n)(1))

  test("shardFor routes into [0, n) deterministically and spreads keys") {
    val n = 4
    val shards = (0 until 1000).map(i => shardFor(i.toString, n))
    assert(shards.forall(s => s >= 0 && s < n))
    assert(shards == (0 until 1000).map(i => shardFor(i.toString, n)))
    val byShard = shards.groupBy(identity).view.mapValues(_.size)
    assert(byShard.size == n && byShard.values.forall(_ > 150))
  }

  test("a resident() lookup never blocks behind another shard's mid-sleep bucket") {
    // the property the round-8 volatile idle-sweep fix bought: acquire
    // sleeps debt out INSIDE the bucket's monitor (that IS the pacing),
    // so the registry sweep that every resident() lookup runs must read
    // liveness lock-free — otherwise one throttled shard serializes every
    // other shard's writer behind its sleep
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val scope = s"contention_${System.nanoTime()}"
    @volatile var now = 0L
    val inSleep = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val t = new ShardThrottle(
      nanoTime = () => now,
      sleep = ms => {
        inSleep.countDown()
        release.await(30, TimeUnit.SECONDS)
        now += ms * 1000000L // advance the fake clock so the debt drains
      })
    ShardThrottle.register(scope, 0, t)
    try {
      val worker = new Thread(() => {
        t.acquire(500, 5L * 1024 * 1024) // admitted; leaves ~4 MiB debt
        t.acquire(1, 1L)                 // sleeps the debt out, monitor held
        ()
      })
      worker.start()
      assert(inSleep.await(30, TimeUnit.SECONDS), "worker never reached the throttled sleep")
      val t0 = System.nanoTime()
      val other = ShardThrottle.resident(scope, 1)
      val lookupMs = (System.nanoTime() - t0) / 1000000L
      assert(other ne t, "shard 1 must get its own bucket")
      assert(lookupMs < 2000,
        s"resident() blocked $lookupMs ms behind shard 0's sleeping bucket")
      release.countDown()
      worker.join(30000)
      assert(!worker.isAlive, "worker failed to drain its debt after release")
    } finally {
      release.countDown()
      ShardThrottle.evictScope(scope)
    }
  }

  test("batches respect the 500-record limit") {
    val bs = RecordingClient.requests(Iterator.fill(1200)(rec("k")))
    assert(bs.map(_.size) == Vector(500, 500, 200))
  }

  test("batches respect the 5 MiB limit") {
    // 1 MB each (legal per-record): 5 fit in 5 MiB, the 6th starts a new batch
    val big = KinesisRecord("k", Array.fill[Byte](1000000)(0))
    val bs = RecordingClient.requests(Iterator.fill(7)(big))
    assert(bs.map(_.size) == Vector(5, 2))
  }

  test("a record over 1 MiB is rejected") {
    val over = KinesisRecord("k", Array.fill[Byte](1024 * 1024 + 1)(0))
    assertThrows[IllegalArgumentException](RecordingClient.requests(Iterator(over)))
  }

  test("ShardWriter retries each shard's rejected subset once, throttled, and lands every record once") {
    // the loop runV2 and runCurateStream run: 3,000 keys over 4 shards, a
    // seeded client that rejects ~15 % of records on first sight, and one
    // fake-clock bucket per shard at 1 record/s, where every charge is
    // whole seconds of debt: after a last zero-size acquire pays it off,
    // seconds slept + the 1-record bucket == records charged
    val numShards = 4
    val keys = (0 until 3000).map(i => s"k$i")
    def rejectsOnce(pk: String): Boolean =
      java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.productHash((17L, pk)), 1000) < 150
    val seen = mutable.Set.empty[String]
    val outstanding = mutable.Set.empty[String] // rejected, not yet delivered
    val delivered = mutable.Buffer.empty[(Int, String)]
    val retried = Array.fill(numShards)(0)
    val flaky = new PutRecordsClient {
      override def putRecords(shard: Int, records: Seq[KinesisRecord]): Seq[PutResult] = {
        val pks = records.map(_.partitionKey)
        if (pks.exists(seen.contains)) {
          assert(pks.forall(outstanding.contains),
            s"a re-submission carried records never rejected: ${pks.filterNot(outstanding.contains)}")
          retried(shard) += pks.size
        } else seen ++= pks
        pks.map { pk =>
          if (!outstanding.contains(pk) && rejectsOnce(pk)) {
            outstanding += pk
            PutResult(None, Some("ProvisionedThroughputExceededException"))
          } else {
            outstanding -= pk
            delivered += ((shard, pk))
            PutResult(Some(delivered.size.toLong), None)
          }
        }
      }
    }
    val slept = Array.fill(numShards)(0L)
    val throttles = (0 until numShards).map { s =>
      var now = 0L
      new ShardThrottle(recordsPerSec = 1, bytesPerSec = Long.MaxValue / 4,
        nanoTime = () => now, sleep = ms => { slept(s) += ms; now += ms * 1000000L })
    }
    val w = new ShardWriter(numShards, (_, _) => flaky, "retry", s => Some(throttles(s)))
    keys.foreach(k => w.write(org.apache.spark.unsafe.types.UTF8String.fromString(k), Array[Byte](1)))
    assert(w.flush() == keys.size)
    assert(outstanding.isEmpty && delivered.size == keys.size, "a record was lost or doubled")
    assert(delivered.map(_._2).sorted == keys.sorted)
    assert(delivered.forall { case (s, pk) => shardFor(pk, numShards) == s })
    assert(retried.forall(_ > 0), s"every shard must retry, got ${retried.toSeq}")
    assert(retried.sum == keys.count(rejectsOnce))
    val routed = delivered.groupBy(_._1).view.mapValues(_.size).toMap
    (0 until numShards).foreach { s =>
      throttles(s).acquire(0, 0L)
      assert(slept(s) / 1000 + 1 == routed(s) + retried(s),
        s"shard $s: charged ${slept(s) / 1000 + 1} records for ${routed(s)} sent + ${retried(s)} retried")
    }
  }

  test("putWithRetry re-submits only the failed subset and backs off") {
    val sleeps = mutable.Buffer.empty[Long]
    var calls = 0
    val flaky = new PutRecordsClient {
      override def putRecords(shard: Int, records: Seq[KinesisRecord]): Seq[PutResult] = {
        calls += 1
        records.zipWithIndex.map { case (_, i) =>
          // first two calls fail every odd record
          if (calls <= 2 && i % 2 == 1) PutResult(None, Some("Throttled"))
          else PutResult(Some(1L), None)
        }
      }
    }
    val n = putWithRetry(flaky, 0, (1 to 10).map(i => rec(i.toString)),
      maxAttempts = 5, backoffMs = 10, sleep = sleeps.append(_))
    assert(n == 10)
    assert(calls == 3)             // 10 → 5 failed → 2 failed (odd of 5) → 0
    assert(sleeps.toList == List(10, 20)) // exponential backoff
  }

  test("putWithRetry gives up after maxAttempts") {
    val dead = new PutRecordsClient {
      override def putRecords(shard: Int, records: Seq[KinesisRecord]): Seq[PutResult] =
        records.map(_ => PutResult(None, Some("InternalFailure")))
    }
    val e = intercept[IllegalStateException](
      putWithRetry(dead, 0, Seq(rec("a")), maxAttempts = 3, sleep = _ => ()))
    assert(e.getMessage.contains("3 attempts"))
  }

  /** Read every record back out of a shard directory (length-prefixed). */
  def readShardDir(base: String): Map[Int, Seq[(String, Array[Byte])]] =
    ShardFiles.read(base)

  test("kinesis_shard expression equals shardFor on every key (routing law)") {
    import org.apache.spark.sql.functions.{call_function, col, lit}
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    for (n <- Seq(1, 3, 7, 16)) {
      val keys = (0 until 500).map(i => s"key-$i-$n") :+ "" :+ "ünïcødé-κλειδί"
      val got = keys.toDF("pk")
        .select(col("pk"), call_function("kinesis_shard", col("pk"), lit(n)).as("shard"))
        .as[(String, Int)].collect().toMap
      keys.foreach(k => assert(got(k) == shardFor(k, n), s"key $k, n=$n"))
    }
  }

  test("deliver streams shard runs lazily through a large partition") {
    val out = tmpDir("ksink_big")
    import spark.implicits._
    // 120k records through 2 input partitions → each delivery task owns a
    // whole shard's worth of rows; with the old it.toSeq this was one
    // giant in-heap Seq, now at most one ≤5 MiB batch is resident
    val n = 120000
    val df = (1 to n).map(i => (s"k$i", s"v$i".getBytes(UTF_8)))
      .toDF("partitionKey", "data")
      .repartition(2)
    KinesisSink.deliver(df, numShards = 3,
      (shard, tag) => new DirectoryClient(out, tag), fileTag = "big")
    val byShard = readShardDir(out)
    assert(byShard.values.map(_.size).sum == n)
    byShard.foreach { case (s, rs) =>
      rs.foreach { case (pk, _) => assert(shardFor(pk, 3) == s) }
    }
    assert(byShard.keySet == (0 until 3).toSet)
  }

  test("DataSourceV2 StreamingWrite: writeStream.format delivers with Kinesis semantics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = tmpDir("ksinkv2")
    val in = MemoryStream[(String, Array[Byte])]
    val q = in.toDF().toDF("partitionKey", "data")
      .writeStream
      .format(classOf[graft.pipeline.KinesisTableProvider].getName)
      .option("checkpointLocation", tmpDir("ksinkv2_ckpt"))
      .option("baseDir", out)
      .option("numShards", "4")
      .start()
    in.addData((1 to 60).map(i => (i.toString, s"v$i".getBytes(UTF_8))): _*)
    q.processAllAvailable()
    in.addData((61 to 100).map(i => (i.toString, s"v$i".getBytes(UTF_8))): _*)
    q.processAllAvailable()
    q.stop()
    val byShard = readShardDir(out)
    val all = byShard.toSeq.flatMap { case (s, rs) =>
      rs.map { case (pk, d) => (s, pk, new String(d, UTF_8)) }
    }
    assert(all.size == 100)
    assert(all.forall { case (s, pk, _) => shardFor(pk, 4) == s })
    assert(all.forall { case (_, pk, v) => v == s"v$pk" })
    assert(all.map(_._2).toSet == (1 to 100).map(_.toString).toSet)
  }

  test("a restarted V2 stream pays the throttle debt its stopped run left") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = tmpDir("ksinkv2_restart")
    val ckpt = tmpDir("ksinkv2_restart_ckpt")
    var nowNs = 0L
    val sleeps = mutable.Buffer.empty[Long]
    // 10-record fake-clock bucket: run 1's 25 records overdraw it to −15
    // free of sleep; the restart's first flush must sleep that debt out.
    // A fresh bucket at the restart would admit it free.
    KinesisSink.ShardThrottle.register(out, 0, new KinesisSink.ShardThrottle(
      recordsPerSec = 10, bytesPerSec = KinesisSink.ShardBytesPerSec,
      nanoTime = () => nowNs,
      sleep = ms => { sleeps += ms; nowNs += ms * 1000000L }))
    val in = MemoryStream[(String, Array[Byte])]
    def start() = in.toDF().toDF("partitionKey", "data")
      .coalesce(1)
      .writeStream
      .format(classOf[graft.pipeline.KinesisTableProvider].getName)
      .option("checkpointLocation", ckpt)
      .option("baseDir", out)
      .option("numShards", "1")
      .option("throttleRecordsPerSec", "10")
      .start()
    def send(ids: Range): Unit =
      in.addData(ids.map(i => (i.toString, s"v$i".getBytes(UTF_8))): _*)
    try {
      val q1 = start()
      send(1 to 25)
      q1.processAllAvailable()
      assert(sleeps.isEmpty, s"the first flush rides the burst, got $sleeps")
      // the termination event reaches every listener on the shared bus,
      // in order; this one hears it only after any earlier listener has
      val terminated = new java.util.concurrent.CountDownLatch(1)
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case t: QueryTerminatedEvent if t.id == q1.id => terminated.countDown()
          case _ => ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        q1.stop()
        assert(terminated.await(30, java.util.concurrent.TimeUnit.SECONDS),
          "no termination event")
      } finally spark.sparkContext.removeSparkListener(listener)
      val q2 = start()
      send(26 to 50)
      q2.processAllAvailable()
      q2.stop()
      assert(sleeps.toList == List(1500),
        s"the restart must pay run 1's 15-record debt at 10 rec/s, got $sleeps")
      assert(readShardDir(out).values.map(_.size).sum == 50)
    } finally KinesisSink.ShardThrottle.evictScope(out)
  }

  test("shard throttle paces to the record limit with one-request burst debt") {
    var nowNs = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    val t = new KinesisSink.ShardThrottle(
      recordsPerSec = 1000, bytesPerSec = Long.MaxValue / 4,
      nanoTime = () => nowNs,
      sleep = ms => { sleeps += ms; nowNs += ms * 1000000L })
    // bucket starts full (1000): three 500-record requests admit instantly
    // (the third overdraws to -500), the fourth waits the 500ms debt out
    val waits = (1 to 5).map(_ => t.acquire(500, 100L))
    assert(waits.take(3).forall(_ == 0L), s"burst must be free, got $waits")
    assert(waits(3) == 500L && waits(4) == 500L, s"debt pacing wrong: $waits")
    assert(sleeps.sum == 1000L)
  }

  test("shard throttle paces to the byte limit for oversized requests") {
    var nowNs = 0L
    val t = new KinesisSink.ShardThrottle(
      recordsPerSec = Int.MaxValue / 4, bytesPerSec = 1024 * 1024,
      nanoTime = () => nowNs,
      sleep = ms => nowNs += ms * 1000000L)
    // a full 5 MiB PutRecords against a 1 MiB/s shard: first admits on the
    // full bucket, every later one waits ~5s — the long-run rate is 1 MiB/s
    val w1 = t.acquire(500, 5L * 1024 * 1024)
    val w2 = t.acquire(500, 5L * 1024 * 1024)
    val w3 = t.acquire(500, 5L * 1024 * 1024)
    assert(w1 == 0L)
    assert(w2 == 4000L, s"expected 4s debt (5 MiB − 1 MiB bucket), got $w2 ms")
    assert(w3 == 5000L, s"steady state must pace at 5s per 5 MiB, got $w3 ms")
  }

  test("putWithRetry charges retried subsets against the shard throttle") {
    val throttleSleeps = mutable.Buffer.empty[Long]
    var nowNs = 0L
    // bucket of 4 records: attempt 2 (5 records) overdraws to −1 free of
    // sleep, attempt 3 (2 records) must wait the 250 ms debt out — proof
    // the RETRIED subsets are metered, not only the first submission
    val t = new KinesisSink.ShardThrottle(
      recordsPerSec = 4, bytesPerSec = Long.MaxValue / 4,
      nanoTime = () => nowNs,
      sleep = ms => { throttleSleeps += ms; nowNs += ms * 1000000L })
    var calls = 0
    val flaky = new PutRecordsClient {
      override def putRecords(shard: Int, records: Seq[KinesisRecord]): Seq[PutResult] = {
        calls += 1
        records.zipWithIndex.map { case (_, i) =>
          if (calls <= 2 && i % 2 == 1) PutResult(None, Some("Throttled"))
          else PutResult(Some(1L), None)
        }
      }
    }
    val n = putWithRetry(flaky, 0, (1 to 10).map(i => rec(i.toString)),
      maxAttempts = 5, backoffMs = 10, sleep = _ => (), throttle = Some(t))
    assert(n == 10 && calls == 3)
    assert(throttleSleeps.toList == List(250),
      s"attempt 3 must pay the 1-record debt at 4 rec/s, got $throttleSleeps")
  }

  test("ShardThrottle.resident keeps one bucket per (scope, shard) on the JVM") {
    val scope = "resident-spec"
    try {
      val a = KinesisSink.ShardThrottle.resident(scope, 0)
      assert(KinesisSink.ShardThrottle.resident(scope, 0) eq a,
        "same key must return the SAME bucket — a fresh copy per task is the bug")
      assert(!(KinesisSink.ShardThrottle.resident(scope, 1) eq a))
      val fake = new KinesisSink.ShardThrottle(nanoTime = () => 0L, sleep = _ => ())
      KinesisSink.ShardThrottle.register(scope, 0, fake)
      assert(KinesisSink.ShardThrottle.resident(scope, 0) eq fake)
      // changed limits REPLACE the bucket — a restart with new options
      // must not keep pacing at the stale rates
      val reRated = KinesisSink.ShardThrottle.resident(scope, 0, recordsPerSec = 100)
      assert(!(reRated eq fake) && reRated.recordsPerSec == 100)
      // and same limits keep the (possibly indebted) bucket
      assert(KinesisSink.ShardThrottle.resident(scope, 0, recordsPerSec = 100) eq reRated)
    } finally KinesisSink.ShardThrottle.evictScope(scope)
  }

  test("V2 writer paces ingress with an executor-resident throttle across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = tmpDir("ksinkv2_thr")
    var nowNs = 0L
    val sleeps = mutable.Buffer.empty[Long]
    // 10-record bucket, fake clock that only advances when slept: batch 1
    // (25 records, one flush) overdraws the full bucket to −15 with no
    // wait; batch 2's flush must sleep exactly the 1500 ms debt. That both
    // proves the V2 path paces at all AND that the bucket SURVIVED between
    // micro-batches — a per-epoch writer copy would have admitted batch 2
    // free on a fresh bucket.
    // rates must equal what the writer resolves from its options
    // (10 rec/s + default byte limit) — resident() would replace a
    // mismatched-rate seed; tiny test records never dent the byte bucket
    KinesisSink.ShardThrottle.register(out, 0, new KinesisSink.ShardThrottle(
      recordsPerSec = 10, bytesPerSec = KinesisSink.ShardBytesPerSec,
      nanoTime = () => nowNs,
      sleep = ms => { sleeps += ms; nowNs += ms * 1000000L }))
    try {
      val in = MemoryStream[(String, Array[Byte])]
      val q = in.toDF().toDF("partitionKey", "data")
        .coalesce(1) // one writer task → deterministic acquire sequence
        .writeStream
        .format(classOf[graft.pipeline.KinesisTableProvider].getName)
        .option("checkpointLocation", tmpDir("ksinkv2_thr_ckpt"))
        .option("baseDir", out)
        .option("numShards", "1")
        .option("throttleRecordsPerSec", "10")
        .start()
      in.addData((1 to 25).map(i => (i.toString, s"v$i".getBytes(UTF_8))): _*)
      q.processAllAvailable()
      assert(sleeps.isEmpty, s"first flush rides the burst, got $sleeps")
      in.addData((26 to 50).map(i => (i.toString, s"v$i".getBytes(UTF_8))): _*)
      q.processAllAvailable()
      q.stop()
      assert(sleeps.toList == List(1500),
        s"batch 2 must pay batch 1's 15-record debt at 10 rec/s, got $sleeps")
      assert(readShardDir(out).values.map(_.size).sum == 50)
    } finally KinesisSink.ShardThrottle.evictScope(out)
  }

  test("idle sweep evicts only buckets past their debt horizon") {
    // the registry's only eviction: a bucket idle longer than
    // max(5 MiB/bytesPerSec, 500/recordsPerSec) + refill is provably a
    // fresh bucket, so resident() sweeps it; a recently-touched one stays
    val scopeOld = "sweep_old_scope"
    val scopeHot = "sweep_hot_scope"
    try {
      var oldNow = 0L
      // defaults → horizon = max(5 MiB / 1 MiB/s, 500/1000) + 1.2 = 6.2 s
      val oldBucket = new KinesisSink.ShardThrottle(
        nanoTime = () => oldNow, sleep = _ => ())
      KinesisSink.ShardThrottle.register(scopeOld, 0, oldBucket)
      val hotBucket = new KinesisSink.ShardThrottle(sleep = _ => ())
      KinesisSink.ShardThrottle.register(scopeHot, 0, hotBucket)
      hotBucket.acquire(1, 1L) // touch now, real clock
      oldNow = 10L * 1000 * 1000 * 1000 // 10 s of idle on its own clock
      KinesisSink.ShardThrottle.resident("sweep_trigger", 0)
      val scopes = KinesisSink.ShardThrottle.scopes
      assert(!scopes.contains(scopeOld), "idle bucket must be swept")
      assert(scopes.contains(scopeHot), "recently-touched bucket must stay")
    } finally Seq(scopeOld, scopeHot, "sweep_trigger")
      .foreach(KinesisSink.ShardThrottle.evictScope)
  }

  test("record size counts the partition key's UTF-8 bytes, not chars") {
    val cjk = "键值分区键" // 5 chars, 15 UTF-8 bytes
    val r = KinesisSink.KinesisRecord(cjk, Array[Byte](1, 2, 3))
    assert(KinesisSink.recordBytes(r) == 3L + 15L,
      s"got ${KinesisSink.recordBytes(r)} — String.length would give ${3 + cjk.length}")
  }

  test("deliver with a throttle still lands every record (pacing observed)") {
    val out = tmpDir("ksink_thr")
    import spark.implicits._
    val df = (1 to 2000).map(i => (i.toString, s"v$i".getBytes(UTF_8)))
      .toDF("partitionKey", "data")
    // high limits + real clock: pacing engages (bucket 1000 < one shard's
    // ~? records) without making the test slow; correctness must be
    // unchanged — every record on its md5 shard exactly once
    KinesisSink.deliver(df, numShards = 2,
      (shard, tag) => new DirectoryClient(out, tag), fileTag = "thr",
      throttleFor = _ => Some(new KinesisSink.ShardThrottle()))
    val byShard = readShardDir(out)
    assert(byShard.values.map(_.size).sum == 2000)
    byShard.foreach { case (s, rs) =>
      rs.foreach { case (pk, _) => assert(shardFor(pk, 2) == s) }
    }
  }

  test("a replayed deliver batch overwrites its files instead of doubling") {
    val out = tmpDir("ksink_replay")
    import spark.implicits._
    val df = (1 to 100)
      .map(i => (i.toString, s"payload-$i".getBytes(UTF_8)))
      .toDF("partitionKey", "data")
    (1 to 2).foreach { _ =>
      KinesisSink.deliver(df, numShards = 4,
        (shard, tag) => new DirectoryClient(out, tag), fileTag = "replay")
    }
    val all = readShardDir(out).toSeq.flatMap { case (s, rs) => rs.map { case (pk, _) => (s, pk) } }
    assert(all.size == 100, s"the replay left ${all.size} records")
    assert(all.forall { case (s, pk) => shardFor(pk, 4) == s })
    assert(all.map(_._2).toSet == (1 to 100).map(_.toString).toSet)
  }

  test("one delivery loop: putWithRetry is called only by ShardWriter, and the pipeline never sorts") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    def hits(p: Path, needle: String): Seq[(Path, Int)] =
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) && !line.contains(s"def $needle") => (p, i)
      }.toSeq
    val sink = Paths.get("src/main/scala/graft/pipeline/KinesisSink.scala")
    val lines = Files.readAllLines(sink).asScala
    val start = lines.indexWhere(_.contains("final class ShardWriter("))
    val end = lines.indexWhere(_.startsWith("  }"), start)
    assert(start >= 0 && end > start, "ShardWriter is missing from KinesisSink.scala")
    val calls = sources.flatMap(hits(_, "putWithRetry("))
    val (inWriter, stray) = calls.partition { case (p, i) => p == sink && i > start && i < end }
    assert(stray.isEmpty, stray.map { case (p, i) => s"$p:${i + 1}" }
      .mkString("putWithRetry called outside KinesisSink.ShardWriter:\n", "\n", ""))
    assert(inWriter.size == 1, s"ShardWriter must submit through putWithRetry once, found ${inWriter.size}")
    val sorts = sources.filter(_.toString.contains("graft/pipeline/"))
      .flatMap(hits(_, "sortWithinPartitions"))
    assert(sorts.isEmpty, sorts.map { case (p, i) => s"$p:${i + 1}" }
      .mkString("sortWithinPartitions under graft/pipeline/:\n", "\n", ""))
  }

  test("deliver routes every record to its md5 shard (end to end)") {
    val out = tmpDir("ksink")
    import spark.implicits._
    val df = (1 to 100)
      .map(i => (i.toString, s"payload-$i".getBytes(UTF_8)))
      .toDF("partitionKey", "data")
    KinesisSink.deliver(df, numShards = 4,
      (shard, tag) => new DirectoryClient(out, tag), fileTag = "t0")
    val byShard = readShardDir(out)
    val all = byShard.toSeq.flatMap { case (s, rs) => rs.map { case (pk, d) => (s, pk, new String(d, UTF_8)) } }
    assert(all.size == 100)
    assert(all.forall { case (s, pk, _) => shardFor(pk, 4) == s })
    assert(all.map(_._2).toSet == (1 to 100).map(_.toString).toSet)
  }

  test("deliver gives each shard its own task: shard s is written by partition s alone") {
    val out = tmpDir("ksink_byid")
    import spark.implicits._
    val df = (1 to 100)
      .map(i => (i.toString, s"payload-$i".getBytes(UTF_8)))
      .toDF("partitionKey", "data")
    KinesisSink.deliver(df, numShards = 4,
      (shard, tag) => new DirectoryClient(out, tag), fileTag = "byid")
    val files = (0 until 4).map { s =>
      s -> Option(new File(out, s"shard=$s").list()).map(_.toSeq.sorted).getOrElse(Nil)
    }.toMap
    assert(files == (0 until 4).map(s => s -> Seq(s"byid-p$s.krf")).toMap,
      s"shard files by shard: $files")
  }
}

/** A `PutRecordsClient` that accepts every record and keeps each request
  * it is sent, in order: how the specs see where [[KinesisSink.ShardWriter]]
  * cut its requests.
  */
final class RecordingClient extends KinesisSink.PutRecordsClient {
  val requests = mutable.Buffer.empty[Seq[KinesisSink.KinesisRecord]]
  override def putRecords(shard: Int,
      records: Seq[KinesisSink.KinesisRecord]): Seq[KinesisSink.PutResult] = {
    requests += records
    records.map(_ => KinesisSink.PutResult(Some(requests.size.toLong), None))
  }
}

object RecordingClient {
  /** The requests a one-shard writer cuts from `records`. */
  def requests(records: Iterator[KinesisSink.KinesisRecord]): Vector[Seq[KinesisSink.KinesisRecord]] = {
    val client = new RecordingClient
    val w = new KinesisSink.ShardWriter(1, (_, _) => client, "rec", _ => None)
    records.foreach(r =>
      w.write(org.apache.spark.unsafe.types.UTF8String.fromString(r.partitionKey), r.data))
    w.flush()
    client.requests.toVector
  }
}

/** Shared shard-file readers for every suite that drives the
  * file-backed Kinesis sink (KinesisSinkSpec, StreamOpsSpec, PipelineSpec).
  */
object ShardFiles {

  /** Every record in a shard directory (length-prefixed .krf files). */
  def read(base: String): Map[Int, Seq[(String, Array[Byte])]] = {
    val dirs = Option(new File(base).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("shard="))
    dirs.map { d =>
      val shard = d.getName.stripPrefix("shard=").toInt
      val recs = d.listFiles().filter(_.getName.endsWith(".krf")).sortBy(_.getName).toSeq.flatMap { f =>
        val in = new DataInputStream(new FileInputStream(f))
        val buf = mutable.Buffer.empty[(String, Array[Byte])]
        try {
          while (in.available() > 0) {
            val pk = new Array[Byte](in.readInt()); in.readFully(pk)
            val data = new Array[Byte](in.readInt()); in.readFully(data)
            buf += ((new String(pk, UTF_8), data))
          }
        } finally in.close()
        buf
      }
      shard -> recs
    }.toMap
  }

  /** doc_ids parsed out of curation-pipeline JSON payloads — the one
    * place the sink's payload format is assumed, shared by every E2E.
    */
  def deliveredDocIds(base: String): Seq[Long] =
    read(base).values.flatten.map { case (_, data) =>
      """"doc_id":(\d+)""".r.findFirstMatchIn(
        new String(data, UTF_8)).get.group(1).toLong
    }.toSeq
}
