package graft.pipeline

import java.io.{BufferedOutputStream, DataOutputStream, File, FileOutputStream}
import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.KinesisShard

/** Kinesis `PutRecords` semantics, rebuilt for Spark (SURVEY.md §2.A A7,
  * §2.B B3–B6). No AWS connectivity exists in this environment, so the
  * "stream" is a local directory with one subdirectory per shard — but the
  * public Kinesis API contract is honored:
  *
  *   - partition key → shard via MD5(pk) interpreted as an unsigned 128-bit
  *     int, routed by equal hash-key ranges (the Kinesis shard model)
  *   - a PutRecords request holds ≤ 500 records and ≤ 5 MiB, each record
  *     ≤ 1 MiB (public API limits)
  *   - per-record success/failure: only the failed subset is retried, with
  *     exponential backoff and a bounded attempt count
  *
  * One executor-side loop, [[ShardWriter]], does all of it: routing, the
  * request cuts, pacing and retry. Both sink surfaces feed it row by row —
  * `deliver` (foreachBatch and backfill) from each shuffled partition, the
  * DataSourceV2 writer (`KinesisV2.scala`) from each input partition — so
  * the driver never materializes records and a task holds at most one
  * pending request per shard.
  */
object KinesisSink {

  val MaxRecordsPerRequest = 500
  val MaxBytesPerRequest: Long = 5L * 1024 * 1024
  val MaxBytesPerRecord: Long = 1L * 1024 * 1024

  final case class KinesisRecord(partitionKey: String, data: Array[Byte])

  private val HashSpace = BigInteger.ONE.shiftLeft(128)

  /** Kinesis shard routing: MD5(partitionKey) as unsigned 128-bit, mapped
    * to `numShards` equal hash-key ranges.
    */
  def shardFor(partitionKey: String, numShards: Int): Int = {
    val md5 = MessageDigest.getInstance("MD5").digest(partitionKey.getBytes(UTF_8))
    val h = new BigInteger(1, md5)
    h.multiply(BigInteger.valueOf(numShards)).divide(HashSpace).intValueExact()
  }

  /** A record's size as Kinesis counts it against the per-request and
    * per-shard limits: data bytes + the partition key's UTF-8 BYTE length
    * (String.length would undercount non-ASCII keys ~3× and let the
    * throttle sustain an ingress above the real shard limit).
    */
  def recordBytes(r: KinesisRecord): Long =
    r.data.length.toLong + r.partitionKey.getBytes(UTF_8).length

  /** One record's delivery outcome — mirrors PutRecordsResultEntry. */
  final case class PutResult(sequenceNumber: Option[Long], errorCode: Option[String])

  val ShardRecordsPerSec = 1000
  val ShardBytesPerSec: Long = 1L * 1024 * 1024

  /** Per-shard ingress pacing to the public Kinesis limits (1000 records/s
    * and 1 MiB/s per shard): a dual token bucket in DEBT mode — a request
    * is admitted whenever both balances are ≥ 0 and then charged in full,
    * so a single request may overdraw (a 5 MiB PutRecords against a 1 MiB/s
    * shard) and the NEXT admission waits the debt out. Long-run rate equals
    * the limit with a burst of one request, which is how a well-behaved
    * producer avoids ProvisionedThroughputExceeded storms instead of
    * discovering the limit through failures and backoff. Clock and sleep
    * are injectable so specs drive it deterministically.
    */
  final class ShardThrottle(
      val recordsPerSec: Int = ShardRecordsPerSec,
      val bytesPerSec: Long = ShardBytesPerSec,
      nanoTime: () => Long = System.nanoTime,
      sleep: Long => Unit = Thread.sleep) extends Serializable {
    private var recTokens: Double = recordsPerSec.toDouble
    private var byteTokens: Double = bytesPerSec.toDouble
    @volatile private var last = nanoTime()
    // lookup-time liveness stamp, written lock-free by `touch` — kept
    // separate from `last` because `last` doubles as the refill clock:
    // advancing IT outside refill would silently discard the tokens
    // accrued since the previous acquire
    @volatile private var lastSeen = last

    /** Mark the bucket recently-looked-up WITHOUT taking its monitor: a
      * bucket handed out by `resident` cannot go idle-past-horizon before
      * the caller's acquire lands, closing the return-then-evicted race
      * that granted one free burst.
      */
    def touch(): Unit = lastSeen = nanoTime()

    /** True once the bucket has sat untouched past its DEBT HORIZON: the
      * worst overdraw one admitted request can leave (≤ 5 MiB against
      * bytesPerSec, ≤ 500 records against recordsPerSec) plus the one
      * second a full refill takes. Such a bucket is indistinguishable
      * from a brand-new one — `refill` would cap it full before the next
      * charge — so evicting it (ShardThrottle.resident's idle sweep)
      * provably cannot change any pacing decision. Uses THIS bucket's
      * injectable clock, so specs drive it deterministically.
      *
      * Deliberately UNSYNCHRONIZED (volatile reads): `acquire` sleeps
      * while holding the monitor — by design, that IS the pacing — so a
      * synchronized read here would make every registry sweep block until
      * every currently-sleeping bucket finished sleeping out its debt,
      * serializing independent shard writers across streams. A stale
      * `last`/`lastSeen` can only make the bucket look MORE recently
      * used, which delays or skips an eviction — harmless, since the
      * sweep is itself a semantic no-op.
      */
    def idleBeyondHorizon(): Boolean = {
      val horizonSec = math.max(
        MaxBytesPerRequest.toDouble / bytesPerSec,
        MaxRecordsPerRequest.toDouble / recordsPerSec) + 1.2
      (nanoTime() - math.max(last, lastSeen)) / 1e9 > horizonSec
    }

    private def refill(): Unit = {
      val now = nanoTime()
      val dt = (now - last) / 1e9
      last = now
      recTokens = math.min(recordsPerSec.toDouble, recTokens + dt * recordsPerSec)
      byteTokens = math.min(bytesPerSec.toDouble, byteTokens + dt * bytesPerSec)
    }

    /** Block until the shard may accept `n` records / `bytes` bytes;
      * returns the total milliseconds slept.
      *
      * Synchronized: executor-resident instances (see [[ShardThrottle
      * .resident]]) are shared by every task on the executor that writes
      * the shard, and serializing concurrent acquirers — including the
      * time one spends sleeping a debt out — IS the pacing semantics: two
      * tasks may not spend the same shard's tokens twice.
      */
    def acquire(n: Int, bytes: Long): Long = synchronized {
      var waited = 0L
      refill()
      while (recTokens < 0 || byteTokens < 0) {
        val needMs = math.max(
          -recTokens / recordsPerSec * 1000.0,
          -byteTokens / bytesPerSec * 1000.0).ceil.toLong.max(1L)
        sleep(needMs)
        waited += needMs
        refill()
      }
      recTokens -= n
      byteTokens -= bytes
      waited
    }
  }

  /** Executor-resident throttle registry. A `ShardThrottle` serialized
    * into a task closure arrives with a FULL bucket, so a per-task (or
    * per-micro-batch) copy silently grants one free burst per batch and
    * sustained ingress exceeds the shard limit (round-4 advisor). Keying
    * the bucket by (scope, shard) in a JVM-global map makes its state
    * survive across tasks and micro-batches on the same executor — the
    * correct scope for pacing, since `deliver` repartitions by shard so
    * one task owns a shard's run within a batch. Across executors each
    * JVM paces independently (coordinating tokens cluster-wide would need
    * an external limiter); a shard's writer lands on one executor per
    * batch, so per-JVM state is the right granularity.
    */
  object ShardThrottle {
    private val registry =
      new java.util.concurrent.ConcurrentHashMap[(String, Int), ShardThrottle]()

    /** The throttle for (scope, shard) at the given rates. `scope` is
      * typically the stream's base directory / name. An existing bucket
      * is kept — debt included — only while its rates match: a restart
      * with CHANGED limits replaces the bucket rather than silently
      * pacing at the old rates forever; a restart with the same limits
      * keeps the balance, so a stopped stream's debt cannot be dodged by
      * bouncing the query. Entries live for the executor JVM until the
      * idle sweep below drops them.
      */
    def resident(scope: String, shard: Int,
        recordsPerSec: Int = ShardRecordsPerSec,
        bytesPerSec: Long = ShardBytesPerSec): ShardThrottle = {
      sweepIdle()
      registry.compute((scope, shard), (_, cur) =>
        if (cur != null && cur.recordsPerSec == recordsPerSec &&
          cur.bytesPerSec == bytesPerSec) {
          // stamp INSIDE the remapping (atomic with the lookup): a bucket
          // this method returns can never be idle-past-horizon before the
          // caller's acquire charges it, so a concurrent sweep cannot
          // evict it and strand the charge on an orphan while the next
          // lookup mints a fresh full bucket (one free burst)
          cur.touch()
          cur
        } else new ShardThrottle(recordsPerSec, bytesPerSec))
    }

    /** Drop every bucket idle past its debt horizon. Semantically a
      * no-op — such a bucket refills to full before it could charge
      * again (see [[ShardThrottle.idleBeyondHorizon]]) — but it bounds
      * registry growth on long-lived executors cycling many ephemeral
      * throttled streams. Runs on every `resident` lookup: an executor
      * that still writes throttled streams keeps its own registry trim.
      */
    def sweepIdle(): Unit =
      registry.entrySet.removeIf(e => e.getValue.idleBeyondHorizon())

    /** Pre-seed a bucket (specs inject fake-clock throttles); replaces any
      * existing entry for the key. The seeded instance survives `resident`
      * lookups whose rates match it. */
    def register(scope: String, shard: Int, t: ShardThrottle): Unit =
      registry.put((scope, shard), t)

    /** Drop a scope's buckets (spec isolation). */
    def evictScope(scope: String): Unit =
      registry.keySet.removeIf(_._1 == scope)

    /** Scopes currently holding buckets in THIS JVM (teardown-spec
      * visibility). */
    def scopes: Set[String] = {
      val out = Set.newBuilder[String]
      registry.keySet.forEach(k => out += k._1)
      out.result()
    }
  }

  /** The stream endpoint. Production shape would be the AWS SDK; here the
    * default is the local directory emulation, and tests inject flaky
    * implementations to drive the retry loop.
    */
  trait PutRecordsClient extends Serializable {
    /** Returns one PutResult per input record, order-preserving. */
    def putRecords(shard: Int, records: Seq[KinesisRecord]): Seq[PutResult]
  }

  /** Local-directory stream emulation: shard=<n>/<fileTag>.krf files of
    * length-prefixed records. A client truncates its file on its first
    * `putRecords` and appends after that; [[ShardWriter]] makes one client
    * per (task, shard) and callers tag files by batch or epoch and
    * partition, so a re-run task or a replayed batch overwrites its own
    * file instead of duplicating it.
    */
  final class DirectoryClient(baseDir: String, fileTag: String) extends PutRecordsClient {
    private var seq = 0L
    private var append = false
    override def putRecords(shard: Int, records: Seq[KinesisRecord]): Seq[PutResult] = {
      val dir = new File(baseDir, s"shard=$shard")
      dir.mkdirs()
      val f = new File(dir, s"$fileTag.krf")
      val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(f, append)))
      append = true
      try records.map { r =>
        val pk = r.partitionKey.getBytes(UTF_8)
        out.writeInt(pk.length); out.write(pk)
        out.writeInt(r.data.length); out.write(r.data)
        seq += 1
        PutResult(Some(seq), None)
      } finally out.close()
    }
  }

  /** Retry loop with exponential backoff: only the failed subset is
    * re-submitted (PutRecords contract). Returns the number of delivered
    * records; throws after `maxAttempts` if records remain undelivered.
    *
    * Re-submissions are charged against `throttle` too: a retried record
    * crosses the wire again, so leaving retries unmetered would let a
    * flaky shard sustain ingress above its limit exactly when it is
    * already struggling (round-4 advisor). [[ShardWriter]] charges the
    * FIRST attempt before it submits; this loop charges attempts 2+, sized
    * to the surviving subset only.
    */
  def putWithRetry(
      client: PutRecordsClient,
      shard: Int,
      records: Seq[KinesisRecord],
      maxAttempts: Int = 5,
      backoffMs: Long = 10L,
      sleep: Long => Unit = Thread.sleep,
      throttle: Option[ShardThrottle] = None): Int = {
    var pending = records
    var attempt = 0
    var delivered = 0
    while (pending.nonEmpty) {
      attempt += 1
      if (attempt > maxAttempts)
        throw new IllegalStateException(
          s"gave up after $maxAttempts attempts with ${pending.size} undelivered records")
      if (attempt > 1) {
        sleep(backoffMs << (attempt - 2))
        throttle.foreach(_.acquire(pending.size, pending.iterator.map(recordBytes).sum))
      }
      val results = client.putRecords(shard, pending)
      val failed = pending.zip(results).collect { case (r, PutResult(_, Some(_))) => r }
      delivered += pending.size - failed.size
      pending = failed
    }
    delivered
  }

  /** The one delivery loop behind both sink surfaces, run inside an
    * executor task. `write` routes each record with `KinesisShard.route`
    * (the codegen'd twin of [[shardFor]]), checks the 1 MiB record limit
    * and appends the record to its shard's single pending request; a
    * request that would pass 500 records or 5 MiB is submitted first. A
    * submit charges the shard's throttle, then hands the request to
    * [[putWithRetry]] on the shard's client. `flush` submits what is left
    * and returns the number of records written.
    *
    * `clientFor(shard, fileTag)` runs on a shard's first submit, so a
    * writer holds one client per shard. `throttleFor(shard)` runs before
    * every submit, on the executor: return [[ShardThrottle.resident]] from
    * it, so the bucket's state survives across tasks and micro-batches
    * instead of arriving as a serialized copy with a full bucket.
    */
  final class ShardWriter(
      numShards: Int,
      clientFor: (Int, String) => PutRecordsClient,
      fileTag: String,
      throttleFor: Int => Option[ShardThrottle]) {
    private val pending = Array.fill(numShards)(mutable.ArrayBuffer.empty[KinesisRecord])
    private val pendingBytes = new Array[Long](numShards)
    private val clients = new Array[PutRecordsClient](numShards)
    private var written = 0L

    def write(pk: UTF8String, data: Array[Byte]): Unit = {
      val shard = KinesisShard.route(pk, numShards)
      val sz = data.length.toLong + pk.numBytes()
      require(sz <= MaxBytesPerRecord, s"record for key $pk exceeds 1 MiB ($sz bytes)")
      if (pending(shard).size == MaxRecordsPerRequest ||
          pendingBytes(shard) + sz > MaxBytesPerRequest) submit(shard)
      pending(shard) += KinesisRecord(pk.toString, data)
      pendingBytes(shard) += sz
      written += 1
    }

    def flush(): Long = {
      (0 until numShards).foreach(submit)
      written
    }

    private def submit(shard: Int): Unit = if (pending(shard).nonEmpty) {
      if (clients(shard) == null) clients(shard) = clientFor(shard, fileTag)
      val throttle = throttleFor(shard)
      // pace BEFORE submitting — throttled producers don't burn their
      // retry budget discovering the shard limit
      throttle.foreach(_.acquire(pending(shard).size, pendingBytes(shard)))
      putWithRetry(clients(shard), shard, pending(shard).toSeq, throttle = throttle)
      pending(shard).clear()
      pendingBytes(shard) = 0L
    }
  }

  /** Deliver a batch DataFrame of (partitionKey: String, data: Binary) to
    * the "stream". The codegen'd `kinesis_shard` expression (plan-auditable,
    * no per-row UDF) is the partition id itself (`repartitionById`), so
    * shard s is partition s: each of the `numShards` tasks owns exactly one
    * shard's records for the batch — the granularity of the throttle
    * registry and of the shard files — and streams them through a
    * [[ShardWriter]] with the tag `<fileTag>-p<s>`. (Hashing the shard id
    * instead would pile several shards into one task and leave others
    * idle.)
    * `fileTag` names the batch (the foreachBatch wrapper passes its
    * batchId): delivering a batch again under the same tag overwrites its
    * files, so a replayed batch does not double.
    */
  def deliver(
      df: DataFrame,
      numShards: Int,
      clientFor: (Int, String) => PutRecordsClient,
      fileTag: String,
      throttleFor: Int => Option[ShardThrottle] = _ => None): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    df.select(col("partitionKey"), col("data"))
      .repartitionById(numShards, call_function("kinesis_shard", col("partitionKey"), lit(numShards)))
      .as[(String, Array[Byte])]
      .foreachPartition { (it: Iterator[(String, Array[Byte])]) =>
        val w = new ShardWriter(numShards, clientFor,
          s"$fileTag-p${TaskContext.getPartitionId()}", throttleFor)
        it.foreach { case (pk, data) => w.write(UTF8String.fromString(pk), data) }
        w.flush()
        ()
      }
  }
}
