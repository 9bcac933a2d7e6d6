package e2ebench

import java.io.File
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, count, from_json, when}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.pipeline.{KinesisSink, Pipeline}
import Main.{Ctx, Result, Section}

/** Structured Streaming progress, read back from a finished query or from
  * the traced run's listener. */
object Progress {
  def startMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  /** Epoch ms at which the checkpoint's commit log recorded `batchId`. */
  def commitMs(ckpt: File, batchId: Long): Double =
    Files.getLastModifiedTime(new File(ckpt, s"commits/$batchId").toPath)
      .to(java.util.concurrent.TimeUnit.MICROSECONDS) / 1000.0
  /** Files the file source took in each batch (its metadata log). */
  def filesPerBatch(ckpt: File): Seq[Int] =
    Option(new File(ckpt, "sources/0").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
      .map(f => Files.readAllLines(f.toPath).asScala.count(_.startsWith("{")))
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Per-trigger phase means, for the micro-batch loop's layer metrics. */
  def triggerLayer(ps: Seq[StreamingQueryProgress], r: Result): Unit = {
    r.layer("trigger.count") = ps.size.toDouble
    r.layer("trigger.query_planning_ms") = mean(ps.map(dur(_, "queryPlanning")))
    r.layer("trigger.wal_commit_ms") = mean(ps.map(dur(_, "walCommit")))
    r.layer("trigger.commit_offsets_ms") = mean(ps.map(dur(_, "commitOffsets")))
    r.layer("trigger.execution_ms") = mean(ps.map(dur(_, "triggerExecution")))
    r.layer("source.triggers") = ps.size.toDouble
    r.layer("source.latest_offset_ms") = mean(ps.map(dur(_, "latestOffset")))
    r.layer("source.get_batch_ms") = mean(ps.map(dur(_, "getBatch")))
    r.layer("sink.add_batch_ms") = mean(ps.map(dur(_, "addBatch")))
  }
}

/** `ingest_backlog`: the reference's own job. A backlog of JSON-lines
  * event files (sf0.1 `events` replicated to 1M lines, ~1 % malformed) is
  * drained by `Pipeline.runV2` with `Trigger.AvailableNow` into 4 shards.
  * Closed loop: the timed section is one drain of the whole backlog into
  * a fresh checkpoint and stream.
  */
final class Ingest(ctx: Ctx) extends Main.Workload {
  private val Shards = 4
  private val bucket = new File(ctx.runDir, "ingest/bucket")
  private val warmBucket = new File(ctx.runDir, "ingest/warm")
  private val Copies = 10 // × 100k sf0.1 events
  private val lines = 100000L * Copies
  private var valid: java.util.BitSet = _
  private var progress: Seq[StreamingQueryProgress] = Nil
  private var drained: (File, File) = _ // stream, checkpoint
  private var totals: Sink.Totals = _
  private val section = new Section

  def generate(): Unit = {
    valid = Gen.writeEventBacklog(ctx.seed, bucket, Copies, linesPerFile = 25000,
      malformedPerMille = 10)
    Gen.writeEventBacklog(ctx.seed + 1, warmBucket, copies = 1, linesPerFile = 50000,
      malformedPerMille = 10)
  }

  private def drain(from: File, tag: String): (File, File, Seq[StreamingQueryProgress]) = {
    val stream = new File(ctx.runDir, s"ingest/stream-$tag")
    val ckpt = new File(ctx.runDir, s"ingest/ckpt-$tag")
    val q = ctx.call("Pipeline.runV2") {
      val q = Pipeline.runV2(ctx.spark, from.getPath, stream.getPath, ckpt.getPath, Shards)
      q.awaitTermination()
      q
    }
    (stream, ckpt, q.recentProgress.toSeq)
  }

  def warmup(): Unit = drain(warmBucket, "warm")

  def measure(r: Result): Unit = {
    val (stream, ckpt, ps) = section.time(drain(bucket, "timed"))
    val ms = Progress.commitMs(ckpt, ps.last.batchId) - Progress.startMs(ps.head)
    drained = (stream, ckpt)
    progress = ps
    val perTrigger = ps.map(Progress.dur(_, "triggerExecution"))
    r.e2e("throughput_per_s") = valid.cardinality() / (ms / 1000)
    r.e2e("latency_p50_ms") = Stats.pct(perTrigger, 50)
    r.e2e("latency_p90_ms") = Stats.pct(perTrigger, 90)
    r.e2e("cpu_s") = section.cpuNs / 1e9
    r.e2e("heap_after_gc_peak_mb") = section.heapAfterGcPeakMb(r)
    r.notes += f"ingest: drained ${valid.cardinality()} valid records in ${ms.round} ms, " +
      f"${ps.size} triggers"
  }

  def check(r: Result): Unit = {
    val (bad, t) = Sink.audit(drained._1, Shards, valid)
    totals = t
    r.ok(valid.cardinality().toLong)
    bad.filter(_._2 > 0).foreach { case (k, n) => r.fail(n, s"ingest: $n records $k") }
  }

  def probe(r: Result): Unit = {
    Progress.triggerLayer(progress, r)
    val files = Progress.filesPerBatch(drained._2)
    r.layer("source.files_per_trigger") = Progress.mean(files.map(_.toDouble))
    r.layer("source.backlog_files_end") = (bucket.listFiles().length - files.sum).toDouble
    r.layer("sink.records") = totals.records.toDouble
    r.layer("sink.bytes") = totals.bytes.toDouble
    r.layer("sink.files") = totals.files.toDouble
    r.layer("sink.shard_skew") = totals.shardSkew
    // decode probe: the same decode path into Spark's no-op sink
    val src = ctx.spark.read.text(bucket.getPath)
      .select(col("value").as("raw"), from_json(col("value"), Pipeline.rawEventSchema).as("ev"))
    val t0 = System.nanoTime()
    ctx.call("Pipeline.decoded+noop") {
      Pipeline.withPartitionKey(Pipeline.decoded(src)).write.format("noop").mode("overwrite").save()
    }
    r.layer("decode.probe_s") = (System.nanoTime() - t0) / 1e9
    r.layer("decode.rows_in") = lines.toDouble
    val counts = ctx.call("Pipeline.validFilter counts")(src.agg(
      count(when(Pipeline.validFilter, 1)), count(when(!Pipeline.validFilter, 1))).head())
    val nValid = counts.getLong(0)
    r.layer("decode.rows_valid") = nValid.toDouble
    r.layer("decode.rows_quarantined") = counts.getLong(1).toDouble
    r.fail(math.abs(nValid - valid.cardinality()), s"decode: $nValid valid rows, generator wrote ${valid.cardinality()}")
    r.layer("gen.records") = lines.toDouble
    r.layer("gen.files") = bucket.listFiles().length.toDouble
    r.layer("gen.late_ms_p99") = 0.0
    retryProbe(r)
  }

  /** `KinesisSink.deliver` over the decoded first quarter of the backlog
    * with a client that rejects a seeded 2 % of records once, with a
    * throttling error code. */
  private def retryProbe(r: Result): Unit = {
    val files = bucket.listFiles().map(_.getPath).sorted.take(10)
    val src = ctx.spark.read.text(files: _*)
      .select(col("value").as("raw"), from_json(col("value"), Pipeline.rawEventSchema).as("ev"))
    val expected = valid.get(0, 250000)
    val out = new File(ctx.runDir, "ingest/retry-probe")
    val dir = out.getPath
    val seed = ctx.seed
    FlakyClient.reset()
    ctx.call("KinesisSink.deliver") {
      KinesisSink.deliver(Pipeline.withPartitionKey(Pipeline.decoded(src)), Shards,
        (_, tag) => new FlakyClient(dir, tag, seed, perMille = 20), fileTag = "probe")
    }
    val c = FlakyClient
    r.layer("sink.put_calls") = c.calls.get.toDouble
    r.layer("sink.records_per_call") = c.records.get.toDouble / c.calls.get.max(1)
    r.layer("sink.client_ms") = c.clientNs.get / 1e6
    r.layer("sink.retries") = c.retryCalls.get.toDouble
    r.layer("sink.retried_records") = c.retriedRecords.get.toDouble
    r.layer("sink.backoff_ms") = c.backoffNs.get / 1e6
    val (bad, _) = Sink.audit(out, Shards, expected)
    r.ok(expected.cardinality().toLong)
    bad.filter(_._2 > 0).foreach { case (k, n) => r.fail(n, s"retry probe: $n records $k") }
    r.fail(if (c.retriedRecords.get == c.rejected.get && c.rejected.get > 0) 0 else 1,
      s"retry probe: ${c.rejected.get} rejected but ${c.retriedRecords.get} re-submitted")
  }
}

/** A `PutRecordsClient` that rejects a seeded, fixed share of records on
  * their first submission with Kinesis's throttling error code, delivers
  * the rest to the directory stream, and counts what the retry loop does
  * from outside: calls, re-submissions and the wait before each. */
final class FlakyClient(dir: String, tag: String, seed: Long, perMille: Int)
    extends KinesisSink.PutRecordsClient {
  import KinesisSink.{KinesisRecord, PutResult}
  private val inner = new KinesisSink.DirectoryClient(dir, tag)
  private val rejectedOnce = mutable.HashSet.empty[Long]
  private var lastEndNs = 0L

  private def rejects(id: Long): Boolean =
    !rejectedOnce.contains(id) &&
      java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.productHash((seed, id)), 1000) < perMille

  override def putRecords(shard: Int, records: Seq[KinesisRecord]): Seq[PutResult] = {
    val t0 = System.nanoTime()
    val ids = records.map(r => Sink.leadingId(r.data))
    if (ids.nonEmpty && ids.forall(rejectedOnce.contains)) {
      FlakyClient.retryCalls.incrementAndGet()
      FlakyClient.retriedRecords.addAndGet(ids.size)
      FlakyClient.backoffNs.addAndGet(t0 - lastEndNs)
    }
    val reject = ids.map(rejects)
    val accepted = records.zip(reject).collect { case (rec, false) => rec }
    val delivered = inner.putRecords(shard, accepted).iterator
    val out = reject.zip(ids).map { case (rej, id) =>
      if (rej) {
        rejectedOnce += id
        FlakyClient.rejected.incrementAndGet()
        PutResult(None, Some("ProvisionedThroughputExceededException"))
      } else delivered.next()
    }
    FlakyClient.calls.incrementAndGet()
    FlakyClient.records.addAndGet(records.size)
    lastEndNs = System.nanoTime()
    FlakyClient.clientNs.addAndGet(lastEndNs - t0)
    out
  }
}

object FlakyClient {
  val calls, records, clientNs, retryCalls, retriedRecords, backoffNs, rejected = new AtomicLong()
  def reset(): Unit = Seq(calls, records, clientNs, retryCalls, retriedRecords, backoffNs, rejected)
    .foreach(_.set(0))
}
