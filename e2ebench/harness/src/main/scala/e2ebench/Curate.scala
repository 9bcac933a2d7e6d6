package e2ebench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.Graft
import Main.{Ctx, Result, Section}

/** `curate_paced`: the north-star shape (S3-in → curated → Kinesis-out),
  * open loop. One generator thread atomically drops a file of documents
  * every `DropMs`, each doc stamped with its file's due time as `ts`, at the
  * fixed `--rate`; `Graft.runCurateStream` reads the directory with a fixed
  * `ProcessingTime` trigger into the V2 Kinesis sink. A doc's latency is the
  * commit time of the epoch that delivered it minus its due time. The
  * trigger interval is about one batch's run time here, so batches start on
  * a fixed grid instead of back to back, and the timed docs start at the
  * same point of that grid in every run.
  */
final class Curate(ctx: Ctx) extends Main.Workload {
  private val DropMs = 50
  private val TriggerMs = 2500L
  private val WarmMs = 1000
  private val Shards = 4
  private val perFile = math.max(1, ctx.rate * DropMs / 1000)
  private val warmFiles = WarmMs / DropMs
  private val timedFiles = ctx.seconds * 1000 / DropMs
  private val input = new File(ctx.runDir, "curate/in")
  private val staging = new File(ctx.runDir, "curate/staging")
  private val stream = new File(ctx.runDir, "curate/stream")
  private val ckpt = new File(ctx.runDir, "curate/ckpt")
  private val DocSchema = new StructType()
    .add("doc_id", LongType).add("ts", TimestampType).add("text", StringType)

  private var texts: Array[String] = _
  private val lateMs = mutable.ArrayBuffer.empty[Double]
  private var query: StreamingQuery = _
  private var t0 = 0L
  private var backlogEnd = 0
  private var progress: Seq[StreamingQueryProgress] = Nil

  /** Doc texts for every file: fresh sf0.1-shaped word soup (10–100 tokens,
    * so the quality gate drops about a third), 15 % copy-marked near-dups
    * of an earlier doc, 5 % carrying a contamination phrase. */
  def generate(): Unit = {
    val r = new SplittableRandom(ctx.seed * 6271L + 17L)
    val n = perFile * (warmFiles + timedFiles)
    texts = new Array[String](n)
    def soup(k: Int) = Array.fill(k)(Gen.Vocab(r.nextInt(Gen.Vocab.length))).mkString(" ")
    for (i <- 0 until n) {
      val u = r.nextInt(100)
      texts(i) =
        if (i > 0 && u < 15) s"${texts(r.nextInt(i))} copymark$i"
        else if (u < 20) {
          val w = soup(20 + r.nextInt(40)).split(' ')
          val at = r.nextInt(w.length)
          (w.take(at) ++ Seq(Gen.ScreenPhrases(r.nextInt(Gen.ScreenPhrases.size))) ++ w.drop(at))
            .mkString(" ")
        } else soup(10 + r.nextInt(91))
    }
    Seq(input, staging).foreach(_.mkdirs())
  }

  private def dueMs(file: Int): Long =
    if (file < warmFiles) warmBase + file.toLong * DropMs
    else t0 + (file - warmFiles).toLong * DropMs
  private var warmBase = 0L

  /** Drop files `from until to` on schedule, recording each one's lateness. */
  private def generator(from: Int, to: Int): Thread = {
    val t = new Thread(() => {
      for (f <- from until to) {
        val due = dueMs(f)
        var wait = due - System.currentTimeMillis()
        while (wait > 0) {
          LockSupport.parkNanos(wait * 1000000L)
          wait = due - System.currentTimeMillis()
        }
        val ts = java.time.Instant.ofEpochMilli(due).toString
        val lines = (f * perFile until (f + 1) * perFile).map { id =>
          s"""{"doc_id":$id,"ts":"$ts","text":"${texts(id)}"}"""
        }
        Gen.dropFile(staging, input, f"docs-$f%06d.json", lines)
        if (f >= warmFiles) lateMs.synchronized(lateMs += (System.currentTimeMillis() - due).toDouble)
      }
    }, "e2ebench-generator")
    t.setDaemon(true)
    t
  }

  private def docs: DataFrame = ctx.spark.readStream.schema(DocSchema).json(input.getPath)

  def warmup(): Unit = {
    query = Graft.runCurateStream(docs, Gen.ScreenPhrases, stream.getPath, ckpt.getPath,
      numShards = Shards, trigger = Trigger.ProcessingTime(TriggerMs))
    warmBase = System.currentTimeMillis() + 100
    val g = generator(0, warmFiles)
    g.start(); g.join()
    query.processAllAvailable()
  }

  def measure(r: Result): Unit = {
    val section = new Section
    // ProcessingTime fires on multiples of its interval since the epoch:
    // skip the tick that may still run the warm-up's empty batch and start
    // 100 ms after the next one, so every run meets the grid in one phase
    t0 = (System.currentTimeMillis() / TriggerMs + 2) * TriggerMs + 100
    Thread.sleep(t0 - 50 - System.currentTimeMillis())
    section.time {
      ctx.call("curate_paced.stream") {
        val g = generator(warmFiles, warmFiles + timedFiles)
        g.start(); g.join()
        backlogEnd = input.listFiles().length -
          Progress.filesPerBatch(ckpt).sum
        query.processAllAvailable()
      }
    }
    r.e2e("heap_after_gc_peak_mb") = section.heapAfterGcPeakMb(r)
    progress = query.recentProgress.toSeq
    query.stop()
    val lat = mutable.ArrayBuffer.empty[Double]
    val epochs = mutable.Set.empty[Long]
    val commit = mutable.Map.empty[Long, Double]
    Sink.foreach(stream) { rec =>
      val id = Sink.leadingId(rec.data)
      val file = (id / perFile).toInt
      if (file >= warmFiles) {
        val epoch = rec.tag.stripPrefix("e").takeWhile(_ != '-').toLong
        val c = commit.getOrElseUpdate(epoch, Progress.commitMs(ckpt, epoch))
        epochs += epoch
        lat += c - dueMs(file)
      }
    }
    // docs per second of micro-batch time (empty batches included) over the
    // timed triggers: the rate the stream could sustain, where docs per
    // wall second would only restate the offered rate
    val timed = progress.filter(p => Progress.startMs(p) >= t0)
    r.e2e("throughput_per_s") = timed.map(_.numInputRows).sum /
      (timed.map(Progress.dur(_, "triggerExecution")).sum / 1000)
    r.e2e("latency_p50_ms") = Stats.pct(lat.toSeq, 50)
    r.e2e("latency_p90_ms") = Stats.pct(lat.toSeq, 90)
    r.e2e("cpu_s") = section.cpuNs / 1e9
    r.notes += f"curate: ${perFile * timedFiles} docs offered at ${ctx.rate}/s, " +
      f"${lat.size} admitted in ${epochs.size} triggers, generator late p99 " +
      f"${Stats.pct(lateMs.toSeq, 99)}%.1f ms; trigger ms " +
      progress.map(p => s"${p.numInputRows}:${Progress.dur(p, "triggerExecution").round}").mkString(" ")
  }

  private def batchDocs: DataFrame = ctx.spark.read.schema(DocSchema).json(input.getPath)

  def check(r: Result): Unit = {
    val delivered = mutable.ArrayBuffer.empty[Long]
    Sink.foreach(stream)(rec => delivered += Sink.leadingId(rec.data))
    val expected = Graft.curateStream(batchDocs, Gen.ScreenPhrases)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val got = delivered.toSet
    val want = expected.toSet
    r.ok(texts.length.toLong)
    r.fail((got -- want).size + (want -- got).size + (delivered.size - got.size),
      s"curate: stream admitted ${got.size} docs (${delivered.size} records), " +
        s"batch form admits ${want.size}, ${(got -- want).size + (want -- got).size} differ")
    val dropped = progress.flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    r.fail(dropped, s"curate: $dropped rows dropped by the watermark")
  }

  def probe(r: Result): Unit = {
    val ps = progress.filter(p => Progress.startMs(p) >= t0)
    Progress.triggerLayer(ps, r)
    r.layer("source.files_per_trigger") = timedFiles.toDouble / ps.count(_.numInputRows > 0).max(1)
    r.layer("source.backlog_files_end") = backlogEnd.toDouble
    val ops = ps.flatMap(_.stateOperators.headOption)
    r.layer("state.rows_total") = ops.lastOption.fold(0.0)(_.numRowsTotal.toDouble)
    r.layer("state.memory_bytes") = ops.lastOption.fold(0.0)(_.memoryUsedBytes.toDouble)
    r.layer("state.rows_updated") = ops.map(_.numRowsUpdated.toDouble).sum
    r.layer("state.commit_ms") = Progress.mean(ops.map(_.commitTimeMs.toDouble))
    r.layer("state.update_ms") = Progress.mean(ops.map(_.allUpdatesTimeMs.toDouble))
    r.layer("state.rows_dropped_by_watermark") = ops.map(_.numRowsDroppedByWatermark.toDouble).sum
    val (_, totals) = Sink.audit(stream, Shards, {
      val b = new java.util.BitSet(texts.length); b.set(0, texts.length); b
    })
    r.layer("sink.records") = totals.records.toDouble
    r.layer("sink.bytes") = totals.bytes.toDouble
    r.layer("sink.files") = totals.files.toDouble
    r.layer("sink.shard_skew") = totals.shardSkew
    // the gates one at a time, on the batch form over the same docs: a
    // minEst above 1 disables near-dup suppression
    val all = texts.length.toDouble
    val gated = ctx.call("Graft.curateStream(gate)")(Graft.curateStream(batchDocs, Nil, minEst = 2.0).count())
    val screened = ctx.call("Graft.curateStream(gate+screen)")(
      Graft.curateStream(batchDocs, Gen.ScreenPhrases, minEst = 2.0).count())
    val admitted = ctx.call("Graft.curateStream")(Graft.curateStream(batchDocs, Gen.ScreenPhrases).count())
    r.layer("curate.admitted") = admitted.toDouble
    r.layer("curate.dropped_quality") = all - gated
    r.layer("curate.dropped_contamination") = (gated - screened).toDouble
    r.layer("curate.dropped_neardup") = (screened - admitted).toDouble
    r.layer("gen.records") = all
    r.layer("gen.files") = (warmFiles + timedFiles).toDouble
    r.layer("gen.late_ms_p99") = Stats.pct(lateMs.toSeq, 99)
  }
}
