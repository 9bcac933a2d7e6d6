package graft

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.pipeline.Pipeline

/** E10: the exactly-once file→Kinesis pipeline, including resume from the
  * streaming checkpoint (SURVEY.md §2.E E10, §2.B B7).
  */
class PipelineSpec extends SparkSpec {

  private def writeLines(dir: String, name: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(new File(dir, name), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  private def eventJson(id: Long, user: Long, tpe: String = "view"): String =
    s"""{"event_id":$id,"ts":"2024-01-01T00:0$id:00Z","user_id":$user,"event_type":"$tpe","value":1.5,"props":"{}"}"""

  private def deliveredIds(streamDir: String): Seq[Long] =
    ShardFiles.read(streamDir).values.flatten
      .map { case (_, data) =>
        val s = new String(data, UTF_8)
        """"event_id":(\d+)""".r.findFirstMatchIn(s).get.group(1).toLong
      }.toSeq

  private def quarantineLines(quarantineDir: String): Seq[String] =
    new File(quarantineDir).listFiles().filter(_.getName.startsWith("batch="))
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".txt")))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }.toSeq

  test("pipeline decodes, quarantines, delivers, and resumes without dupes") {
    val bucket = tmpDir("bucket"); val stream = tmpDir("stream")
    val quarantine = tmpDir("quar"); val checkpoint = tmpDir("ckpt")

    writeLines(bucket, "obj-001.jsonl",
      (1L to 5L).map(i => eventJson(i, user = i % 3)) :+ "not json at all")

    val q1 = Pipeline.run(spark, bucket, stream, quarantine, checkpoint, numShards = 4)
    q1.awaitTermination()

    val ids1 = deliveredIds(stream)
    assert(ids1.sorted == (1L to 5L), s"delivered: $ids1")
    assert(quarantineLines(quarantine) == Seq("not json at all"))

    // restart with no new input: nothing re-delivered
    val q2 = Pipeline.run(spark, bucket, stream, quarantine, checkpoint, numShards = 4)
    q2.awaitTermination()
    assert(deliveredIds(stream).sorted == (1L to 5L))

    // new object arrives; restart processes ONLY the new file
    writeLines(bucket, "obj-002.jsonl", (6L to 8L).map(i => eventJson(i, user = i)))
    val q3 = Pipeline.run(spark, bucket, stream, quarantine, checkpoint, numShards = 4)
    q3.awaitTermination()
    val ids3 = deliveredIds(stream)
    assert(ids3.sorted == (1L to 8L), s"after resume: $ids3")
    assert(ids3.size == 8, "no duplicate deliveries across restarts")
  }

  test("a stop mid-flight and a replayed batch still deliver every event exactly once") {
    // 4 objects of 50 events, one object per trigger. Each query is
    // stopped after its first batch, and the newest batch's commit is
    // removed, so the resume must replay a batch the sink already saw;
    // run's batch-tagged files and runV2's epoch-tagged files must both
    // overwrite on the replay
    val bucket = tmpDir("bucket_stop")
    val nEv = 200L
    (0 until 4).foreach(f => writeLines(bucket, f"obj-$f%03d.jsonl", (0 until 50).map { i =>
      s"""{"event_id":${f * 50 + i},"ts":"2024-01-01T00:00:00Z","user_id":${i % 7},""" +
        """"event_type":"view","value":1.5,"props":"{}"}"""
    }))
    def stopAndReplay(start: Trigger => StreamingQuery, ckpt: String, stream: String): Unit = {
      val q1 = start(Trigger.ProcessingTime(0L))
      while (q1.lastProgress == null) Thread.sleep(10)
      q1.stop()
      assert(deliveredIds(stream).size < nEv, "the first query finished before the stop")
      val last = new File(ckpt, "offsets").list().filter(_.forall(_.isDigit)).map(_.toLong).max
      Seq(s"$last", s".$last.crc").foreach(f => new File(ckpt, s"commits/$f").delete())
      val q2 = start(Trigger.AvailableNow())
      q2.awaitTermination()
      assert(q2.recentProgress.head.batchId == last, "the resume did not replay the newest batch")
      val ids = deliveredIds(stream)
      assert(ids.toSet.size == nEv && ids.size == nEv,
        s"${ids.toSet.size} distinct of $nEv events, ${ids.size} delivered")
    }
    val (stream, quarantine, ckpt) = (tmpDir("stream_stop"), tmpDir("quar_stop"), tmpDir("ckpt_stop"))
    stopAndReplay(t => Pipeline.run(spark, bucket, stream, quarantine, ckpt, numShards = 4,
      trigger = t, maxFilesPerTrigger = 1), ckpt, stream)
    val (streamV2, ckptV2) = (tmpDir("stream_stop_v2"), tmpDir("ckpt_stop_v2"))
    stopAndReplay(t => Pipeline.runV2(spark, bucket, streamV2, ckptV2, numShards = 4,
      trigger = t, maxFilesPerTrigger = 1), ckptV2, streamV2)
  }

  test("runV2 delivers the pipeline through the DataSourceV2 connector sink") {
    val bucket = tmpDir("bucket_v2"); val stream = tmpDir("stream_v2")
    val checkpoint = tmpDir("ckpt_v2")
    writeLines(bucket, "obj-001.jsonl",
      (1L to 6L).map(i => eventJson(i, user = i % 4)) :+ "garbage line")
    val q = Pipeline.runV2(spark, bucket, stream, checkpoint, numShards = 3)
    q.awaitTermination()
    val ids = deliveredIds(stream)
    assert(ids.sorted == (1L to 6L), s"delivered: $ids")
    // routing law holds end-to-end: every record sits in its md5 shard
    ShardFiles.read(stream).foreach { case (shard, rs) =>
      rs.foreach { case (pk, _) =>
        assert(graft.pipeline.KinesisSink.shardFor(pk, 3) == shard)
      }
    }
    // restart with no new input: the checkpoint prevents re-delivery
    val q2 = Pipeline.runV2(spark, bucket, stream, checkpoint, numShards = 3)
    q2.awaitTermination()
    assert(deliveredIds(stream).sorted == (1L to 6L), "restart must not duplicate")
  }

  test("backfill replays an archive dir through the same sink path") {
    val bucket = tmpDir("bucket2"); val stream = tmpDir("stream2")
    writeLines(bucket, "archive.jsonl", (1L to 9L).map(i => eventJson(i, user = i % 2)))
    val n = Pipeline.backfill(spark, bucket, stream, numShards = 2, tag = "bf")
    assert(n == 9)
    assert(deliveredIds(stream).sorted == (1L to 9L))
  }

  test("quarantine keeps a malformed line's text and re-serializes well-formed JSON lacking an id") {
    val bucket = tmpDir("bucket_q"); val stream = tmpDir("stream_q")
    val quarantine = tmpDir("quar_q"); val checkpoint = tmpDir("ckpt_q")
    val notJson = "not json at all"
    val truncated = """{"event_id":102,"ts":"2024-01-01T00:00:00Z","""
    val noUser = """{"event_id": 103, "extra": true, "event_type": "click"}"""
    val badType = """{"event_id":"x","ts":"2024-01-01T00:00:00Z","user_id":5}"""
    // both ids parse; only `value` mismatches its type
    val badValue = """{"event_id":10,"user_id":3,"value":"abc"}"""
    writeLines(bucket, "obj-001.jsonl", Seq(
      eventJson(1, user = 1), notJson, eventJson(2, user = 2), truncated,
      noUser, "", badType, badValue, eventJson(3, user = 0)))

    Pipeline.run(spark, bucket, stream, quarantine, checkpoint, numShards = 2)
      .awaitTermination()

    assert(deliveredIds(stream).sorted == Seq(1L, 2L, 3L))
    // malformed lines (not JSON, truncated, a type mismatch in an id or
    // in any other field) keep their original text and are never
    // delivered; the well-formed line without user_id has no corrupt
    // record, so it is quarantined as to_json(ev): schema order, unknown
    // fields dropped, null fields omitted. The JSON reader skips the blank
    // line, so no empty quarantine row appears.
    assert(quarantineLines(quarantine).sorted == Seq(
      notJson, truncated, badType, badValue,
      """{"event_id":103,"event_type":"click"}""").sorted)
  }

  test("runV2 parses each line once, in the scan, with the id checks pushed into it") {
    val bucket = tmpDir("bucket_plan"); val stream = tmpDir("stream_plan")
    val checkpoint = tmpDir("ckpt_plan")
    writeLines(bucket, "obj-001.jsonl", (1L to 4L).map(i => eventJson(i, user = i)) :+ "garbage")
    val q = Pipeline.runV2(spark, bucket, stream, checkpoint, numShards = 2)
    q.awaitTermination()
    assert(deliveredIds(stream).sorted == (1L to 4L))

    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    val parses = plan.flatMap(_.expressions.flatMap(_.collect { case j: JsonToStructs => j }))
    assert(parses.isEmpty, s"from_json in the executed plan:\n$plan")
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"expected one file scan:\n$plan")
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("IsNotNull(event_id)") && pushed.contains("IsNotNull(user_id)"),
      s"pushed filters: $pushed")
  }
}
