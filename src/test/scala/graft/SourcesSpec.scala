package graft

import java.io.{File, PrintWriter}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.pipeline.{Metering, Pipeline}

/** A2/A3/A5 raw-format sources and B9 metering (SURVEY.md §2.A/§2.B). */
class SourcesSpec extends SparkSpec {

  import spark.implicits._

  private def write(dir: String, name: String, lines: Seq[String]): Unit = {
    val w = new PrintWriter(new File(dir, name), "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  test("A2: JSON-lines scan with explicit schema matches the typed table") {
    val dir = tmpDir("json")
    write(dir, "events.jsonl", Seq(
      """{"event_id":1,"ts":"2024-01-01T00:01:00Z","user_id":7,"event_type":"view","value":2.5,"props":"{}"}""",
      """{"event_id":2,"ts":"2024-01-01T00:02:00Z","user_id":8,"event_type":"click","value":1.0,"props":"{}"}"""))
    val df = spark.read.schema(Pipeline.rawEventSchema).json(dir)
    val rows = df.select($"event_id", $"user_id", $"event_type").as[(Long, Long, String)]
      .collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 7L, "view"), (2L, 8L, "click")))
  }

  test("A2: malformed JSON lines surface as nulls, not crashes") {
    val dir = tmpDir("json2")
    write(dir, "bad.jsonl", Seq("""{"event_id":1}""", "NOT JSON"))
    val df = spark.read.schema(Pipeline.rawEventSchema).json(dir)
    assert(df.count() == 2)
    assert(df.filter($"event_id".isNull).count() == 1)
  }

  test("A3: CSV scan with header round-trips") {
    val dir = tmpDir("csv")
    write(dir, "t.csv", Seq("id,name,score", "1,alpha,2.5", "2,beta,3.5"))
    val df = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(df.schema.map(_.name) == Seq("id", "name", "score"))
    assert(df.as[(Int, String, Double)].collect().sortBy(_._1).toSeq ==
      Seq((1, "alpha", 2.5), (2, "beta", 3.5)))
  }

  test("A3b: ORC source/sink round-trips the documents schema exactly") {
    // ORC is the second columnar format of the lake layer (built-in —
    // no extra jars); the round-trip must preserve schema and values
    // bit-for-bit so a corpus landed as ORC grades identically to parquet
    val dir = tmpDir("orc")
    val docs = Tables.documents(spark, sf001).limit(50)
    docs.write.mode("overwrite").orc(s"$dir/documents.orc")
    val back = spark.read.orc(s"$dir/documents.orc")
    assert(back.schema == docs.schema)
    assert(back.count() == 50)
    assert(back.exceptAll(docs).count() == 0 && docs.limit(50).exceptAll(back).count() == 0)
  }

  test("A5: rate source produces monotonically increasing values") {
    val q = spark.readStream.format("rate").option("rowsPerSecond", "50").load()
      .writeStream.format("memory").queryName("rate_t").start()
    try {
      Thread.sleep(1500)
      q.processAllAvailable()
      val vals = spark.table("rate_t").select("value").as[Long].collect()
      assert(vals.nonEmpty)
      assert(vals.sorted.toSeq == (vals.min to vals.max).toSeq, "contiguous sequence")
    } finally q.stop()
  }

  test("B8: ProcessingTime trigger runs as a daemon and picks up late files") {
    val bucket = tmpDir("pbucket"); val stream = tmpDir("pstream")
    val quar = tmpDir("pquar"); val ckpt = tmpDir("pckpt")
    write(bucket, "first.jsonl", Seq(
      """{"event_id":1,"ts":"2024-01-01T00:01:00Z","user_id":1,"event_type":"view","value":1.0,"props":"{}"}"""))
    val q = Pipeline.run(spark, bucket, stream, quar, ckpt, numShards = 2,
      trigger = Trigger.ProcessingTime("200 milliseconds"))
    try {
      q.processAllAvailable()
      // a new "S3 object" lands while the daemon is polling
      write(bucket, "second.jsonl", Seq(
        """{"event_id":2,"ts":"2024-01-01T00:02:00Z","user_id":2,"event_type":"view","value":1.0,"props":"{}"}"""))
      q.processAllAvailable()
      val ids = ShardFiles.read(stream).values.flatten
        .map { case (pk, _) => pk }.toSeq.sorted
      assert(ids == Seq("1", "2"))
    } finally q.stop()
  }

  test("B9: metering listener observes per-batch row counts") {
    val m = Metering.attach(spark)
    try {
      val bucket = tmpDir("mbucket"); val stream = tmpDir("mstream")
      val quar = tmpDir("mquar"); val ckpt = tmpDir("mckpt")
      write(bucket, "obj.jsonl", (1 to 4).map(i =>
        s"""{"event_id":$i,"ts":"2024-01-01T00:0$i:00Z","user_id":$i,"event_type":"view","value":1.0,"props":"{}"}"""))
      val q = Pipeline.run(spark, bucket, stream, quar, ckpt,
        numShards = 2, trigger = Trigger.AvailableNow())
      q.awaitTermination()
      assert(m.totalRows(q.id) == 4, s"metered ${m.batches(q.id)}")
      // the per-trigger fields: a batch that read input took measurable
      // time; the pipeline holds no state and sets no watermark, so those
      // read empty
      val bs = m.batches(q.id)
      assert(bs.filter(_.numInputRows > 0).forall(_.triggerExecutionMs > 0), s"untimed trigger in $bs")
      assert(bs.forall(b => b.watermarkMs.isEmpty && b.stateRows == 0 &&
        b.stateMemoryBytes == 0 && b.stateShufflePartitions == 0), s"metered $bs")
    } finally Metering.detach(spark, m)
  }
}
