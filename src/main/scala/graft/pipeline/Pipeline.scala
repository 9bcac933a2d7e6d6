package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** The reference ETL surface (SURVEY.md §2.A/§2.B, §3.4) as one Structured
  * Streaming query: a watched directory stands in for the S3 bucket, the
  * Kinesis-semantics sink for the stream, and the reference's scheduler /
  * checkpoint / retry logic maps onto triggers, the offset WAL, and the
  * sink's in-executor retry loop.
  *
  *   dir list (A4, maxFilesPerTrigger = batch-size knob)
  *     → JSON scan, one parse per line (B1): event fields + `raw`,
  *       the corrupt-record column (set only when a line did not parse)
  *     → validate/quarantine (B2): the identity-field check is pushed
  *       into the scan as IsNotNull(event_id), IsNotNull(user_id)
  *     → partition-key assignment (B3)
  *     → shard routing + batching + retry (B4–B6, in KinesisSink)
  *   checkpointed (B7), scheduled by Trigger (B8), metered (B9).
  */
object Pipeline {

  /** Raw event schema as it appears in the source JSON-lines files
    * ("S3 objects"): ts is ISO-8601 text at this layer.
    */
  val rawEventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", StringType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The scan's schema: the event fields plus `raw`, Spark's corrupt-record
    * column, which holds a line's text when it is not well-formed JSON of
    * this schema and is null otherwise.
    */
  private val scanSchema: StructType = rawEventSchema.add("raw", StringType)
  private val scanOptions = Map("columnNameOfCorruptRecord" -> "raw")

  /** Re-packs the scan's flat columns as the `(raw, ev)` frame that
    * [[decoded]] and [[quarantined]] take. The reader keeps the fields it
    * parsed before a fault, so a line whose only fault is a non-id type
    * mismatch still carries both ids; here they read null whenever the
    * scan set `raw`, and [[validFilter]] rejects the line. Nulling them by
    * `+ 0` (null when `raw` is set) rather than nulling `ev` keeps the
    * addition null-intolerant, so Catalyst still infers IsNotNull on both
    * id columns and pushes them into the scan.
    */
  private def packed(scan: DataFrame): DataFrame = {
    val unlessCorrupt = when(col("raw").isNull, lit(0L))
    scan.select(col("raw"), struct(rawEventSchema.fieldNames.toSeq.map {
      case id @ ("event_id" | "user_id") => (col(id) + unlessCorrupt).as(id)
      case f => col(f)
    }: _*).as("ev"))
  }

  /** A4 + B1: watch a directory of JSON-lines files. Spark's JSON file
    * source parses each line once, straight from its bytes; a malformed
    * line keeps its text in `raw` (its fields null or partial) so B2 can
    * quarantine it instead of silently dropping it. Blank lines carry no
    * record and are skipped by the reader.
    */
  def fileSource(spark: SparkSession, bucketDir: String, maxFilesPerTrigger: Int = 10): DataFrame =
    packed(spark.readStream
      .schema(scanSchema)
      .options(scanOptions)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(bucketDir))

  /** B2: split decoded vs quarantined. A record is valid when it carries
    * the required identity fields. On a [[fileSource]] frame `ev` is never
    * null, so the predicate folds to IsNotNull(event_id) AND
    * IsNotNull(user_id), which the JSON scan takes as pushed filters.
    */
  def validFilter = col("ev").isNotNull &&
    col("ev.event_id").isNotNull && col("ev.user_id").isNotNull

  def decoded(src: DataFrame): DataFrame =
    src.filter(validFilter).select(
      col("ev.event_id").as("event_id"),
      to_timestamp(col("ev.ts")).as("ts"),
      col("ev.user_id").as("user_id"),
      col("ev.event_type").as("event_type"),
      col("ev.value").as("value"),
      col("ev.props").as("props"))

  /** The lines that fail [[validFilter]], as text: a malformed line's
    * original text, or, for well-formed JSON that lacks `event_id` or
    * `user_id` (its `raw` is null), the parsed record re-serialized as
    * `to_json(ev)`, null fields omitted. Blank lines never reach the
    * frame from [[fileSource]] or [[backfill]], so none is quarantined.
    */
  def quarantined(src: DataFrame): DataFrame =
    src.filter(!validFilter).select(coalesce(col("raw"), to_json(col("ev"))).as("raw"))

  /** B3: partition-key assignment — user_id keys the stream so one user's
    * events land in one shard (ordering per key, the Kinesis contract).
    */
  def withPartitionKey(events: DataFrame): DataFrame =
    events
      .withColumn("partitionKey", col("user_id").cast("string"))
      .withColumn("data", to_json(struct(
        col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))).cast("binary"))

  /** E10: the whole pipeline, exactly-once across restarts: the streaming
    * checkpoint (offset WAL + commit log) replays an unfinished batch, and
    * the sink's batchId-tagged files make re-delivery overwrite, not
    * append-duplicate.
    */
  def run(
      spark: SparkSession,
      bucketDir: String,
      streamDir: String,
      quarantineDir: String,
      checkpointDir: String,
      numShards: Int = 4,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 10): StreamingQuery = {
    val src = fileSource(spark, bucketDir, maxFilesPerTrigger)
    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          quarantined(b).write.mode("overwrite")
            .text(s"$quarantineDir/batch=$batchId")
          val keyed = withPartitionKey(decoded(b))
          KinesisSink.deliver(keyed, numShards,
            (shard, tag) => new KinesisSink.DirectoryClient(streamDir, tag),
            fileTag = s"b$batchId")
        } finally { b.unpersist(); () }
      }
      .start()
  }

  /** The same pipeline on the DataSourceV2 connector sink — `writeStream
    * .format(...)` end to end, no foreachBatch: offsets checkpoint through
    * the standard WAL and the V2 writers' epoch-tagged files keep
    * re-delivery idempotent. One streaming query carries decode → validate
    * → key → route; quarantine (a second sink) runs as its own query over
    * the same source when needed — V2 queries are single-sink by design.
    */
  def runV2(
      spark: SparkSession,
      bucketDir: String,
      streamDir: String,
      checkpointDir: String,
      numShards: Int = 4,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Int = 10): StreamingQuery =
    withPartitionKey(decoded(fileSource(spark, bucketDir, maxFilesPerTrigger)))
      .select(col("partitionKey"), col("data"))
      .writeStream
      .format(classOf[KinesisTableProvider].getName)
      .option("checkpointLocation", checkpointDir)
      .option("baseDir", streamDir)
      .option("numShards", numShards.toString)
      .trigger(trigger)
      .start()

  /** B10: replay/backfill — batch-read the archive ("bucket") dir and push
    * through the same decode → key → sink path, no streaming machinery.
    */
  def backfill(spark: SparkSession, bucketDir: String, streamDir: String,
      numShards: Int = 4, tag: String = "backfill"): Long = {
    val src = packed(spark.read.schema(scanSchema).options(scanOptions).json(bucketDir))
    val keyed = withPartitionKey(decoded(src))
    val n = keyed.count()
    KinesisSink.deliver(keyed, numShards,
      (shard, t) => new KinesisSink.DirectoryClient(streamDir, t), fileTag = tag)
    n
  }
}
