package graft.pipeline

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo,
  Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 connector surface for the Kinesis-semantics sink
  * (SURVEY.md §2.A A7, §7.3): `df.writeStream.format(<this class>)
  * .option("baseDir", …).option("numShards", …)` — the connector-API form
  * the reference's sink surface maps to. It is the second surface over the
  * one delivery loop: each [[KinesisV2Writer]] feeds its input partition's
  * rows to a [[KinesisSink.ShardWriter]], the same routing, request cuts,
  * pacing and retry that `KinesisSink.deliver` runs for foreachBatch. Files
  * are tagged by (epoch, partition) and each `DirectoryClient` truncates
  * its file on first write, so a retried task overwrites instead of
  * duplicating.
  */
class KinesisTableProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisTableProvider.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new KinesisTable(properties.asScala.toMap)
  override def supportsExternalMetadata(): Boolean = true
}

object KinesisTableProvider {
  val Schema: StructType = new StructType()
    .add("partitionKey", StringType, nullable = false)
    .add("data", BinaryType, nullable = false)
}

private[pipeline] class KinesisTable(properties: Map[String, String])
    extends Table with SupportsWrite {
  override def name(): String =
    s"kinesis-emulated(${properties.getOrElse("basedir", "?")})"
  override def schema(): StructType = KinesisTableProvider.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val opts = info.options()
    val baseDir = Option(opts.get("baseDir")).getOrElse(
      throw new IllegalArgumentException("kinesis sink requires option 'baseDir'"))
    val numShards = Option(opts.get("numShards")).map(_.toInt).getOrElse(
      throw new IllegalArgumentException("kinesis sink requires option 'numShards'"))
    val schema = info.schema()
    val pkIdx = schema.fieldIndex("partitionKey")
    val dataIdx = schema.fieldIndex("data")
    require(schema(pkIdx).dataType == StringType && schema(dataIdx).dataType == BinaryType,
      s"kinesis sink needs (partitionKey: string, data: binary), got ${schema.catalogString}")
    // ingress pacing (off unless asked for): either option enables the
    // per-shard token bucket; an omitted limit falls back to the public
    // Kinesis shard default
    val recPerSec = Option(opts.get("throttleRecordsPerSec")).map(_.toInt)
    val bytesPerSec = Option(opts.get("throttleBytesPerSec")).map(_.toLong)
    val throttle: Option[(Int, Long)] =
      if (recPerSec.isEmpty && bytesPerSec.isEmpty) None
      else Some((recPerSec.getOrElse(KinesisSink.ShardRecordsPerSec),
        bytesPerSec.getOrElse(KinesisSink.ShardBytesPerSec)))
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new KinesisStreamingWrite(baseDir, numShards, pkIdx, dataIdx, throttle)
      }
    }
  }
}

private[pipeline] class KinesisStreamingWrite(baseDir: String, numShards: Int,
    pkIdx: Int, dataIdx: Int, throttle: Option[(Int, Long)]) extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    KinesisWriterFactory(baseDir, numShards, pkIdx, dataIdx, throttle)
  // per-record delivery already happened (and retried) in the writers;
  // the epoch commit is the offset-log barrier Structured Streaming owns
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

/** Ships to executors — plain fields only. */
private[pipeline] final case class KinesisWriterFactory(baseDir: String,
    numShards: Int, pkIdx: Int, dataIdx: Int,
    throttle: Option[(Int, Long)]) extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new KinesisV2Writer(baseDir, numShards, pkIdx, dataIdx,
      s"e$epochId-p$partitionId", throttle)
}

private[pipeline] final case class KinesisCommit(records: Long) extends WriterCommitMessage

/** A thin `DataWriter` over [[KinesisSink.ShardWriter]]: rows go straight
  * into the shared delivery loop, files land under `baseDir` tagged by
  * (epoch, partition), and pacing uses the executor-resident bucket keyed
  * by (stream baseDir, shard). This writer object is re-created every
  * task and epoch, so a bucket held here would reset each micro-batch and
  * grant one free burst per epoch. The bucket also outlives the query:
  * a stopped and restarted stream on the same baseDir pays the debt it
  * left, and `ShardThrottle.resident`'s idle sweep drops a bucket only
  * once it is indistinguishable from a fresh one. Specs pre-seed the
  * registry with fake-clock instances via `ShardThrottle.register`.
  */
private[pipeline] class KinesisV2Writer(baseDir: String, numShards: Int,
    pkIdx: Int, dataIdx: Int, fileTag: String,
    throttle: Option[(Int, Long)] = None) extends DataWriter[InternalRow] {

  private val shards = new KinesisSink.ShardWriter(numShards,
    (_, tag) => new KinesisSink.DirectoryClient(baseDir, tag), fileTag,
    shard => throttle.map { case (rps, bps) =>
      KinesisSink.ShardThrottle.resident(baseDir, shard, rps, bps)
    })

  override def write(row: InternalRow): Unit =
    shards.write(row.getUTF8String(pkIdx), row.getBinary(dataIdx))

  override def commit(): WriterCommitMessage = KinesisCommit(shards.flush())
  override def abort(): Unit = ()
  override def close(): Unit = ()
}
