package graft.pipeline

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** B9: throughput metering for streaming queries — records/sec and rows
  * per micro-batch, collected from the engine's own progress events (the
  * Spark-native replacement for the reference's hand-rolled counters).
  * Each micro-batch also reports its trigger time, its event-time
  * watermark and its state size, so a stateful stream's per-trigger cost
  * reads off the same meter.
  */
final class Metering extends StreamingQueryListener {

  /** One micro-batch. `triggerExecutionMs` is the whole trigger
    * (`durationMs("triggerExecution")`); `watermarkMs` is the event-time
    * watermark in epoch ms, absent when the query has none; the `state*`
    * fields are summed over the query's stateful operators (0 for a
    * stateless query): rows held, memory bytes and state partitions.
    */
  final case class BatchMetric(batchId: Long, numInputRows: Long,
      inputRowsPerSecond: Double, processedRowsPerSecond: Double,
      triggerExecutionMs: Long, watermarkMs: Option[Long],
      stateRows: Long, stateMemoryBytes: Long, stateShufflePartitions: Long)

  private val metrics = mutable.Map.empty[java.util.UUID, mutable.Buffer[BatchMetric]]

  override def onQueryStarted(event: QueryStartedEvent): Unit =
    metrics.synchronized { metrics.getOrElseUpdate(event.id, mutable.Buffer.empty) }

  override def onQueryProgress(event: QueryProgressEvent): Unit = metrics.synchronized {
    val p = event.progress
    val ops = p.stateOperators.toSeq
    metrics.getOrElseUpdate(p.id, mutable.Buffer.empty) += BatchMetric(
      p.batchId, p.numInputRows,
      Option(p.inputRowsPerSecond).filterNot(_.isNaN).getOrElse(0.0),
      Option(p.processedRowsPerSecond).filterNot(_.isNaN).getOrElse(0.0),
      Option(p.durationMs.get("triggerExecution")).fold(0L)(_.longValue),
      Option(p.eventTime.get("watermark")).map(Instant.parse(_).toEpochMilli),
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.numShufflePartitions).sum)
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()

  def batches(queryId: java.util.UUID): Seq[BatchMetric] =
    metrics.synchronized { metrics.get(queryId).map(_.toVector).getOrElse(Vector.empty) }

  def totalRows(queryId: java.util.UUID): Long = batches(queryId).map(_.numInputRows).sum
}

object Metering {
  /** Attach a fresh meter to the session; caller detaches via remove(). */
  def attach(spark: SparkSession): Metering = {
    val m = new Metering
    spark.streams.addListener(m)
    m
  }
  def detach(spark: SparkSession, m: Metering): Unit =
    spark.streams.removeListener(m)
}
