package e2ebench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Process-level meters read from the JVM's management beans: CPU time,
  * heap in use after each collection, GC and JIT totals. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  /** (end, JVM uptime ms; heap bytes in use) after every collection since
    * this object was first used; notifications arrive on a JMX thread. */
  private val afterGc = mutable.ArrayBuffer.empty[(Long, Long)]
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener((n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = gc.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        afterGc.synchronized(afterGc += ((gc.getEndTime, used)))
      }, null, null)
    case _ =>
  }

  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Heap in use right after each collection that ended inside one of
    * `windows` (JVM uptime ms), MiB. */
  def heapAfterGcMb(windows: Seq[(Long, Long)]): Seq[Double] =
    afterGc.synchronized(afterGc.toVector).collect {
      case (end, used) if windows.exists { case (a, b) => end >= a && end <= b } => used / 1048576.0
    }

  /** Process user+sys CPU, nanoseconds. */
  def cpuNs: Long = os.getProcessCpuTime

  /** Heap in use right after a full collection, MiB. Collects twice, a
    * moment apart, so what Spark's cleaner thread frees once the first
    * collection has cleared its weak references is gone as well. */
  def heapAfterFullGcMb(): Double = {
    val (n0, ms0) = gcTotals
    System.gc()
    Thread.sleep(200)
    System.gc()
    val (n1, ms1) = gcTotals
    explicitGcs += n1 - n0
    explicitGcMs += ms1 - ms0
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Collections (and their ms) made by [[heapAfterFullGcMb]] itself, so GC
    * totals can leave them out. */
  var explicitGcs, explicitGcMs = 0L

  /** (collections, collection ms) summed over every collector. */
  def gcTotals: (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount.max(0L)).sum, gcs.map(_.getCollectionTime.max(0L)).sum)
  }

  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Epoch ms at which this JVM started. */
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}

/** One traced interval. `kind` is the layer: call (a bench call into a
  * public function of the program), trigger (one micro-batch, from the
  * query's progress event), job and stage (from Spark's listener bus). */
final case class Span(id: String, parent: String, name: String, kind: String,
    startMs: Double, endMs: Double, runId: String)

/** The traced run's recorder: spans of the measured section kept in memory
  * and flushed at exit, plus the Spark engine totals of that section.
  * Installed only with `--trace 1`; the untraced run has no listener at
  * all. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val seq = new AtomicLong()
  @volatile var active = false
  private val callStack = new ThreadLocal[List[String]] { override def initialValue = Nil }

  // engine totals over the measured section
  val jobs, stages, tasks = new AtomicLong()
  val runMs, cpuNs, shuffleRead, shuffleWrite, spill, resultBytes, gcMs = new AtomicLong()
  // the innermost open call span; micro-batches run on the stream's own
  // thread and are parented to it
  @volatile private var currentCall = ""

  private def add(s: Span): Unit = spans.synchronized(spans += s)
  private def now: Double = System.nanoTime() / 1e6 - Tracer.nanoOffsetMs

  /** Time `body` as a call span when inside the measured section; Spark
    * jobs it launches are parented to it through the job group. */
  def call[T](name: String)(body: => T): T = if (!active) body else {
    val id = s"call-${seq.incrementAndGet()}"
    val parent = callStack.get.headOption.getOrElse("")
    val sc = spark.sparkContext
    callStack.set(id :: callStack.get)
    currentCall = id
    sc.setJobGroup(id, name)
    val t0 = now
    try body finally {
      add(Span(id, parent, name, "call", t0, now, runId))
      callStack.set(callStack.get.tail)
      currentCall = parent
      callStack.get.headOption match {
        case Some(p) => sc.setJobGroup(p, "")
        case None => sc.clearJobGroup()
      }
    }
  }

  private val jobParent = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      // streaming jobs run under the query's runId group; the description
      // names the batch, which is the trigger span
      val batch = "batch = (\\d+)".r.findFirstMatchIn(desc).map(_.group(1))
      val parent = batch.map(b => s"trigger-$group-$b").getOrElse(group)
      jobParent.put(e.jobId, parent)
      jobStart.put(e.jobId, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = Option(jobStart.remove(e.jobId)).map(_.doubleValue).getOrElse(e.time.toDouble)
      if (active) {
        jobs.incrementAndGet()
        add(Span(s"job-${e.jobId}", Option(jobParent.get(e.jobId)).getOrElse(""),
          s"job ${e.jobId}", "job", t0, e.time.toDouble, runId))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
      val i = e.stageInfo
      stages.incrementAndGet()
      val job = Option(stageJob.get(i.stageId)).map(j => s"job-$j").getOrElse("")
      for (s <- i.submissionTime; c <- i.completionTime)
        add(Span(s"stage-${i.stageId}.${i.attemptNumber()}", job, i.name, "stage",
          s.toDouble, c.toDouble, runId))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      resultBytes.addAndGet(m.resultSize)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  val queryListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (active) {
      val p = e.progress
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
      add(Span(s"trigger-${p.runId}-${p.batchId}", currentCall, s"batch ${p.batchId}", "trigger",
        t0, t0 + dur, runId))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
  }

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
  }

  /** Call spans use a monotonic clock; job, stage and trigger spans use the
    * wall clock. Both are in epoch ms once the offset is applied. */
  def allSpans: Seq[Span] = spans.synchronized(spans.toVector)

  /** Self time per layer: each span's length minus the union of its
    * children's intervals, summed per kind. */
  def selfMs: Map[String, Double] = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (c.startMs.max(s.startMs), c.endMs.min(s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0
        var curA = Double.NaN
        var curB = Double.NaN
        iv.foreach { case (a, b) =>
          if (curB.isNaN || a > curB) {
            if (!curB.isNaN) covered += curB - curA
            curA = a; curB = b
          } else curB = curB.max(b)
        }
        if (!curB.isNaN) covered += curB - curA
        (s.endMs - s.startMs - covered).max(0.0)
      }.sum
    }
  }

  def writeSpans(path: java.io.File): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.foreach { s =>
      w.println(Json.obj(Seq("id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
        "name" -> Json.str(s.name), "kind" -> Json.str(s.kind),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "run_id" -> Json.str(s.runId))))
    } finally w.close()
  }
}

object Tracer {
  /** nanoTime/1e6 minus this is epoch ms. */
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
}

/** Just enough JSON writing for the result and span files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Summary statistics over measured samples. */
object Stats {
  /** Linear-interpolation percentile (numpy's default), p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100.0
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}
