package e2ebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.Graft

/** One measured run of one workload in a fresh JVM.
  *
  *   java ... e2ebench.Main --workload W --seed S --seconds T --cores N
  *     --rate R --run-dir DIR --out FILE --cache-dir DIR [--trace]
  *     [--spans FILE] [--pins FILE] [--prepare]
  *
  * `--prepare` only writes the workload's seed-independent inputs into the
  * cache directory, so no measured run pays for (or is warmed by) them.
  *
  * Order: Spark session, input generation (excluded from set-up time),
  * untimed warm-up, the timed section, correctness checks, and (traced runs
  * only) the layer probes. The result goes to `--out` as one JSON object;
  * `e2ebench/run.py` turns it into the benchmark's result line.
  */
object Main {

  final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
      val cores: Int, val rate: Int, val runDir: File, val tracer: Option[Tracer],
      val pins: Option[File], val cacheDir: File) {
    /** Run `body` as a traced call when tracing, plainly otherwise. */
    def call[T](name: String)(body: => T): T = tracer.fold(body)(_.call(name)(body))
  }

  /** What a run reports: operation counts, metrics and failure notes. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.ArrayBuffer.empty[String]
    def ok(n: Long): Unit = attempted += n
    def fail(n: Long, why: String): Unit = if (n > 0) { failed += n; notes += why }
  }

  /** Accumulates wall and process CPU time over the timed intervals only,
    * and remembers them for the heap peak. */
  final class Section {
    var wallMs = 0.0
    var cpuNs = 0L
    private val windows = mutable.ArrayBuffer.empty[(Long, Long)]
    def time[T](body: => T): T = {
      val c0 = Jvm.cpuNs
      val u0 = Jvm.uptimeMs
      val t0 = System.nanoTime()
      try body finally {
        wallMs += (System.nanoTime() - t0) / 1e6
        cpuNs += Jvm.cpuNs - c0
        windows += ((u0, Jvm.uptimeMs))
      }
    }
    /** The highest heap in use after any collection inside the timed
      * intervals, or after a full collection right at their end (while the
      * workload's state is still live), whichever is higher; MiB. The full
      * collection goes first, so the notifications of the timed
      * collections have arrived by the time they are read. */
    def heapAfterGcPeakMb(r: Result): Double = {
      val end = Jvm.heapAfterFullGcMb()
      val timed = Jvm.heapAfterGcMb(windows.toSeq)
      r.notes += f"heap after GC: ${timed.size} timed collections, peak " +
        f"${timed.maxOption.getOrElse(0.0)}%.1f MiB; $end%.1f MiB after the closing full collection"
      (end +: timed).max
    }
  }

  trait Workload {
    /** Write the run's inputs (timed separately; not part of set-up). */
    def generate(): Unit
    /** Untimed: first pass through the same code paths. */
    def warmup(): Unit
    /** The timed section; fills the end-to-end metrics. */
    def measure(r: Result): Unit
    /** Correctness checks over everything the timed section produced. */
    def check(r: Result): Unit
    /** Traced runs only: layer probes and layer metrics. */
    def probe(r: Result): Unit
  }

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val traced = args.contains("--trace")
    val workload = a("--workload")
    val cores = a("--cores").toInt
    val runDir = new File(a("--run-dir"))
    val spark = Graft.session(s"local[$cores]")
    spark.sparkContext.setLogLevel("WARN")
    val tracer = if (traced) Some(new Tracer(spark, s"$workload-${a("--seed")}")) else None
    tracer.foreach(_.install())
    val ctx = new Ctx(spark, a("--seed").toLong, a("--seconds").toInt, cores,
      a.get("--rate").map(_.toInt).getOrElse(0), runDir, tracer,
      a.get("--pins").map(new File(_)), new File(a("--cache-dir")))
    val w: Workload = workload match {
      case "ingest_backlog" => new Ingest(ctx)
      case "curate_paced" => new Curate(ctx)
      case "operator_mix" => new Mix(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (args.contains("--prepare")) { w.generate(); spark.stop(); return }
    val r = new Result
    val g0 = System.currentTimeMillis()
    w.generate()
    val genMs = System.currentTimeMillis() - g0
    val w0 = System.currentTimeMillis()
    w.warmup()
    r.notes += f"session ${(g0 - Jvm.startMs) / 1000.0}%.3f s, warm-up ${(System.currentTimeMillis() - w0) / 1000.0}%.3f s"
    r.e2e("setup_s") = (System.currentTimeMillis() - Jvm.startMs - genMs) / 1000.0
    // the timed section starts from the live heap, not from what set-up
    // left for the old generation to collect
    Jvm.heapAfterFullGcMb()
    val (gc0, gcMs0) = Jvm.gcTotals
    val jit0 = Jvm.jitMs
    tracer.foreach(_.active = true)
    val m0 = System.currentTimeMillis()
    w.measure(r)
    val measuredMs = System.currentTimeMillis() - m0
    tracer.foreach(_.active = false)
    val (gc1, gcMs1) = Jvm.gcTotals
    val jit1 = Jvm.jitMs
    w.check(r)
    tracer.foreach { t =>
      r.layer("jvm.gc_count") = (gc1 - gc0 - Jvm.explicitGcs).toDouble
      r.layer("jvm.gc_pause_ms") = (gcMs1 - gcMs0 - Jvm.explicitGcMs).toDouble
      r.layer("jvm.jit_ms") = (jit1 - jit0).toDouble
      r.layer("spark.jobs") = t.jobs.get.toDouble
      r.layer("spark.stages") = t.stages.get.toDouble
      r.layer("spark.tasks") = t.tasks.get.toDouble
      r.layer("spark.executor_run_ms") = t.runMs.get.toDouble
      r.layer("spark.executor_cpu_ms") = t.cpuNs.get / 1e6
      r.layer("spark.core_busy_share") = t.runMs.get / (cores.toDouble * measuredMs)
      r.layer("spark.shuffle_read_bytes") = t.shuffleRead.get.toDouble
      r.layer("spark.shuffle_write_bytes") = t.shuffleWrite.get.toDouble
      r.layer("spark.spill_bytes") = t.spill.get.toDouble
      r.layer("spark.driver_result_bytes") = t.resultBytes.get.toDouble
      r.layer("spark.task_gc_ms") = t.gcMs.get.toDouble
      w.probe(r)
      val self = t.selfMs
      Seq("call", "trigger", "job", "stage").foreach { k =>
        r.layer(s"self.${k}_ms") = self.getOrElse(k, 0.0)
      }
      r.layer("trace.spans") = t.allSpans.size.toDouble
      a.get("--spans").foreach(p => t.writeSpans(new File(p)))
      t.remove()
    }
    r.notes += f"input generation ${genMs / 1000.0}%.3f s (not in setup_s)"
    writeResult(new File(a("--out")), r)
    spark.stop()
  }

  private def writeResult(out: File, r: Result): Unit = {
    def metrics(m: mutable.LinkedHashMap[String, Double]) =
      Json.obj(m.toSeq.map { case (k, v) => k -> Json.num(v) })
    val body = Json.obj(Seq(
      "correct" -> (r.failed == 0 && r.attempted > 0).toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "e2e" -> metrics(r.e2e),
      "layer" -> metrics(r.layer),
      "notes" -> r.notes.map(Json.str).mkString("[", ", ", "]")))
    val w = new java.io.PrintWriter(out, "UTF-8")
    try w.println(body) finally w.close()
  }
}
