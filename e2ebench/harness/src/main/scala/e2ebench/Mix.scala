package e2ebench

import java.io.File

import scala.collection.mutable

import graft.SparkEntry
import Main.{Ctx, Result, Section}

/** `operator_mix`: one client running graded queries of `SparkEntry.specs`
  * in a fixed order on sf0.1-shaped tables. The tables come from a fixed
  * table seed (they stand for the read-only sf0.1 test tables), so every
  * result is checked against the row count and checksum pinned in
  * `e2ebench/pins/operator_mix.txt`, and `--seed` does not change this
  * workload. Closed loop: the timed section is one cycle of the queries.
  */
final class Mix(ctx: Ctx) extends Main.Workload {
  /** The costliest graded query of each module the other workloads do not
    * reach, plus ROADMAP item 1's costliest: edit-distance dedup groups
    * (Dedup: q-gram edges + connected components), BM25+dense fusion
    * (TextOps term-table pull + Similarity), semantic dedup (Similarity
    * cosine-edge kernel), the domain gate (Urls), PQ ADC (Pq) and the
    * TPC-H Q3 join (Relational). */
  val Queries: Seq[String] = Seq("q_edit_dedup_groups", "q_f40b_rrf_bm25_dense",
    "q_f21_semantic_dedup", "q_f60b_domain_gate", "q_f23_pq_adc", "q3_join_topk")
  private val specs = SparkEntry.specs.map(q => q.name -> q).toMap
  private val tables = new File(ctx.cacheDir, "mix-tables-v1")
  private val dir = new File(tables, "sf0.1").getPath
  private val times = mutable.LinkedHashMap.empty[String, Double]
  private val sums = mutable.ArrayBuffer.empty[(String, (Long, Long))]
  private val section = new Section

  /** The tables do not depend on `--seed`, so they are written once per
    * checkout into the cache directory and reused, read-only. Bump the
    * directory's version when `Gen` changes what they hold. */
  def generate(): Unit = if (!new File(tables, "_COMPLETE").exists()) {
    val tmp = new File(ctx.cacheDir, s"mix-tables-tmp-${ProcessHandle.current().pid()}")
    val d = new File(tmp, "sf0.1").getPath
    Gen.writeDocuments(ctx.spark, Gen.documents(42, 5000), s"$d/documents.parquet")
    Gen.writeEmbeddings(ctx.spark, 42, 2000, s"$d/embeddings.parquet")
    Gen.writeStar(ctx.spark, 42, d)
    new File(tmp, "_COMPLETE").createNewFile()
    if (!tmp.renameTo(tables)) throw new IllegalStateException(s"cannot publish $tables")
  }

  private def run(name: String): ((Long, Long), Double) = {
    val t0 = System.nanoTime()
    val rows = ctx.call(s"query $name")(specs(name).fn(ctx.spark, dir).collect())
    val ms = (System.nanoTime() - t0) / 1e6
    (Checksum.ofRows(rows), ms)
  }

  /** Warm-up: the cheapest query once, which takes the JVM's and Spark's
    * first-query costs; each query's own first planning and code
    * generation stay in the timed cycle. */
  def warmup(): Unit = run("q3_join_topk")

  def measure(r: Result): Unit = {
    section.time(Queries.foreach { q =>
      val (sum, ms) = run(q)
      times(q) = ms
      sums += ((q, sum))
    })
    r.e2e("throughput_per_s") = Queries.size / (section.wallMs / 1000)
    r.e2e("latency_p50_ms") = section.wallMs
    r.e2e("latency_p90_ms") = section.wallMs
    r.e2e("cpu_s") = section.cpuNs / 1e9
    r.e2e("heap_after_gc_peak_mb") = section.heapAfterGcPeakMb(r)
    r.notes += s"mix: one cycle; ms " +
      times.map { case (q, ms) => f"$q=$ms%.0f" }.mkString(" ")
  }

  /** Pins: one line per query, `name rows checksum`. */
  private def readPins(f: File): Map[String, (Long, Long)] =
    if (!f.exists()) Map.empty
    else scala.io.Source.fromFile(f, "UTF-8").getLines().map(_.trim).filter(_.nonEmpty)
      .filterNot(_.startsWith("#")).map { l =>
        val Array(n, rows, sum) = l.split("\\s+")
        n -> ((rows.toLong, sum.toLong))
      }.toMap

  def check(r: Result): Unit = {
    val pins = readPins(ctx.pins.getOrElse(throw new IllegalArgumentException("operator_mix needs --pins")))
    sums.foreach { case (q, got) =>
      r.ok(1)
      r.fail(if (pins.get(q).contains(got)) 0 else 1,
        s"mix: $q returned (rows, checksum) $got, pinned ${pins.get(q)}")
    }
  }

  def probe(r: Result): Unit = {
    Queries.foreach(q => r.layer(s"op.$q.ms") = times(q))
    new ReleaseProbe(ctx).run(r)
    r.layer("gen.records") = 5000.0 + 2000 + 15000 + 150000 + 600000
    r.layer("gen.files") = 5.0
    r.layer("gen.late_ms_p99") = 0.0
  }
}
