package e2ebench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Graft
import Main.{Ctx, Result}

/** An order-insensitive checksum of a frame: row count plus the wrapping
  * sum and xor of per-row hashes, computed on the driver from the
  * collected rows. */
object Checksum {
  def ofRows(rows: Array[Row]): (Long, Long) = {
    var sum = 0L
    var xor = 0L
    rows.foreach { row =>
      val h = scala.util.hashing.MurmurHash3.stringHash(row.mkString("\u0001")).toLong
      sum += h * 0x9E3779B97F4A7C15L
      xor ^= h
    }
    (rows.length.toLong, sum ^ (xor << 32))
  }
  /** Aggregated executor-side: (rows, bit_xor and sum of 32-bit row hashes). */
  def ofFrame(df: DataFrame): (Long, Long) = {
    val h = hash(df.columns.map(col): _*).cast("long")
    val r = df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h")), sum(col("h"))).head()
    (r.getLong(0), if (r.getLong(0) == 0) 0L else r.getLong(1) ^ (r.getLong(2) << 32))
  }
}

/** The release build, `Graft.buildRelease`, measured as a layer probe of
  * `operator_mix`'s traced run: sf0.1 `documents` (1 % carrying a
  * contamination phrase) upscaled ×2 with copy-marks; one untimed pass,
  * then one timed pass. Each pass builds the release and forces
  * `survivors`, `manifest`, `packed` and the `ledger`. Checks: the ledger's
  * counts reconcile with the audit's `StageCount`s on both passes, and the
  * survivors checksum is the same on both.
  */
final class ReleaseProbe(ctx: Ctx) {
  private val path = new File(ctx.runDir, "release/documents.parquet").getPath

  private def pass(): (Map[String, Double], Seq[Graft.StageCount], Map[(String, String), Long], (Long, Long)) = {
    val docs = ctx.spark.read.parquet(path)
    val ms = mutable.LinkedHashMap.empty[String, Double]
    def timed[T](k: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try ctx.call(s"Release.$k")(body) finally ms(k) = (System.nanoTime() - t0) / 1e6
    }
    val rel = timed("build")(Graft.buildRelease(ctx.spark, docs, screenPhrases = Gen.ScreenPhrases))
    val surv = timed("survivors")(Checksum.ofFrame(rel.survivors))
    timed("manifest")(Checksum.ofFrame(rel.manifest))
    timed("packed")(Checksum.ofFrame(rel.packed))
    val ledger = timed("ledger")(rel.ledger.groupBy(col("stage"), col("verdict")).count().collect())
      .map(row => (row.getString(0), row.getString(1)) -> row.getLong(2)).toMap
    (ms.toMap, rel.audit, ledger, surv)
  }

  def run(r: Result): Unit = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 977L + 1L)
    val base = Gen.documents(ctx.seed, 5000).map { d =>
      if (rnd.nextInt(100) == 0) d.copy(text = d.text + " " + Gen.ScreenPhrases(rnd.nextInt(2))) else d
    }
    val docs = Gen.upscaled(base, 2)
    Gen.writeDocuments(ctx.spark, docs, path)
    val passes = Seq(pass(), pass()) // untimed warm-up, then the measured pass
    passes.zipWithIndex.foreach { case ((_, audit, ledger, surv), i) =>
      r.ok(1)
      val last = audit.last
      val bad = audit.tail.filter(s => ledger.getOrElse((s.stage, "dropped"), 0L) != s.dropped) ++
        (if (ledger.getOrElse((last.stage, "kept"), 0L) != last.kept) Seq(last) else Nil)
      val total = ledger.values.sum
      r.fail(if (bad.isEmpty && total == audit.head.kept) 0 else 1,
        s"release pass $i: audit and ledger disagree at ${bad.map(_.stage).mkString(",")} " +
          s"(ledger rows $total, input ${audit.head.kept})")
      r.fail(if (surv == passes.head._4) 0 else 1,
        s"release pass $i: survivors checksum $surv != ${passes.head._4}")
    }
    val (ms, audit, _, _) = passes.last
    ms.foreach { case (k, v) => r.layer(s"release.${k}_ms") = v }
    r.layer("release.pass_ms") = ms.values.sum
    r.layer("release.docs") = docs.length.toDouble
    audit.foreach { s =>
      r.layer(s"release.stage.${s.stage}.kept") = s.kept.toDouble
      r.layer(s"release.stage.${s.stage}.dropped") = s.dropped.toDouble
    }
  }
}
