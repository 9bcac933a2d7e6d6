package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Golden-output harness (SURVEY §5.6): the flagship queries' sf0.001
  * results live as committed CSVs under `src/test/resources/golden/`, so
  * an oracle-parity break is visible in `sbt test` without DuckDB.
  *
  * Canonical form mirrors the driver's t2 gate: columns sorted by name,
  * rows rendered cell-by-cell and sorted lexicographically. Values that
  * the session renders timezone-dependently (Timestamp, Date) go through
  * field/instant forms so the files are stable across JVM default zones.
  */
object Golden {

  val Flagships: Seq[String] = Seq(
    "q1_pricing_summary", "q3_join_topk", "q15_window_rank",
    "q24_sessionize", "q_f3_cosine_topk", "q_f1_dedup_first")

  /** The 8 sanctioned no-oracle queries (SURVEY §7.4.7): spec-covered but
    * — before round 10 — with no drift tripwire inside `sbt test`. Their
    * outputs are deterministic by construction (seeded hashes, md5-pinned
    * orderings), so committed goldens surface a silent behavior change
    * the rows-only driver gate would wave through.
    */
  val NoOracleGoldens: Seq[String] = Seq(
    "q13_approx_distinct", "q20_sample", "q_f2_minhash_sig",
    "q_f2_minhash_pairs", "q_f2_simhash", "q_f5_lsh_neardup",
    "q_rolling_fingerprint", "q_f21b_semantic_dedup_lsh",
    "q_compress_ratio", "q_cms_heavy_hitters", "q_f2_simhash_pairs",
    "q_simhash_dedup_groups", "q_f52_bpe_tokens")

  /** Graded queries whose lineage cuts were local-only before every cut
    * went through [[Lineage.cut]]: LineageSpec replays them under a
    * checkpoint directory against these same files. */
  val CutGoldens: Seq[String] = Seq(
    "q_edit_dedup_groups", "q_f21_semantic_dedup", "q_mix_manifest")

  /** Every query with a committed golden. */
  val All: Seq[String] = Flagships ++ NoOracleGoldens ++ CutGoldens

  val ResourceDir = "src/test/resources/golden"

  /** The sf0.001 dataset both GoldenMain (regeneration) and GoldenSpec
    * (verification, via SparkSpec.sf001) read — one constant so the two
    * can never silently diverge if the path moves (round-9 ADVICE).
    */
  val DataDir = "/root/testdata/sf0.001"

  private def cell(v: Any): String = v match {
    case null => "NULL"
    case t: java.sql.Timestamp => t.toInstant.toString
    case d: java.sql.Date => d.toLocalDate.toString
    // floating point renders via an explicit round-trip-exact format:
    // default Double.toString changed algorithms in JDK 19 (shortest
    // decimal), so committed goldens must not depend on the generating
    // JDK's renderer (round-9 ADVICE). %.17e/%.9e uniquely identify
    // every double/float and are locale- and version-stable.
    case d: java.lang.Double => String.format(java.util.Locale.ROOT, "%.17e", d)
    case f: java.lang.Float => String.format(java.util.Locale.ROOT, "%.9e", f)
    case s: Seq[_] => s.map(cell).mkString("[", ",", "]")
    case a: Array[_] => a.map(cell).mkString("[", ",", "]")
    case x =>
      x.toString.replace("\\", "\\\\").replace("\n", "\\n").replace("|", "\\|")
  }

  /** Header line (sorted column names) followed by sorted row lines. */
  def canon(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toSeq
    val rows = df.select(cols.map(col): _*).collect()
      .map(r => cols.indices.map(i => cell(r.get(i))).mkString("|"))
      .sorted.toSeq
    cols.mkString("|") +: rows
  }

  def path(name: String) = s"$ResourceDir/$name.csv"
}

/** Regenerates the committed goldens from the current query code:
  * `sbt "Test/runMain graft.GoldenMain"`, then review the diff — a golden
  * should only change when the query's CONTRACT deliberately changes.
  */
object GoldenMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]").appName("golden")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(Golden.ResourceDir))
    Golden.All.foreach { name =>
      val lines = Golden.canon(SparkEntry.queries(name)(spark, Golden.DataDir))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(Golden.path(name)),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      println(s"[golden] wrote ${Golden.path(name)} (${lines.size - 1} rows)")
    }
    spark.stop()
  }
}
