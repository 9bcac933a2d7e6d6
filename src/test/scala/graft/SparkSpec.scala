package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM, forked by sbt). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001: String = Golden.DataDir // one constant with GoldenMain (ADVICE r9)

  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Runs `body` with `dir` as the session's checkpoint directory, so
    * every [[Lineage.cut]] inside it is a reliable checkpoint. The
    * directory is cleared afterwards, even when `body` throws: it is
    * context-wide, and a leaked one would turn every later cut in the
    * JVM reliable. `setCheckpointDir(null)` stores `Option(null)`, the
    * no-directory state a fresh context starts in. */
  def withCheckpointDir[A](dir: String)(body: => A): A = {
    val sc = spark.sparkContext
    require(sc.getCheckpointDir.isEmpty,
      s"a checkpoint directory is already set: ${sc.getCheckpointDir}")
    sc.setCheckpointDir(dir)
    try body finally sc.setCheckpointDir(null)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointLocation.deleteOnExit", "true")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // the graft kernel registry: specs exercise Column-level helpers
    // (Urls.hostCol, shingle kernels, ...) outside the DataFrame entry
    // points that normally register on first touch
    graft.functions.VectorFunctions.register(s)
    s
  }
}
