package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** [[Lineage.cut]]: one durability policy for every lineage cut, chosen by
  * the context's checkpoint directory. The graded queries below had cuts
  * that stayed local even when a caller asked for reliable checkpoints;
  * each now runs both ways against its committed golden, and no operator
  * may set the directory itself.
  */
class LineageSpec extends SparkSpec {

  import spark.implicits._

  private def checkpointFiles(dir: String): Long =
    Files.walk(Paths.get(dir)).filter(Files.isRegularFile(_)).count()

  private def assertNoCheckpointDir(): Unit =
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      s"an operator set the checkpoint directory: ${spark.sparkContext.getCheckpointDir}")

  Golden.CutGoldens.foreach { name =>
    test(s"$name matches its golden with and without a checkpoint directory") {
      val golden = Files.readAllLines(Paths.get(Golden.path(name))).asScala.toSeq
      def run() = Golden.canon(SparkEntry.queries(name)(spark, sf001))
      assert(run() == golden, s"$name: the default (local) cuts drifted")
      assertNoCheckpointDir()
      val dir = tmpDir(s"cut_$name")
      val reliable = withCheckpointDir(dir)(run())
      assert(reliable == golden, s"$name: reliable cuts changed the result")
      assert(checkpointFiles(dir) > 0, s"$name wrote no checkpoint files")
    }
  }

  test("media dedup ledger is identical with and without a checkpoint directory") {
    val records = Multimodal.synthesize(spark, sf001)
    def run() = {
      val (kept, audit, ledger) = Multimodal.mediaDedupLedgered(spark, records)
      (kept.map(_.id).collect().sorted.toSeq,
        audit, Golden.canon(ledger))
    }
    val local = run()
    assertNoCheckpointDir()
    val dir = tmpDir("cut_media")
    val reliable = withCheckpointDir(dir)(run())
    assert(reliable == local)
    assert(local._1.nonEmpty && local._3.size > 1)
    assert(checkpointFiles(dir) > 0, "media dedup wrote no checkpoint files")
  }

  test("no hand-rolled lineage cut or checkpoint-directory write outside Lineage") {
    val banned = """localCheckpoint\s*\(|\.checkpoint\s*\(|setCheckpointDir""".r
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq
    def hits(p: Path): Seq[String] =
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }.toSeq
    val (helper, rest) = sources.partition(_.getFileName.toString == "Lineage.scala")
    assert(helper.size == 1, "the Lineage helper is missing")
    // the pattern really matches the helper's own cut calls
    assert(hits(helper.head).exists(_.contains("localCheckpoint(")))
    assert(hits(helper.head).exists(_.contains(".checkpoint(")))
    val stray = rest.flatMap(hits)
    assert(stray.isEmpty, stray.mkString("cut outside Lineage.cut:\n", "\n", ""))
  }
}
