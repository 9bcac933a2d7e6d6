package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** [[DriverPull]]: one budget for every size-gated driver pull. The
  * graded queries whose forks it decides return the same rows with every
  * budget forced to 0 (the distributed fallbacks) as on their default
  * paths; the cosine probe sizes a corpus by floats before any vector
  * reaches the driver; and `src/main` holds no overflow probe outside the
  * helper and none of the retired cap parameters. The source scan also
  * keeps test scope free of one-off `main` programs: an assertion that
  * matters belongs in a suite, where every run checks it.
  */
class DriverPullSpec extends SparkSpec {

  Seq("q_bm25_topk", "q_f47_containment", "q_edit_dedup_groups",
      "q_f21_semantic_dedup", "q_f40b_rrf_bm25_dense", "q_f60b_domain_gate").foreach { name =>
    test(s"$name returns the same rows with every fallback forced") {
      def run() = Golden.canon(SparkEntry.queries(name)(spark, sf001))
      val plain = run()
      val forced = DriverPull.forcingFallbacks(run())
      assert(plain.size > 1, s"$name returned no rows")
      assert(forced == plain, s"$name: the forced fallbacks changed the result")
    }
  }

  /** Sums the serialized task results of the jobs `body` runs — every
    * byte those jobs sent to the driver. A marker job run afterwards
    * drains the listener queue (events arrive in order) and is not
    * counted. */
  private def resultBytes(body: => Unit): Long = {
    val marker = "driver-pull-spec-drain"
    val bytes = new AtomicLong(0L)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      @volatile private var markerJob = -1
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.job.description") == marker) markerJob = js.jobId
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (markerJob < 0 && te.taskMetrics != null) bytes.addAndGet(te.taskMetrics.resultSize)
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == markerJob) drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(drained.await(60, TimeUnit.SECONDS), "listener queue did not drain")
    } finally sc.removeSparkListener(listener)
    bytes.get
  }

  test("the cosine probe sizes an over-budget corpus without pulling its vectors") {
    // 300 × 4,096 floats = 1.23 M floats against the 2^19 kernel budget,
    // inside the row budget: only a float count can turn it away. A
    // row-bounded probe pulls all 300 vectors, ~4.9 MB (hashed floats,
    // so the compressed task results stay that size).
    val dim = 4096
    val emb = spark.range(0, 300, 1, 4).select(col("id").as("vec_id"),
      expr(s"transform(sequence(0, ${dim - 1}), " +
        "j -> cast((xxhash64(id, j) % 1000003) / 1000003.0 AS FLOAT))").as("embedding"))
    assert(300L * dim > Similarity.MaxCosKernelFloats)
    var edges: org.apache.spark.sql.DataFrame = null
    val pulled = resultBytes { edges = Similarity.exactCosineEdges(spark, emb, 0.9) }
    assert(pulled < 64L * 1024, s"$pulled bytes reached the driver while sizing the corpus")
    assert(!edges.queryExecution.analyzed.toString.contains("cos_edges_above"),
      "an over-budget corpus must take the join shape")
  }

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq

  private def hits(p: Path, pattern: scala.util.matching.Regex): Seq[String] =
    Files.readAllLines(p).asScala.zipWithIndex.collect {
      case (line, i) if pattern.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
    }.toSeq

  test("no overflow probe outside DriverPull and no per-method cap parameter") {
    val probe = """\+ 1\)\.collect\(\)""".r
    val (helper, rest) = mainSources.partition(_.getFileName.toString == "DriverPull.scala")
    assert(helper.size == 1, "the DriverPull helper is missing")
    // the pattern really matches the helper's own probe
    assert(hits(helper.head, probe).nonEmpty)
    val strayProbes = rest.flatMap(hits(_, probe))
    assert(strayProbes.isEmpty,
      strayProbes.mkString("overflow probe outside DriverPull.collect:\n", "\n", ""))
    val capParam = """\b(localFinishMaxEdges|maxBroadcastProbes|maxBroadcastWindows)\s*:""".r
    val bloomCap = """\bmaxBytes\s*:""".r
    val strayCaps = mainSources.flatMap(hits(_, capParam)) ++
      mainSources.filter(_.getFileName.toString == "Relational.scala").flatMap(hits(_, bloomCap))
    assert(strayCaps.isEmpty,
      strayCaps.mkString("cap parameter instead of DriverPull.budget:\n", "\n", ""))
  }

  test("test scope declares no main but the smoke and golden entry points") {
    val entryPoints = Set("SmokeMain.scala", "Golden.scala")
    val mainDecl = """\bdef main\(""".r
    val (kept, rest) = Files.walk(Paths.get("src/test")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .toSeq.partition(p => entryPoints(p.getFileName.toString))
    // the pattern really matches the two entry points' own mains
    assert(kept.size == 2 && kept.forall(hits(_, mainDecl).nonEmpty))
    val strays = rest.flatMap(hits(_, mainDecl))
    assert(strays.isEmpty, strays.mkString("a main in test scope:\n", "\n", ""))
  }

  /** Scala source with its comments blanked, so a scaladoc mention is
    * not a use. A block comment must open its line and a line comment
    * must not follow a `:`, so glob and URL strings in code stay. */
  private def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?ms)^[ \\t]*/\\*.*?\\*/", " ")
      .replaceAll("(?<!:)//[^\n]*", " ")

  test("every public member of the Graft facade has a caller") {
    val graft = Paths.get("src/main/scala/graft/Graft.scala")
    val decl = """(?m)^  (?:final case class|case class|def|val|lazy val|object)\s+(\w+)""".r
    val own = code(graft)
    // a companion object and its case class declare one name twice
    val declared = decl.findAllMatchIn(own).map(_.group(1)).toSeq
      .groupBy(identity).map { case (n, ds) => n -> ds.size }
    // the pattern really finds the harness's entry points
    assert(Seq("session", "runCurateStream", "StageCount").forall(declared.contains))
    val others = Seq("src/main", "src/test", "e2ebench")
      .flatMap(d => Files.walk(Paths.get(d)).iterator().asScala)
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala") &&
        !p.toString.contains("/target/") && !Files.isSameFile(p, graft))
      .map(code)
    val orphans = declared.toSeq.sortBy(_._1).collect {
      case (name, nDecl) if
        s"(?<![\\w.])$name\\b".r.findAllIn(own).size <= nDecl &&
          !others.exists(s"\\bGraft\\.$name\\b".r.findFirstIn(_).isDefined) => name
    }
    assert(orphans.isEmpty, orphans.mkString(
      "Graft members referenced nowhere but their own declaration " +
        "(call the module function, or delete the member): ", ", ", ""))
  }
}
