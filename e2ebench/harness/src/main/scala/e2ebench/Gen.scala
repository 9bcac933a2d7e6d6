package e2ebench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Seeded input generators. Every input the program sees is written here,
  * from the run's seed, in the shape of the sf0.1 test tables (FIXTURES.md):
  * the same seed gives byte-identical files.
  */
object Gen {

  /** The documents table's word-soup vocabulary (30 words, uniform). */
  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** Contamination phrases the curation screen looks for; no vocabulary word
    * occurs in them, so only planted hits match. */
  val ScreenPhrases: Seq[String] = Seq("heldout eval canary", "benchmark answer key leaked")

  private val Langs = Array("en", "en", "en", "en", "es", "es", "de", "de", "fr", "fr", "zh", "zh")
  private val Events = Array("view", "click", "purchase", "signup", "error")

  final case class DocRow(docId: Long, text: String, lang: String, source: String, nChars: Long)

  private def words(r: SplittableRandom, n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** sf0.1 `documents`: 10–100 uniform tokens, ~5 % near-dup copies of an
    * earlier original doc (" dup" appended) and a few exact copies. Copies
    * are only ever made of originals, so every near-dup cluster is a star
    * and the connected-components work does not depend on the seed. */
  def documents(seed: Long, n: Int): Array[DocRow] = {
    val r = new SplittableRandom(seed * 7919L + 11L)
    val originals = new Array[String](n)
    var nOrig = 0
    Array.tabulate(n) { i =>
      val u = r.nextInt(1000)
      val text =
        if (nOrig > 0 && u < 50) originals(r.nextInt(nOrig)) + " dup"
        else if (nOrig > 0 && u < 52) originals(r.nextInt(nOrig))
        else {
          val t = words(r, 10 + r.nextInt(91))
          originals(nOrig) = t
          nOrig += 1
          t
        }
      DocRow(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        text.length + 1L + r.nextInt(9))
    }
  }

  /** `documents` upscaled `times`× with R21ConScale's copy-mark shape: each
    * doc re-issued under a fresh id with a per-copy marker token appended,
    * so copies are near- but not exact duplicates. */
  def upscaled(base: Array[DocRow], times: Int): Array[DocRow] =
    for (d <- base; cp <- (0 until times).toArray) yield {
      val t = d.text + s" copymark$cp"
      d.copy(docId = d.docId * times + cp, text = t, nChars = d.nChars + 10)
    }

  def writeDocuments(spark: SparkSession, rows: Array[DocRow], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(rows.toSeq)
      .select($"docId".as("doc_id"), $"text", $"lang", $"source", $"nChars".as("n_chars"))
      .coalesce(1).write.parquet(path)
  }

  /** sf0.1 `embeddings`: dim-64 near-unit floats (N(0, 1/64) per coordinate),
    * labels 0–9. */
  def writeEmbeddings(spark: SparkSession, seed: Long, n: Int, path: String): Unit = {
    import spark.implicits._
    val r = new SplittableRandom(seed * 104729L + 3L)
    val rows = (0 until n).map { i =>
      (i.toLong, Array.fill(64)((r.nextGaussian() * 0.125).toFloat).toSeq, r.nextInt(10))
    }
    rows.toDF("vec_id", "embedding", "label").coalesce(1).write.parquet(path)
  }

  /** sf0.1 TPC-H-ish `customer`, `orders`, `lineitem` (15k / 150k / 600k
    * rows), drawn with seeded hash expressions so generation is parallel. */
  def writeStar(spark: SparkSession, seed: Long, dir: String): Unit = {
    val nCust = 15000L
    val nOrd = 150000L
    def u(c: String, salt: Int): org.apache.spark.sql.Column = // uniform [0, 1)
      pmod(xxhash64(col(c), lit(seed), lit(salt)), lit(1L << 40)).cast("double") / (1L << 40).toDouble
    val segments = typedLit(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
    spark.range(nCust).select(col("id").as("c_custkey"),
        concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
        floor(u("id", 1) * 25).cast("int").as("c_nationkey"),
        (round(u("id", 2) * 1099999 - 99999) / 100).as("c_acctbal"),
        element_at(segments, (floor(u("id", 3) * 5) + 1).cast("int")).as("c_mktsegment"))
      .coalesce(1).write.parquet(s"$dir/customer.parquet")
    val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
    val orderDays = java.time.LocalDate.of(2001, 8, 1).toEpochDay - day0
    spark.range(nOrd).select(col("id").as("o_orderkey"),
        floor(u("id", 4) * nCust).cast("long").as("o_custkey"),
        element_at(typedLit(Seq("F", "O", "P")), (floor(u("id", 5) * 3) + 1).cast("int"))
          .as("o_orderstatus"),
        (round(u("id", 6) * 50000000) / 100).as("o_totalprice"),
        timestamp_seconds((lit(day0) + floor(u("id", 7) * (orderDays + 1))) * 86400)
          .as("o_orderdate"),
        element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")),
          (floor(u("id", 8) * 5) + 1).cast("int")).as("o_orderpriority"))
      .coalesce(2).write.parquet(s"$dir/orders.parquet")
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_orderdate"))
    spark.range(nOrd * 4)
      .select((col("id") / 4).cast("long").as("l_orderkey"),
        (pmod(col("id"), lit(4)) + 1).cast("int").as("l_linenumber"), col("id"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"),
        floor(u("id", 9) * 20000).cast("long").as("l_partkey"),
        floor(u("id", 10) * 1000).cast("long").as("l_suppkey"),
        col("l_linenumber"),
        (floor(u("id", 11) * 50) + 1).as("l_quantity"),
        (round(u("id", 12) * 10409923 + 90068) / 100).as("l_extendedprice"),
        (floor(u("id", 13) * 11) / 100).as("l_discount"),
        (floor(u("id", 14) * 9) / 100).as("l_tax"),
        element_at(typedLit(Seq("N", "A", "R")), (floor(u("id", 15) * 3) + 1).cast("int"))
          .as("l_returnflag"),
        element_at(typedLit(Seq("O", "F")), (floor(u("id", 16) * 2) + 1).cast("int"))
          .as("l_linestatus"),
        (col("o_orderdate") + make_interval(lit(0), lit(0), lit(0),
          (floor(u("id", 17) * 95) + 1).cast("int"))).as("l_shipdate"))
      .coalesce(4).write.parquet(s"$dir/lineitem.parquet")
  }

  /** The event backlog for `ingest_backlog`: sf0.1 `events` (100k rows:
    * 1,500 uniform user_ids, 5 event types, exponential values, Jan 2024
    * timestamps) replicated `copies`× under fresh event_ids, as JSON-lines
    * files of `linesPerFile` lines. About `malformedPerMille`/1000 of the
    * lines are malformed: garbage text, or JSON cut off before its
    * `user_id`. Returns the bitset of the valid event_ids. */
  def writeEventBacklog(seed: Long, dir: File, copies: Int, linesPerFile: Int,
      malformedPerMille: Int): java.util.BitSet = {
    dir.mkdirs()
    val base = 100000
    val r = new SplittableRandom(seed * 31337L + 5L)
    val ts0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    val baseTs = Array.fill(base)(
      ts0.plusNanos(r.nextLong(30L * 86400L * 1000000L) * 1000L).format(fmt))
    val baseUser = Array.fill(base)(r.nextInt(1500))
    val baseType = Array.fill(base)(Events(r.nextInt(Events.length)))
    val baseVal = Array.fill(base)(math.round(-50.0 * math.log(1.0 - r.nextDouble()) * 100) / 100.0)
    val baseK = Array.fill(base)(r.nextInt(100))
    val valid = new java.util.BitSet(base * copies)
    val total = base * copies
    var file = 0
    var out: BufferedWriter = null
    var id = 0
    while (id < total) {
      if (id % linesPerFile == 0) {
        if (out != null) out.close()
        out = new BufferedWriter(new OutputStreamWriter(
          new FileOutputStream(new File(dir, f"part-$file%05d.json")), UTF_8), 1 << 20)
        file += 1
      }
      val b = id % base
      val line = new java.lang.StringBuilder(160)
        .append("{\"event_id\":").append(id)
        .append(",\"ts\":\"").append(baseTs(b)).append('"')
        .append(",\"user_id\":").append(baseUser(b))
        .append(",\"event_type\":\"").append(baseType(b)).append('"')
        .append(",\"value\":").append(baseVal(b))
        .append(",\"props\":\"{\\\"k\\\": ").append(baseK(b)).append("}\"}")
      val m = r.nextInt(1000)
      if (m < malformedPerMille) {
        if ((m & 1) == 0) out.write(s"#corrupt ${java.lang.Long.toHexString(r.nextLong())}")
        else out.write(line.substring(0, line.indexOf(",\"user_id\"") - 3))
      } else {
        out.write(line.toString)
        valid.set(id)
      }
      out.write('\n')
      id += 1
    }
    if (out != null) out.close()
    valid
  }

  /** Write `lines` to `dir/name` atomically: into a sibling staging file,
    * then renamed, so a watching file source never sees a partial file. */
  def dropFile(staging: File, dir: File, name: String, lines: Iterable[String]): Unit = {
    val tmp = new File(staging, name)
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(tmp), UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp.toPath, new File(dir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
  }
}
