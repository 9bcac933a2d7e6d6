package graft

import org.apache.spark.sql.functions._

/** Round-20 additions, per the round-19 verdict: the byte-granular
  * short-stream media secondary (item 4), frozen-model persistence
  * (item 1 — see ModelPersistenceSpec/FreshSessionSpec), the F60 URL
  * family (item 2 — see UrlsSpec), container ingestion (item 3 — see
  * ContainerSpec), the strict curation-ledger guard (item 5), and the
  * codegen link_chars kernel (item 7).
  */
class Round20OpsSpec extends SparkSpec {

  import spark.implicits._

  // ---- item 4: byte-granular secondary for short video streams -----------

  private val vidMeta = Multimodal.MediaMeta("video/mp4", 0, 0)
  private val fb = Multimodal.VideoFrameBytes

  /** Two DIFFERENT 65-frame videos with IDENTICAL per-frame sums: A's
    * frame f is the constant v_f; B's frame f alternates v_f ± a_f
    * byte-by-byte (symmetric, so the frame sum is unchanged) with the
    * amplitude a_f cycling 10/25/40 by frame. The primary family
    * (frame-sum envelope) cannot tell them apart, and neither could the
    * round-19 frame-granular secondary (frame-sum DELTAS are also
    * identical) — exactly the near-vacuous-verify shape behind the
    * media19 cert's +18 video chance merges. The cell-local parity
    * hash reads the differing byte layouts directly and separates them.
    */
  private def sameFrameSumPair: (Array[Byte], Array[Byte]) = {
    def vf(f: Int): Int = 60 + (f * 3) % 150
    def af(f: Int): Int = 10 + (f % 3) * 15
    val a = Array.tabulate[Byte](65 * fb)(i => vf(i / fb).toByte)
    val b = Array.tabulate[Byte](65 * fb) { i =>
      val f = i / fb
      (if (i % 2 == 0) vf(f) - af(f) else vf(f) + af(f)).toByte
    }
    (a, b)
  }

  test("short-video secondary: identical frame sums no longer verify-collide") {
    val (pa, pb) = sameFrameSumPair
    val recs = Seq(
      Multimodal.MediaRecord(1L, "video", pa, vidMeta),
      Multimodal.MediaRecord(2L, "video", pb, vidMeta)).toDS()
    val sigs = Multimodal.mediaSigs2(recs).orderBy("id")
      .select("sig", "sig2").collect()
    // the hazard: primary family identical (frame sums equal per index)
    assert(sigs(0).getLong(0) === sigs(1).getLong(0), "primary must collide")
    // the round-19 frame-granular secondary was ALSO identical here —
    // the cell-hash one differs widely
    assert(java.lang.Long.bitCount(
      sigs(0).getLong(1) ^ sigs(1).getLong(1)) > 10,
      s"short-stream secondary must separate: ${sigs(0)} vs ${sigs(1)}")
    val unverified = Multimodal.mediaDedupGroups(spark, recs, 3)
      .agg(max(col("cluster_size"))).head().getLong(0)
    val verified = Multimodal.mediaDedupGroupsVerified(spark, recs, 3, 6)
      .agg(max(col("cluster_size"))).head().getLong(0)
    assert(unverified === 2L && verified === 1L)
  }

  test("short-video secondary keeps planted copy + one-frame dent edges") {
    // the media20 plant shape: byte-copy and a whole-frame dent on a
    // 65-frame video. The dent's 1024 bytes span ≤ 2 of the 64
    // cell-hash cells (1040 bytes each), so ≤ 2 secondary bits flip —
    // well inside the verifyHamming = 6 cut (asserted exactly here).
    val base = Array.tabulate[Byte](65 * fb)(i => ((i * 37 + 11) % 251).toByte)
    val dented = base.clone()
    (10 * fb until 11 * fb).foreach(i => dented(i) = 0xFF.toByte)
    val recs = Seq(
      Multimodal.MediaRecord(1L, "video", base, vidMeta),
      Multimodal.MediaRecord(2L, "video", base.clone(), vidMeta),
      Multimodal.MediaRecord(3L, "video", dented, vidMeta)).toDS()
    val sigs = Multimodal.mediaSigs2(recs).orderBy("id")
      .select("sig", "sig2").collect()
    assert(sigs(0).getLong(1) === sigs(1).getLong(1)) // copy: sig2 equal
    val dentBits = java.lang.Long.bitCount(sigs(0).getLong(1) ^ sigs(2).getLong(1))
    assert(dentBits <= 2, s"one-frame dent flipped $dentBits secondary bits")
    val groups = Multimodal.mediaDedupGroupsVerified(spark, recs, 3, 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(1L) === 1L && groups(2L) === 1L && groups(3L) === 1L,
      groups.toString)
  }

  // ---- item 7: codegen link_chars (anchor_chars kernel) -------------------

  test("anchor_chars kernel ≡ the HOF fold, bit-for-bit, on edge-heavy anchors") {
    graft.functions.VectorFunctions.register(spark)
    val contents = Seq(
      "",                                             // no anchors
      "<a href=\"/\">home</a>",                       // one plain anchor
      "<a>bare</a> text <a href=\"x\">καλημέρα 世界</a>", // multi-byte inner text
      "<a href=\"#\"></a>",                           // empty inner text
      "<a\nhref=\"x\">with\nnewlines</a>",            // (?s) never matches '<a\n' — no [ ]
      "<a href=\"x\">nested <b>never</b></a>",        // [^<] stops at nested tag
      "<apple>not an anchor</apple> <a >spaced attr</a>",
      (1 to 50).map(k => s"<a href='$k'>link number $k</a>").mkString(" "))
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("id", "content")
    val rows = contents.select(
        call_function("anchor_chars", col("content")).as("kernel"),
        Html.linkCharsFoldCol(col("content")).as("fold"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1), r.toString))
  }

  test("anchor_chars stays inside whole-stage codegen (CODEGEN_ONLY)") {
    val strict = spark.newSession()
    strict.conf.set("spark.sql.codegen.fallback", "false")
    strict.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    graft.functions.VectorFunctions.register(strict)
    // spark.range (a LocalTableScan plans no codegen stage to assert on);
    // reference the kernel TWICE in one projection — the freshName pin
    val docs = strict.range(50).selectExpr(
      "concat('<a href=\"/\">link ', id, '</a> tail') AS content")
    val out = docs.select(
      call_function("anchor_chars", col("content")).as("a"),
      call_function("anchor_chars", col("content")).as("b"))
    val got = out.agg(sum(col("a")), sum(col("b"))).head()
    assert(got.getLong(0) === got.getLong(1) && got.getLong(0) > 0L)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("anchor_chars")), plan.take(500))
  }

  // ---- item 6: the one-call release build ---------------------------------

  test("buildRelease composes curation → mix → pack with exact reconciliation") {
    def words(tag: String, n: Int): String =
      (1 to n).map(k => s"${tag}tok$k").mkString(" ")
    val docs = Seq(
      (1L, words("a1", 20), "sa"),
      (2L, words("a1", 20), "sa"),      // exact dup of 1 → dedup
      (3L, "too short", "sa"),          // quality gate (minTokens 5)
      (4L, words("a2", 30) + " zz_block_zz", "sa"), // contamination screen
      (5L, words("b1", 25), "sb"),
      (6L, words("b2", 15), "sb"),
      (7L, words("a3", 40), "sa"))
      .toDF("doc_id", "text", "source")
    val prev = docs.select("doc_id", "text") // input snapshot as "last release"
    val r = Graft.buildRelease(spark, docs,
      screenPhrases = Seq("zz_block_zz"),
      quality = Graft.QualityGate(minTokens = 5, maxTokens = 1000,
        maxStopwordRatio = 1.0),
      epochsMicros = Map("sa" -> 1000000L, "sb" -> 2500000L), // sb ~2.5 epochs
      nShards = 2, seed = 7L, seqLen = 16, previous = Some(prev))
    // audit ↔ ledger reconcile exactly, one row per input doc
    assert(r.ledger.count() === 7L)
    val droppedByStage = r.ledger.filter(col("verdict") === "dropped")
      .groupBy("stage").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    r.audit.tail.foreach(sc =>
      assert(droppedByStage.getOrElse(sc.stage, 0L) === sc.dropped, sc.toString))
    assert(r.audit.last.kept === r.survivors.count())
    assert(r.survivors.select("doc_id").collect().map(_.getLong(0)).toSet ===
      Set(1L, 5L, 6L, 7L))
    // manifest: sb docs upsampled (epoch copies), sa single-epoch
    val epochs = r.manifest.groupBy("doc_id").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(epochs(1L) === 1L && epochs(7L) === 1L)
    assert(epochs(5L) >= 2L && epochs(6L) >= 2L) // 2.5 epochs → 2 or 3 copies
    // packed: per shard, pos dense from 0 and the token-offset law holds
    val byShard = r.packed.groupBy("shard").agg(
        count(lit(1)).as("n"), min(col("pos")).as("lo"), max(col("pos")).as("hi"),
        sum(col("n_toks")).as("toks"), max(col("seq_last")).as("lastSeq"))
      .collect()
    assert(byShard.nonEmpty)
    byShard.foreach { x =>
      val (n, lo, hi, toks, lastSeq) =
        (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4), x.getLong(5))
      assert(lo === 0L && hi === n - 1, s"pos not dense: $x")
      assert(lastSeq === (toks - 1) / 16, s"pack law broke: $x")
    }
    // n_seqs is the span width everywhere
    assert(r.packed.filter(col("n_seqs") =!=
      col("seq_last") - col("seq_first") + 1).count() === 0L)
    // diff vs the input snapshot: dropped docs = removed, kept = unchanged
    val diff = r.diff.get.groupBy("status").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(diff.getOrElse("removed", 0L) === 3L)
    assert(diff.getOrElse("unchanged", 0L) === 4L)
    assert(diff.getOrElse("added", 0L) === 0L)
    assert(diff.getOrElse("changed", 0L) === 0L)
  }

  test("long videos keep the frame-granular secondary (real-decode swap path)") {
    // at ≥ MinSecondaryValues frames the secondary must come from the
    // frame-checksum sequence alone: two byte layouts with identical
    // frame sums then share sig2 (a real keyframe extractor sees frames,
    // not container bytes — the family a deployment swaps in)
    def vf(f: Int): Int = 40 + (f * 7) % 180
    val n = Multimodal.MinSecondaryValues
    val a = Array.tabulate[Byte](n * fb)(i => vf(i / fb).toByte)
    val b = Array.tabulate[Byte](n * fb) { i =>
      val v = vf(i / fb)
      (if (i % fb < fb / 2) v - 20 else v + 20).toByte
    }
    val recs = Seq(
      Multimodal.MediaRecord(1L, "video", a, vidMeta),
      Multimodal.MediaRecord(2L, "video", b, vidMeta)).toDS()
    val sigs = Multimodal.mediaSigs2(recs).orderBy("id")
      .select("sig", "sig2").collect()
    assert(sigs(0).getLong(0) === sigs(1).getLong(0))
    assert(sigs(0).getLong(1) === sigs(1).getLong(1),
      "frame-granular secondary must ignore in-frame byte layout")
  }

  // ---- r20 review: the same short-stream dispatch for AUDIO ---------------

  private val stubAudioMeta = Multimodal.MediaMeta("audio/raw", 0, 0)

  test("short-audio secondary separates envelope-identical shifted streams") {
    // a +5 level shift preserves BOTH the envelope comparisons (primary)
    // and every |sample| delta (the old derivative secondary) — the
    // coupled shape the video fix closed; short audio clips need the
    // sample-hash fallback for the identical reason
    val a = Array.tabulate[Byte](120)(i => ((i * 7) % 80 + 20).toByte)
    val b = a.map(v => (v + 5).toByte)
    val recs = Seq(
      Multimodal.MediaRecord(1L, "audio", a, stubAudioMeta),
      Multimodal.MediaRecord(2L, "audio", b, stubAudioMeta)).toDS()
    val sigs = Multimodal.mediaSigs2(recs).orderBy("id")
      .select("sig", "sig2").collect()
    assert(sigs(0).getLong(0) === sigs(1).getLong(0),
      "primary (shift-invariant envelope) must collide — the hazard")
    assert(java.lang.Long.bitCount(
      sigs(0).getLong(1) ^ sigs(1).getLong(1)) > 10,
      "short-stream sample hash must separate the shifted pair")
    val verified = Multimodal.mediaDedupGroupsVerified(spark, recs, 3, 6)
      .agg(max(col("cluster_size"))).head().getLong(0)
    assert(verified === 1L)
  }

  test("short-audio secondary keeps real-decode copies and one-sample dents") {
    // real WAV under MinSecondaryValues samples: the fallback hashes the
    // DECODED samples (container-format-independent), copies share sig2
    // exactly, and a one-sample dent stays within the k2 = 6 cut
    def wavOf(samples: Array[Short]): Array[Byte] = {
      val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
      val bytes = new Array[Byte](samples.length * 2)
      samples.zipWithIndex.foreach { case (s, i) =>
        bytes(2 * i) = (s & 0xff).toByte
        bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      val ais = new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(ais,
        javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
    val wavMeta = Multimodal.MediaMeta("audio/wav", 0, 0)
    val samples = Array.tabulate[Short](100)(i => ((i * 523) % 2000 - 1000).toShort)
    val dented = samples.clone(); dented(40) = 3000
    val recs = Seq(
      Multimodal.MediaRecord(1L, "audio", wavOf(samples), wavMeta),
      Multimodal.MediaRecord(2L, "audio", wavOf(samples.clone()), wavMeta),
      Multimodal.MediaRecord(3L, "audio", wavOf(dented), wavMeta)).toDS()
    val sigs = Multimodal.mediaSigs2(recs).orderBy("id")
      .select("sig", "sig2").collect()
    assert(sigs(0).getLong(1) === sigs(1).getLong(1), "copy: sig2 equal")
    val dentBits = java.lang.Long.bitCount(
      sigs(0).getLong(1) ^ sigs(2).getLong(1))
    assert(dentBits <= 2, s"one-sample dent flipped $dentBits secondary bits")
    val groups = Multimodal.mediaDedupGroupsVerified(spark, recs, 3, 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(1L) === groups(2L) && groups(1L) === groups(3L), groups.toString)
  }

  test("short-audio verify over a population: every dent merges, no shift or chance pair does") {
    // 2,000 random 120-sample stub clips, a one-sample dent of every 5th
    // and a +5-level shift of every 7th. A shift shares its base's
    // primary by construction, so only the secondary can keep it apart
    val n = 2000L
    def clip(seed: Long): Array[Byte] = Array.tabulate(120) { j =>
      var v = seed * 2654435761L + j * 40503L
      v ^= v >>> 33; v *= -49064778989728563L; v ^= v >>> 33
      (Math.floorMod(v, 150L) + 30L).toByte // [30, 179]: +5 never wraps
    }
    def rec(id: Long, b: Array[Byte]) = Multimodal.MediaRecord(id, "audio", b, stubAudioMeta)
    val recs = (0L until n).flatMap { i =>
      val b = clip(i * 31 + 7)
      val dent = b.clone(); dent(40) = (dent(40) + 90).toByte
      Seq(rec(i, b)) ++ (if (i % 5 == 0) Seq(rec(10000000L + i, dent)) else Nil) ++
        (if (i % 7 == 0) Seq(rec(20000000L + i, b.map(v => (v + 5).toByte))) else Nil)
    }.toDS()
    // primary-colliding pairs between (sig, sig2) representatives; a dent
    // whose secondary did not move collapses into its base's rep
    val reps = Multimodal.mediaSigs2(recs).groupBy("sig", "sig2")
      .agg(min(col("id")).as("doc_id")).localCheckpoint(eager = true)
    val sig2 = reps.collect().map(r => r.getLong(2) -> r.getLong(1)).toMap
    val pairs = MinHash.hammingPairs64(reps, 3).collect().map(r => (r.getLong(0), r.getLong(1)))
    def h2(p: (Long, Long)) = java.lang.Long.bitCount(sig2(p._1) ^ sig2(p._2))
    val (dents, rest) = pairs.partition(p => p._2 - p._1 == 10000000L && p._1 < 10000000L)
    val (shifts, chance) = rest.partition(p => p._2 - p._1 == 20000000L)
    assert(dents.nonEmpty && dents.forall(h2(_) <= 2), dents.map(h2).mkString(","))
    assert(shifts.length == (n + 6) / 7 && shifts.forall(h2(_) > 6), shifts.map(h2).mkString(","))
    assert(chance.forall(h2(_) > 6), s"chance pairs inside the cut: ${chance.filter(h2(_) <= 6).toSeq}")
    val cluster = Multimodal.mediaDedupGroupsVerified(spark, recs, 3, 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def merged(offset: Long) = (0L until n).count(i => cluster.get(offset + i).contains(cluster(i)))
    assert(merged(10000000L) == n / 5 && merged(20000000L) == 0)
  }

  test("buildRelease from container files through the URL gate and HTML front door reconciles exactly") {
    // 1,000 wrapped pages plus an exact twin of every 10th: domain
    // d(id % 4) with domain 2 blocked (300 URL drops, twins included),
    // 50 sub-minTokens shorts (id % 20 == 1), 40 screened pages
    // (id % 25 == 2, 10 of them URL-blocked first)
    val n = 1000L
    def textOf(idc: org.apache.spark.sql.Column) = concat_ws(" ",
      transform(sequence(lit(0), (pmod(hash(idc), lit(8)) + lit(11)).cast("int")),
        i => concat(lit("u"), idc, lit("_"), pmod(hash(idc * 31 + i), lit(997)))))
    def pageOf(body: org.apache.spark.sql.Column) = concat(
      lit("<script>var x = 1;</script><p>"), body,
      lit("</p><nav><a href=\"/\">home</a></nav>trailing junk"))
    val body = when(pmod(col("id"), lit(20)) === 1, concat(lit("tiny doc "), col("id")))
      .when(pmod(col("id"), lit(25)) === 2, concat(lit("zz_screened_phrase_zz "), textOf(col("id"))))
      .otherwise(textOf(col("id")))
    val pages = spark.range(0, n).select(col("id").as("doc_id"), pageOf(body).as("text"))
      .unionByName(spark.range(0, n).filter(pmod(col("id"), lit(10)) === 0)
        .select((col("id") + 10000000L).as("doc_id"), pageOf(textOf(col("id"))).as("text")))
    val cdir = tmpDir("release_containers")
    graft.sources.Containers.writeContainers(
      pages.select(col("doc_id"), col("text").cast("binary").as("body")), cdir, recordsPerFile = 300)
    val domains = Seq("good.example.com", "fine.example.net", "blocked.example.co.uk", "ok.example.org")
    val docs = graft.sources.Containers.readContainers(spark, s"$cdir/*.gcn")
      .select(col("doc_id"), col("body").cast("string").as("text"))
      .withColumn("source", concat(lit("s"), pmod(col("doc_id"), lit(3))))
      .withColumn("url", concat(lit("http://"),
        element_at(typedLit(domains), pmod(col("doc_id"), lit(4)).cast("int") + 1),
        lit("/p/"), col("doc_id")))
    val r = Graft.buildRelease(spark, docs, screenPhrases = Seq("zz_screened_phrase_zz"),
      quality = Graft.QualityGate(minTokens = 5, maxTokens = 10000, maxStopwordRatio = 1.0),
      epochsMicros = Map("s0" -> 1000000L, "s1" -> 2000000L, "s2" -> 1500000L),
      nShards = 4, seed = 11L, seqLen = 1024, previous = Some(pages),
      html = Some(Graft.HtmlExtract()), urlGate = Some(Graft.UrlGate(blocked = Seq("example.co.uk"))))
    val nIn = n + n / 10
    val dropped = r.audit.map(a => a.stage -> a.dropped).toMap
    assert(r.audit.head.kept == nIn)
    assert(dropped("url_gate") == 300L && dropped("html_extract") == 0L &&
      dropped("quality_gate") == 50L && dropped("exact_dedup") >= 50L &&
      dropped("contamination") == 30L, r.audit.toString)
    // ledger ↔ audit: one row per input doc, per-stage drops equal
    val ledger = r.ledger.localCheckpoint(eager = true)
    assert(ledger.count() == nIn && ledger.select("doc_id").distinct().count() == nIn)
    val droppedL = ledger.filter(col("verdict") === "dropped").groupBy("stage").count()
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    r.audit.tail.foreach(sc => assert(droppedL.getOrElse(sc.stage, 0L) == sc.dropped, sc.toString))
    val kept = r.audit.last.kept
    assert(ledger.filter(col("verdict") === "kept").count() == kept)
    // epoch copies: s0 once, s1 twice, s2 once or twice
    val copies = r.manifest.groupBy("doc_id", "source").count()
      .collect().map(x => (x.getString(1), x.getLong(2)))
    assert(copies.forall { case (s, c) => s match {
      case "s0" => c == 1L; case "s1" => c == 2L; case _ => c == 1L || c == 2L } })
    // packing law per shard, and the manifest's tokens all packed
    r.packed.groupBy("shard").agg(count(lit(1)), min("pos"), max("pos"),
        sum("n_toks"), max("seq_last")).collect().foreach { x =>
      assert(x.getLong(2) == 0L && x.getLong(3) == x.getLong(1) - 1L, s"pos not dense: $x")
      assert(x.getLong(5) == (x.getLong(4) - 1L) / 1024L, s"pack law: $x")
    }
    assert(r.manifest.agg(sum("n_toks")).head() == r.packed.agg(sum("n_toks")).head())
    // diff ↔ ledger: extraction rewrote every kept page, the rest are removed
    val diff = r.diff.get.groupBy("status").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(diff == Map("removed" -> (nIn - kept), "changed" -> kept), diff.toString)
  }
}
