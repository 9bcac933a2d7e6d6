package graft

import org.apache.spark.sql.functions._

/** Round-18 additions, per the round-17 verdict: the F19d hashed trigram
  * stupid-backoff LM (pure-Scala recompute equality across all three
  * backoff levels, frozen-fold ≡ batch-explode, loud empty-fit failure)
  * and the F19c re-cut on the order-3 NLL.
  */
class Round18OpsSpec extends SparkSpec {

  import spark.implicits._

  // ---- F19d: hashed trigram back-off LM ----------------------------------

  /** Pure-Scala recompute of the fit + two-level stupid-backoff scoring. */
  private def trigramRef(corpus: Seq[(Long, String)], score: Seq[(Long, String)],
      buckets: Int): Map[Long, (Long, Long)] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bkt(g: String): Long =
      java.lang.Long.parseLong(md5hex(g).take(8), 16) % buckets
    val toks = corpus.map { case (_, t) => t.split(" ", -1).toSeq }
    val uc = Array.fill(buckets)(0L)
    val bc = Array.fill(buckets)(0L)
    val tc = Array.fill(buckets)(0L)
    toks.foreach { ts =>
      ts.foreach(w => uc(bkt(w).toInt) += 1)
      ts.sliding(2).filter(_.size == 2).foreach(p => bc(bkt(p.mkString(" ")).toInt) += 1)
      ts.sliding(3).filter(_.size == 3).foreach(p => tc(bkt(p.mkString(" ")).toInt) += 1)
    }
    val un = uc.sum
    def fl(d: Double) = math.floor(d * 1e6).toLong
    score.flatMap { case (id, t) =>
      val ts = t.split(" ", -1).toSeq
      if (ts.size < 3) None
      else {
        val s = ts.sliding(3).filter(_.size == 3).map { p =>
          val ht = bkt(p.mkString(" ")).toInt
          val hb12 = bkt(p(0) + " " + p(1)).toInt
          val hb23 = bkt(p(1) + " " + p(2)).toInt
          val hp = bkt(p(1)).toInt; val hu = bkt(p(2)).toInt
          if (tc(ht) > 0 && bc(hb12) > 0)
            fl(math.log(tc(ht).toDouble)) - fl(math.log(bc(hb12).toDouble))
          else if (bc(hb23) > 0 && uc(hp) > 0)
            TextOps.BackoffMicros +
              fl(math.log(bc(hb23).toDouble)) - fl(math.log(uc(hp).toDouble))
          else 2 * TextOps.BackoffMicros +
            fl(math.log((uc(hu) + 1.0) / (un + buckets)))
        }.sum
        Some(id -> ((ts.size - 2).toLong, -s))
      }
    }.toMap
  }

  private val lmCorpus = (0 until 25).map(i =>
    (i.toLong, s"the cat sat on the mat ${i % 5} and the dog ran away fast"))

  test("lmTrigramScores ≡ the pure-Scala recompute (self-scored corpus)") {
    val got = TextOps.lmTrigramScores(
        lmCorpus.toDF("doc_id", "text").repartition(7), buckets = 256)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == trigramRef(lmCorpus, lmCorpus, 256), got.toString)
    // the batch explode+agg plan and the frozen per-row fold compute the
    // IDENTICAL LONG sums (order-free integers — plan shape cannot matter)
    val lm = TextOps.trigramLmFit(lmCorpus.toDF("doc_id", "text"), 256)
    val fold = lmCorpus.toDF("doc_id", "text")
      .select(col("doc_id"), (-lm.sumMicrosCol(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fold == got.map { case (k, (_, n)) => k -> n }, fold.toString)
  }

  test("frozen TrigramLm walks BOTH backoff levels") {
    val lm = TextOps.trigramLmFit(lmCorpus.toDF("doc_id", "text"), buckets = 256)
    // level 1 (trigram→bigram): known bigrams chained in an order the
    // corpus never produced — "mat 3 the" has no trigram but "3 and"-
    // style bigram fallbacks exist; level 2 (bigram→unigram): alien
    // tokens force the unigram floor. The reference reproduces every
    // branch including bucket collisions, so equality here certifies the
    // whole lattice.
    val probes = Seq(
      (97L, "cat sat on the mat 0 and the cat sat"), // mostly trigram hits
      (98L, "mat the cat dog ran the on away sat fast"), // shuffled: bigram/unigram mix
      (99L, "zzq xxv qqw wwe eer rrt tty")) // alien: unigram floor
    val got = probes.toDF("doc_id", "text")
      .select(col("doc_id"), (-lm.sumMicrosCol(col("text"))).as("nll"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = trigramRef(lmCorpus, probes, 256).map { case (k, (_, n)) => k -> n }
    assert(got == want, s"got $got want $want")
    // sanity: NLL per position orders in-distribution < shuffled < alien
    val per = probes.map { case (id, t) =>
      id -> got(id).toDouble / (t.split(" ").length - 2) }.toMap
    assert(per(97L) < per(98L) && per(98L) < per(99L), per.toString)
  }

  test("order-3 sees a style split that order-2 is EXACTLY blind to") {
    // the reason F19c re-cut its buckets on the order-3 NLL: a corpus
    // where both classes share IDENTICAL unigram and bigram statistics
    // (so the bigram model assigns every doc the same NLL, to the micro)
    // but differ in continuation predictability. Each doc is ten blocks
    // "p{k} q r{j} s": 'book' docs pair deterministically (j = k), 'web'
    // docs rotate (j = k + d mod 10, d ∈ 1..9 per doc). Every unigram
    // and bigram type occurs EQUALLY often in both classes (rotations
    // preserve uniformity; the 's' separator shields the block seams),
    // so order-2 cannot tell them apart even in principle — while the
    // trigram (p_k q → r_j) is 20-docs-strong for book and 2-3 for web.
    // Collision-proof: equal bigram counts stay equal under any bucket
    // merge, so the blindness half holds at ANY bucket count.
    val book = (0 until 20).map(i => (i.toLong,
      (0 until 10).map(k => s"p$k q r$k s").mkString(" ")))
    val web = (100 until 120).map(i => (i.toLong,
      (0 until 10).map(k => s"p$k q r${(k + 1 + i % 9) % 10} s").mkString(" ")))
    val docs = (book ++ web).toDF("doc_id", "text")
    def perPos(df: org.apache.spark.sql.DataFrame, nCol: String): Map[Long, Double] =
      df.select(col("doc_id"), (col("nll_micros").cast("double") /
        col(nCol).cast("double")).as("p"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val p2 = perPos(TextOps.lmBigramScores(docs, 8192), "n_bigrams")
    assert(p2.values.toSet.size == 1,
      s"order-2 must assign every doc the identical NLL: ${p2.values.toSet}")
    val p3 = perPos(TextOps.lmTrigramScores(docs, 8192), "n_trigrams")
    val b3 = book.map(d => p3(d._1)).max
    val w3 = web.map(d => p3(d._1)).min
    assert(w3 - b3 > 500000.0, // ≥ 0.5 nat/position between the CLOSEST pair
      f"order-3 must split the classes: worst book $b3%.0f vs best web $w3%.0f")
  }

  // ---- F19e: order-N generalization --------------------------------------

  /** Pure-Scala recompute of the order-N fit + (N−1)-level backoff. */
  private def ngramRef(corpus: Seq[(Long, String)], score: Seq[(Long, String)],
      order: Int, buckets: Int): Map[Long, (Long, Long)] = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bkt(g: String): Int =
      (java.lang.Long.parseLong(md5hex(g).take(8), 16) % buckets).toInt
    val cnt = Array.fill(order, buckets)(0L)
    corpus.foreach { case (_, t) =>
      val ts = t.split(" ", -1).toSeq
      for (o <- 1 to order)
        ts.sliding(o).filter(_.size == o)
          .foreach(g => cnt(o - 1)(bkt(g.mkString(" "))) += 1)
    }
    val un = cnt(0).sum
    def fl(d: Double) = math.floor(d * 1e6).toLong
    def q(o: Int, b: Int) = fl(math.log(cnt(o - 1)(b).toDouble))
    score.flatMap { case (id, t) =>
      val ts = t.split(" ", -1).toSeq
      if (ts.size < order) None
      else {
        val s = ts.sliding(order).filter(_.size == order).map { w =>
          (2 to order).foldLeft(
            (order - 1) * TextOps.BackoffMicros +
              fl(math.log((cnt(0)(bkt(w.last)) + 1.0) / (un + buckets)))) {
            (deeper, o) =>
              val g = w.takeRight(o)
              val hg = bkt(g.mkString(" "))
              val hc = bkt(g.init.mkString(" "))
              if (cnt(o - 1)(hg) > 0 && cnt(o - 2)(hc) > 0)
                (order - o) * TextOps.BackoffMicros + q(o, hg) - q(o - 1, hc)
              else deeper
          }
        }.sum
        Some(id -> ((ts.size - order + 1).toLong, -s))
      }
    }.toMap
  }

  test("lmNgramScores at order 5 ≡ the pure-Scala recompute; fold ≡ batch") {
    val got = TextOps.lmNgramScores(
        lmCorpus.toDF("doc_id", "text").repartition(7), order = 5, buckets = 256)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == ngramRef(lmCorpus, lmCorpus, 5, 256), got.toString)
    val lm = TextOps.ngramLmFit(lmCorpus.toDF("doc_id", "text"), 5, 256)
    val fold = lmCorpus.toDF("doc_id", "text")
      .select(col("doc_id"), (-lm.sumMicrosCol(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fold == got.map { case (k, (_, n)) => k -> n }, fold.toString)
    // probes walking the deeper levels: shuffled (mid-level backoffs) and
    // alien (the unigram floor) — the reference reproduces every branch
    val probes = Seq((98L, "mat the cat dog ran the on away sat fast"),
      (99L, "zzq xxv qqw wwe eer rrt tty"))
    val pf = probes.toDF("doc_id", "text")
      .select(col("doc_id"), (-lm.sumMicrosCol(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pf == ngramRef(lmCorpus, probes, 5, 256).map { case (k, (_, n)) => k -> n })
  }

  test("NgramLm at orders 2 and 3 ≡ BigramLm / TrigramLm bit-for-bit") {
    val df = lmCorpus.toDF("doc_id", "text")
    val probes = (lmCorpus.take(3) ++ Seq((99L, "zzq xxv qqw wwe eer"))).toDF("doc_id", "text")
    def folds(c: org.apache.spark.sql.Column): Map[Long, Any] =
      probes.select(col("doc_id"), c.as("n"))
        .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val n2 = TextOps.ngramLmFit(df, 2, 256)
    val b2 = TextOps.bigramLmFit(df, 256)
    assert(folds(n2.sumMicrosCol(col("text"))) == folds(b2.sumMicrosCol(col("text"))))
    val n3 = TextOps.ngramLmFit(df, 3, 256)
    val t3 = TextOps.trigramLmFit(df, 256)
    assert(folds(n3.sumMicrosCol(col("text"))) == folds(t3.sumMicrosCol(col("text"))))
    // and the batch plans agree with the dedicated forms
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(TextOps.lmNgramScores(df, 3, 256)) ==
      rows(TextOps.lmTrigramScores(df, 256).withColumnRenamed("n_trigrams", "n_grams")))
    assert(rows(TextOps.lmNgramScores(df, 2, 256)) ==
      rows(TextOps.lmBigramScores(df, 256).withColumnRenamed("n_bigrams", "n_grams")))
  }

  test("ngramLmFit rejects order < 2 and a token-less corpus") {
    val df = lmCorpus.toDF("doc_id", "text")
    assert(intercept[IllegalArgumentException] {
      TextOps.ngramLmFit(df, 1)
    }.getMessage.contains("order"))
    assert(intercept[IllegalArgumentException] {
      TextOps.ngramLmFit(Seq.empty[(Long, String)].toDF("doc_id", "text"), 5)
    }.getMessage.contains("no tokens"))
  }

  // ---- MediaDedup curation stage + streaming screen (VERDICT item 4) ------

  private def wavOf(samples: Array[Short], channels: Int = 1): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, channels, true, false)
    val bytes = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      bytes(2 * i) = (s & 0xff).toByte
      bytes(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length / channels)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def pngOf(seed: Int, perturb: Boolean = false): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64) {
      val v0 = (x * 4 + seed * 9) & 0xff
      val v = if (perturb && x < 8 && y < 8) 128 else v0
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def mediaCorpus: Seq[Multimodal.MediaRecord] = {
    // alternating-cell envelope (100-sample cells, high/low) → sig
    // 0x5555…: deliberately UNLIKE the gradient PNGs' saturated all-ones
    // dHash, so the cross-modality assert below proves isolation comes
    // from the modality column, not from the sig values happening to
    // differ (a monotone ramp here collides with the ramp images at
    // EXACTLY the same 64 bits — the first cut of this spec did)
    val sig = Array.tabulate[Short](6500)(t =>
      ((if ((t / 100) % 2 == 0) 30000 else 1000) *
        (if (t % 2 == 0) 1 else -1)).toShort)
    val pngMeta = Multimodal.MediaMeta("image/png", 0, 0)
    val wavMeta = Multimodal.MediaMeta("audio/wav", 0, 0)
    Seq(
      Multimodal.MediaRecord(1L, "image", pngOf(0), pngMeta),
      Multimodal.MediaRecord(2L, "image", pngOf(0), pngMeta), // exact copy of 1
      Multimodal.MediaRecord(3L, "image", pngOf(0, perturb = true), pngMeta), // near-dup of 1
      Multimodal.MediaRecord(4L, "image", pngOf(3), pngMeta), // distinct image
      Multimodal.MediaRecord(5L, "audio", wavOf(sig), wavMeta),
      Multimodal.MediaRecord(6L, "audio", wavOf(sig.flatMap(s => Array(s, s)), 2),
        wavMeta), // stereo re-layout of 5
      Multimodal.MediaRecord(7L, "audio", wavOf(sig.map(s => (-s).toShort)),
        wavMeta), // same envelope (abs) — dups 5 too
      Multimodal.MediaRecord(8L, "audio",
        wavOf(Array.fill[Short](6500)(15000)), wavMeta), // flat envelope: distinct audio
      Multimodal.MediaRecord(9L, "audio", Array[Byte](1, 2, 3), wavMeta), // undecodable
      // video: 130 stub frames (2 per envelope cell); 11 = exact copy,
      // 12 = frames 20-21 (exactly cell 10) maxed — a <=2-bit dent
      Multimodal.MediaRecord(10L, "video", vidPayload(dent = false), vidMeta),
      Multimodal.MediaRecord(11L, "video", vidPayload(dent = false), vidMeta),
      Multimodal.MediaRecord(12L, "video", vidPayload(dent = true), vidMeta),
      // sub-frame payload: no complete frame, NULL sig, self-labeled
      Multimodal.MediaRecord(13L, "video", Array.tabulate[Byte](64)(_.toByte),
        vidMeta))
  }

  private val vidMeta = Multimodal.MediaMeta("video/mp4", 0, 0)
  private def vidPayload(dent: Boolean): Array[Byte] = {
    val fb = Multimodal.VideoFrameBytes
    val b = Array.tabulate[Byte](130 * fb)(i => ((i * 37 + 11) % 251).toByte)
    if (dent) (20 * fb until 22 * fb).foreach(i => b(i) = 0xFF.toByte)
    b
  }

  test("MediaDedup stage keeps exactly the per-modality cluster representatives, audited") {
    val recs = mediaCorpus.toDS()
    val (kept, audit) = Multimodal.mediaDedupAudited(spark, recs, maxHamming = 3)
    val keptIds = kept.collect().map(_.id).toSet
    // images {1,2,3} cluster (copy + ≤3-bit perturb) → rep 1; audio
    // {5,6,7} cluster (stereo re-layout + sign flip share the |s|
    // envelope) → rep 5; videos {10,11,12} cluster (copy + one-cell
    // frame dent) → rep 10; undecodable 9 and frameless 13 pass through
    assert(keptIds == Set(1L, 4L, 5L, 8L, 9L, 10L, 13L), keptIds.toString)
    // the stage ≡ the standalone groups' representatives (spec-pinned)
    val want = Multimodal.mediaDedupGroups(spark, recs, 3)
      .filter(col("doc_id") === col("cluster_id"))
      .collect().map(_.getLong(0)).toSet
    assert(keptIds == want)
    assert(audit == Seq(
      Graft.StageCount("input", 13L, 0L),
      Graft.StageCount("image_neardup", 11L, 2L),
      Graft.StageCount("audio_neardup", 9L, 2L),
      Graft.StageCount("video_neardup", 7L, 2L)), audit.toString)
  }

  test("media streaming screen drops delivered signatures, admits fresh and unscorable arrivals") {
    val corpus = mediaCorpus.toDS()
    val delivered = Multimodal.mediaSigFingerprints(
      corpus.filter(r => r.id <= 5L || r.id == 10L)).localCheckpoint()
    // batch-frame equivalence first (how the contract is pinned): 6 and
    // 7 hash to delivered 5's sig → dropped; 11 hashes to delivered
    // video 10's sig → dropped; 12's one-cell dent is a NEAR match —
    // exact-sig screening admits it (near-dups stay batch-side, the F28
    // split); 8 is fresh; 9's NULL sig and frameless 13 pass through
    val arrivals = corpus.filter(r => r.id >= 6L && r.id != 10L)
    val admitted = Multimodal.mediaDedupStream(arrivals, delivered)
      .collect().map(_.id).toSet
    assert(admitted == Set(8L, 9L, 12L, 13L), admitted.toString)
    // cross-modality isolation: an AUDIO arrival must never be screened
    // by an IMAGE signature even if the 64-bit values collide — the
    // delivered frame with modality relabeled must screen nothing
    val crossed = delivered.withColumn("modality",
      when(col("modality") === "audio", lit("image"))
        .when(col("modality") === "image", lit("video"))
        .otherwise(lit("audio")))
    val admittedX = Multimodal.mediaDedupStream(arrivals, crossed)
      .collect().map(_.id).toSet
    assert(admittedX == Set(6L, 7L, 8L, 9L, 11L, 12L, 13L), admittedX.toString)
    // and on a REAL stream: same arrivals through a MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Multimodal.MediaRecord]
    val q = Multimodal.mediaDedupStream(in.toDS(), delivered)
      .writeStream.format("memory").queryName("media_screen18")
      .outputMode("append").start()
    in.addData(mediaCorpus.filter(r => r.id >= 6L && r.id != 10L): _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("media_screen18")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(streamed == Set(8L, 9L, 12L, 13L), streamed.toString)
  }

  test("videoHash64: copy 0 bits, one-cell frame dent <= 2 bits, sub-frame payload None") {
    val a = Multimodal.videoHash64(vidPayload(dent = false))
    val b = Multimodal.videoHash64(vidPayload(dent = false))
    val d = Multimodal.videoHash64(vidPayload(dent = true))
    assert(a.isDefined && a == b)
    val bits = java.lang.Long.bitCount(a.get ^ d.get)
    assert(bits >= 1 && bits <= 2, s"dent flipped $bits bits")
    assert(Multimodal.videoHash64(new Array[Byte](Multimodal.VideoFrameBytes - 1)).isEmpty)
  }

  // ---- mixManifest: composition laws (VERDICT item 5) ---------------------

  test("mixManifest with the BPE meter ≡ the default manifest over pre-tokenized text (F52 ⊕ F33→F35)") {
    // the Round17 F52 ⊕ F33 law extended to the WHOLE manifest: with the
    // BPE countCol as the meter, the budget fill, the per-copy n_toks,
    // the epoch draws, and the salted shard/pos must all equal running
    // the default whitespace meter over BPE-pre-tokenized text
    graft.functions.VectorFunctions.register(spark)
    val docs = (0 until 60).map { i =>
      (i.toLong, s"s${i % 3}",
        (0 until 4 + i % 5).map(j => s"word${(i + j) % 11}").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val model = TextOps.bpeFit(docs, numMerges = 15, vocabN = 100)
    val budgets = Map("s0" -> 120L, "s1" -> 60L, "s2" -> 40L)
    val epochs = Map("s0" -> 1000000L, "s1" -> 2500000L, "s2" -> 1500000L)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val viaMeter = canon(Graft.mixManifest(docs, budgets, epochs, 8, 42L,
      tokenCount = Some(model.countCol(col("text")))))
    val pretok = docs.select(col("doc_id"), col("source"),
      concat_ws(" ", model.encodeCol(col("text"))).as("text"))
    val viaText = canon(Graft.mixManifest(pretok, budgets, epochs, 8, 42L))
    assert(viaMeter == viaText && viaMeter.nonEmpty)
    // fractional epochs really upsample: s1 docs appear 2 or 3 times
    val s1Copies = viaMeter.filter(_._2 == "s1").groupBy(_._1).map(_._2.size).toSet
    assert(s1Copies.subsetOf(Set(2, 3)) && s1Copies.nonEmpty, s1Copies.toString)
  }

  test("packSequencesOf with the BPE meter ≡ the default packing over pre-tokenized text (F52 ⊕ F20)") {
    graft.functions.VectorFunctions.register(spark)
    val docs = (0 until 50).map { i =>
      (i.toLong, (0 until 5 + i % 7).map(j => s"tok${(i * 3 + j) % 13}").mkString(" "))
    }.toDF("doc_id", "text")
    val model = TextOps.bpeFit(docs, numMerges = 10, vocabN = 100)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val viaMeter = canon(TextOps.packSequencesOf(docs, seqLen = 16,
      tokenCount = Some(model.countCol(col("text")))))
    val pretok = docs.select(col("doc_id"),
      concat_ws(" ", model.encodeCol(col("text"))).as("text"))
    val viaText = canon(TextOps.packSequencesOf(pretok, seqLen = 16))
    assert(viaMeter == viaText && viaMeter.nonEmpty)
  }

  test("mixManifest scatters an upsampled doc's copies; positions are a dense per-shard sequence") {
    val docs = (0 until 40).map(i => (i.toLong, "s",
      (0 until 6).map(j => s"w${(i * 7 + j) % 13}").mkString(" ")))
      .toDF("doc_id", "source", "text")
    val m = Graft.mixManifest(docs, Map.empty, Map("s" -> 3000000L), 4, 7L)
      .collect().map(r => (r.getLong(0), r.getLong(3), r.getLong(4), r.getLong(5)))
    // every doc gets exactly 3 epochs (integer weight)
    assert(m.groupBy(_._1).forall(_._2.length == 3))
    // the epoch-salted shuffle puts SOME doc's copies in different
    // shards (a bare-doc_id shuffle would glue all copies together —
    // with 120 copies over 4 shards, all-same-shard has p ≈ (1/16)^40)
    assert(m.groupBy(_._1).exists(_._2.map(_._3).distinct.length > 1))
    // per shard, positions are exactly 0..n-1 (the F35 dense-rank law)
    m.groupBy(_._3).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (0L until rows.length).toSeq)
    }
  }

  test("trigramLmFit fails loudly on a token-less corpus") {
    val e = intercept[IllegalArgumentException] {
      TextOps.trigramLmFit(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    }
    assert(e.getMessage.contains("no tokens"), e.getMessage)
  }

  test("two-token docs have no trigram position and drop (the gramless convention)") {
    val docs = Seq((1L, "just two"), (2L, "one two three four")).toDF("doc_id", "text")
    val out = TextOps.lmTrigramScores(docs, 64).collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L))
    assert(out.head.getLong(1) == 2L) // 4 tokens → 2 trigram positions
  }
}
