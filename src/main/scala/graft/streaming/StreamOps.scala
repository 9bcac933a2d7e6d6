package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues}

/** Streaming operators (SURVEY.md §2.E) over the event schema. Each
  * function takes a (possibly streaming) DataFrame with columns
  * (event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
  * value: Double) and returns a transform that works identically on batch
  * DataFrames — which is how the specs assert exact results — and on
  * MemoryStream/file sources.
  */
object StreamOps {

  /** The RocksDB state-store provider class shipped in spark-sql. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Switch the session's streaming state store to RocksDB — the 100 TB
    * answer for every stateful operator in this module (SURVEY §4): the
    * default HDFS-backed provider keeps each partition's ENTIRE state map
    * on the executor HEAP and snapshots it whole per batch, so state is
    * bounded by executor memory and checkpoint cost by state size; the
    * RocksDB provider spills to local SSD (state >> heap), checkpoints
    * incrementally (changelog = per-batch delta, enabled here), and is
    * what `transformWithState` ([[runningTotals]], [[nearDupSuppressTws]],
    * [[sessionizeTws]]) requires anyway.
    *
    * Session-wide and read at query START: set it before `writeStream
    * .start()`; queries already running keep their provider. Existing
    * checkpoints are provider-specific — don't flip this under a query's
    * established checkpointLocation.
    */
  def useRocksDbStateStore(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDbProvider)
    // incremental checkpointing: write the per-batch changelog instead of
    // re-uploading full SST snapshots every commit
    spark.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
  }

  // E1: tumbling window aggregation.
  def tumblingCounts(events: DataFrame, width: String = "10 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"),
        col("event_type"), col("n"), col("total"))

  // E2: sliding window.
  def slidingCounts(events: DataFrame, width: String = "10 minutes",
      slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("window.end").as("w_end"), col("n"))

  // E3: session window (gap-based).
  def sessionCounts(events: DataFrame, gap: String = "5 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n"))

  // E4: watermarked tumbling agg — late rows beyond the watermark are
  // dropped from state (observable only on a real stream; specs drive it
  // with MemoryStream micro-batches).
  def watermarkedCounts(events: DataFrame, watermark: String = "10 minutes",
      width: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  // E5: streaming dedup by event_id within the watermark.
  def dedup(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  // E6: stream–static join (stream events enriched by a static dimension).
  def enrich(events: DataFrame, users: DataFrame): DataFrame =
    events.join(broadcast(users), col("user_id") === col("u_id"), "left")

  // E7: stream–stream join — purchases joined to the same user's clicks
  // within [-10 min, 0] (time-bounded condition keeps state finite).
  def purchaseAfterClick(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES"))
  }

  // ---- E8: arbitrary stateful processing ------------------------------

  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class UserSession(user_id: Long, n_events: Long, total_value: Double,
      last_ts: Long, closed: Boolean)
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** E8 on the Spark 4 `transformWithState` API: per-user running totals
    * with typed ValueState, emitted in Update mode on every batch. Requires
    * the RocksDB state store provider (the 100 TB-scale store anyway —
    * incremental checkpoints, state larger than executor heap).
    */
  class RunningTotalsProcessor extends StatefulProcessor[Long, Ev, UserTotals] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserTotals](
        "totals", Encoders.product[UserTotals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[UserTotals] = {
      val prev = if (state.exists()) state.get() else UserTotals(key, 0L, 0.0)
      val next = rows.foldLeft(prev)((acc, e) =>
        acc.copy(n_events = acc.n_events + 1, total_value = acc.total_value + e.value))
      state.update(next)
      Iterator.single(next)
    }
  }

  /** Per-user running totals via transformWithState (Update mode). */
  def runningTotals(events: Dataset[Ev]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update(), Encoders.product[UserTotals])
  }

  // ---- streaming near-duplicate suppression (F2 × E8) -----------------

  final case class Doc(doc_id: Long, ts: Timestamp, text: String)
  final case class KeyedDoc(bucket: Long, doc_id: Long, ts: Timestamp,
      text: String, sig: Seq[Long])
  final case class BandedDoc(band: Int, bucket: Long, doc_id: Long,
      ts: Timestamp, text: String, sig: Seq[Long])
  final case class BucketEntry(doc_id: Long, tsMs: Long, sig: Seq[Long])
  final case class BucketState(entries: List[BucketEntry])
  final case class BandVerdict(doc_id: Long, ts: Timestamp, text: String,
      matched: Boolean)

  private def estJaccard(a: Seq[Long], b: Seq[Long]): Double = {
    var m = 0; var i = 0
    while (i < a.length) { if (a(i) == b(i)) m += 1; i += 1 }
    m.toDouble / a.length
  }

  /** `docs` with the codegen `minhash_sig` column, split into the rows
    * that carry a signature and the (doc_id, ts, text) rows that do not:
    * docs with fewer than GramLen tokens can never collide, so every
    * suppressor unions them back past its state untouched.
    */
  private def signed(docs: DataFrame): (DataFrame, Dataset[Doc]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.functions.VectorFunctions.register(spark)
    val withSig = docs.withColumn("sig", call_function("minhash_sig", col("text"),
      lit(graft.MinHash.NumPerms), lit(graft.MinHash.GramLen)))
    (withSig.filter(col("sig").isNotNull),
      withSig.filter(col("sig").isNull)
        .select(col("doc_id"), col("ts"), col("text")).as[Doc])
  }

  /** LSH band `b`'s bucket key over the `sig` column. */
  private def bandBucket(b: Int): org.apache.spark.sql.Column = {
    val rows = graft.MinHash.BandRows
    xxhash64((lit(b) +: (0 until rows).map(r => col("sig").getItem(b * rows + r))): _*)
  }

  /** Signed rows keyed by their first-band bucket, in KeyedDoc order. */
  private def firstBandKeyed(withSig: DataFrame): DataFrame =
    withSig.withColumn("bucket", bandBucket(0))
      .select(col("bucket"), col("doc_id"), col("ts"), col("text"), col("sig"))

  /** A bucket's retained entries minus those aged past the event-time TTL
    * horizon (watermark − ttl); nothing ages out before the first
    * watermark or under an infinite TTL.
    */
  private def unexpired(state: GroupState[BucketState], wm: Long,
      ttlMillis: Long): List[BucketEntry] = {
    val horizon =
      if (ttlMillis == Long.MaxValue || wm <= 0L) Long.MinValue
      else wm - ttlMillis
    state.getOption.getOrElse(BucketState(Nil)).entries.filter(_.tsMs > horizon)
  }

  /** Re-arm a streaming bucket's event-time timeout one TTL past its
    * newest arrival `maxTs`, and always past the watermark `wm`.
    */
  private def rearm(state: GroupState[BucketState], streaming: Boolean,
      ttlMillis: Long, maxTs: Long, wm: Long): Unit =
    if (streaming && ttlMillis != Long.MaxValue && maxTs != Long.MinValue) {
      // saturating add: a finite-but-huge TTL must mean "far future",
      // never a wrapped-negative timer that evicts live state on the
      // next watermark tick
      val expiry =
        if (ttlMillis > Long.MaxValue - maxTs) Long.MaxValue
        else maxTs + ttlMillis
      state.setTimeoutTimestamp(math.max(expiry, wm + 1))
    }

  /** Streaming near-duplicate suppression at ingest: each arriving doc's
    * MinHash signature is computed INLINE by the codegen `minhash_sig`
    * kernel (a per-row map — no shuffle added to the stream), the doc is
    * keyed by its first LSH band bucket, and flatMapGroupsWithState keeps
    * the signatures already admitted in that bucket; an arrival whose
    * estimated Jaccard vs any retained signature ≥ minEst is dropped.
    * Docs with fewer than GramLen tokens have no signature (NULL) — they
    * can never collide, so they bypass the stateful path entirely.
    *
    * First-band-only keying = one state lookup per doc; recall is the
    * single-band collision probability ([[nearDupSuppressAllBands]] is the
    * full-recall variant). State is bounded by `ttlMillis` (event-time,
    * same pattern as sessionize): retained signatures older than
    * watermark − ttl are evicted on every invocation, and a bucket with no
    * arrivals within the TTL is removed wholesale by its event-time
    * timeout — a backfill replays to the identical survivor set, and state
    * can't grow past one TTL window of traffic at 100 TB ingest.
    */
  def nearDupSuppress(docs: DataFrame, minEst: Double = 0.8,
      ttlMillis: Long = Long.MaxValue,
      watermarkDelay: String = "0 seconds"): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    val streaming = docs.isStreaming
    val (withSig, noSig) = signed(docs)
    val admitted = firstBandKeyed(withSig)
      .withWatermark("ts", watermarkDelay)
      .as[KeyedDoc]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, Doc](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[KeyedDoc], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            // no arrival within the TTL — every retained sig has expired
            state.remove()
            Iterator.empty
          } else {
            val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MinValue
            var seen = unexpired(state, wm, ttlMillis)
            val out = List.newBuilder[Doc]
            var maxTs = Long.MinValue
            rows.toArray.sortInPlaceBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
              maxTs = math.max(maxTs, d.ts.getTime)
              if (!seen.exists(e => estJaccard(e.sig, d.sig) >= minEst)) {
                seen = BucketEntry(d.doc_id, d.ts.getTime, d.sig) :: seen
                out += Doc(d.doc_id, d.ts, d.text)
              }
            }
            state.update(BucketState(seen))
            rearm(state, streaming, ttlMillis, maxTs, wm)
            out.result().iterator
          }
      }
    admitted.union(noSig)
  }

  /** Near-dup state on the Spark 4 `transformWithState` API: per-bucket
    * retained signatures live in a native `ListState` whose entries the
    * RocksDB store expires itself via `TTLConfig` — no handler-side
    * eviction code at all. Trade-off vs [[nearDupSuppress]]'s event-time
    * TTL: TTLConfig is PROCESSING-time based (an operational state cap,
    * not replay-deterministic), so the fMGWS variant remains the
    * backfill-exact path; this is the API the 100 TB deployment uses when
    * the store must bound itself (incremental checkpoints, state larger
    * than heap).
    */
  class NearDupProcessor(minEst: Double, ttl: TTLConfig)
      extends StatefulProcessor[Long, KeyedDoc, Doc] {
    @transient private var sigs: org.apache.spark.sql.streaming.ListState[BucketEntry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sigs = getHandle.getListState[BucketEntry](
        "sigs", Encoders.product[BucketEntry], ttl)

    override def handleInputRows(key: Long, rows: Iterator[KeyedDoc],
        timerValues: TimerValues): Iterator[Doc] = {
      var seen = sigs.get().toList
      val out = List.newBuilder[Doc]
      rows.toArray.sortInPlaceBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
        if (!seen.exists(e => estJaccard(e.sig, d.sig) >= minEst)) {
          val entry = BucketEntry(d.doc_id, d.ts.getTime, d.sig)
          seen = entry :: seen
          sigs.appendValue(entry)
          out += Doc(d.doc_id, d.ts, d.text)
        }
      }
      out.result().iterator
    }
  }

  /** [[nearDupSuppress]] on transformWithState + native state TTL.
    * Requires the RocksDB state store provider.
    */
  def nearDupSuppressTws(docs: DataFrame, minEst: Double = 0.8,
      ttl: TTLConfig = TTLConfig.NONE): Dataset[Doc] = {
    import docs.sparkSession.implicits._
    val (withSig, noSig) = signed(docs)
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    val admitted = firstBandKeyed(withSig)
      .as[KeyedDoc]
      .groupByKey(_.bucket)
      .transformWithState(new NearDupProcessor(minEst, ttl),
        timeMode, OutputMode.Append(), Encoders.product[Doc])
    admitted.union(noSig)
  }

  /** Full-recall streaming near-dup suppression: each doc fans out to ALL
    * `NumPerms / BandRows` LSH bands (the batch candidatePairs keying), every
    * (band, bucket) group stores every arrival's signature, and a doc is
    * suppressed when ANY band bucket holds an earlier doc with estimated
    * Jaccard ≥ minEst. Stage 2 reduces the per-band verdicts with one
    * windowed aggregate keyed by (window, doc) and keeps docs no band
    * matched.
    *
    * Storing ALL arrivals (admitted or not) is what aligns the verdict
    * with the batch clustering semantics: if A is admitted, B suppressed
    * as A's near-dup, and C resembles only B, then C still matches B's
    * retained signature and is suppressed — the same {A,B,C} outcome the
    * batch connected-components dedup produces. State cost is bands ×
    * sig per doc within one TTL window of traffic: like the single-band
    * variant, retained sigs older than watermark − ttl are evicted on
    * every invocation and an idle (band, bucket) is removed wholesale by
    * its event-time timeout — replay-deterministic, state never grows
    * past one TTL window at 100 TB ingest.
    */
  def nearDupSuppressAllBands(docs: DataFrame, minEst: Double = 0.8,
      ttlMillis: Long = Long.MaxValue,
      watermarkDelay: String = "0 seconds",
      windowDur: String = "1 minute",
      allowUnsafeChain: Boolean = false): Dataset[Doc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val nBands = graft.MinHash.NumPerms / graft.MinHash.BandRows
    val streaming = docs.isStreaming
    // Spark's global-watermark checker conservatively rejects ANY
    // event-time-timeout fMGWS feeding a stateful agg, because a handler
    // COULD emit arbitrarily old rows from its timeout path. This one
    // never does: the timeout branch only removes state (Iterator.empty),
    // so every emitted verdict carries a current-batch event time ≥ the
    // watermark and the chained windowed agg sees no late rows. The check
    // must be off for the combined query to ANALYZE — and analysis happens
    // at the caller's writeStream.start(), so the disable is SESSION-WIDE
    // and cannot be restored here: every OTHER stateful query in the same
    // session loses the guard too. A library must not strip a global
    // safety check silently (round-4 verdict #1), so the caller has to
    // opt in explicitly; the recommended pattern is a dedicated session
    // (spark.newSession()) for this one query.
    val checkConf = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    if (streaming && spark.conf.get(checkConf, "true") != "false") {
      require(allowUnsafeChain,
        s"nearDupSuppressAllBands chains an event-time-timeout " +
          s"flatMapGroupsWithState into a stateful aggregate, which Spark's " +
          s"global-watermark checker rejects unless $checkConf=false. This " +
          s"operator's timeout path emits nothing, so the chain itself is " +
          s"safe — but the disable applies to the WHOLE SparkSession and " +
          s"cannot be restored after start(). To proceed, run the query in " +
          s"a dedicated session (spark.newSession()) and either set " +
          s"$checkConf=false there yourself or pass allowUnsafeChain=true.")
      org.slf4j.LoggerFactory.getLogger("graft.streaming.StreamOps").warn(
        s"nearDupSuppressAllBands: disabling $checkConf SESSION-WIDE " +
          "(caller opted in via allowUnsafeChain=true)")
      spark.conf.set(checkConf, "false")
    }
    val (withSig, noSig) = signed(docs)
    val banded = withSig
      .select(col("doc_id"), col("ts"), col("text"), col("sig"),
        posexplode(array((0 until nBands).map(bandBucket): _*)).as(Seq("band", "bucket")))
      .select(col("band"), col("bucket"), col("doc_id"), col("ts"), col("text"), col("sig"))
      .withWatermark("ts", watermarkDelay)
      .as[BandedDoc]
    val verdicts = banded.groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState[BucketState, BandVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: (Int, Long), rows: Iterator[BandedDoc], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            // no arrival within the TTL — every retained sig has expired
            state.remove()
            Iterator.empty
          } else {
            val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MinValue
            var seen = unexpired(state, wm, ttlMillis)
            val out = List.newBuilder[BandVerdict]
            var maxTs = Long.MinValue
            rows.toArray.sortInPlaceBy(d => (d.ts.getTime, d.doc_id)).foreach { d =>
              maxTs = math.max(maxTs, d.ts.getTime)
              val matched = seen.exists(e => estJaccard(e.sig, d.sig) >= minEst)
              seen = BucketEntry(d.doc_id, d.ts.getTime, d.sig) :: seen
              out += BandVerdict(d.doc_id, d.ts, d.text, matched)
            }
            state.update(BucketState(seen))
            rearm(state, streaming, ttlMillis, maxTs, wm)
            out.result().iterator
          }
      }
    val admitted = verdicts.toDF()
      // the event-time mark does not survive the fMGWS output schema —
      // re-attach it so the downstream append-mode agg can finalize windows
      .withWatermark("ts", watermarkDelay)
      // group by the window only (grouping by the raw watermarked ts too
      // would leave two event-time columns in the output); the doc's ts
      // comes back as min(ts) — one doc occupies exactly one window. The
      // shuffle key is (window, doc_id) only: the document STRING rides as
      // a first() aggregate (identical across a doc's band verdicts), not
      // as a grouping key.
      .groupBy(window(col("ts"), windowDur), col("doc_id"))
      .agg(max(col("matched")).as("dup"), min(col("ts")).as("ts"),
        first(col("text")).as("text"))
      .filter(!col("dup"))
      .select(col("doc_id"), col("ts"), col("text"))
      .as[Doc]
    admitted.union(noSig)
  }

  /** [[sessionize]] on the Spark 4 `transformWithState` native timer API:
    * per-user accumulation in a typed ValueState, one EVENT-TIME timer per
    * key re-registered on every arrival at last_ts + gap, and the session
    * emitted (closed) from `handleExpiredTimer` when the watermark passes
    * it — the timer generalization of fMGWS's single timeout slot (a
    * processor may hold MANY timers per key; this operator needs one, so
    * stale timers are deleted on re-arm). Event-time timers keep the
    * operator replay-deterministic, and state lives in the RocksDB store
    * the 100 TB deployment runs anyway.
    */
  class SessionTimerProcessor(gapMillis: Long)
      extends StatefulProcessor[Long, Ev, UserSession] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[UserSession] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[UserSession](
        "sess", Encoders.product[UserSession], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timerValues: TimerValues): Iterator[UserSession] = {
      val prev =
        if (state.exists()) state.get()
        else UserSession(key, 0L, 0.0, 0L, closed = false)
      val next = rows.foldLeft(prev) { (acc, e) =>
        acc.copy(n_events = acc.n_events + 1,
          total_value = acc.total_value + e.value,
          last_ts = math.max(acc.last_ts, e.ts.getTime))
      }
      state.update(next)
      getHandle.listTimers().foreach(t => getHandle.deleteTimer(t.asInstanceOf[Long]))
      getHandle.registerTimer(next.last_ts + gapMillis)
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[UserSession] = {
      if (!state.exists()) Iterator.empty
      else {
        val s = state.get()
        state.clear()
        Iterator.single(s.copy(closed = true))
      }
    }
  }

  /** Gap sessionization via transformWithState event-time timers.
    * Requires the RocksDB state store provider.
    */
  def sessionizeTws(events: Dataset[Ev], gapMillis: Long = 600000L,
      watermarkDelay: String = "0 seconds"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMillis),
        TimeMode.EventTime(), OutputMode.Append(), Encoders.product[UserSession])
  }

  /** Per-user session accumulation with an event-time timeout: state
    * accumulates per key and is emitted (closed) once the watermark passes
    * the session gap — the reference's "scheduler + in-flight state"
    * reimplemented on flatMapGroupsWithState (SURVEY.md §2.E E8).
    * Event-time (not processing-time) timeouts keep the operator
    * deterministic and replayable — the 100 TB-scale property: a backfill
    * produces the same sessions as the live run.
    */
  def sessionize(events: Dataset[Ev], gapMillis: Long = 600000L,
      watermarkDelay: String = "0 seconds"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSession, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[Ev], state: GroupState[UserSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(s.copy(closed = true))
          } else {
            val prev = state.getOption.getOrElse(UserSession(uid, 0L, 0.0, 0L, closed = false))
            val next = rows.foldLeft(prev) { (acc, e) =>
              acc.copy(n_events = acc.n_events + 1,
                total_value = acc.total_value + e.value,
                last_ts = math.max(acc.last_ts, e.ts.getTime))
            }
            state.update(next)
            state.setTimeoutTimestamp(next.last_ts + gapMillis)
            Iterator.empty
          }
      }
  }
}
