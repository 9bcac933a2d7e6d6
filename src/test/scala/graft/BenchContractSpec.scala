package graft

/** Bench protocol invariants — cheap guards against the artifact
  * regressions that cost rounds 2 and 3 their parsed bench line.
  */
class BenchContractSpec extends SparkSpec {

  test("every graded query belongs to a bench family") {
    val fam = Bench.familyOf
    val missing = SparkEntry.specs.map(_.name).filterNot(fam.contains)
    assert(missing.isEmpty, s"unattributed queries: $missing")
  }

  test("every headline name is a real query") {
    val names = SparkEntry.specs.map(_.name).toSet
    val ghosts = Bench.headline.filterNot(names)
    assert(ghosts.isEmpty, s"headline references missing queries: $ghosts")
  }

  test("freshJvmReps forks a child JVM and parses its reps") {
    // the floorGate specs feed the decision logic synthetic reps; this
    // runs the fork itself: this JVM's classpath and options, one cheap
    // query, the sentinel line parsed back
    val r = Bench.freshJvmReps("q12_distinct", sf001, 1, timeoutSec = 300)
    assert(r.exists(x => x.secs.length == 1 && x.errors == 0 && x.median > 0), s"reps: $r")
  }

  test("median-of-reps rejects a one-rep stall; spread reports it") {
    // the round-4 failure mode: one rep inflated ~2× by ambient load.
    // the median of 3 ignores it; the spread field records that it happened
    val r = Bench.Reps(Seq(1.1, 6.2, 1.0))
    assert(r.median == 1.1)
    assert(math.abs(r.spread - 5.2) < 1e-9)
    // even rep counts average the two middles — upper-middle alone would
    // report the slower of 2 reps, reinstating the stall
    assert(math.abs(Bench.Reps(Seq(1.0, 6.0)).median - 3.5) < 1e-9)
    assert(math.abs(Bench.Reps(Seq(4.0, 1.0, 2.0, 3.0)).median - 2.5) < 1e-9)
  }

  test("a throwing query publishes the failure sentinel, never a timing") {
    // round-6 ADVICE #4: a query that threw used to record its
    // time-to-failure as a rep, so 3 fast failures published as a fast
    // median with no marker. The whole chain is asserted here: measure()
    // negates failed reps, Reps poisons the median, render() names the
    // query in `errors` on every line and excludes it from every total.
    val good = Q.noOracle("bench_ok") { (s, _) => s.range(0, 10).toDF("id") }
    val boom = Q.noOracle("bench_boom") { (_, _) =>
      throw new RuntimeException("deliberate bench failure")
    }
    val results = Bench.measure(spark, Seq(good, boom), sf001, reps = 3)
    val byName = results.toMap
    assert(byName("bench_ok").secs.forall(_ > 0) && byName("bench_ok").errors == 0)
    assert(byName("bench_boom").secs.forall(_ < 0), "failed reps must be negated")
    assert(byName("bench_boom").errors == 3)
    assert(byName("bench_boom").median == Bench.FailedSentinel)
    val (famLine, headLine, fullLine) = Bench.render(results, 3, 0.5, 0.5, sf001)
    for (line <- Seq(famLine, headLine, fullLine))
      assert(line.contains("\"errors\":[\"bench_boom\"]"),
        s"line must name the failed query:\n$line")
    // the failed query appears in the full per-query map only as -1.0
    assert(fullLine.contains("\"bench_boom\":-1.0"))
    // round-7 ADVICE: the gated `value` fields publish the sentinel when
    // ANYTHING failed — a sum-of-survivors would look FASTER than a
    // healthy run to a total-only consumer, reading a failure as a perf
    // improvement. Per-query medians and the errors array still carry the
    // detail; the aux family subtotals stay as survivor sums.
    for (line <- Seq(headLine, fullLine))
      assert(line.contains("\"value\":-1.0"),
        s"a red run must publish the sentinel as its gated value:\n$line")
    // a clean run renders an empty errors array and a real total
    val cleanResults = Bench.measure(spark, Seq(good), sf001, reps = 2)
    val (_, cleanHead, cleanFull) = Bench.render(cleanResults, 2, 0.5, 0.5, sf001)
    assert(cleanHead.contains("\"errors\":[]"))
    val okMedian = cleanResults.toMap.apply("bench_ok").median
    val total = "\"value\":(-?[0-9.]+)".r.findFirstMatchIn(cleanFull).get.group(1).toDouble
    assert(total >= 0 && math.abs(total - okMedian) < 1e-3, // %.3f granularity
      s"clean-run total $total must be the good query's median $okMedian")
  }

  test("spread-triggered retry re-measures a sustained-noisy query once") {
    // BENCH_r08's failure mode: the median-of-3 absorbs ONE stalled rep,
    // but a sustained-busy window inflates the median itself and ships a
    // phantom regression. The retry path re-measures exactly the queries
    // whose spread exceeds half their median and keeps the steadier pass.
    val stable = Q.noOracle("bench_stable") { (s, _) => s.range(0, 1).toDF("id") }
    val noisy = Q.noOracle("bench_noisy") { (s, _) => s.range(0, 1).toDF("id") }
    val calls = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val firstPass = Map(
      "bench_stable" -> Bench.Reps(Seq(1.0, 1.05, 1.1)),
      // synthetic stalled window: spread 4.0 > 0.5 × median 3.0
      "bench_noisy" -> Bench.Reps(Seq(1.0, 3.0, 5.0)))
    val secondPass = Bench.Reps(Seq(1.0, 1.02, 1.08))
    def meas(q: Q): Bench.Reps = {
      calls(q.name) += 1
      if (q.name == "bench_noisy" && calls(q.name) == 2) secondPass
      else firstPass(q.name)
    }
    val (out, retried, noisyQs) = Bench.measureWithRetry(Seq(stable, noisy), meas)
    assert(retried == Seq("bench_noisy"))
    assert(calls("bench_stable") == 1, "a steady query must not re-run")
    assert(calls("bench_noisy") == 2, "the noisy query earns exactly one retry")
    assert(out.toMap.apply("bench_noisy") == secondPass,
      "the steadier re-measure must replace the noisy first pass")
    assert(noisyQs.isEmpty, "a steady retry clears the noisy flag")
    // the artifact records that it defended itself
    val (famLine, headLine, fullLine) =
      Bench.render(out, 3, 0.5, 0.5, sf001, retried, noisyQs)
    for (line <- Seq(famLine, headLine, fullLine)) {
      assert(line.contains("\"retried\":[\"bench_noisy\"]"),
        s"line must name the retried query:\n$line")
      assert(line.contains("\"noisy\":[]"),
        s"a defended run publishes an empty noisy array:\n$line")
    }
  }

  test("a query still stormy AFTER its retry is published as noisy") {
    // round-10 VERDICT task 5: when both passes straddle ambient load the
    // kept reading is the best available but not trustworthy — the
    // artifact must say so, distinctly from `retried`, so a judge can
    // discount it without a re-run.
    val q = Q.noOracle("bench_stormy") { (s, _) => s.range(0, 1).toDF("id") }
    // two synthetic stormy passes: every spread exceeds half its median
    val passes = Iterator(Bench.Reps(Seq(1.0, 3.0, 5.0)), Bench.Reps(Seq(1.0, 2.5, 4.0)))
    val (out, retried, noisyQs) = Bench.measureWithRetry(Seq(q), _ => passes.next())
    assert(retried == Seq("bench_stormy") && noisyQs == Seq("bench_stormy"),
      "a twice-stormy query must appear in BOTH retried and noisy")
    // the steadier (second) pass is still the one kept
    assert(out.toMap.apply("bench_stormy") == Bench.Reps(Seq(1.0, 2.5, 4.0)))
    val (famLine, headLine, fullLine) =
      Bench.render(out, 3, 0.5, 0.5, sf001, retried, noisyQs)
    for (line <- Seq(famLine, headLine, fullLine))
      assert(line.contains("\"noisy\":[\"bench_stormy\"]"),
        s"line must name the still-noisy query:\n$line")
  }

  test("retry keeps the first pass when the re-measure is noisier, and skips failed/quiet reps") {
    val q = Q.noOracle("bench_q") { (s, _) => s.range(0, 1).toDF("id") }
    val first = Bench.Reps(Seq(1.0, 3.0, 5.0))
    val worse = Bench.Reps(Seq(1.0, 4.0, 7.0))
    var n = 0
    val (out, retried, _) = Bench.measureWithRetry(Seq(q), { _ => n += 1; if (n == 1) first else worse })
    assert(retried == Seq("bench_q") && out.toMap.apply("bench_q") == first,
      "a noisier retry must not replace a cleaner first pass")
    // predicate edges: steady, failed, and sub-threshold reps never retry
    assert(!Bench.needsRetry(Bench.Reps(Seq(1.0, 1.1, 1.2))))
    assert(!Bench.needsRetry(Bench.Reps(Seq(-1.0, 1.0, 1.0))),
      "a failed rep already poisons the median — retrying would mask it")
    assert(Bench.needsRetry(Bench.Reps(Seq(1.0, 3.0, 5.0))))
    // a millisecond-scale query whose spread is large RELATIVE to its
    // median but under the absolute floor is already accurate to better
    // than the artifact's granularity — no retry churn
    assert(!Bench.needsRetry(Bench.Reps(Seq(0.02, 0.045, 0.02))))
    assert(Bench.needsRetry(Bench.Reps(Seq(0.02, 0.5, 0.02))),
      "a genuine stall on a tiny query still retries")
  }

  test("compact final line stays under 1 KB at any inventory size") {
    // round-18 (VERDICT r17 item 1): BENCH_r14–r17 carried parsed:null
    // because the headline line's per-query map + retried/noisy NAME
    // arrays outgrew the driver's ~2 KB stdout tail. The compact line —
    // printed LAST — carries counts and the single worst query only, so
    // it must stay parseable no matter how many queries the suite grows.
    val n = 10000
    val results = (0 until n).map { i =>
      s"q_synthetic_operator_with_a_deliberately_long_name_$i" ->
        Bench.Reps(Seq(0.5, 0.6, 0.7))
    }
    val names = results.map(_._1)
    val line = Bench.compactLine(results, 3, 0.5, 0.6, sf001,
      retried = names, noisy = names, floorRetried = names, loadAmbient = 0.4)
    assert(line.length < 1024, s"compact line is ${line.length} bytes:\n$line")
    assert(line.startsWith("{\"metric\":\"total\""),
      "the driver's tail parser scans for a {\"metric\":...} line")
    // round 21 (VERDICT r20 item 2): the line carries the per-query map
    // for the FROZEN headline subset, so the driver's round-over-round
    // per-query gate has data again — with every headline member present
    // the whole line must still fit the driver's 2,000-char tail window
    // (BENCH_r19/r20 tails measure exactly 2,000 chars) with room for
    // sbt's trailing "[success] ..." line
    val headResults = Bench.headline.map(n => n -> Bench.Reps(Seq(8.5, 9.25, 10.0)))
    val headLine2 = Bench.compactLine(headResults, 3, 0.5, 0.6, sf001,
      retried = Bench.headline, noisy = Bench.headline,
      floorRetried = Bench.headline, loadAmbient = 0.4)
    assert(headLine2.length < 1900,
      s"compact line with full headline map is ${headLine2.length} bytes")
    assert(headLine2.contains("\"queries\":{\"q1_pricing_summary\":9.250"),
      "the headline per-query map must ride the compact line")
    assert(line.contains(s""""n_queries":$n"""))
    assert(line.contains(s""""retried":$n""") && line.contains(s""""noisy":$n"""),
      "name arrays must publish as COUNTS on the compact line")
    assert(!line.contains("q_synthetic_operator_with_a_deliberately_long_name_1\""),
      "no per-query name array may leak onto the compact line")
    // value semantics match the headline line: headline-subset gated total
    // (zero here — synthetic names are not headline members), full total aside
    assert(line.contains("\"value\":0.0"))
    assert(line.contains(s""""total_all_sec":${n * 0.6}"""))
    // a red run publishes the sentinel in BOTH gated fields (round-7 rule)
    val red = results.take(3) :+ ("q_boom" -> Bench.Reps(Seq(-1.0, -1.0, -1.0)))
    val redLine = Bench.compactLine(red, 3, 0.5, 0.6, sf001)
    assert(redLine.contains("\"value\":-1.0") &&
      redLine.contains("\"total_all_sec\":-1.0") &&
      redLine.contains("\"errors\":1"))
  }

  test("loadavg is readable on this platform") {
    // the bench artifact embeds it so a reader can discount noisy runs —
    // a -1 on a /proc-bearing box would mean the field silently degrades
    assume(new java.io.File("/proc/loadavg").exists(),
      "no /proc/loadavg on this platform — the -1 fallback is correct there")
    assert(Bench.loadAvg1m() >= 0.0)
  }

  test("query names are unique and oracle SQL references only real tables") {
    val names = SparkEntry.specs.map(_.name)
    assert(names.distinct.size == names.size, "duplicate query names")
    // the driver registers exactly Graft.TableNames as DuckDB views — an
    // oracle referencing anything else fails at grade time, not build time
    val known = Graft.TableNames.toSet
    val fromRe = "(?is)\\b(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)".r
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // strip CTE names: they're declared as `name AS (`
      val ctes = "(?is)([a-z_][a-z0-9_]*)\\s*(?:\\([^)]*\\))?\\s+AS\\s*\\(".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val refs = fromRe.findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = refs -- known -- ctes
      assert(unknown.isEmpty, s"$name references unknown tables: $unknown")
    }
  }
}
