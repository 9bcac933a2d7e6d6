package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Relational operator inventory, SURVEY.md §2.C — one graded query per
  * operator, each a declarative DataFrame plan so Catalyst gets predicate
  * pushdown / column pruning / join selection for free. Every query obeys
  * the §7.4 hash-determinism rules: total ORDER BY, floor-truncated float
  * aggregates, explicit integer widths matching the DuckDB oracle.
  */
object Relational {

  // C1: projection (select / computed columns)
  val qProjection = Q(
    "q0_projection",
    """SELECT p_partkey, upper(p_brand) AS brand_u,
      |       concat_ws('-', p_brand, p_type) AS brand_type,
      |       floor(p_retailprice * p_size * 100)/100 AS value2
      |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
    part(s, d).select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_u"),
      concat_ws("-", col("p_brand"), col("p_type")).as("brand_type"),
      trunc2(col("p_retailprice") * col("p_size")).as("value2"))
      .orderBy(col("p_partkey"))
  }

  // C2 + C10: filter + hash aggregate (TPC-H Q1 shape) — the flagship.
  val qPricingSummary = Q(
    "q1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 2) AS sum_qty,
      |       round(sum(l_extendedprice), 2) AS sum_base_price,
      |       round(sum(l_extendedprice*(1.0-l_discount)), 4) AS sum_disc_price,
      |       floor(avg(l_quantity)*10000)/10000 AS avg_qty,
      |       floor(avg(l_discount)*10000)/10000 AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r2(sum(col("l_quantity"))).as("sum_qty"),
        r2(sum(col("l_extendedprice"))).as("sum_base_price"),
        r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
        trunc4(avg(col("l_quantity"))).as("avg_qty"),
        trunc4(avg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  // C2: selective filter with range + IN predicates (TPC-H Q6 shape);
  // predicates push down to the parquet scan.
  val qFilterRevenue = Q(
    "q2_filter_revenue",
    """SELECT round(sum(l_extendedprice*l_discount), 4) AS revenue,
      |       count(*) AS n
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.03 AND 0.07
      |  AND l_quantity < 24""".stripMargin) { (s, d) =>
    lineitem(s, d)
      .filter(col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount").between(0.03, 0.07) &&
        col("l_quantity") < 24)
      .agg(
        r4(sum(col("l_extendedprice") * col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
  }

  // C3 + C17: 3-way equi-join + agg + top-k (TPC-H Q3 shape).
  val qJoinTopk = Q(
    "q3_join_topk",
    """SELECT o_orderkey, o_orderdate,
      |       round(sum(l_extendedprice*(1.0-l_discount)), 4) AS revenue
      |FROM customer
      |JOIN orders   ON c_custkey = o_custkey
      |JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate  > TIMESTAMP '1995-06-15'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin) { (s, d) =>
    customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(orders(s, d).filter(col("o_orderdate") < to_timestamp(lit("1998-01-01"))),
        col("c_custkey") === col("o_custkey"))
      .join(lineitem(s, d).filter(col("l_shipdate") > to_timestamp(lit("1995-06-15"))),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  // C4: broadcast join of tiny dimensions (explicit hint — at 100 TB the
  // fact side never shuffles for dimension lookups).
  val qBroadcastAgg = Q(
    "q4_broadcast_agg",
    """SELECT r_name, count(*) AS customers,
      |       round(sum(c_acctbal), 2) AS total_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("customers"), r2(sum(col("c_acctbal"))).as("total_bal"))
      .orderBy(col("r_name"))
  }

  // C5: left outer join (customers with zero orders kept).
  val qLeftOuter = Q(
    "q5_outer_join",
    """SELECT c_custkey, count(o_orderkey) AS n_orders, max(o_totalprice) AS max_price
      |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"), max(col("o_totalprice")).as("max_price"))
      .orderBy(col("c_custkey"))
  }

  // C5: full outer join over two pre-aggregated sides.
  val qFullOuter = Q(
    "q5_full_outer",
    """SELECT coalesce(a.nk, b.nk) AS nationkey,
      |       coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp
      |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1) a
      |FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY 1) b
      |  ON a.nk = b.nk
      |ORDER BY nationkey""".stripMargin) { (s, d) =>
    val cu = customer(s, d).groupBy(col("c_nationkey").as("nk_c"))
      .agg(count(lit(1)).as("n_cust"))
    val su = supplier(s, d).groupBy(col("s_nationkey").as("nk_s"))
      .agg(count(lit(1)).as("n_supp"))
    cu.join(su, col("nk_c") === col("nk_s"), "full")
      .select(
        coalesce(col("nk_c"), col("nk_s")).as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nationkey"))
  }

  // C6: left semi join — EXISTS semantics without row duplication.
  val qSemiJoin = Q(
    "q6_semi_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(orders(s, d).filter(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  /** C6b (round 13): BLOOM-PRUNED semi join — the explicit form of the
    * pre-shuffle fact-side pruning that makes selective semi joins
    * viable at 100 TB: the build side's keys are folded into a
    * driver-held Bloom filter (`df.stat.bloomFilter`, KB–MB for bounded
    * key sets) and the fact scan drops non-members BEFORE the shuffle
    * via Spark's own `BloomFilterMightContain` probe expression (exposed
    * as `bloom_might_contain`; the filter binary rides as a literal, the
    * probe is codegen). The exact left-semi join then removes the
    * bloom's false positives — no false negatives exist, so the result
    * is IDENTICAL to the plain semi join, which is exactly what the
    * oracle grades. Spark's runtime row-level filtering does this
    * automatically inside eligible join plans; the library form is for
    * key sets that arrive OUTSIDE a join (allowlists, contamination
    * keys, prior-stage survivors), and for pinning the pruning in plans
    * AQE would not rewrite. For unbounded build sides use the native
    * runtime filters instead — a driver-held sketch must stay bounded.
    */
  /** Driver-held Bloom filters above this bitmap size skip the pruning
    * and run the plain semi join instead (identical result — the bloom
    * only ever changes WHERE non-members die). The bitmap is embedded as
    * a `lit(bytes)` literal in the probe expression, so it ships inside
    * the serialized plan of EVERY task: at 16 MB that is already at the
    * edge of useful (Spark's own broadcast-hint default is 10 MB); an
    * unguarded 10⁹-key frame would build a ~1.2 GB bitmap on the driver
    * and OOM or bloat every task binary. Same guarded pattern as the
    * [[Dedup.maxBroadcastGrams]] / ngramDecontam broadcast caps: bounded
    * structure → prune; unbounded → loud, documented fallback.
    */
  val maxBloomBytes: Long = 16L << 20

  /** Expected bitmap bytes for n keys at fpp — the standard Bloom sizing
    * formula (`m = -n·ln(p)/ln²2` bits), the same one `stat.bloomFilter`
    * uses, so the guard prices the literal BEFORE building it.
    */
  def bloomBitmapBytes(n: Long, fpp: Double): Long =
    (math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))) / 8.0).toLong + 16

  /** Shared C6b/C6c plumbing: validate the key typing (see
    * [[bloomSemiJoin]]'s scaladoc), size and build the driver-held Bloom
    * filter over the keys frame, and return the keys projection plus —
    * when the guard admitted a build — the `might_contain` probe Column
    * over `big`'s key. `None` when the keys frame is empty (Spark's
    * `stat.bloomFilter` NPEs on a zero-row frame) or the projected bitmap
    * exceeds `DriverPull.budget(maxBloomBytes)`; callers fall back to the
    * plain join either way.
    */
  private def bloomProbe(big: DataFrame, bigKey: String, keys: DataFrame,
      keysKey: String, fpp: Double,
      op: String): (DataFrame, Option[org.apache.spark.sql.Column]) = {
    import org.apache.spark.sql.types._
    functions.VectorFunctions.register(big.sparkSession)
    def integral(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val (kt, bt) = (keys.schema(keysKey).dataType, big.schema(bigKey).dataType)
    val bothIntegral = integral(kt) && integral(bt)
    if (!bothIntegral && kt != bt)
      throw new IllegalArgumentException(
        s"$op: non-integral keys must have the SAME type on both " +
          s"sides (xxhash64 hashes by physical type) — got $keysKey: " +
          s"${kt.catalogString} vs $bigKey: ${bt.catalogString}")
    // the probe column on each side: exact long widening for integrals,
    // xxhash64 for everything else (strings, dates, decimals, ...)
    def probeCol(c: org.apache.spark.sql.Column) =
      if (bothIntegral) c.cast("long") else xxhash64(c)
    val k = keys.select(col(keysKey))
    val nKeys = k.count()
    val n = math.max(1000L, nKeys)
    val probe =
      if (nKeys == 0L || bloomBitmapBytes(n, fpp) > DriverPull.budget(maxBloomBytes)) None
      else {
        val bf = k.select(probeCol(col(keysKey)).as("__h"))
          .stat.bloomFilter("__h", n, fpp)
        val bytes = {
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          bos.toByteArray
        }
        Some(call_function("bloom_might_contain", lit(bytes),
          probeCol(col(bigKey))))
      }
    (k, probe)
  }

  /** The generic C6b operator over any (big frame, key) × (keys frame,
    * key): bloom-prune, then exact semi join. Result ≡ `big SEMI JOIN
    * keys` always (no false negatives); the pruning only changes WHERE
    * non-members die — before the shuffle instead of inside the join. For
    * key sets that arrive outside a join: allowlists, contamination keys,
    * prior-stage survivors.
    *
    * Key typing (round 14, per ADVICE): `BloomFilterMightContain`
    * accepts exactly (binary, long), and `stat.bloomFilter` widens
    * integral keys through putLong — so INTEGRAL keys on both sides are
    * cast to long for build and probe (exact widening; the byte/short/
    * int cases previously passed the guard but exploded at the probe).
    * NON-integral keys (strings — URLs, doc ids — the common case for
    * external allowlists) are hashed to long with `xxhash64` on BOTH
    * sides; equal values hash equal, so no false negatives, and a
    * 64-bit collision adds ~n/2⁶⁴ to the effective fpp — negligible
    * against any practical `fpp`, and the exact semi join scrubs either
    * kind of false positive anyway. Mixed non-integral types are
    * rejected up front: xxhash64 hashes by PHYSICAL type, so an
    * int-vs-string key pair would silently never match.
    *
    * Sizing/guard: the filter is sized to the ACTUAL key count (one
    * cheap count on the keys frame — a fixed expectedNumItems would
    * embed a ~1.2 MB literal at every scale); when the projected bitmap
    * exceeds `DriverPull.budget(maxBloomBytes)` the operator returns the
    * plain semi join instead — identical rows, no driver-side bitmap, no
    * bloated task binaries.
    */
  def bloomSemiJoin(big: DataFrame, bigKey: String, keys: DataFrame,
      keysKey: String, fpp: Double = 0.01): DataFrame = {
    val (k, probe) = bloomProbe(big, bigKey, keys, keysKey, fpp, "bloomSemiJoin")
    val pruned = probe.fold(big)(big.filter)
    pruned.join(k.select(col(keysKey).as(s"__bsj_$keysKey")),
      col(bigKey) === col(s"__bsj_$keysKey"), "left_semi")
  }

  /** C6c (round 14): BLOOM-ACCELERATED anti join — `big`'s rows whose
    * `bigKey` does NOT appear in `keys.keysKey`, computed with most of
    * the fact stream never entering the anti-join shuffle. The insight
    * is the mirror of [[bloomSemiJoin]]'s: a Bloom filter has no false
    * negatives, so `NOT might_contain(key)` is PROOF of absence — those
    * rows are verdict-final survivors straight off the scan; only the
    * might-contain minority (true members + the fpp sliver) needs the
    * exact anti join to separate real members from false positives.
    * Result ≡ the plain left-anti join always (NOT-EXISTS semantics: a
    * NULL big key never matches, so it SURVIVES — it is routed with the
    * definite-absent branch, which is also where `might_contain(null)`'s
    * NULL verdict would otherwise silently drop it). The survivors union
    * is the 100 TB decontamination/delta-dedup shape: screening a corpus
    * against a bounded blockset (eval n-grams, known-bad URLs, an
    * already-ingested md5 set) touches every corpus row but only
    * blockset-sized state. Same key typing and bitmap-size guard as the
    * semi form; above the guard it runs the plain anti join — identical
    * rows, no driver bitmap.
    *
    * DELIBERATE double-scan (round-15 ADVICE): the survivor branch and
    * the might-contain branch each re-run `big`'s subtree. That is the
    * chosen trade, not an oversight — the repo's shared-subtree
    * [[Lineage.cut]] convention (simhashRepPairs) materializes SMALL
    * frames, but `big` here is the corpus by contract: checkpointing
    * 100 TB to executor disk to save a second columnar scan (with the
    * bloom probe and column pruning pushed to both scans) costs more
    * than it saves at every scale that matters. Callers whose `big` is
    * an expensive derived frame (not a scan) should cut it
    * themselves before calling.
    */
  def bloomAntiJoin(big: DataFrame, bigKey: String, keys: DataFrame,
      keysKey: String, fpp: Double = 0.01): DataFrame = {
    val (k, probe) = bloomProbe(big, bigKey, keys, keysKey, fpp, "bloomAntiJoin")
    val rhs = k.select(col(keysKey).as(s"__baj_$keysKey"))
    def anti(df: DataFrame) =
      df.join(rhs, col(bigKey) === col(s"__baj_$keysKey"), "left_anti")
    probe match {
      case None => anti(big)
      case Some(mc) =>
        // coalesce: might_contain(NULL) is NULL — null-keyed rows are
        // definite non-members under anti-join semantics and must land
        // in the survivor branch, not vanish from both
        big.filter(!coalesce(mc, lit(false)))
          .unionByName(anti(big.filter(coalesce(mc, lit(false)))))
    }
  }

  val qBloomAnti = Q(
    "q_bloom_anti",
    """SELECT l_returnflag, count(*) AS n_rows,
      |       round(sum(l_extendedprice), 2) AS gross
      |FROM lineitem l
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_orderkey = l.l_orderkey
      |                    AND o_orderdate >= TIMESTAMP '1997-07-01')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    bloomAntiJoin(lineitem(s, d), "l_orderkey",
        orders(s, d).filter(col("o_orderdate") >= to_timestamp(lit("1997-07-01"))),
        "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), r2(sum(col("l_extendedprice"))).as("gross"))
      .orderBy(col("l_returnflag"))
  }

  val qBloomSemi = Q(
    "q_bloom_semi",
    """SELECT l_returnflag, count(*) AS n_rows,
      |       round(sum(l_extendedprice), 2) AS gross
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders
      |                     WHERE o_orderdate >= TIMESTAMP '1997-07-01')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    bloomSemiJoin(lineitem(s, d), "l_orderkey",
        orders(s, d).filter(col("o_orderdate") >= to_timestamp(lit("1997-07-01"))),
        "o_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), r2(sum(col("l_extendedprice"))).as("gross"))
      .orderBy(col("l_returnflag"))
  }

  // C6: left anti join — NOT EXISTS.
  val qAntiJoin = Q(
    "q6_anti_join",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  // C7: cross join (cartesian) over tiny inputs.
  val qCrossJoin = Q(
    "q7_cross_join",
    """SELECT a.r_name AS name_a, b.r_name AS name_b
      |FROM region a CROSS JOIN region b
      |ORDER BY name_a, name_b""".stripMargin) { (s, d) =>
    region(s, d).select(col("r_name").as("name_a"))
      .crossJoin(region(s, d).select(col("r_name").as("name_b")))
      .orderBy(col("name_a"), col("name_b"))
  }

  // C8: equi + range (interval) join predicate.
  val qRangeJoin = Q(
    "q8_range_join",
    """SELECT o_orderpriority, count(*) AS n,
      |       round(sum(l_extendedprice), 2) AS rev
      |FROM orders JOIN lineitem
      |  ON o_orderkey = l_orderkey
      | AND l_shipdate >= o_orderdate
      | AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    orders(s, d).join(lineitem(s, d),
      col("o_orderkey") === col("l_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 90 DAYS"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), r2(sum(col("l_extendedprice"))).as("rev"))
      .orderBy(col("o_orderpriority"))
  }

  // C9: as-of join — for each purchase, the latest click at-or-before it
  // for the same user. Spark has no native ASOF; the scalable form is a
  // single sort-once pass: union both sides, one window, last non-null.
  // (The naive correlated-subquery form would be a per-row rescan.)
  val qAsofJoin = Q(
    "q9_asof_join",
    """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us,
      |       (SELECT max(epoch_us(c.ts)) FROM events c
      |        WHERE c.user_id = p.user_id AND c.event_type = 'click'
      |          AND c.ts <= p.ts) AS prior_click_us
      |FROM events p WHERE p.event_type = 'purchase'
      |ORDER BY p.event_id""".stripMargin) { (s, d) =>
    // Event time is compared at microseconds: DuckDB truncates the parquet
    // TIMESTAMP(NANOS) column to µs on read (Tables.tsUs).
    val ev = events(s, d).withColumn("ts_us", tsUs)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), lit(0).as("kind"),
        col("ts_us").as("click_ts"), lit(null).cast("long").as("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), lit(1).as("kind"),
        lit(null).cast("long").as("click_ts"), col("event_id"))
    // clicks sort before purchases at equal ts => inclusive (<=) semantics
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("prior_click_us", last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts_us"), col("prior_click_us"))
      .orderBy(col("event_id"))
  }

  // C11: sort-based aggregation buffer (collect_list) with deterministic
  // output via sort_array.
  val qCollectSorted = Q(
    "q11_collect_sorted",
    """SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin) { (s, d) =>
    // list → csv string: the driver's comparator sorts every output column
    // in pandas, and array cells are unhashable there — graded list outputs
    // must be serialized to a scalar.
    nation(s, d).join(region(s, d), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"))
      .orderBy(col("r_name"))
  }

  // C12: distinct.
  val qDistinct = Q(
    "q12_distinct",
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, d) =>
    customer(s, d).select(col("c_mktsegment"), col("c_nationkey"))
      .distinct()
      .orderBy(col("c_mktsegment"), col("c_nationkey"))
  }

  // C13: approximate distinct (HLL++). No cross-engine oracle — DuckDB's
  // sketch differs; bounds are property-tested in ScalaTest instead.
  val qApproxDistinct = Q.noOracle("q13_approx_distinct") { (s, d) =>
    lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_orderkey")).as("approx_orders"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** C13b: frequency sketching — the Count-Min companion to C13's HLL
    * (cardinality ↔ frequency, the two classic streaming sketches).
    * Builds a CMS over `keyCol` via Spark's `stat.countMinSketch`
    * (distributed treeAggregate; the driver holds only the KB-sized
    * counter matrix — the 100 TB shape: fixed memory per key-universe vs
    * a full groupBy's per-key state), then reports the sketch estimate
    * next to the exact count for the exact top-`k` keys, exposing the
    * one-sided overcount (CMS never undercounts; overcount ≤ ε·N w.p.
    * the confidence). The estimate lookup runs as one `mapPartitions`
    * over the k-row top frame with the serialized sketch broadcast — the
    * sanctioned last-resort: sketch probing has no expression form, and
    * the frame it maps is k rows, not data.
    */
  def cmsHeavyHitters(s: SparkSession, df: DataFrame, keyCol: String,
      k: Int = 20, eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 12): DataFrame = {
    import org.apache.spark.sql.types._
    // Probe with the column's NATIVE type: CountMinSketch hashes strings
    // and integrals through different paths (addString vs addLong), so a
    // blind cast-to-long would probe a different hash than the sketch was
    // built with (string keys → null cast → NPE in the Long encoder).
    // Round-13 guard per ADVICE: integral and string keys supported;
    // anything else fails fast with the supported set named.
    val keyType = df.schema(keyCol).dataType
    val integral = keyType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case StringType => false
      case other => throw new IllegalArgumentException(
        s"cmsHeavyHitters($keyCol): unsupported key type ${other.catalogString}; " +
          "CountMinSketch hashes integral (byte/short/int/long) and string keys only")
    }
    val cms = df.stat.countMinSketch(keyCol, eps, confidence, seed)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      cms.writeTo(bos)
      bos.toByteArray
    }
    val bc = s.sparkContext.broadcast(bytes)
    import s.implicits._
    val top = df.groupBy(col(keyCol)).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col(keyCol))
      .limit(k)
    val probed =
      if (integral)
        top.select(col(keyCol).cast("long"), col("exact_cnt"))
          .as[(Long, Long)]
          .mapPartitions { it =>
            val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
              new java.io.ByteArrayInputStream(bc.value))
            it.map { case (key, cnt) => (key.toString, cnt, sk.estimateCount(key)) }
          }
      else
        top.select(col(keyCol), col("exact_cnt"))
          .as[(String, Long)]
          .mapPartitions { it =>
            val sk = org.apache.spark.util.sketch.CountMinSketch.readFrom(
              new java.io.ByteArrayInputStream(bc.value))
            // estimateCount(Object) on a String routes through the same
            // addString hash the builder used — native-type probe
            it.map { case (key, cnt) => (key, cnt, sk.estimateCount(key)) }
          }
    probed
      .toDF("key_str", "exact_cnt", "cms_est")
      .withColumn(keyCol,
        if (integral) col("key_str").cast("long") else col("key_str"))
      .select(keyCol, "exact_cnt", "cms_est")
      .withColumn("overcount", col("cms_est") - col("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col(keyCol))
  }

  // C13b graded query: heavy hitters over the events stream's user_id.
  // Deterministic (fixed seed, cell-wise-additive merge is partitioning-
  // independent) but hash-based — no DuckDB twin (§7.4.7): rows-only gate
  // + golden + the error-bound spec.
  val qCmsHeavyHitters = Q.noOracle("q_cms_heavy_hitters") { (s, d) =>
    cmsHeavyHitters(s, events(s, d), "user_id")
  }

  // C14: rollup + grouping_id. NULLS FIRST pinned on both engines (Spark
  // default ASC is nulls-first, DuckDB's is nulls-last).
  val qRollup = Q(
    "q14_rollup",
    """SELECT CAST(grouping(r_name)*2 + grouping(n_name) AS BIGINT) AS gid,
      |       r_name, n_name, count(*) AS n_cust
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY gid, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, d) =>
    customer(s, d)
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"), grouping_id().cast("long").as("gid"))
      .select(col("gid"), col("r_name"), col("n_name"), col("n_cust"))
      .orderBy(col("gid"), asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  // C14: cube — all grouping combinations.
  val qCube = Q(
    "q14_cube",
    """SELECT CAST(grouping(c_mktsegment)*2 + grouping(o_orderstatus) AS BIGINT) AS gid,
      |       c_mktsegment, o_orderstatus, count(*) AS n,
      |       round(sum(o_totalprice), 2) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY CUBE(c_mktsegment, o_orderstatus)
      |ORDER BY gid, c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin) { (s, d) =>
    orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .cube(col("c_mktsegment"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("total"),
        grouping_id().cast("long").as("gid"))
      .select(col("gid"), col("c_mktsegment"), col("o_orderstatus"), col("n"), col("total"))
      .orderBy(col("gid"), asc_nulls_first("c_mktsegment"), asc_nulls_first("o_orderstatus"))
  }

  // C14: explicit GROUPING SETS (via SQL — the DSL has rollup/cube only).
  val qGroupingSets = Q(
    "q14_grouping_sets",
    """SELECT c_mktsegment, c_nationkey, count(*) AS n
      |FROM customer
      |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
      |ORDER BY c_mktsegment NULLS FIRST, c_nationkey NULLS FIRST""".stripMargin) { (s, d) =>
    customer(s, d).createOrReplaceTempView("q14c_customer")
    s.sql(
      """SELECT c_mktsegment, c_nationkey, count(*) AS n
        |FROM q14c_customer
        |GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        |ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""".stripMargin)
  }

  // C19: multiset INTERSECT ALL / EXCEPT ALL (duplicate-preserving).
  val qSetOpsAll = Q(
    "q19_setops_all",
    """SELECT k, 'inter' AS src FROM (
      |  SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT ALL
      |  SELECT s_nationkey AS k FROM supplier)
      |UNION ALL
      |SELECT k, 'exc' AS src FROM (
      |  SELECT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT ALL
      |  SELECT s_nationkey AS k FROM supplier)
      |ORDER BY src, k""".stripMargin) { (s, d) =>
    val building = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey").as("k"))
    val suppNations = supplier(s, d).select(col("s_nationkey").as("k"))
    building.intersectAll(suppNations).withColumn("src", lit("inter"))
      .unionByName(building.exceptAll(suppNations).withColumn("src", lit("exc")))
      .orderBy(col("src"), col("k"))
  }

  // Skew-safe two-phase aggregation: the salt spreads hot keys over
  // `salts` partial groups before the final combine — the standard pattern
  // when one key dominates at 100 TB scale (events has only 5 event types,
  // so a plain groupBy puts 20% of the table in one reducer). The result
  // is provably identical to the direct aggregation, which is exactly what
  // the oracle checks.
  val qSaltedAgg = Q(
    "q_skew_salted_agg",
    """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    events(s, d)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("pt"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n"), r2(sum(col("pt"))).as("total"))
      .orderBy(col("event_type"))
  }

  // C10: statistical aggregates — stddev/variance/correlation/covariance.
  // Cross-engine float caution: both engines use numerically-stable
  // one-pass algorithms whose results differ only in trailing ulps on this
  // well-conditioned data; floor-truncation margins verified at sf0.01.
  val qStatsAgg = Q(
    "q10_stats_agg",
    """SELECT l_returnflag,
      |       floor(stddev_samp(l_extendedprice)*100)/100 AS sd_price,
      |       floor(var_samp(l_quantity)*10000)/10000 AS var_qty,
      |       floor(corr(l_extendedprice, l_quantity)*10000)/10000 AS corr_pq,
      |       floor(covar_samp(l_extendedprice, l_discount)*100)/100 AS cov_pd
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(
        trunc2(stddev_samp(col("l_extendedprice"))).as("sd_price"),
        trunc4(var_samp(col("l_quantity"))).as("var_qty"),
        trunc4(corr(col("l_extendedprice"), col("l_quantity"))).as("corr_pq"),
        trunc2(covar_samp(col("l_extendedprice"), col("l_discount"))).as("cov_pd"))
      .orderBy(col("l_returnflag"))
  }

  // C10: custom typed Aggregator (quantity-weighted mean discount). The
  // weighted sums are exact in double on this data (2-decimal × integer,
  // far below 2^53), so the final ratio is bit-identical to the oracle's.
  val qWeightedAvg = Q(
    "q10_weighted_avg",
    """SELECT l_returnflag,
      |       floor(sum(l_discount * l_quantity) / sum(l_quantity) * 1000000)/1000000
      |         AS w_avg_disc,
      |       count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val wavg = udaf(graft.functions.WeightedAvg)
    lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(
        trunc6(wavg(col("l_discount"), col("l_quantity"))).as("w_avg_disc"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }

  // C15: ranking window functions; window order is total (price desc,
  // orderkey) so ranks are deterministic.
  val qWindowRank = Q(
    "q15_window_rank",
    """SELECT * FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |         row_number() OVER w AS rn,
      |         rank()       OVER w AS rnk,
      |         dense_rank() OVER w AS drnk,
      |         ntile(4)     OVER w AS quartile
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey))
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d).select(
      col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
      row_number().over(w).cast("long").as("rn"),
      rank().over(w).cast("long").as("rnk"),
      dense_rank().over(w).cast("long").as("drnk"),
      ntile(4).over(w).cast("long").as("quartile"))
      .filter(col("rn") <= 3)
      .orderBy(col("o_custkey"), col("rn"))
  }

  // C16: analytic window functions — lag/lead/first + running & moving
  // frames over the event stream.
  val qWindowAnalytic = Q(
    "q16_window_analytic",
    """SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
      |       lag(value, 1)  OVER w AS prev_value,
      |       lead(value, 1) OVER w AS next_value,
      |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS run_sum,
      |       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg3,
      |       first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin) { (s, d) =>
    // µs window order matches DuckDB's µs-truncated ts (Tables.tsUs).
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wMov = w.rowsBetween(-2, 0)
    events(s, d).withColumn("ts_us", tsUs).select(
      col("user_id"), col("event_id"), col("ts_us"), col("value"),
      lag(col("value"), 1).over(w).as("prev_value"),
      lead(col("value"), 1).over(w).as("next_value"),
      r4(sum(col("value")).over(wRun)).as("run_sum"),
      r4(avg(col("value")).over(wMov)).as("mov_avg3"),
      first(col("value")).over(wRun).as("first_value"))
      .orderBy(col("user_id"), col("event_id"))
  }

  // C16b: RANGE-frame window — trailing 30-day order stats per customer,
  // the value-based frame ROWS can't express (peers by ORDER-BY value, not
  // position, so ties share one frame and the result is tie-order
  // independent). Frame sums stay exact: prices are lifted to integer
  // cents BEFORE the window sum, so no float accumulation order can
  // diverge across engines.
  val qWindowRange = Q(
    "q16b_window_range",
    """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS od_us,
      |       count(*) OVER w AS n_30d,
      |       CAST(sum(CAST(round(o_totalprice*100, 0) AS BIGINT)) OVER w AS BIGINT) AS sum_30d_cents
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
      |             RANGE BETWEEN INTERVAL 30 DAYS PRECEDING AND CURRENT ROW)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    // range frame needs a numeric order key in Spark: epoch seconds
    // (NTZ → timestamp is exact under the UTC session TZ, and ANSI only
    // permits the numeric cast from TIMESTAMP, not TIMESTAMP_NTZ)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("od_s"))
      .rangeBetween(-30L * 86400, 0)
    orders(s, d)
      .withColumn("od_s", col("o_orderdate").cast("timestamp").cast("long"))
      .select(col("o_custkey"), col("o_orderkey"),
        (col("od_s") * 1000000L).as("od_us"),
        count(lit(1)).over(w).as("n_30d"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).over(w).as("sum_30d_cents"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  // C17: global sort + limit → TakeOrderedAndProject (no full sort at scale).
  val qTopk = Q(
    "q17_topk",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin) { (s, d) =>
    orders(s, d).select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(15)
  }

  // C18: per-group top-k via ranking window.
  val qGroupTopk = Q(
    "q18_group_topk",
    """SELECT c_mktsegment, rn, o_orderkey, o_totalprice FROM (
      |  SELECT c_mktsegment, o_orderkey, o_totalprice,
      |         row_number() OVER (PARTITION BY c_mktsegment
      |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders JOIN customer ON o_custkey = c_custkey)
      |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d).join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("c_mktsegment"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  // C19: set operations — INTERSECT / EXCEPT / UNION ALL composed.
  val qSetOps = Q(
    "q19_setops",
    """SELECT k, 'both' AS src FROM (
      |  SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT
      |  SELECT DISTINCT s_nationkey AS k FROM supplier)
      |UNION ALL
      |SELECT k, 'cust_only' AS src FROM (
      |  SELECT DISTINCT c_nationkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT
      |  SELECT DISTINCT s_nationkey AS k FROM supplier)
      |ORDER BY src, k""".stripMargin) { (s, d) =>
    val building = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .select(col("c_nationkey").as("k")).distinct()
    val suppNations = supplier(s, d).select(col("s_nationkey").as("k")).distinct()
    building.intersect(suppNations).withColumn("src", lit("both"))
      .unionByName(building.except(suppNations).withColumn("src", lit("cust_only")))
      .orderBy(col("src"), col("k"))
  }

  // C20: Bernoulli sampling — seeded but RNG-specific, so no cross-engine
  // oracle; row-count envelope asserted in ScalaTest.
  val qSample = Q.noOracle("q20_sample") { (s, d) =>
    events(s, d).sample(withReplacement = false, fraction = 0.2, seed = 42L)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  // C21: pivot (events wide by type). Spark leaves empty cells null →
  // coalesce to 0 to match the oracle's count(CASE ...).
  val qPivot = Q(
    "q21_pivot",
    """SELECT user_id,
      |       count(CASE WHEN event_type = 'view'     THEN 1 END) AS view,
      |       count(CASE WHEN event_type = 'click'    THEN 1 END) AS click,
      |       count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      |       count(CASE WHEN event_type = 'signup'   THEN 1 END) AS signup,
      |       count(CASE WHEN event_type = 'error'    THEN 1 END) AS error
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val types = Seq("view", "click", "purchase", "signup", "error")
    val p = events(s, d).groupBy(col("user_id"))
      .pivot("event_type", types).count()
    p.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy(col("user_id"))
  }

  // C22: explode/unnest with position.
  val qExplode = Q(
    "q22_explode",
    """SELECT vec_id, pos, embedding[CAST(pos+1 AS INTEGER)] AS val
      |FROM embeddings, range(4) t(pos)
      |ORDER BY vec_id, pos""".stripMargin) { (s, d) =>
    // slice BEFORE the Generate: a predicate below an explode can't be
    // pushed through it, so filtering pos < 4 after posexplode generated
    // 64 rows per vector and discarded 60 — slicing first makes the
    // Generate emit exactly the 4 rows the query keeps (16× fewer rows)
    embeddings(s, d)
      .select(col("vec_id"), posexplode(slice(col("embedding"), 1, 4)).as(Seq("pos", "val")))
      .select(col("vec_id"), col("pos").cast("long").as("pos"), col("val"))
      .orderBy(col("vec_id"), col("pos"))
  }

  // C23: uncorrelated scalar subquery (via SQL so Catalyst's subquery
  // machinery is exercised).
  val qScalarSubquery = Q(
    "q23_scalar_subquery",
    """SELECT o_orderkey, o_totalprice FROM orders
      |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM orders)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    orders(s, d).createOrReplaceTempView("q23_orders")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM q23_orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5 FROM q23_orders)
        |ORDER BY o_orderkey""".stripMargin)
  }

  // C23: correlated scalar subquery → Catalyst decorrelates to a join.
  val qCorrelatedSubquery = Q(
    "q23_correlated_subquery",
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) * 1.2 FROM orders o2
      |                      WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    orders(s, d).createOrReplaceTempView("q23b_orders")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM q23b_orders o
        |WHERE o_totalprice > (SELECT avg(o2.o_totalprice) * 1.2 FROM q23b_orders o2
        |                      WHERE o2.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  // C24: batch gap-based sessionization — the batch analog of the
  // streaming sessionizer (StreamOps.sessionize): a session breaks after
  // a 30-minute silence. Single window pass: flag gap>30min rows, running
  // sum of flags = session index, then one aggregate per session. Two
  // shuffles total (both on user_id — the second reuses the first's
  // partitioning), which is the shape that scales: no self-join, no
  // per-session iteration.
  val qSessionize = Q(
    "q24_sessionize",
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
      |g AS (SELECT user_id, event_id, ts_us,
      |             CASE WHEN lag(ts_us) OVER w IS NULL
      |                    OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
      |s AS (SELECT user_id, event_id, ts_us,
      |             CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      |      FROM g)
      |SELECT user_id, session_idx, count(*) AS n_events,
      |       min(ts_us) AS start_us, max(ts_us) AS end_us,
      |       max(ts_us) - min(ts_us) AS dur_us
      |FROM s GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d).select(col("user_id"), col("event_id"), tsUs.as("ts_us"))
      .withColumn("brk",
        when(lag(col("ts_us"), 1).over(w).isNull
          .or(col("ts_us") - lag(col("ts_us"), 1).over(w) > 1800000000L), 1L)
          .otherwise(0L))
      .withColumn("session_idx", sum(col("brk")).over(run))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("start_us"),
        max(col("ts_us")).as("end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("dur_us"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  // C25: deterministic per-group hash sample — the reproducible
  // stratified-sampling pattern at scale: "random" order is the md5 of
  // the row key, so the same rows are sampled on every run, engine,
  // partitioning, and cluster size (seeded sample() guarantees none of
  // those). Lowercase hex compares identically everywhere.
  val qHashSample = Q(
    "q25_hash_sample",
    """SELECT c_mktsegment, c_custkey, rn FROM (
      |  SELECT c_mktsegment, c_custkey,
      |         row_number() OVER (PARTITION BY c_mktsegment
      |                            ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey) AS rn
      |  FROM customer)
      |WHERE rn <= 3 ORDER BY c_mktsegment, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(md5(col("c_custkey").cast("string")), col("c_custkey"))
    customer(s, d)
      .select(col("c_mktsegment"), col("c_custkey"),
        row_number().over(w).cast("long").as("rn"))
      .filter(col("rn") <= 3)
      .orderBy(col("c_mktsegment"), col("rn"))
  }

  // C26: ordered conversion funnel — per user, the first view, the first
  // click AFTER that view, and the first purchase AFTER that click.
  // Expressed as conditional min-aggregates over one grouped pass plus
  // two self-refinements on user_id; all three shuffles hash on user_id,
  // so at scale they collapse onto one exchange (AQE reuses the
  // partitioning). Classic event-product analytics over the reference's
  // event stream.
  val qFunnel = Q(
    "q26_funnel",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |v AS (SELECT user_id, min(ts_us) AS v_t FROM e WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts_us) AS c_t
      |      FROM e JOIN v ON e.user_id = v.user_id AND e.ts_us > v.v_t
      |      WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts_us) AS p_t
      |      FROM e JOIN c ON e.user_id = c.user_id AND e.ts_us > c.c_t
      |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT v.user_id, v.v_t, c.c_t, p.p_t,
      |       CAST(CASE WHEN p.p_t IS NOT NULL THEN 3
      |                 WHEN c.c_t IS NOT NULL THEN 2 ELSE 1 END AS BIGINT) AS stage
      |FROM v LEFT JOIN c ON v.user_id = c.user_id
      |       LEFT JOIN p ON v.user_id = p.user_id
      |ORDER BY v.user_id""".stripMargin) { (s, d) =>
    val e = events(s, d).select(col("user_id"), col("event_type"), tsUs.as("ts_us"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("v_t"))
    val c = e.filter(col("event_type") === "click")
      .join(v, Seq("user_id"))
      .filter(col("ts_us") > col("v_t"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("c_t"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, Seq("user_id"))
      .filter(col("ts_us") > col("c_t"))
      .groupBy(col("user_id")).agg(min(col("ts_us")).as("p_t"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("v_t"), col("c_t"), col("p_t"),
        when(col("p_t").isNotNull, 3L)
          .when(col("c_t").isNotNull, 2L).otherwise(1L).as("stage"))
      .orderBy(col("user_id"))
  }

  def all: Seq[Q] = Seq(
    qProjection, qPricingSummary, qFilterRevenue, qJoinTopk, qBroadcastAgg,
    qLeftOuter, qFullOuter, qSemiJoin, qBloomSemi, qBloomAnti, qAntiJoin, qCrossJoin, qRangeJoin,
    qAsofJoin, qCollectSorted, qDistinct, qApproxDistinct, qCmsHeavyHitters,
    qRollup, qCube,
    qGroupingSets, qSaltedAgg, qStatsAgg, qWeightedAvg, qWindowRank,
    qWindowAnalytic, qWindowRange, qTopk, qGroupTopk, qSetOps, qSetOpsAll, qSample,
    qPivot, qExplode, qScalarSubquery, qCorrelatedSubquery, qSessionize,
    qHashSample, qFunnel)
}
