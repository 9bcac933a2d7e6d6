package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Tables._

/** F60 (round 20, VERDICT r19 item 2): the URL/domain curation family —
  * the FIRST gate of the published pipelines (C4 keeps pages by URL
  * rules before reading a byte of text; RefinedWeb/FineWeb run URL
  * filtering — blocklists + canonicalization — ahead of extraction;
  * CCNet dedups by URL). Three operators, all pure per-row built-in
  * expressions (whole-stage codegen, zero shuffle) plus the C6c bloom
  * anti join for the list gate:
  *
  *   - [[withCanon]]: URL canonicalization + host + registered-domain
  *     extraction as appended columns;
  *   - [[domainGate]]: blocklist/allowlist gating on the registered
  *     domain (bloom-pruned exact anti/semi join — the F13/F28 screen
  *     shape);
  *   - [[domainCounts]]: per-registered-domain doc/host counts — the
  *     FineWeb-style corpus audit.
  *
  * PINNED CANONICALIZATION MODEL (every step byte-exactly recomputable
  * by the DuckDB oracle; regexes in the RE2∩Java subset, no `\s`, no
  * lookaround; inputs are URL-shaped strings — no control characters):
  *
  *   1. The FRAGMENT is dropped: everything from the first '#'.
  *   2. `scheme` = lowercase of the text before '://'.
  *   3. The AUTHORITY is the run after '://' up to the first '/' or
  *      '?'; `host` = its lowercase pre-':' part; an explicit PORT is
  *      kept unless it is the scheme default (http:80 / https:443).
  *   4. The PATH is the rest up to '?'; an empty path canonicalizes to
  *      '/'. Path case and percent-encoding are preserved untouched
  *      (lowercasing or decoding a path changes the resource on real
  *      servers — only scheme and host are case-insensitive by RFC
  *      3986).
  *   5. QUERY params split on '&'; empty params drop; params whose KEY
  *      (the pre-'=' run, matched case-sensitively — tracking params
  *      are lowercase in the wild) starts with 'utm_' or is one of
  *      {gclid, fbclid, msclkid} drop; survivors sort BYTE-ORDER as
  *      whole 'k=v' strings (deterministic, duplicate-key-stable) and
  *      rejoin with '&'. An emptied query drops its '?'.
  *   6. `canon_url` = scheme '://' host [':'port] path ['?' query].
  *
  * REGISTERED DOMAIN (pinned offline heuristic — no live PSL in a
  * hermetic engine; the multi-part suffix set is a pinned constant the
  * deployment extends): the last TWO host labels, or the last THREE
  * when the last two form a pinned multi-part suffix
  * ([[Urls.MultiPartSuffixes]]: co.uk, com.au, co.jp, org.uk, ac.uk,
  * com.br). Single-label hosts are their own domain.
  *
  * Scale shape: canonicalization is a per-row projection over a handful
  * of regexp/split/sort-of-≤10-element-array expressions — scan-speed
  * at any corpus size, the F50 line-battery shape. The only shuffle in
  * the family is the list gate's bloom-pruned anti join (KB-sized
  * blocklist side) and the audit's partial-agg count.
  */
object Urls {

  /** Multi-part public suffixes the registered-domain heuristic knows —
    * a pinned constant (extend in deployment; a full PSL is a data
    * file, not an algorithm change). */
  val MultiPartSuffixes: Seq[String] =
    Seq("ac.uk", "co.jp", "co.uk", "com.au", "com.br", "org.uk")

  /** Tracking-param keys stripped by step 5 (exact matches; 'utm_' is a
    * prefix rule). */
  val TrackingKeys: Seq[String] = Seq("fbclid", "gclid", "msclkid")

  /** The canonical URL (steps 1-6) for a URL column. */
  def canonUrlCol(url: Column): Column = {
    val nofrag = regexp_extract(url, "^[^#]*", 0)
    val scheme = lower(regexp_extract(nofrag, "^([^:]+)://", 1))
    val rest = regexp_replace(nofrag, "^[^:]+://", "")
    val auth = regexp_extract(rest, "^[^/?]*", 0)
    val pathq = regexp_replace(rest, "^[^/?]*", "")
    val host = lower(regexp_extract(auth, "^[^:]*", 0))
    val port = regexp_extract(auth, ":([0-9]+)$", 1)
    val portC = when(port === "", lit(""))
      .when(scheme === "http" && port === "80", lit(""))
      .when(scheme === "https" && port === "443", lit(""))
      .otherwise(concat(lit(":"), port))
    val path0 = regexp_extract(pathq, "^[^?]*", 0)
    val pathC = when(path0 === "", lit("/")).otherwise(path0)
    val qstr = regexp_extract(pathq, "[?](.*)", 1)
    val keep = filter(split(qstr, "&"), p => {
      val key = regexp_extract(p, "^[^=]*", 0)
      p =!= "" && !startswith(key, lit("utm_")) &&
        !key.isin(TrackingKeys: _*)
    })
    val qC = array_join(array_sort(keep), "&")
    concat(scheme, lit("://"), host, portC, pathC,
      when(qC === "", lit("")).otherwise(concat(lit("?"), qC)))
  }

  /** Lowercased host of a URL column (step 3). Since optimization round
    * 21 this is the one-pass `url_host` byte-walk kernel — byte-equal to
    * the retired 4-regex chain (UrlsSpec pins the equality on every
    * manufactured shape plus the adversarial corners; the DuckDB oracle
    * still computes the regex chain independently). The chain was the
    * round-20 q_f60b residual: Catalyst inlines a derived column's
    * defining expression at every reference site inside a Filter, where
    * codegen does no common-subexpression elimination — the gate
    * evaluated the chain (and the whole manufactured-URL tree under it)
    * ~6× per row. The caller needs a registered function registry, which
    * every graft entry point guarantees via VectorFunctions. */
  def hostCol(url: Column): Column = call_function("url_host", url)

  /** Registered domain of a HOST column (pinned suffix heuristic) — the
    * one-pass `reg_domain` kernel against the driver-held suffix table
    * (round 21; label-for-label equal to the retired split/slice/
    * concat_ws/isin formulation, empty labels included). */
  def registeredDomainCol(host: Column): Column =
    call_function("reg_domain", host, typedLit(MultiPartSuffixes))

  /** Append `canon_url`, `host`, `registered_domain` for `urlCol`.
    * NULL urls produce NULL columns (gates drop them — an un-URLed row
    * cannot be proven allowed). Fails loudly if the frame ALREADY has
    * any of the three output columns — `withColumn` would silently
    * replace a caller's provenance column with the derived one, and
    * clobbering user data is never the right silent default (the
    * gates below compute their domains under internal names instead). */
  def withCanon(df: DataFrame, urlCol: String = "url"): DataFrame = {
    graft.functions.VectorFunctions.registered(df) // url_host/reg_domain kernels
    val clash = Seq("canon_url", "host", "registered_domain")
      .filter(df.columns.contains)
    require(clash.isEmpty,
      s"withCanon would overwrite existing column(s) ${clash.mkString(", ")} — " +
        "rename them first, or derive the canon columns yourself via " +
        "canonUrlCol/hostCol/registeredDomainCol under different names")
    val u = col(urlCol)
    df.withColumn("canon_url", canonUrlCol(u))
      .withColumn("host", hostCol(u))
      .withColumn("registered_domain", registeredDomainCol(hostCol(u)))
  }

  /** Blocklist/allowlist gate on the registered domain: keep rows whose
    * domain is NOT blocked and (when an allowlist is given) IS allowed.
    * Both lists ride the C6c bloom-pruned EXACT joins — at 100 TB the
    * bloom side proves the typical majority straight off the scan and
    * only the might-contain minority enters the shuffle. NULL urls drop
    * (the CalibratedKeep conservative direction). */
  def domainGate(docs: DataFrame, blocked: Seq[String],
      allowed: Option[Seq[String]] = None,
      urlCol: String = "url"): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    graft.functions.VectorFunctions.register(s) // url_host/reg_domain kernels
    // The domain lives under a reserved internal name for the joins and
    // is dropped at the end — the caller's columns (including any
    // `host`/`registered_domain` provenance of their own) pass through
    // untouched.
    val withDom = docs.filter(col(urlCol).isNotNull)
      .withColumn("__gate_dom", registeredDomainCol(hostCol(col(urlCol))))
    // Small-list fast path (optimization round 20, guide §2.4/§3): a
    // list that fits in the plan is an `isin` FILTER — identical rows
    // (anti ≡ NOT isin with NULL-survives, semi ≡ isin with NULL-drops;
    // the gate's domain is never NULL here, but the coalesces pin the
    // join semantics for any caller), zero shuffle, zero extra jobs,
    // pushed into the scan. The bloom joins previously ran even for a
    // 2-entry blocklist, and bloomAntiJoin's two branches each re-ran
    // the (expensive, derived) gated frame's subtree — measured 1.99 s
    // → ~0.45 s on q_f60b at sf0.1. Production-sized lists (> the
    // literal threshold) keep the C6c bloom-join shape, which is the
    // right plan when the list no longer belongs in the plan tree.
    val afterBlock =
      if (blocked.isEmpty) withDom
      else if (blocked.size <= DriverPull.budget(MaxLiteralGateList))
        withDom.filter(!coalesce(
          col("__gate_dom").isin(blocked: _*), lit(false)))
      else Relational.bloomAntiJoin(withDom, "__gate_dom",
        blocked.toDF("__blocked_dom"), "__blocked_dom")
    val afterAllow = allowed.fold(afterBlock)(a =>
      if (a.size <= DriverPull.budget(MaxLiteralGateList))
        afterBlock.filter(coalesce(
          col("__gate_dom").isin(a: _*), lit(false)))
      else Relational.bloomSemiJoin(afterBlock, "__gate_dom",
        a.toDF("__allowed_dom"), "__allowed_dom"))
    afterAllow.drop("__gate_dom")
  }

  /** Gate lists at or under this size ride an in-plan `isin` literal;
    * larger lists take the bloom-pruned exact joins. ~1k strings keeps
    * the expression tree small (the kmeans_best_q literal boundary) while
    * covering every hand-maintained blocklist. */
  val MaxLiteralGateList: Int = 1024

  /** Per-registered-domain corpus audit: doc and distinct-host counts —
    * one partial-agg shuffle over domain-width rows. Derives its own
    * host/domain columns internally (never reads or replaces same-named
    * caller columns). */
  def domainCounts(docs: DataFrame, urlCol: String = "url"): DataFrame = {
    graft.functions.VectorFunctions.registered(docs) // url_host/reg_domain kernels
    docs.filter(col(urlCol).isNotNull)
      .select(hostCol(col(urlCol)).as("__dc_host"))
      .select(col("__dc_host"),
        registeredDomainCol(col("__dc_host")).as("registered_domain"))
      .groupBy(col("registered_domain"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("__dc_host")).as("n_hosts"))
  }

  // ---- graded queries -----------------------------------------------------

  /** The manufactured URL frame both graded queries canonicalize: the
    * corpus carries no URLs (the F50/F58 situation), so deterministic
    * ones are manufactured IN-QUERY from md5 draws over the doc_id —
    * mixed-case hosts on single- and multi-part suffixes, default and
    * explicit ports, empty/rooted/deep paths, tracking params (the
    * utm_ prefix family plus gclid/fbclid), duplicate and valueless
    * query keys, and fragments — so the oracle regrades every
    * canonicalization step byte-for-byte.
    */
  private[graft] def syntheticUrls(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val h = md5(concat(lit("url:"), col("doc_id").cast("string")))
    def draw(pos: Int, m: Int): Column =
      conv(substring(h, pos, 2), 16, 10).cast("int") % m
    val scheme = when(draw(1, 2) === 0, lit("http")).otherwise(lit("https"))
    val host = element_at(typedLit(Seq(
      "www.Example.COM", "news.example.com", "blog.sub.example.co.uk",
      "CDN.example.org", "shop.example.com.au", "example.net",
      "Data.Example.co.uk", "api.example.com")), draw(3, 8) + 1)
    val port = element_at(typedLit(Seq(":80", ":443", ":8080", "")),
      draw(5, 4) + 1)
    val path = when(draw(7, 4) === 0, lit(""))
      .when(draw(7, 4) === 1, lit("/"))
      .when(draw(7, 4) === 2, concat(lit("/p/"), substring(h, 9, 4)))
      .otherwise(lit("/A/b%20c"))
    val query = when(draw(13, 8) === 0, lit(""))
      .when(draw(13, 8) === 1, lit("?utm_source=x&b=2&a=1"))
      .when(draw(13, 8) === 2,
        concat(lit("?b=2&utm_campaign=yy&a=1&gclid="), substring(h, 17, 4)))
      .when(draw(13, 8) === 3, lit("?z=9&y=8"))
      .when(draw(13, 8) === 4, lit("?utm_medium=m"))
      .when(draw(13, 8) === 5, lit("?a=1&a=0&fbclid=f"))
      .when(draw(13, 8) === 6, concat(lit("?only="), substring(h, 13, 2)))
      .otherwise(lit("?b=&a"))
    val frag = when(draw(15, 4) === 0, lit(""))
      .when(draw(15, 4) === 1, concat(lit("#sec-"), substring(h, 15, 2)))
      .when(draw(15, 4) === 2, lit("#"))
      .otherwise(lit("#x"))
    documents(s, d).select(col("doc_id"),
      concat(scheme, lit("://"), host, port, path, query, frag).as("url"))
  }

  /** The manufacture + canonicalization as shared DuckDB CTEs ending in
    * `cn` — the (doc_id, url, canon_url, host, registered_domain)
    * relation the graded queries read. */
  private val urlOracleCtes =
    """hh AS (SELECT doc_id, md5('url:' || CAST(doc_id AS VARCHAR)) AS h
      |       FROM documents),
      |mf AS (SELECT doc_id,
      |         (CASE WHEN ('0x' || substr(h,1,2))::INT % 2 = 0
      |               THEN 'http' ELSE 'https' END) ||
      |         '://' ||
      |         (['www.Example.COM','news.example.com',
      |           'blog.sub.example.co.uk','CDN.example.org',
      |           'shop.example.com.au','example.net',
      |           'Data.Example.co.uk','api.example.com'])[
      |             (('0x' || substr(h,3,2))::INT % 8) + 1] ||
      |         ([':80',':443',':8080',''])[
      |             (('0x' || substr(h,5,2))::INT % 4) + 1] ||
      |         (CASE ('0x' || substr(h,7,2))::INT % 4
      |            WHEN 0 THEN '' WHEN 1 THEN '/'
      |            WHEN 2 THEN '/p/' || substr(h,9,4)
      |            ELSE '/A/b%20c' END) ||
      |         (CASE ('0x' || substr(h,13,2))::INT % 8
      |            WHEN 0 THEN ''
      |            WHEN 1 THEN '?utm_source=x&b=2&a=1'
      |            WHEN 2 THEN '?b=2&utm_campaign=yy&a=1&gclid=' || substr(h,17,4)
      |            WHEN 3 THEN '?z=9&y=8'
      |            WHEN 4 THEN '?utm_medium=m'
      |            WHEN 5 THEN '?a=1&a=0&fbclid=f'
      |            WHEN 6 THEN '?only=' || substr(h,13,2)
      |            ELSE '?b=&a' END) ||
      |         (CASE ('0x' || substr(h,15,2))::INT % 4
      |            WHEN 0 THEN '' WHEN 1 THEN '#sec-' || substr(h,15,2)
      |            WHEN 2 THEN '#' ELSE '#x' END) AS url
      |       FROM hh),
      |p1 AS (SELECT doc_id, url, regexp_extract(url, '^[^#]*') AS nofrag
      |       FROM mf),
      |p2 AS (SELECT doc_id, url,
      |         lower(regexp_extract(nofrag, '^([^:]+)://', 1)) AS scheme,
      |         regexp_replace(nofrag, '^[^:]+://', '') AS rest
      |       FROM p1),
      |p3 AS (SELECT doc_id, url, scheme,
      |         regexp_extract(rest, '^[^/?]*') AS auth,
      |         regexp_replace(rest, '^[^/?]*', '') AS pathq
      |       FROM p2),
      |p4 AS (SELECT doc_id, url, scheme, pathq,
      |         lower(regexp_extract(auth, '^[^:]*')) AS host,
      |         regexp_extract(auth, ':([0-9]+)$', 1) AS port
      |       FROM p3),
      |p5 AS (SELECT doc_id, url, scheme, host,
      |         CASE WHEN port = '' THEN ''
      |              WHEN scheme = 'http' AND port = '80' THEN ''
      |              WHEN scheme = 'https' AND port = '443' THEN ''
      |              ELSE ':' || port END AS portc,
      |         CASE WHEN regexp_extract(pathq, '^[^?]*') = '' THEN '/'
      |              ELSE regexp_extract(pathq, '^[^?]*') END AS pathc,
      |         coalesce(array_to_string(list_sort(list_filter(
      |           string_split(regexp_extract(pathq, '[?](.*)', 1), '&'),
      |           p -> p <> ''
      |                AND NOT starts_with(regexp_extract(p, '^[^=]*'), 'utm_')
      |                AND regexp_extract(p, '^[^=]*')
      |                    NOT IN ('fbclid','gclid','msclkid'))), '&'), '') AS qc
      |       FROM p4),
      |cn AS (SELECT doc_id, url,
      |         scheme || '://' || host || portc || pathc ||
      |           (CASE WHEN qc = '' THEN '' ELSE '?' || qc END) AS canon_url,
      |         host,
      |         CASE WHEN len(string_split(host, '.')) >= 3
      |                AND array_to_string(string_split(host, '.')[
      |                      len(string_split(host, '.'))-1:
      |                      len(string_split(host, '.'))], '.')
      |                    IN ('ac.uk','co.jp','co.uk','com.au','com.br','org.uk')
      |              THEN array_to_string(string_split(host, '.')[
      |                     len(string_split(host, '.'))-2:
      |                     len(string_split(host, '.'))], '.')
      |              WHEN len(string_split(host, '.')) >= 2
      |              THEN array_to_string(string_split(host, '.')[
      |                     len(string_split(host, '.'))-1:
      |                     len(string_split(host, '.'))], '.')
      |              ELSE host END AS registered_domain
      |       FROM p5)""".stripMargin

  /** Graded F60 query: every canonicalization step, row by row. */
  val qUrlCanon = Q(
    "q_f60_url_canon",
    s"""WITH $urlOracleCtes
      |SELECT doc_id, url, canon_url, host, registered_domain
      |FROM cn ORDER BY doc_id""".stripMargin) { (s, d) =>
    withCanon(syntheticUrls(s, d))
      .select(col("doc_id"), col("url"), col("canon_url"), col("host"),
        col("registered_domain"))
      .orderBy(col("doc_id"))
  }

  /** The pinned blocklist both the graded gate query and its oracle use
    * (two of the eight manufactured registered domains — one multi-part
    * suffix, one com.au). */
  private[graft] val GradedBlocklist = Seq("example.co.uk", "example.com.au")

  /** Graded F60b query: the registered-domain blocklist gate — the
    * bloom-pruned exact anti join must keep exactly the non-blocked
    * rows. */
  val qDomainGate = Q(
    "q_f60b_domain_gate",
    s"""WITH $urlOracleCtes
      |SELECT doc_id, url FROM cn
      |WHERE registered_domain NOT IN ('example.co.uk', 'example.com.au')
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    domainGate(syntheticUrls(s, d), GradedBlocklist)
      .select(col("doc_id"), col("url"))
      .orderBy(col("doc_id"))
  }

  /** Graded F60c query: the per-domain corpus audit. */
  val qDomainCounts = Q(
    "q_f60c_domain_counts",
    s"""WITH $urlOracleCtes
      |SELECT registered_domain, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts
      |FROM cn GROUP BY registered_domain
      |ORDER BY registered_domain""".stripMargin) { (s, d) =>
    domainCounts(syntheticUrls(s, d))
      .orderBy(col("registered_domain"))
  }

  def all: Seq[Q] = Seq(qUrlCanon, qDomainGate, qDomainCounts)
}
