package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.WebOps

import Fixtures._
import QueryRow.{face, row}

/** Web curation over a synthesized URL column: canonical URLs, domains, blocklists, robots, crawl politeness, the link graph. */
private[graft] object WebRows {
  val rows: Seq[QueryRow] = Seq(

    // ---- web curation over a synthesized URL column (CCNet/RefinedWeb
    // keying: canonical page identity, per-domain quality, per-domain
    // budget caps) ----
    // URL canonicalization: every fetch variant (case, default port,
    // trailing slash, tracking params, fragment) folds to ONE identity —
    // a narrow map riding the corpus scan
    row("web_canonical_url", (s, dir) => {
      val docs = webSynthDocs(Tables(s, dir).documents)
      docs.select(col("doc_id"), col("url"),
        WebOps.canonicalizeUrl(col("url")).as("canonical_url"),
        WebOps.urlDomain(col("url")).as("domain"))
    },
      // Mirrors WebOps.canonicalizeUrl + urlDomain over the synthesized
      // URLs: same component regexes, same default-port/trailing-slash/
      // tracking-param/fragment rules, params sorted lexicographically
      // (the canonicalization chain is the shared webCanonSql — one SQL
      // definition for this twin and web_url_dedup's).
      s"""WITH $WebSynthCte,
         |${webCanonSql("wdoc")}
         |SELECT doc_id, url, canonical_url, domain FROM canon""".stripMargin,
      face("sql_web_canonical") { (s, dir) =>
        viaSql(s, "graft_sql_webdocs" -> webSynthDocs(Tables(s, dir).documents))(
          "SELECT * FROM graft_web_canonical('graft_sql_webdocs')") }),
    // domain-level curation profile: doc/token/lang counts + mean quality
    // per registered domain (the drop-spam-domains table)
    row("web_domain_stats", (s, dir) =>
      WebOps.domainStats(webSynthDocs(Tables(s, dir).documents)),
      // Mirrors WebOps.domainStats: per registered domain, doc/token/lang
      // counts and the mean quality score summed as FIXED-POINT longs
      // (floor(q*1e9)) — exact and order-independent in both engines, no
      // accumulation-order pinning (and no per-group list) needed.
      s"""WITH $WebSynthCte,
         |wh AS (SELECT *, $WebHostSql AS __host FROM wdoc),
         |f AS (SELECT ${pslDomainSql("__host")} AS domain, doc_id, lang, text,
         |  $Toks AS toks,
         |  CAST(len($Toks) AS BIGINT) AS tok FROM wh),
         |g AS (SELECT domain, doc_id, lang, tok,
         |  CAST(floor((${qualityScoreSql("toks", "text")}) * 1e9) AS BIGINT)
         |    AS qf FROM f)
         |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(qf) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e9
         |    AS avg_quality
         |FROM g GROUP BY 1""".stripMargin,
      face("sql_domain_stats") { (s, dir) =>
        viaSql(s, "graft_sql_webdocs_st" -> webSynthDocs(Tables(s, dir).documents))(
          "SELECT * FROM graft_domain_stats('graft_sql_webdocs_st')") }),
    // URL-identity dedup: refetch variants (tracking params, case,
    // default ports, slashes, fragments — the webVariantDocs synth)
    // collapse on the canonical key; keeper = earliest fetch
    row("web_url_dedup", (s, dir) =>
      WebOps.urlDedup(webVariantDocs(Tables(s, dir).documents)),
      // Mirrors WebOps.urlDedup over the VARIANT synth: refetch variants of
      // one page collapse to one canonical identity; keeper = min doc_id,
      // n_variants = the refetch count.
      s"""WITH $WebVariantCte,
         |${webCanonSql("vdoc")}
         |SELECT canonical_url, CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
         |  CAST(count(*) AS BIGINT) AS n_variants
         |FROM canon GROUP BY 1""".stripMargin),
    // per-domain token-budget cap in id order: no single domain dominates
    // the training mix
    row("sample_domain_budget", (s, dir) =>
      WebOps.domainBudgetCap(webSynthDocs(Tables(s, dir).documents),
        budgetTokens = 60),
      // Mirrors WebOps.domainBudgetCap(60): per-domain running token total
      // in doc_id order, keep while the exclusive prefix is under budget —
      // the tokenBudgetSample rule on the derived domain key.
      s"""WITH $WebSynthCte,
         |wh AS (SELECT *, $WebHostSql AS __host FROM wdoc),
         |t AS (SELECT doc_id, ${pslDomainSql("__host")} AS domain,
         |  CAST(len($Toks) AS BIGINT) AS n_tokens FROM wh),
         |c AS (SELECT doc_id, domain, n_tokens,
         |  CAST(sum(n_tokens) OVER (PARTITION BY domain ORDER BY doc_id ASC
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM t)
         |SELECT doc_id, domain, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens - n_tokens < 60""".stripMargin,
      face("sql_domain_budget") { (s, dir) =>
        viaSql(s, "graft_sql_webdocs_bd" -> webSynthDocs(Tables(s, dir).documents))(
          "SELECT * FROM graft_domain_budget('graft_sql_webdocs_bd', 60)") }),
    // robots/blocklist gate: docs from blocked registered domains or
    // blocked canonical-URL prefixes dropped by broadcast anti-joins —
    // the crawl-curation filter in front of everything else
    row("web_blocklist", (s, dir) =>
      WebOps.blocklistFilter(webSynthDocs(Tables(s, dir).documents),
          webBlocklist(s))
        .select("doc_id", "url", "canonical_url", "domain"),
      // Mirrors WebOps.blocklistFilter over the synth + the deterministic
      // blocklist: survivors = docs whose registered domain matches no
      // domain rule and whose canonical URL starts with no prefix rule.
      s"""WITH $WebSynthCte,
         |$WebBlocklistCte,
         |${webCanonSql("wdoc")}
         |SELECT c.doc_id, c.url, c.canonical_url, c.domain
         |FROM canon c
         |WHERE c.domain NOT IN (SELECT pattern FROM bl WHERE kind = 'domain')
         |  AND NOT EXISTS (SELECT 1 FROM bl b WHERE b.kind = 'prefix'
         |    AND starts_with(c.canonical_url, b.pattern))""".stripMargin,
      // blocklist gate at ingest: the operator is a narrow map plus
      // stream-static broadcast anti-joins, so it runs on a stream as it
      // is (StreamOpsSpec drives it as a real MemoryStream)
      face("stream_blocklist") { (s, dir) =>
        WebOps.blocklistFilter(
            webSynthDocs(Tables(s, dir).documents), webBlocklist(s))
          .select("doc_id", "url", "canonical_url", "domain") },
      face("sql_web_blocklist") { (s, dir) =>
        viaSql(s, "graft_sql_webdocs_bl" -> webSynthDocs(Tables(s, dir).documents),
          "graft_sql_blocklist" -> webBlocklist(s))(
          "SELECT doc_id, url, canonical_url, domain FROM " +
          "graft_web_blocklist('graft_sql_webdocs_bl', 'graft_sql_blocklist')") }),
    // streaming URL-identity dedup in batch mode: the crawl-ingest face —
    // canonical-key state (keeper id + variant count) via
    // flatMapGroupsWithState; batch parity == WebOps.urlDedup exactly
    row("stream_url_dedup", (s, dir) =>
      graft.streaming.StreamOps.urlDedupStream(
        webVariantDocs(Tables(s, dir).documents)).toDF(),
      // batch face of the streaming URL-identity dedup — parity with
      // web_url_dedup by construction (same canonical key, one batch from
      // empty state), so the twin is the batch face's SQL
      s"""WITH $WebVariantCte,
         |${webCanonSql("vdoc")}
         |SELECT canonical_url, CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
         |  CAST(count(*) AS BIGINT) AS n_variants
         |FROM canon GROUP BY 1""".stripMargin),
    // per-domain crawl-rate windows: fetch counts per (registered
    // domain, tumbling hour) + over-limit verdict — the politeness
    // monitor, on batch / streaming / SQL faces over one arithmetic
    row("web_crawl_rate", (s, dir) =>
      WebOps.crawlRate(crawlFetches(Tables(s, dir)),
        windowMs = 3600000L, maxFetches = 2),
      // Mirrors WebOps.crawlRate over the events-derived fetch synth:
      // per (PSL registered domain, epoch-aligned tumbling hour) fetch
      // counts + the over-limit verdict. Shared by all three faces.
      s"""WITH f AS (SELECT event_id, epoch_ns(ts) AS tsn,
         |  'https://WWW.' || event_type || '-' ||
         |  CAST(user_id % 13 AS VARCHAR) || '.co.uk/e/' ||
         |  CAST(event_id AS VARCHAR) AS url FROM events),
         |h AS (SELECT *, $WebHostSql AS __host FROM f),
         |d AS (SELECT ${pslDomainSql("__host")} AS domain,
         |  ((tsn // 1000000) // 3600000) * 3600000 AS window_start FROM h)
         |SELECT domain, CAST(window_start AS BIGINT) AS window_start,
         |  CAST(count(*) AS BIGINT) AS n_fetches,
         |  count(*) > 2 AS over_limit
         |FROM d GROUP BY 1, 2""".stripMargin,
      face("stream_crawl_rate") { (s, dir) =>
        graft.streaming.StreamOps.crawlRateStream(crawlFetches(Tables(s, dir)),
          windowMs = 3600000L, maxFetches = 2, watermark = "1 minute") },
      face("sql_crawl_rate") { (s, dir) =>
        viaSql(s, "graft_sql_fetches" -> crawlFetches(Tables(s, dir)))(
          "SELECT * FROM graft_crawl_rate('graft_sql_fetches', 3600000, 2)") }),
    // outlink extraction: every http(s) mention in page text, exploded
    // with its canonical identity + target registered domain — the
    // crawl-frontier feed; extraction is a narrow map riding the scan
    row("web_outlinks", (s, dir) =>
      WebOps.outlinks(webLinkedDocs(Tables(s, dir).documents)),
      // Mirrors WebOps.outlinks over the link synth: regexp-extracted link
      // mentions, one row per link, with the link's canonical identity
      // (the shared webCanonSql chain over `link AS url`) and both
      // registered domains through the shared PSL SQL.
      s"""WITH $WebSynthCte,
         |${webCanonSql("wdoc", "doc_id, text", "s")},
         |$WebLinkedCte,
         |wh AS (SELECT *, $WebHostSql AS __host FROM ldoc),
         |lk AS (SELECT doc_id, ${pslDomainSql("__host")} AS src_domain,
         |  unnest(regexp_extract_all(text, '(?i)https?://\\S+')) AS link
         |  FROM wh),
         |lsrc AS (SELECT doc_id, src_domain, link, link AS url FROM lk),
         |${webCanonSql("lsrc", "doc_id, src_domain, link")}
         |SELECT doc_id, src_domain, link,
         |  canonical_url AS canonical_link, domain AS dst_domain
         |FROM canon""".stripMargin),
    // domain-level link graph: (src domain → dst domain) edges with link
    // and distinct-page counts — one partial-combined agg on the pair key
    row("web_link_graph", (s, dir) =>
      WebOps.linkGraph(webLinkedDocs(Tables(s, dir).documents)),
      // Mirrors WebOps.linkGraph: the outlink rows aggregated to
      // (src_domain, dst_domain) edges with link + distinct-page counts.
      s"""WITH $WebSynthCte,
         |${webCanonSql("wdoc", "doc_id, text", "s")},
         |$WebLinkedCte,
         |wh AS (SELECT *, $WebHostSql AS __host FROM ldoc),
         |lk AS (SELECT doc_id, ${pslDomainSql("__host")} AS src_domain,
         |  unnest(regexp_extract_all(text, '(?i)https?://\\S+')) AS link
         |  FROM wh),
         |lsrc AS (SELECT doc_id, src_domain, link, link AS url FROM lk),
         |${webCanonSql("lsrc", "doc_id, src_domain, link")}
         |SELECT src_domain, domain AS dst_domain,
         |  CAST(count(*) AS BIGINT) AS n_links,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM canon GROUP BY 1, 2""".stripMargin,
      face("sql_link_graph") { (s, dir) =>
        viaSql(s, "graft_sql_webdocs_lk" -> webLinkedDocs(Tables(s, dir).documents))(
          "SELECT * FROM graft_link_graph('graft_sql_webdocs_lk')") }),
    // robots-rules verdicts (RFC 9309: longest match wins, allow on tie,
    // default allow): every URL annotated with (allowed, matched_prefix)
    // — rules broadcast as per-domain arrays, zero corpus shuffle
    row("web_robots", (s, dir) =>
      WebOps.robotsEval(webSynthDocs(Tables(s, dir).documents),
          robotsRules(s))
        .select("doc_id", "url", "domain", "path", "allowed",
          "matched_prefix"),
      // Mirrors WebOps.robotsEval over the synth + the deterministic rules:
      // per doc, the matching rules of its registered domain ranked by
      // (prefix length DESC, allow DESC) — rank 1 is the REP winner;
      // unmatched docs default to allowed with an empty matched prefix.
      s"""WITH $WebSynthCte,
         |$RobotsRulesCte,
         |wh AS (SELECT *, $WebHostSql AS __host FROM wdoc),
         |d AS (SELECT doc_id, url, ${pslDomainSql("__host")} AS domain,
         |  (CASE WHEN path0 = '' THEN '/' ELSE path0 END) AS path
         |  FROM (SELECT *, regexp_extract(url,
         |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0
         |    FROM wh)),
         |m AS (SELECT d.doc_id, r.directive, r.path_prefix,
         |  row_number() OVER (PARTITION BY d.doc_id
         |    ORDER BY len(r.path_prefix) DESC,
         |      (r.directive = 'allow') DESC) AS rn
         |  FROM d JOIN rr r ON d.domain = r.domain
         |    AND starts_with(d.path, r.path_prefix)),
         |w AS (SELECT doc_id, directive, path_prefix FROM m WHERE rn = 1)
         |SELECT d.doc_id, d.url, d.domain, d.path,
         |  coalesce(w.directive = 'allow', TRUE) AS allowed,
         |  coalesce(w.path_prefix, '') AS matched_prefix
         |FROM d LEFT JOIN w ON d.doc_id = w.doc_id""".stripMargin,
      // the robots verdict is a stateless narrow map over a stream-static
      // broadcast, so the operator runs on a stream as it is
      // (StreamOpsSpec drives it as a real MemoryStream)
      face("stream_robots") { (s, dir) =>
        WebOps.robotsEval(
            webSynthDocs(Tables(s, dir).documents), robotsRules(s))
          .select("doc_id", "url", "domain", "path", "allowed",
            "matched_prefix") },
      face("sql_web_robots") { (s, dir) =>
        viaSql(s, "graft_sql_webdocs_rb" -> webSynthDocs(Tables(s, dir).documents),
          "graft_sql_robots" -> robotsRules(s))(
          "SELECT doc_id, url, domain, path, allowed, matched_prefix " +
          "FROM graft_web_robots('graft_sql_webdocs_rb', 'graft_sql_robots')") }),
    // crawl frontier: outlink mentions whose canonical identity is not a
    // corpus page — one agg on the canonical key + a shuffled anti-join
    // reusing the same partitioning (both sides corpus-scale)
    row("web_frontier", (s, dir) =>
      WebOps.frontier(webLinkedDocs(Tables(s, dir).documents)),
      // Mirrors WebOps.frontier: outlink mentions rolled up on the
      // canonical-link key, minus the links whose canonical identity is
      // already a corpus page (the scanon chain) — the
      // discovered-but-unfetched URL set.
      s"""WITH $WebSynthCte,
         |${webCanonSql("wdoc", "doc_id, text", "s")},
         |$WebLinkedCte,
         |wh AS (SELECT *, $WebHostSql AS __host FROM ldoc),
         |lk AS (SELECT doc_id, ${pslDomainSql("__host")} AS src_domain,
         |  unnest(regexp_extract_all(text, '(?i)https?://\\S+')) AS link
         |  FROM wh),
         |lsrc AS (SELECT doc_id, src_domain, link, link AS url FROM lk),
         |${webCanonSql("lsrc", "doc_id, src_domain, link")},
         |ag AS (SELECT canonical_url AS canonical_link,
         |  domain AS dst_domain,
         |  CAST(count(*) AS BIGINT) AS n_mentions,
         |  CAST(count(DISTINCT src_domain) AS BIGINT) AS n_src_domains,
         |  CAST(min(doc_id) AS BIGINT) AS first_seen_doc
         |  FROM canon GROUP BY 1, 2)
         |SELECT * FROM ag
         |WHERE canonical_link NOT IN (SELECT canonical_url FROM scanon)""".stripMargin,
      face("sql_frontier") { (s, dir) =>
        viaSql(s, "graft_sql_webdocs_fr" -> webLinkedDocs(Tables(s, dir).documents))(
          "SELECT * FROM graft_web_frontier('graft_sql_webdocs_fr')") }),
    // domain-scoped boilerplate: lines repeating across most pages of
    // their own registered domain (nav/footer chrome) — one agg on the
    // (domain, line-key) pair, domain doc counts joined at metadata level
    row("web_boilerplate", (s, dir) =>
      WebOps.domainBoilerplate(webPageDocs(Tables(s, dir).documents)),
      // Mirrors WebOps.domainBoilerplate over the page synth: 12-word line
      // chunks wrapped in per-domain nav/footer chrome, then the
      // (domain, normalized line) distinct-doc counts against the
      // per-domain doc counts under the 0.6-ratio / 2-doc rule.
      s"""WITH $WebSynthCte,
         |wh AS (SELECT *, $WebHostSql AS __host FROM wdoc),
         |pg AS (SELECT doc_id, domain,
         |  'home | about | ' || domain || chr(10) ||
         |  array_to_string(list_transform(
         |    range(0, CAST(ceil(len(w) / 12.0) AS INTEGER)),
         |    i -> array_to_string(w[i * 12 + 1 : i * 12 + 12], ' ')), chr(10))
         |    || chr(10) || 'copyright ' || domain AS text
         |  FROM (SELECT doc_id, ${pslDomainSql("__host")} AS domain,
         |    string_split(text, ' ') AS w FROM wh)),
         |ln0 AS (SELECT doc_id, domain, u.no AS line_no, u.line FROM (
         |  SELECT doc_id, domain, unnest(list_transform(range(1, len(ls) + 1),
         |    i -> struct_pack(no := CAST(i - 1 AS INTEGER), line := ls[i]))) AS u
         |  FROM (SELECT doc_id, domain, string_split(text, chr(10)) AS ls
         |    FROM pg))),
         |ln AS (SELECT doc_id, domain, line_no, line, lower(trim(line)) AS k
         |  FROM ln0 WHERE lower(trim(line)) <> ''),
         |st AS (SELECT domain, k,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM ln GROUP BY 1, 2),
         |dd AS (SELECT domain,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS domain_docs
         |  FROM pg GROUP BY 1)
         |SELECT ln.doc_id, ln.domain, ln.line_no, ln.line,
         |  st.n_docs, dd.domain_docs,
         |  (st.n_docs >= 2 AND CAST(st.n_docs AS DOUBLE) >=
         |    0.6 * CAST(dd.domain_docs AS DOUBLE)) AS is_boilerplate
         |FROM ln JOIN st ON ln.domain = st.domain AND ln.k = st.k
         |  JOIN dd ON ln.domain = dd.domain""".stripMargin,
      face("sql_boilerplate") { (s, dir) =>
        viaSql(s, "graft_sql_webdocs_bp" -> webPageDocs(Tables(s, dir).documents))(
          "SELECT * FROM graft_domain_boilerplate('graft_sql_webdocs_bp', 0.6, 2)") }),
    // politeness scheduler: earliest feasible fetch time per domain under
    // a minimum gap — the sequential-looking recurrence unrolled to two
    // sharded prefix scans (rank + running max), Zipfian-skew-safe
    row("web_fetch_schedule", (s, dir) =>
      WebOps.fetchSchedule(crawlFetches(Tables(s, dir)),
        delayMs = 60000L),
      // Mirrors WebOps.fetchSchedule over the crawl-fetch synth: the
      // politeness recurrence in its closed form — per-domain rank plus a
      // per-domain running max of (arrival − delay·rank) in event_id order.
      s"""WITH f AS (SELECT event_id, epoch_ns(ts) AS tsn,
         |  'https://WWW.' || event_type || '-' ||
         |  CAST(user_id % 13 AS VARCHAR) || '.co.uk/e/' ||
         |  CAST(event_id AS VARCHAR) AS url FROM events),
         |h AS (SELECT *, $WebHostSql AS __host FROM f),
         |d AS (SELECT event_id, ${pslDomainSql("__host")} AS domain,
         |  CAST(tsn // 1000000 AS BIGINT) AS arrival_ms FROM h),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY domain
         |    ORDER BY event_id) - 1 AS BIGINT) AS fetch_rank FROM d),
         |m AS (SELECT *, max(arrival_ms - 60000 * fetch_rank)
         |    OVER (PARTITION BY domain ORDER BY event_id
         |      ROWS UNBOUNDED PRECEDING) AS mx FROM r)
         |SELECT event_id, domain, arrival_ms, fetch_rank,
         |  CAST(60000 * fetch_rank + mx AS BIGINT) AS scheduled_ms,
         |  CAST(60000 * fetch_rank + mx - arrival_ms AS BIGINT) AS wait_ms
         |FROM m""".stripMargin,
      // the politeness recurrence continued across micro-batches: two longs
      // of state per domain (count + running max), slots emitted final
      face("stream_fetch_schedule") { (s, dir) =>
        graft.streaming.StreamOps.fetchScheduleStream(
          crawlFetches(Tables(s, dir)), delayMs = 60000L).toDF() },
      face("sql_fetch_schedule") { (s, dir) =>
        viaSql(s, "graft_sql_fetches_sc" -> crawlFetches(Tables(s, dir)))(
          "SELECT * FROM graft_fetch_schedule('graft_sql_fetches_sc', 60000)") })
  )
}
