package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Sampling, Sketches, TextOps}

import Fixtures._
import QueryRow.{face, row}

/** Approximate sketches (KMV, HLL, count-min, quantiles) and the file-layout planners. */
private[graft] object SketchRows {
  val rows: Seq[QueryRow] = Seq(
    // exact cross-source trigram overlap matrix (ground truth for the
    // sketch_hll_overlap estimates)
    row("source_overlap", (s, dir) =>
      TextOps.sliceOverlap(Tables(s, dir).documents, "source"),
      // Mirrors TextOps.sliceOverlap(documents, source): distinct char
      // trigrams of the normalized token stream per source, pairwise
      // intersection via the gram join, union by inclusion–exclusion
      s"""WITH nm AS (SELECT source AS slice, array_to_string($Toks, ' ') AS norm
         |  FROM documents),
         |g AS (SELECT DISTINCT slice, gram FROM (
         |  SELECT slice, unnest(list_transform(range(1, length(norm) - 1),
         |    i -> norm[i:i+2])) AS gram
         |  FROM nm WHERE length(norm) >= 3)),
         |sz AS (SELECT slice, CAST(count(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
         |i AS (SELECT a.slice AS slice_a, b.slice AS slice_b,
         |  CAST(count(*) AS BIGINT) AS inter_grams
         |  FROM g a JOIN g b ON a.gram = b.gram AND a.slice < b.slice
         |  GROUP BY 1, 2)
         |SELECT slice_a, slice_b, na.n_grams AS n_a, nb.n_grams AS n_b,
         |  inter_grams,
         |  CAST(na.n_grams + nb.n_grams - inter_grams AS BIGINT) AS union_grams,
         |  round(CAST(inter_grams AS DOUBLE)
         |    / (na.n_grams + nb.n_grams - inter_grams), 6) AS jaccard
         |FROM i JOIN sz na ON i.slice_a = na.slice
         |  JOIN sz nb ON i.slice_b = nb.slice""".stripMargin),

    // ---- KMV distinct-count sketch: deterministic approximate distinct
    // users per event type (bounded-shuffle alternative to exact distinct) ----
    row("sketch_kmv", (s, dir) =>
      Sketches.kmvDistinct(Tables(s, dir).events, k = 64,
        Seq("event_type"), "user_id"),
      // Mirrors Sketches.kmvDistinct(events, k=64, event_type, user_id):
      // same two-stage mixer (PolyHash -> Carter-Wegman affine with the
      // "kmv" salt constants baked in at build time -> PolyHash of the
      // zero-padded 10-digit decimal) over the value's string form, k
      // smallest distinct hashes per group, (k-1)·M/h_k estimator, exact
      // below k.
      s"""WITH ax AS (SELECT DISTINCT event_type,
         |  (${phSql("CAST(user_id AS VARCHAR)", "0")}
         |   * ${graft.pipeline.Sampling.saltMult("kmv")}
         |   + ${graft.pipeline.Sampling.saltAdd("kmv")}) % 1000000007 AS m FROM events),
         |hx AS (SELECT DISTINCT event_type,
         |  ${phSql("lpad(CAST(m AS VARCHAR), 10, '0')", "0")} AS h FROM ax),
         |rk AS (SELECT event_type, h,
         |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM hx),
         |kp AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(max(h) AS BIGINT) AS kth_min FROM rk WHERE rn <= 64 GROUP BY event_type)
         |SELECT event_type, n_kept, kth_min,
         |  CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
         |       ELSE 63.0 * 1000000007 / greatest(kth_min, 1) END AS est_distinct
         |FROM kp""".stripMargin,
      // the streaming sketches in batch mode equal the batch sketches exactly
      face("stream_kmv") { (s, dir) =>
        graft.streaming.StreamOps.kmvStream(
          Tables(s, dir).events, k = 64, "event_type", "user_id")
          .toDF().withColumnRenamed("grp", "event_type") }),
    // pairwise corpus-overlap estimates between language slices over their
    // distinct 3-gram shingle sets, from the mergeable KMV sketches alone
    row("sketch_kmv_jaccard", (s, dir) =>
      Sketches.kmvPairJaccard(
        Tables(s, dir).documents.select(col("lang"),
          explode(TextOps.textShingles(col("text"), 3)).as("sh")),
        k = 128, "lang", "sh"),
      // Mirrors Sketches.kmvPairJaccard(documents 3-gram shingles by lang,
      // k=128): same mixer, per-lang k-min sketch lists, union-of-sketches
      // k-set, common-membership Jaccard, intersection = jaccard * union.
      s"""WITH tws AS (SELECT lang, unnest(CASE WHEN len(tk) >= 3
         |    THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
         |    ELSE [] END) AS sh
         |  FROM (SELECT lang, $Toks AS tk FROM documents)),
         |ax AS (SELECT DISTINCT lang,
         |  (${phSql("sh", "0")}
         |   * ${graft.pipeline.Sampling.saltMult("kmv")}
         |   + ${graft.pipeline.Sampling.saltAdd("kmv")}) % 1000000007 AS m FROM tws),
         |hx AS (SELECT DISTINCT lang,
         |  ${phSql("lpad(CAST(m AS VARCHAR), 10, '0')", "0")} AS h FROM ax),
         |rk AS (SELECT lang, h,
         |  row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM hx),
         |kp AS (SELECT lang, list(h ORDER BY h) AS hs FROM rk WHERE rn <= 128
         |  GROUP BY lang),
         |pr AS (SELECT a.lang AS grp_a, b.lang AS grp_b, a.hs AS ha, b.hs AS hb
         |  FROM kp a JOIN kp b ON a.lang < b.lang),
         |uu AS (SELECT grp_a, grp_b, ha, hb,
         |  list_sort(list_distinct(ha || hb))[1:128] AS u FROM pr),
         |st AS (SELECT grp_a, grp_b,
         |  CAST(len(u) AS BIGINT) AS n_union_kept,
         |  CAST(len(list_filter(u, x -> list_contains(ha, x) AND list_contains(hb, x))) AS BIGINT) AS n_common,
         |  u[len(u)] AS hk FROM uu),
         |es AS (SELECT grp_a, grp_b, n_union_kept, n_common,
         |  CASE WHEN n_union_kept < 128 THEN CAST(n_union_kept AS DOUBLE)
         |       ELSE 127.0 * 1000000007 / greatest(hk, 1) END AS union_est,
         |  CAST(n_common AS DOUBLE) / n_union_kept AS jaccard_est FROM st)
         |SELECT grp_a, grp_b, n_union_kept, n_common, union_est, jaccard_est,
         |  jaccard_est * union_est AS inter_est
         |FROM es""".stripMargin),
    // HyperLogLog distinct users per event type: constant 2^10 registers
    // per group, duplicate-insensitive, register-max mergeable
    row("sketch_hll", (s, dir) =>
      Sketches.hllDistinct(Tables(s, dir).events, p = 10,
        Seq("event_type"), "user_id"),
      // Mirrors Sketches.hllDistinct(events, p=10, event_type, user_id): the
      // same kmvHash mixer, register index = low p bits, the exact integer
      // bitlen CASE chain (no float log2), register-wise max, and the
      // identical alpha/linear-counting estimate formula term-for-term (the
      // 2^-rho register sum is exact in doubles, so the aggregation order
      // cannot matter).
      {
        val p = 10
        val m = 1 << p
        val bigW = 30 - p
        val alpha = 0.7213 / (1.0 + 1.079 / m)
        val bitLenSql = (bigW to 1 by -1)
          .map(b => s"WHEN w >= ${1L << (b - 1)} THEN $b").mkString(" ")
        // CAST: DuckDB types a bare decimal literal as DECIMAL, whose
        // fixed-point multiplication overflows (and would round differently
        // from Spark's double math anyway)
        val est = s"CAST($alpha AS DOUBLE) * $m * $m / (zs + ($m - n_registers_hit))"
        s"""WITH ax AS (SELECT DISTINCT event_type,
         |  (${phSql("CAST(user_id AS VARCHAR)", "0")}
         |   * ${graft.pipeline.Sampling.saltMult("kmv")}
         |   + ${graft.pipeline.Sampling.saltAdd("kmv")}) % 1000000007 AS m FROM events),
         |hx AS (SELECT DISTINCT event_type,
         |  ${phSql("lpad(CAST(m AS VARCHAR), 10, '0')", "0")} AS h FROM ax),
         |rr AS (SELECT event_type, h & ${m - 1} AS idx, w,
         |  ${bigW + 1} - (CASE $bitLenSql ELSE 0 END) AS rho
         |  FROM (SELECT event_type, h, h >> $p AS w FROM hx)),
         |rg AS (SELECT event_type, idx, max(rho) AS r FROM rr GROUP BY 1, 2),
         |sk AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_registers_hit,
         |  sum(power(2.0, -r)) AS zs FROM rg GROUP BY 1)
         |SELECT event_type, n_registers_hit,
         |  CASE WHEN $est <= ${2.5 * m} AND ($m - n_registers_hit) > 0
         |    THEN $m * ln(CAST($m AS DOUBLE) / ($m - n_registers_hit))
         |    ELSE $est END AS est_distinct
         |FROM sk""".stripMargin
      },
      face("stream_hll") { (s, dir) =>
        graft.streaming.StreamOps.hllStream(
          Tables(s, dir).events, p = 10, "event_type", "user_id")
          .toDF().withColumnRenamed("grp", "event_type") },
      face("sql_hll") { (s, dir) =>
        viaSql(s, "graft_sql_events" -> Tables(s, dir).events)(
          "SELECT * FROM graft_hll_distinct('graft_sql_events', 10, " +
          "'event_type', 'user_id')") }),
    // count-min heavy hitters over the token stream: 3x1024 counters
    // regardless of vocabulary; est >= true visible in the output
    row("sketch_cms", (s, dir) =>
      Sketches.cmsTopK(Tables(s, dir).documents
        .select(explode(TextOps.tokens(col("text"))).as("term")),
        "term", k = 20),
      // Mirrors Sketches.cmsTopK(document tokens, k=20, d=3, w=1024): same
      // seeded PolyHash buckets (201+j), same (count desc, term asc) top-20
      // cut, est = min over the 3 rows' bucket counts.
      s"""WITH tk AS (SELECT unnest($Toks) AS term FROM documents),
         |cms AS (SELECT j, (${phSql("term", "201 + j")}) % 1024 AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt
         |  FROM tk CROSS JOIN range(0, 3) t(j) GROUP BY 1, 2),
         |top AS (SELECT term AS value, CAST(count(*) AS BIGINT) AS true_count
         |  FROM tk GROUP BY 1 ORDER BY true_count DESC, value ASC LIMIT 20),
         |pr AS (SELECT value, true_count, j,
         |  (${phSql("value", "201 + j")}) % 1024 AS bucket
         |  FROM top CROSS JOIN range(0, 3) t(j))
         |SELECT value, true_count, min(cnt) AS est_count
         |FROM pr JOIN cms USING (j, bucket) GROUP BY 1, 2""".stripMargin,
      face("sql_cms") { (s, dir) =>
        viaSql(s, "graft_sql_terms" -> Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("term")))(
          "SELECT * FROM graft_cms_topk('graft_sql_terms', 'term', 20)") }),
    // mergeable bottom-64 row-sample quantiles of event value per type:
    // the rank-query face of the sketch family (k rows per group bound
    // the synopsis regardless of group size)
    row("sketch_quantile", (s, dir) =>
      Sketches.quantileSketch(Tables(s, dir).events, k = 64,
        Seq("event_type"), "event_id", "value"),
      // Mirrors Sketches.quantileSketch(events, k=64, event_type, event_id,
      // value): the kmvHash mixer over the ROW KEY re-salted with the
      // "quantile" face salt, bottom-64 rows per group by (h, event_id),
      // sample sorted by value, type-7 linear interpolation with the exact
      // double-arithmetic term order (pos = q·(n−1), frac = pos − floor(pos),
      // v_lo + frac·(v_hi − v_lo)), rounded to 6 decimals.
      {
        val kmvH = phSql(
          s"lpad(CAST((${phSql("CAST(event_id AS VARCHAR)", "0")}" +
            s" * ${Sampling.saltMult("kmv")} + ${Sampling.saltAdd("kmv")})" +
            " % 1000000007 AS VARCHAR), 10, '0')", "0")
        s"""WITH hx AS (SELECT event_type, event_id, CAST(value AS DOUBLE) AS x,
         |  ($kmvH * ${Sampling.saltMult("quantile")}
         |    + ${Sampling.saltAdd("quantile")}) % 1000000007 AS h
         |  FROM events WHERE value IS NOT NULL),
         |rk AS (SELECT event_type, x, row_number() OVER (
         |  PARTITION BY event_type ORDER BY h ASC, event_id ASC) AS rn FROM hx),
         |smp AS (SELECT event_type, list(x ORDER BY x) AS vs
         |  FROM rk WHERE rn <= 64 GROUP BY 1),
         |qx AS (SELECT event_type, vs, unnest(list_transform(
         |  [0.1, 0.25, 0.5, 0.75, 0.9, 0.99], x -> CAST(x AS DOUBLE))) AS q FROM smp),
         |px AS (SELECT event_type, q, vs, len(vs) AS n,
         |  q * CAST(len(vs) - 1 AS DOUBLE) AS pos FROM qx),
         |f AS (SELECT event_type, q, vs, n, CAST(floor(pos) AS INTEGER) AS lo,
         |  pos - floor(pos) AS frac FROM px)
         |SELECT event_type, q, CAST(n AS BIGINT) AS n_sample,
         |  round(vs[lo + 1] + frac * (vs[least(lo + 2, CAST(n AS INTEGER))] - vs[lo + 1]), 6) AS est_q
         |FROM f""".stripMargin
      },
      face("stream_quantile") { (s, dir) =>
        graft.streaming.StreamOps.quantileStream(
          Tables(s, dir).events, k = 64, "event_type", "event_id", "value")
          .toDF().withColumnRenamed("grp", "event_type") },
      face("sql_quantile_sketch") { (s, dir) =>
        viaSql(s, "graft_sql_events" -> Tables(s, dir).events)(
          "SELECT * FROM graft_quantile_sketch('graft_sql_events', 64, " +
          "'event_type', 'event_id', 'value')") }),
    // pairwise distinct-user overlap between event types from HLL
    // registers alone: union by register max, intersection by
    // inclusion-exclusion
    row("sketch_hll_overlap", (s, dir) =>
      Sketches.hllPairOverlap(Tables(s, dir).events, p = 10,
        "event_type", "user_id"),
      // Mirrors Sketches.hllPairOverlap(events, p=10, event_type, user_id):
      // the sketch_hll register derivation, pair expansion over the distinct
      // group list, register-wise max per pair, the identical estimate
      // formula on merged and per-group registers, inclusion-exclusion
      // intersection clamped at 0.
      {
        val p = 10
        val m = 1 << p
        val bigW = 30 - p
        val alpha = 0.7213 / (1.0 + 1.079 / m)
        val bitLenSql = (bigW to 1 by -1)
          .map(b => s"WHEN w >= ${1L << (b - 1)} THEN $b").mkString(" ")
        def est(hit: String, zs: String) = {
          val raw = s"(CAST($alpha AS DOUBLE) * $m * $m / ($zs + ($m - $hit)))"
          s"CASE WHEN $raw <= ${2.5 * m} AND ($m - $hit) > 0 " +
            s"THEN $m * ln(CAST($m AS DOUBLE) / ($m - $hit)) ELSE $raw END"
        }
        s"""WITH ax AS (SELECT DISTINCT event_type,
         |  (${phSql("CAST(user_id AS VARCHAR)", "0")}
         |   * ${graft.pipeline.Sampling.saltMult("kmv")}
         |   + ${graft.pipeline.Sampling.saltAdd("kmv")}) % 1000000007 AS m FROM events),
         |hx AS (SELECT DISTINCT event_type,
         |  ${phSql("lpad(CAST(m AS VARCHAR), 10, '0')", "0")} AS h FROM ax),
         |rr AS (SELECT event_type, h & ${m - 1} AS idx, w,
         |  ${bigW + 1} - (CASE $bitLenSql ELSE 0 END) AS rho
         |  FROM (SELECT event_type, h, h >> $p AS w FROM hx)),
         |rg AS (SELECT event_type AS grp, idx, max(rho) AS r FROM rr GROUP BY 1, 2),
         |gl AS (SELECT DISTINCT grp FROM rg),
         |pairs AS (SELECT a.grp AS grp_a, b.grp AS grp_b
         |  FROM gl a JOIN gl b ON a.grp < b.grp),
         |pru AS (SELECT grp_a, grp_b, idx, max(r) AS r FROM (
         |    SELECT p.grp_a, p.grp_b, r.idx, r.r FROM pairs p JOIN rg r ON r.grp = p.grp_a
         |    UNION ALL
         |    SELECT p.grp_a, p.grp_b, r.idx, r.r FROM pairs p JOIN rg r ON r.grp = p.grp_b)
         |  GROUP BY 1, 2, 3),
         |ue AS (SELECT grp_a, grp_b, count(*) AS hit,
         |  sum(power(2.0, -r)) AS zs FROM pru GROUP BY 1, 2),
         |pe AS (SELECT grp, count(*) AS hit, sum(power(2.0, -r)) AS zs
         |  FROM rg GROUP BY 1),
         |uest AS (SELECT grp_a, grp_b, ${est("hit", "zs")} AS union_est FROM ue),
         |pest AS (SELECT grp, ${est("hit", "zs")} AS e FROM pe),
         |fin AS (SELECT u.grp_a, u.grp_b, a.e AS est_a, b.e AS est_b,
         |  u.union_est,
         |  greatest(a.e + b.e - u.union_est, CAST(0 AS DOUBLE)) AS inter_est
         |  FROM uest u JOIN pest a ON a.grp = u.grp_a
         |  JOIN pest b ON b.grp = u.grp_b)
         |SELECT grp_a, grp_b, est_a, est_b, union_est, inter_est,
         |  inter_est / union_est AS jaccard_est FROM fin""".stripMargin
      }),

    // Z-order layout key over (user, day): one curve position per event,
    // the multi-dimensional clustering key for scan pruning on either dim
    row("layout_zorder", (s, dir) =>
      Tables(s, dir).events
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 86400000000000").as("day"))
        .withColumn("z",
          graft.ops.Layout.zValue(col("user_id"), col("day"), 16)),
      // Mirrors Layout.zValue(user_id, day, 16): the same bit interleave as
      // an arithmetic sum of disjoint-bit terms (sum == OR when no bits
      // collide); day via integer division of epoch-ns, no float rounding.
      {
        val zTerms = (0 until 16).map(b =>
          s"(((user_id >> $b) & 1) << ${2 * b}) + (((day >> $b) & 1) << ${2 * b + 1})")
          .mkString(" + ")
        s"""WITH e AS (SELECT event_id, user_id,
         |  epoch_ns(ts) // 86400000000000 AS day FROM events)
         |SELECT event_id, user_id, day, CAST($zTerms AS BIGINT) AS z FROM e""".stripMargin
      }),
    // per-file min/max pruning manifest over the deterministic z-ordered
    // layout (300 rows/file): both an x-range and a y-range predicate
    // skip files from ONE physical order — the z-order claim, quantified
    row("layout_skipping", (s, dir) =>
      graft.ops.Layout.skippingStats(
        Tables(s, dir).events
          .select(col("user_id"), expr("ts div 86400000000000").as("day")),
        "user_id", "day", bits = 16, rowsPerFile = 300,
        xRange = (10L, 20L), yRange = (19723L, 19725L)),
      // Mirrors Layout.skippingStats over (user_id, day) at 300 rows/file:
      // same z terms, per-z rollup, running-count file assignment, min/max
      // manifest, same range skip verdicts.
      {
        val zTerms = (0 until 16).map(b =>
          s"(((x >> $b) & 1) << ${2 * b}) + (((y >> $b) & 1) << ${2 * b + 1})")
          .mkString(" + ")
        s"""WITH e AS (SELECT user_id AS x,
         |  epoch_ns(ts) // 86400000000000 AS y FROM events),
         |zt AS (SELECT x, y, CAST($zTerms AS BIGINT) AS z FROM e),
         |zs AS (SELECT z, CAST(count(*) AS BIGINT) AS cnt,
         |  min(x) AS zx0, max(x) AS zx1, min(y) AS zy0, max(y) AS zy1
         |  FROM zt GROUP BY 1),
         |rs AS (SELECT *, CAST(sum(cnt) OVER (ORDER BY z
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e2
         |  FROM zs),
         |f AS (SELECT (e2 - cnt) // 300 AS file_id, cnt, zx0, zx1, zy0, zy1 FROM rs)
         |SELECT file_id, CAST(sum(cnt) AS BIGINT) AS n_rows,
         |  min(zx0) AS min_x, max(zx1) AS max_x,
         |  min(zy0) AS min_y, max(zy1) AS max_y,
         |  (max(zx1) < 10 OR min(zx0) > 20) AS skip_x_range,
         |  (max(zy1) < 19723 OR min(zy0) > 19725) AS skip_y_range
         |FROM f GROUP BY 1""".stripMargin
      }),
    // small-file compaction manifest: roll files at 4 KiB of document text
    row("layout_compaction", (s, dir) =>
      graft.ops.Layout.compactionPlan(Tables(s, dir).documents,
        targetBytes = 4096),
      // Mirrors Layout.compactionPlan(documents, 4096): file_id is the
      // exclusive byte prefix div target in doc_id order, manifest per file
      """WITH sized AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS b
        |  FROM documents WHERE n_chars > 0),
        |pre AS (SELECT doc_id, b,
        |  CAST(sum(b) OVER (ORDER BY doc_id) - b AS BIGINT) AS pref FROM sized)
        |SELECT pref // 4096 AS file_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(b) AS BIGINT) AS total_bytes,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM pre GROUP BY 1""".stripMargin,
      face("sql_compaction") { (s, dir) =>
        viaSql(s, "graft_sql_documents" -> Tables(s, dir).documents)(
          "SELECT * FROM graft_compaction_plan('graft_sql_documents', 4096)") }),
    // Hilbert curve key over the same (user_id, day) plane as layout_zorder
    row("layout_hilbert", (s, dir) =>
      Tables(s, dir).events
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 86400000000000").as("day"))
        .withColumn("h",
          graft.ops.Layout.hilbertValue(col("user_id"), col("day"), 16)),
      // Mirrors Layout.hilbertValue(user_id, day, 16): one CTE per bit level
      // (linear chain — each referenced once, so plain inlining stays
      // linear), same reflect+swap walk with d accumulated before rotation
      {
        val bits = 16
        // rx/ry MUST be two's-complement bit tests (x & S), not (x // S) % 2:
        // the reflect step makes coordinates transiently negative (the walk
        // only ever reads their low bits), and floor-div/mod diverge from
        // bit extraction below zero
        val levels = (bits - 1 to 0 by -1).map { l =>
          val S = 1L << l
          s"""h$l AS (SELECT event_id, user_id, day,
           |  CASE WHEN (y & $S) = 0
           |    THEN (CASE WHEN (x & $S) <> 0 THEN $S - 1 - y ELSE y END)
           |    ELSE x END AS x,
           |  CASE WHEN (y & $S) = 0
           |    THEN (CASE WHEN (x & $S) <> 0 THEN $S - 1 - x ELSE x END)
           |    ELSE y END AS y,
           |  d + $S * $S * xor(3 * (CASE WHEN (x & $S) <> 0 THEN 1 ELSE 0 END),
           |    CASE WHEN (y & $S) <> 0 THEN 1 ELSE 0 END) AS d
           |  FROM h${l + 1})""".stripMargin
        }
        s"""WITH e AS (SELECT event_id, user_id,
         |  epoch_ns(ts) // 86400000000000 AS day FROM events),
         |h$bits AS (SELECT event_id, user_id, day,
         |  CAST(user_id AS BIGINT) AS x, day AS y, CAST(0 AS BIGINT) AS d FROM e),
         |${levels.mkString(",\n")}
         |SELECT event_id, user_id, day, CAST(d AS BIGINT) AS h FROM h0""".stripMargin
      })
  )
}
