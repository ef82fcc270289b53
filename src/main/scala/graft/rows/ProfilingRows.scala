package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Export, Profile, Sampling}

import Fixtures._
import QueryRow.{face, row}

/** Export sinks, one-scan dataset profiles, drift tests and change-data capture. */
private[graft] object ProfilingRows {
  val rows: Seq[QueryRow] = Seq(

    // ---- export sink: sharded JSONL round trip — the re-read export must
    // hash-equal the source table (lossless write→read, incl. escaping) ----
    row("sink_jsonl_roundtrip", (s, dir) => {
      // unique dir per invocation: a FIXED path would race when two
      // Verify/Bench processes (e.g. different SFs) run concurrently
      val out = java.nio.file.Files
        .createTempDirectory("graft_jsonl_export").toString
      Export.writeJsonl(
        Tables(s, dir).documents.select("doc_id", "text", "lang"), out, shards = 8)
      Export.readJsonl(s, out, "doc_id BIGINT, text STRING, lang STRING")
        .select("doc_id", "text", "lang")
    },
      // Mirrors the JSONL round trip: the sink must be invisible, so the
      // oracle is the SOURCE projection.
      "SELECT doc_id, text, lang FROM documents"),

    // per-epoch deterministic global shuffle: a different but reproducible
    // training order every epoch, sharded for the export writer
    row("export_epoch_shuffle", (s, dir) =>
      Export.epochShuffle(Tables(s, dir).documents.select("doc_id"),
        epoch = 1, nShards = 8),
      // Mirrors Export.epochShuffle(epoch=1, nShards=8): the same
      // Carter-Wegman key (epoch_1 salt), shard = key mod 8, in-shard rank
      // by (key, id).
      s"""WITH k AS (SELECT doc_id,
         |  ((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("epoch_1")}
         |    + ${Sampling.saltAdd("epoch_1")}) % 1000000007 AS key
         |  FROM documents)
         |SELECT doc_id, CAST(key % 8 AS INTEGER) AS shard_id,
         |  CAST(row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id)
         |    AS INTEGER) AS shard_pos
         |FROM k""".stripMargin),

    // ---- dataset profiling (one-scan column audit) ----
    row("profile_stats", (s, dir) =>
      Profile.numeric(Tables(s, dir).lineitem,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      // Mirrors Profile.numeric: one SELECT per profiled column; DuckDB's
      // quantile_cont matches Spark's exact percentile interpolation
      // (index p·(n-1), linear between neighbors).
      {
        def one(c: String) =
          s"""SELECT '$c' AS col_name, count($c) AS n,
           |  count(CASE WHEN $c IS NULL THEN 1 END) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS min_value,
           |  CAST(max($c) AS DOUBLE) AS max_value,
           |  avg($c) AS mean_value, quantile_cont($c, 0.5) AS median
           |FROM lineitem""".stripMargin
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
          .map(one).mkString("\nUNION ALL\n")
      }),
    // dow x hour activity matrix per event type: integer-epoch calendar
    // arithmetic (no locale functions), <= types*168 cells
    row("events_calendar_profile", (s, dir) =>
      Profile.calendarProfile(Tables(s, dir).events),
      // Mirrors Profile.calendarProfile: identical integer-epoch dow/hour
      // derivation (1970-01-01 = Thursday, 0 = Sunday).
      s"""WITH e AS (SELECT event_type, epoch_ns(ts) AS ts, value FROM events
         |  WHERE value IS NOT NULL AND NOT isnan(value))
         |SELECT event_type,
         |  ((ts // ${86400L * NsPerS} + 4) % 7 + 7) % 7 AS dow,
         |  ((ts % ${86400L * NsPerS} + ${86400L * NsPerS}) % ${86400L * NsPerS})
         |    // ${3600L * NsPerS} AS hour,
         |  count(*) AS n_events, avg(value) AS mean_value,
         |  min(value) AS min_value, max(value) AS max_value
         |FROM e GROUP BY 1, 2, 3""".stripMargin,
      face("sql_calendar_profile") { (s, dir) =>
        viaSql(s, "graft_sql_ev_cal" -> Tables(s, dir).events)(
          "SELECT * FROM graft_calendar_profile('graft_sql_ev_cal')") }),
    // document-length histogram: the first corpus plot anyone draws —
    // same fixed-width binning operator pointed at n_chars
    row("profile_doclen", (s, dir) =>
      Profile.histogram(Tables(s, dir).documents, "n_chars", 0.0, 1000.0, 50),
      """WITH x AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) >= 0.0
        |    AND CAST(n_chars AS DOUBLE) <= 1000.0),
        |b AS (SELECT least(CAST(floor((v - 0.0) / ((1000.0 - 0.0) / 50)) AS BIGINT), 49) AS bin_id, v FROM x)
        |SELECT bin_id, count(*) AS n, min(v) AS min_value, max(v) AS max_value,
        |  avg(v) AS mean_value,
        |  0.0 + bin_id * ((1000.0 - 0.0) / 50) AS lo_edge,
        |  0.0 + (bin_id + 1) * ((1000.0 - 0.0) / 50) AS hi_edge
        |FROM b GROUP BY bin_id""".stripMargin),
    row("profile_histogram", (s, dir) =>
      Profile.histogram(Tables(s, dir).events, "value", 0.0, 500.0, 50),
      // Mirrors Profile.histogram: identical IEEE bin arithmetic (the width
      // expression is written out, not precomputed, so both engines fold the
      // same constants).
      """WITH x AS (SELECT value AS v FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value) AND value >= 0.0 AND value <= 500.0),
        |b AS (SELECT least(CAST(floor((v - 0.0) / ((500.0 - 0.0) / 50)) AS BIGINT), 49) AS bin_id, v FROM x)
        |SELECT bin_id, count(*) AS n, min(v) AS min_value, max(v) AS max_value,
        |  avg(v) AS mean_value,
        |  0.0 + bin_id * ((500.0 - 0.0) / 50) AS lo_edge,
        |  0.0 + (bin_id + 1) * ((500.0 - 0.0) / 50) AS hi_edge
        |FROM b GROUP BY bin_id""".stripMargin),
    // key-skew audit on the join key: heavy-hitter shares that decide
    // between a plain shuffle join and SkewJoin.saltedJoin / AQE skew
    row("profile_key_skew", (s, dir) =>
      Profile.keySkew(Tables(s, dir).events, "user_id", topN = 10),
      // Mirrors Profile.keySkew(user_id, topN=10): per-key counts, bounded
      // top-10, integer-quotient shares.
      """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key_value,
        |  count(*) AS n_rows FROM events GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total,
        |  count(*) AS n_distinct, max(n_rows) AS mx FROM c),
        |top AS (SELECT key_value, n_rows,
        |  CAST(row_number() OVER (ORDER BY n_rows DESC, key_value ASC) AS INTEGER) AS key_rank
        |  FROM c ORDER BY n_rows DESC, key_value ASC LIMIT 10),
        |ts AS (SELECT CAST(sum(n_rows) AS BIGINT) AS topn FROM top)
        |SELECT key_rank, key_value, n_rows, n_rows / n_total AS share,
        |  n_total, n_distinct, mx / n_total AS top1_share,
        |  topn / n_total AS topn_share
        |FROM top, tot, ts""".stripMargin),
    // per-column completeness audit of the events table: null/NaN/empty
    // counts and the usable fraction in ONE scan — the first report run
    // on any new corpus drop
    // corpus-composition contingency matrix: source rows × language
    // columns, exact counts with zero-filled cells
    row("profile_crosstab", (s, dir) =>
      Profile.crosstab(Tables(s, dir).documents, "source", "lang",
        Seq("de", "en", "es", "fr", "zh")),
      // Mirrors Profile.crosstab(source × lang): one conditional count per
      // pivot value — sum(CASE) comes back HUGEINT in DuckDB, cast to BIGINT
      // to match Spark's pivot-count longs
      ("SELECT source, " +
        Seq("de", "en", "es", "fr", "zh").map(l =>
          s"CAST(sum(CASE WHEN lang = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS $l")
          .mkString(", ") +
        " FROM documents GROUP BY source"),
      face("sql_crosstab") { (s, dir) =>
        viaSql(s, "graft_sql_documents" -> Tables(s, dir).documents)(
          "SELECT * FROM graft_crosstab('graft_sql_documents', 'source', 'lang', 'de,en,es,fr,zh')") }),
    row("profile_completeness", (s, dir) =>
      Profile.completeness(Tables(s, dir).events),
      // Mirrors Profile.completeness(events): one SELECT per column with the
      // same disjoint null/NaN/empty counters and Spark's simpleString dtype
      // literals; ts is the normalized epoch-ns bigint in both engines.
      {
        def row(name: String, dtype: String, nan: String, empty: String) =
          s"""SELECT '$name' AS col_name, '$dtype' AS dtype,
           |  CAST(count(*) AS BIGINT) AS n_total,
           |  CAST(count(CASE WHEN $name IS NULL THEN 1 END) AS BIGINT) AS n_null,
           |  CAST($nan AS BIGINT) AS n_nan, CAST($empty AS BIGINT) AS n_empty
           |  FROM events""".stripMargin
        def nanOf(c: String) = s"count(CASE WHEN $c IS NOT NULL AND isnan($c) THEN 1 END)"
        def emptyOf(c: String) = s"count(CASE WHEN $c IS NOT NULL AND length($c) = 0 THEN 1 END)"
        val rows = Seq(
          row("event_id", "bigint", "0", "0"),
          row("ts", "bigint", "0", "0"),
          row("user_id", "bigint", "0", "0"),
          row("event_type", "string", "0", emptyOf("event_type")),
          row("value", "double", nanOf("value"), "0"),
          row("props", "string", "0", emptyOf("props")))
          .mkString("\nUNION ALL\n")
        s"""WITH u AS (
         |$rows)
         |SELECT col_name, dtype, n_total, n_null, n_nan, n_empty,
         |  CAST(n_total - n_null - n_nan - n_empty AS DOUBLE)
         |    / CAST(n_total AS DOUBLE) AS complete_rate
         |FROM u""".stripMargin
      },
      face("sql_completeness") { (s, dir) =>
        viaSql(s, "graft_sql_ev_cp" -> Tables(s, dir).events)(
          "SELECT * FROM graft_completeness('graft_sql_ev_cp')") }),
    // per-column exact-vs-HLL distinct audit: join-key/dictionary sizing
    // plus the measured sketch error before trusting the scale path;
    // the float value column enters via an integer milli-canonicalization
    // (engine-portable float rendering is not a thing)
    row("profile_distinct", (s, dir) => {
      val e = Tables(s, dir).events.withColumn("value_m",
        when(!isnan(col("value")), floor(col("value") * 1000).cast("long")))
      Profile.distinctProfile(e,
        Seq("event_id", "user_id", "event_type", "value_m", "props"))
    },
      // Mirrors Profile.distinctProfile(p=10) over the five canonicalized
      // event columns: same string-stacked values, exact distinct, and the
      // sketch_hll register derivation (PolyHash -> idx/rho -> register max
      // -> dyadic-exact power sum -> linear-counting small range).
      {
        val p = 10
        val m = 1 << p
        val bigW = 30 - p
        val alpha = 0.7213 / (1.0 + 1.079 / m)
        val bitLenSql = (bigW to 1 by -1)
          .map(b => s"WHEN w >= ${1L << (b - 1)} THEN $b").mkString(" ")
        val est = s"CAST($alpha AS DOUBLE) * $m * $m / (zs + ($m - n_registers_hit))"
        s"""WITH base AS (SELECT CAST(event_id AS VARCHAR) AS c_event_id,
         |  CAST(user_id AS VARCHAR) AS c_user_id,
         |  event_type AS c_event_type,
         |  CASE WHEN value IS NOT NULL AND NOT isnan(value)
         |    THEN CAST(CAST(floor(value * 1000) AS BIGINT) AS VARCHAR)
         |    END AS c_value_m,
         |  props AS c_props FROM events),
         |st AS (SELECT 'event_id' AS column_name, c_event_id AS v FROM base
         |  UNION ALL SELECT 'user_id', c_user_id FROM base
         |  UNION ALL SELECT 'event_type', c_event_type FROM base
         |  UNION ALL SELECT 'value_m', c_value_m FROM base
         |  UNION ALL SELECT 'props', c_props FROM base),
         |nn AS (SELECT column_name, v FROM st WHERE v IS NOT NULL),
         |ex AS (SELECT column_name, CAST(count(*) AS BIGINT) AS n_nonnull,
         |  CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct
         |  FROM nn GROUP BY 1),
         |ax AS (SELECT column_name, (${phSql("v", "0")}
         |  * ${graft.pipeline.Sampling.saltMult("kmv")}
         |  + ${graft.pipeline.Sampling.saltAdd("kmv")}) % 1000000007 AS mh
         |  FROM (SELECT DISTINCT column_name, v FROM nn)),
         |hx AS (SELECT column_name,
         |  ${phSql("lpad(CAST(mh AS VARCHAR), 10, '0')", "0")} AS h FROM ax),
         |rr AS (SELECT column_name, h & ${m - 1} AS idx, w,
         |  ${bigW + 1} - (CASE $bitLenSql ELSE 0 END) AS rho
         |  FROM (SELECT column_name, h, h >> $p AS w FROM hx)),
         |rg AS (SELECT column_name, idx, max(rho) AS r FROM rr GROUP BY 1, 2),
         |sk AS (SELECT column_name, CAST(count(*) AS BIGINT) AS n_registers_hit,
         |  sum(power(2.0, -r)) AS zs FROM rg GROUP BY 1),
         |he AS (SELECT column_name, n_registers_hit,
         |  CASE WHEN $est <= ${2.5 * m} AND ($m - n_registers_hit) > 0
         |    THEN $m * ln(CAST($m AS DOUBLE) / ($m - n_registers_hit))
         |    ELSE $est END AS est_distinct
         |  FROM sk)
         |SELECT ex.column_name, ex.n_nonnull, ex.exact_distinct,
         |  he.n_registers_hit, he.est_distinct,
         |  (he.est_distinct - CAST(ex.exact_distinct AS DOUBLE))
         |    / CAST(ex.exact_distinct AS DOUBLE) AS rel_error
         |FROM ex JOIN he ON he.column_name = ex.column_name""".stripMargin
      }),
    // Benford first-digit audit of order totals per priority class: the
    // "does this numeric column look organic" screen (dense 9-digit grid,
    // group-level chi-square verdict at 5%)
    row("profile_benford", (s, dir) =>
      Profile.benford(Tables(s, dir).orders, "o_orderpriority", "o_totalprice")
        .withColumnRenamed("grp", "o_orderpriority"),
      // Mirrors Profile.benford(o_orderpriority, o_totalprice): the same
      // integer-cents leading digit (round(v*100) → string head — integer
      // rendering is engine-stable where float formatting is not), dense
      // 9-digit grid, ln-ratio expected shares, literal chi-square boundary.
      s"""WITH o AS (SELECT o_orderpriority AS grp,
         |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
         |  WHERE o_totalprice IS NOT NULL),
         |obs AS (SELECT grp,
         |  CAST(substr(CAST(abs(cents) AS VARCHAR), 1, 1) AS INTEGER) AS digit,
         |  CAST(count(*) AS BIGINT) AS n_obs FROM o WHERE cents <> 0
         |  GROUP BY 1, 2),
         |tot AS (SELECT grp, CAST(sum(n_obs) AS BIGINT) AS n_total
         |  FROM obs GROUP BY 1),
         |grid AS (SELECT g.grp, CAST(r.digit AS INTEGER) AS digit
         |  FROM (SELECT DISTINCT grp FROM obs) g CROSS JOIN range(1, 10) r(digit)),
         |dense AS (SELECT g.grp, g.digit, t.n_total,
         |  CAST(coalesce(ob.n_obs, 0) AS BIGINT) AS n_obs,
         |  ln(1.0 + 1.0 / CAST(g.digit AS DOUBLE)) / ln(10.0) AS exp_share
         |  FROM grid g JOIN tot t ON t.grp = g.grp
         |  LEFT JOIN obs ob ON ob.grp = g.grp AND ob.digit = g.digit),
         |chi AS (SELECT grp, sum(
         |  (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * exp_share)
         |  * (CAST(n_obs AS DOUBLE) - CAST(n_total AS DOUBLE) * exp_share)
         |  / (CAST(n_total AS DOUBLE) * exp_share)) AS chi2 FROM dense GROUP BY 1)
         |SELECT d.grp AS o_orderpriority, d.digit, d.n_total, d.n_obs,
         |  CAST(d.n_obs AS DOUBLE) / CAST(d.n_total AS DOUBLE) AS obs_share,
         |  d.exp_share, c.chi2,
         |  c.chi2 > ${Profile.BenfordChiSq95Df8} AS reject_benford
         |FROM dense d JOIN chi c ON c.grp = d.grp""".stripMargin,
      face("sql_benford") { (s, dir) =>
        viaSql(s, "graft_sql_ord_bf" -> Tables(s, dir).orders)(
            "SELECT * FROM graft_benford('graft_sql_ord_bf', " +
            "'o_orderpriority', 'o_totalprice')")
          .withColumnRenamed("grp", "o_orderpriority") }),
    // CDC apply: fold the synthetic changelog (deletes %11==4, updates
    // %11==6 with a second version on %22==6, inserts %11==8 bit-42
    // tagged) into the next snapshot — last-writer-wins on seq
    row("cdc_apply", (s, dir) =>
      graft.ops.Cdc.latestState(
        Tables(s, dir).documents.select("doc_id", "text"), changeLog(s, dir)),
      // Mirrors Cdc.latestState over the shared changelog CTE: per-id
      // (seq desc, op desc) top-1, full outer against the base, deletes out.
      s"""WITH $CdcLogCte,
         |lt AS (SELECT doc_id, op, text, row_number() OVER (
         |  PARTITION BY doc_id ORDER BY seq DESC, op DESC) AS rn FROM clog),
         |l1 AS (SELECT doc_id, op AS lop, text AS ltext FROM lt WHERE rn = 1),
         |b AS (SELECT doc_id, text FROM documents)
         |SELECT coalesce(b.doc_id, l1.doc_id) AS doc_id,
         |  CASE WHEN l1.lop IS NOT NULL THEN l1.ltext ELSE b.text END AS text
         |FROM b FULL OUTER JOIN l1 ON b.doc_id = l1.doc_id
         |WHERE l1.lop IS NULL OR l1.lop <> 'D'""".stripMargin),
    // SCD2 historization of the same changelog: every version with its
    // [valid_from, valid_to) interval; a delete closes its predecessor
    row("cdc_scd2", (s, dir) => graft.ops.Cdc.scd2(changeLog(s, dir)),
      // Mirrors Cdc.scd2: one lead() window, deletes close intervals
      // without emitting a row; 2^63-1 is the open-interval sentinel.
      s"""WITH $CdcLogCte,
         |v AS (SELECT doc_id, text, op, seq AS valid_from,
         |  coalesce(lead(seq) OVER (PARTITION BY doc_id ORDER BY seq, op),
         |    9223372036854775807) AS valid_to FROM clog)
         |SELECT doc_id, text, valid_from, valid_to,
         |  valid_to = 9223372036854775807 AS is_current
         |FROM v WHERE op <> 'D'""".stripMargin,
      face("sql_cdc_scd2") { (s, dir) =>
        viaSql(s, "graft_sql_clog" -> changeLog(s, dir))(
          "SELECT * FROM graft_cdc_scd2('graft_sql_clog')") }),
    // streaming CDC fold, batch face: per-id last-writer-wins record under
    // the batch window's exact (seq desc, op desc) order
    row("stream_cdc", (s, dir) =>
      graft.streaming.StreamOps.cdcStream(changeLog(s, dir)).toDF(),
      // Mirrors StreamOps.cdcStream's batch face: per-id (seq desc, op desc)
      // top-1 of the shared changelog.
      s"""WITH $CdcLogCte,
         |lt AS (SELECT doc_id, text, seq, op, row_number() OVER (
         |  PARTITION BY doc_id ORDER BY seq DESC, op DESC) AS rn FROM clog)
         |SELECT doc_id, seq, op, text FROM lt WHERE rn = 1""".stripMargin),
    // exact equi-depth histogram: per-type decile boundaries by discrete
    // rank selection — the selectivity-estimation statistic (the quantile
    // sketch is the corpus-scale path)
    row("profile_equidepth", (s, dir) =>
      Profile.equiDepth(Tables(s, dir).events, "event_type", "value", "event_id")
        .withColumnRenamed("grp", "event_type"),
      // Mirrors Profile.equiDepth(10): same (value, event_id) rank order,
      // same discrete ⌊n·k/10⌋ target ranks clamped at 1.
      """WITH r AS (SELECT event_type AS grp, value AS v, event_id AS tie
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |rk AS (SELECT grp, v, row_number() OVER (PARTITION BY grp ORDER BY v, tie) AS rn,
        |  count(*) OVER (PARTITION BY grp) AS n FROM r),
        |tg AS (SELECT grp, n, unnest(range(1, 11)) AS bucket
        |  FROM (SELECT DISTINCT grp, n FROM rk)),
        |tt AS (SELECT grp, CAST(bucket AS BIGINT) AS bucket,
        |  greatest((n * bucket) // 10, 1) AS rn FROM tg)
        |SELECT tt.grp AS event_type, tt.bucket, min(rk.v) AS upper_value,
        |  CAST(min(rk.n) AS BIGINT) AS n_rows
        |FROM tt JOIN rk ON tt.grp = rk.grp AND tt.rn = rk.rn
        |GROUP BY 1, 2""".stripMargin),
    // ingest-volume anomaly: per-type daily event counts z-scored against
    // the type's across-day distribution (exact integer moments)
    row("events_volume_anomaly", (s, dir) =>
      Profile.volumeAnomaly(Tables(s, dir).events)
        .withColumnRenamed("grp", "event_type"),
      // Mirrors Profile.volumeAnomaly: same integer moments, same co-moment
      // variance, same null-z conventions, same zero-filled day grid
      // between each group's min and max day.
      """WITH sp AS (SELECT event_type AS grp,
        |  epoch_ns(ts) // 86400000000000 AS day, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT grp, min(day) AS lo, max(day) AS hi FROM sp GROUP BY 1),
        |g AS (SELECT grp, unnest(range(lo, hi + 1)) AS day FROM b),
        |d AS (SELECT g.grp, g.day,
        |  coalesce(sp.n_events, CAST(0 AS BIGINT)) AS n_events
        |  FROM g LEFT JOIN sp USING (grp, day)),
        |m AS (SELECT grp, count(*) AS n, CAST(sum(n_events) AS BIGINT) AS s,
        |  CAST(sum(n_events * n_events) AS BIGINT) AS ss FROM d GROUP BY 1),
        |j AS (SELECT d.grp, d.day, d.n_events,
        |  CAST(m.s AS DOUBLE) / m.n AS mean_events,
        |  CASE WHEN m.n >= 2 THEN
        |    CAST(m.n * m.ss - m.s * m.s AS DOUBLE) / CAST(m.n * (m.n - 1) AS DOUBLE)
        |  END AS var FROM d JOIN m USING (grp))
        |SELECT grp AS event_type, day, n_events, mean_events,
        |  CASE WHEN var > 0.0
        |    THEN (CAST(n_events AS DOUBLE) - mean_events) / sqrt(var) END AS z,
        |  coalesce(abs(CASE WHEN var > 0.0
        |    THEN (CAST(n_events AS DOUBLE) - mean_events) / sqrt(var) END) > 2.0,
        |    false) AS is_anomaly
        |FROM j""".stripMargin),
    // snapshot diff: documents vs a deterministically edited next version
    // (doc_id%17==3 removed, %17==5 text-edited, %17==7 re-added under a
    // bit-41 tag) — added/removed/changed via ONE full-outer id join
    row("corpus_diff", (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text", "lang")
      val next = docs.where(col("doc_id") % 17 =!= 3)
        .withColumn("text",
          when(col("doc_id") % 17 === 5, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")))
        .unionByName(docs.where(col("doc_id") % 17 === 7)
          .withColumn("doc_id", col("doc_id") + (1L << 41)))
      Profile.snapshotDiff(docs, next, "doc_id", Seq("text", "lang"))
    },
      // Mirrors Profile.snapshotDiff over the deterministically edited next
      // snapshot: same edit rules (%17: 3 removed, 5 text-edited, 7 re-added
      // bit-41-tagged), same concatenated null-safe payload digest, one full
      // outer join.
      """WITH docs AS (SELECT doc_id, text, lang FROM documents),
        |nxt AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 5 THEN text || ' [rev2]' ELSE text END AS text,
        |    lang
        |  FROM docs WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + (CAST(1 AS BIGINT) << 41), text, lang
        |  FROM docs WHERE doc_id % 17 = 7),
        |od AS (SELECT doc_id, coalesce(text, '') || coalesce(lang, '') AS dg FROM docs),
        |nd AS (SELECT doc_id, coalesce(text, '') || coalesce(lang, '') AS dg FROM nxt)
        |SELECT coalesce(od.doc_id, nd.doc_id) AS doc_id,
        |  CASE WHEN od.doc_id IS NULL THEN 'added'
        |       WHEN nd.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status
        |FROM od FULL OUTER JOIN nd ON od.doc_id = nd.doc_id
        |WHERE od.doc_id IS NULL OR nd.doc_id IS NULL OR od.dg <> nd.dg""".stripMargin),
    // binned PSI drift per event type over the same before/after-T2 split
    // — weights WHERE the mass moved, the scorecard companion to KS
    row("profile_psi_drift", (s, dir) =>
      Profile.psiDrift(Tables(s, dir).events, "event_type", "value",
        col("ts") < T2, lo = 0.0, hi = 500.0, nBins = 10)
        .withColumnRenamed("grp", "event_type"),
      // Mirrors Profile.psiDrift(event_type, value, ts < T2, [0,500], 10):
      // dense bin grid, add-one smoothed proportions, per-group PSI fold.
      s"""WITH v AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v,
         |  epoch_ns(ts) < $T2 AS in_a FROM events
         |  WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL),
         |bb AS (SELECT grp, least(greatest(CAST(floor((v - 0.0) / 50.0) AS BIGINT), 0), 9) AS bin_id, in_a FROM v),
         |c AS (SELECT grp, bin_id,
         |  CAST(count(*) FILTER (WHERE in_a) AS BIGINT) AS ca,
         |  CAST(count(*) FILTER (WHERE NOT in_a) AS BIGINT) AS cb
         |  FROM bb GROUP BY 1, 2),
         |tot AS (SELECT grp, CAST(sum(ca) AS BIGINT) AS na,
         |  CAST(sum(cb) AS BIGINT) AS nb FROM c GROUP BY 1
         |  HAVING na > 0 AND nb > 0),
         |grid AS (SELECT grp, na, nb, CAST(unnest(range(0, 10)) AS BIGINT) AS bin_id FROM tot),
         |fl AS (SELECT g.grp, g.na, g.nb,
         |  coalesce(c.ca, 0) AS ca, coalesce(c.cb, 0) AS cb
         |  FROM grid g LEFT JOIN c ON c.grp = g.grp AND c.bin_id = g.bin_id),
         |t AS (SELECT grp, na, nb,
         |  ((ca + 1) / (na + 10) - (cb + 1) / (nb + 10)) *
         |    ln(((ca + 1) / (na + 10)) / ((cb + 1) / (nb + 10))) AS term,
         |  CASE WHEN ca + cb > 0 THEN 1 ELSE 0 END AS present FROM fl)
         |SELECT grp AS event_type, na AS n_a, nb AS n_b,
         |  CAST(sum(present) AS BIGINT) AS n_bins_hit, sum(term) AS psi,
         |  CASE WHEN sum(term) > 0.25 THEN 'major'
         |    WHEN sum(term) > 0.1 THEN 'moderate' ELSE 'stable' END AS psi_flag
         |FROM t GROUP BY 1, 2, 3""".stripMargin,
      face("sql_psi_drift") { (s, dir) =>
        viaSql(s, "graft_sql_events_sliced" ->
            Tables(s, dir).events.withColumn("in_a", col("ts") < T2))(
          "SELECT grp AS event_type, n_a, n_b, n_bins_hit, psi, psi_flag " +
          "FROM graft_psi_drift('graft_sql_events_sliced', 'event_type', " +
          "'value', 'in_a', 0.0, 500.0, 10)") }),
    // exact two-sample KS drift per event type: value distribution before
    // vs after T2 — the snapshot-shift check run before mixing data drops
    row("profile_ks_drift", (s, dir) =>
      Profile.ksDrift(Tables(s, dir).events, "event_type", "value",
        col("ts") < T2, shardWidth = 50.0)
        .withColumnRenamed("grp", "event_type"),
      // Mirrors Profile.ksDrift(event_type, value, ts < T2): per-value slice
      // counts, cumulative CDF walk, exact sup-distance; every CDF step is
      // one integer-quotient subtraction so the max is bit-stable.
      s"""WITH v AS (SELECT event_type AS grp, CAST(value AS DOUBLE) AS v,
         |  epoch_ns(ts) < $T2 AS in_a FROM events
         |  WHERE value IS NOT NULL AND ts IS NOT NULL),
         |c AS (SELECT grp, v,
         |  CAST(count(*) FILTER (WHERE in_a) AS BIGINT) AS ca,
         |  CAST(count(*) FILTER (WHERE NOT in_a) AS BIGINT) AS cb
         |  FROM v GROUP BY 1, 2),
         |cum AS (SELECT grp, v,
         |  CAST(sum(ca) OVER w AS BIGINT) AS cuma,
         |  CAST(sum(cb) OVER w AS BIGINT) AS cumb
         |  FROM c WINDOW w AS (PARTITION BY grp ORDER BY v)),
         |tot AS (SELECT grp, CAST(sum(ca) AS BIGINT) AS na,
         |  CAST(sum(cb) AS BIGINT) AS nb FROM c GROUP BY 1
         |  HAVING na > 0 AND nb > 0)
         |SELECT grp AS event_type, na AS n_a, nb AS n_b,
         |  max(abs(cuma / na - cumb / nb)) AS ks_d,
         |  1.358 * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) /
         |    (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS ks_crit,
         |  max(abs(cuma / na - cumb / nb)) >
         |    1.358 * sqrt((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) /
         |      (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))) AS drifted
         |FROM cum JOIN tot USING (grp) GROUP BY 1, 2, 3""".stripMargin,
      face("sql_ks_drift") { (s, dir) =>
        viaSql(s, "graft_sql_events_sliced" ->
            Tables(s, dir).events.withColumn("in_a", col("ts") < T2))(
          "SELECT grp AS event_type, n_a, n_b, ks_d, ks_crit, drifted " +
          "FROM graft_ks_drift('graft_sql_events_sliced', 'event_type', " +
          "'value', 'in_a', 50.0)") })
  )
}
