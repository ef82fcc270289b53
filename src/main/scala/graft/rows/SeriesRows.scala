package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.AsofJoin
import graft.sources.{Netatmo, NetatmoSource}
import graft.ts.{Evaluate, Rdp, SeriesOps, SeriesStore, StoreSource}
import graft.ts.model.{AverageValue, Period}

import Fixtures._
import QueryRow.{face, row}

/** Time-series operators over the events-derived point table, evaluate/routing, the series store and the Netatmo source. */
private[graft] object SeriesRows {
  val rows: Seq[QueryRow] = Seq(

    // ---- time-series operators over the events-derived point table ----
    row("ts_last_value", (s, dir) => SeriesOps.lastValue(pts(s, dir)),
      s"""WITH points AS ($PointsCte)
         |SELECT series_id, value AS last_value, ts AS last_ts FROM (
         |  SELECT series_id, value, ts,
         |         row_number() OVER (PARTITION BY series_id ORDER BY ts DESC, value DESC) AS rn
         |  FROM points WHERE NOT isnan(value)) WHERE rn = 1""".stripMargin),
    row("ts_minmax", (s, dir) => SeriesOps.minMaxCount(pts(s, dir)),
      s"""WITH points AS ($PointsCte)
         |SELECT series_id,
         |  min(value) FILTER (WHERE NOT isnan(value)) AS min_value,
         |  max(value) FILTER (WHERE NOT isnan(value)) AS max_value,
         |  count(*) FILTER (WHERE NOT isnan(value)) AS n_points
         |FROM points GROUP BY 1""".stripMargin),
    row("ts_range_pad", (s, dir) => SeriesOps.rangePad(pts(s, dir)),
      s"""WITH points AS ($PointsCte),
         |mm AS (SELECT series_id,
         |  min(value) FILTER (WHERE NOT isnan(value)) AS min_value,
         |  max(value) FILTER (WHERE NOT isnan(value)) AS max_value
         |FROM points GROUP BY 1)
         |SELECT series_id, min_value, max_value,
         |  CAST(floor(min_value - abs(max_value - min_value) * 0.2) AS DOUBLE) AS range_lower,
         |  CAST(ceil(max_value + abs(max_value - min_value) * 0.2) AS DOUBLE) AS range_upper
         |FROM mm""".stripMargin),
    row("ts_deltas", (s, dir) => SeriesOps.deltas(pts(s, dir)),
      s"""WITH points AS ($PointsCte)
         |SELECT series_id, ts,
         |  ts - lag(ts) OVER (PARTITION BY series_id ORDER BY ts, value) AS delta_ns
         |FROM points""".stripMargin),
    row("ts_dt_mode", (s, dir) => SeriesOps.dtMode(pts(s, dir)),
      s"""WITH points AS ($PointsCte),
         |$DtModeCte
         |SELECT series_id, dt_mode_ns FROM dmode""".stripMargin),
    row("ts_extend_axis", (s, dir) => SeriesOps.extendAxis(pts(s, dir)),
      s"""WITH points AS ($PointsCte),
         |$DtModeCte,
         |led AS (SELECT series_id, ts, value,
         |  lead(ts) OVER (PARTITION BY series_id ORDER BY ts, value) AS next_ts FROM points)
         |SELECT l.series_id, l.ts, l.value,
         |  coalesce(l.next_ts, l.ts + coalesce(m.dt_mode_ns, 0)) AS valid_to
         |FROM led l LEFT JOIN dmode m ON l.series_id = m.series_id""".stripMargin),
    row("ts_concat_chunks", (s, dir) => {
      val p = pts(s, dir)
      val first = SeriesOps.periodFilter(p, Period(T0, T2))
      val second = SeriesOps.periodFilter(p, Period(T1, T3))
        .withColumn("value", col("value") + 100.0)
      SeriesOps.concatChunks(first, second)
    },
      s"""WITH points AS ($PointsCte),
         |f AS (SELECT series_id, ts, value, 0 AS gen FROM points WHERE ts >= $T0 AND ts < $T2),
         |sd AS (SELECT series_id, ts, value + 100.0 AS value, 1 AS gen FROM points WHERE ts >= $T1 AND ts < $T3),
         |u AS (SELECT * FROM f UNION ALL SELECT * FROM sd)
         |SELECT series_id, ts, value FROM (
         |  SELECT *, row_number() OVER (PARTITION BY series_id, ts ORDER BY gen DESC, value DESC) AS rn
         |  FROM u) WHERE rn = 1""".stripMargin),
    row("ts_step_expand", (s, dir) => SeriesOps.stepExpand(pts(s, dir), AverageValue),
      s"""WITH points AS ($PointsCte),
         |led AS (SELECT series_id, ts, value,
         |  lead(ts) OVER (PARTITION BY series_id ORDER BY ts, value) AS next_ts FROM points)
         |SELECT series_id, ts, value FROM led
         |UNION ALL
         |SELECT series_id, next_ts AS ts, value FROM led WHERE next_ts IS NOT NULL""".stripMargin),
    row("ts_display_ms", (s, dir) => SeriesOps.displayMs(pts(s, dir), 3600),
      s"""WITH points AS ($PointsCte)
         |SELECT series_id, ts, value,
         |  (ts + ${3600L * NsPerS}) / 1000000 AS display_ms FROM points""".stripMargin),
    row("ts_period_filter", (s, dir) => SeriesOps.periodFilter(pts(s, dir), Period(T1, T2)),
      s"""WITH points AS ($PointsCte)
         |SELECT series_id, ts, value FROM points WHERE ts >= $T1 AND ts < $T2""".stripMargin),
    row("ts_tail_limit", (s, dir) => SeriesOps.tailLimit(pts(s, dir), 5),
      s"""WITH points AS ($PointsCte)
         |SELECT series_id, ts, value FROM (
         |  SELECT *, row_number() OVER (PARTITION BY series_id ORDER BY ts DESC, value DESC) AS rn
         |  FROM points) WHERE rn <= 5""".stripMargin),
    row("ts_current_bands", (s, dir) => {
      SeriesOps.thresholdBands(SeriesOps.lastValue(pts(s, dir)),
        "last_value", Seq(100.0 -> "red", 50.0 -> "yellow"), "green")
        .select("series_id", "last_value", "last_ts", "band")
    },
      s"""WITH points AS ($PointsCte),
         |lv AS (SELECT series_id, value AS last_value, ts AS last_ts FROM (
         |  SELECT series_id, value, ts,
         |         row_number() OVER (PARTITION BY series_id ORDER BY ts DESC, value DESC) AS rn
         |  FROM points WHERE NOT isnan(value)) WHERE rn = 1)
         |SELECT series_id, last_value, last_ts,
         |  CASE WHEN last_value > 100.0 THEN 'red'
         |       WHEN last_value > 50.0 THEN 'yellow'
         |       ELSE 'green' END AS band
         |FROM lv""".stripMargin),
    row("ts_rdp", (s, dir) => Rdp.downsample(pts(s, dir)),
      // Recursive Ramer-Douglas-Peucker as a recursive CTE: the working set is
      // (series, lo, hi) chord segments; each step finds the segment's
      // max-perpendicular-distance point via a correlated LATERAL (first-max
      // tie-break on ts, point-distance fallback for degenerate chords) and
      // splits when it exceeds the auto epsilon (n/30)*2. Kept points are the
      // distinct segment endpoints. Exact twin of Rdp.simplify.
      s"""WITH RECURSIVE pts AS (
         |  SELECT series_id, ts, value FROM ($PointsCte)
         |  WHERE value IS NOT NULL AND NOT isnan(value)
         |),
         |eps AS (SELECT series_id, (count(*) / 30.0) * 2.0 AS e FROM pts GROUP BY 1),
         |seg(series_id, lo, hi) AS (
         |  SELECT series_id, min(ts), max(ts) FROM pts GROUP BY 1
         |  UNION ALL
         |  SELECT b.series_id, b.lo, b.hi
         |  FROM seg s JOIN LATERAL (
         |    WITH chord AS (
         |      SELECT p1.value AS y1, p2.value AS y2,
         |             CAST(s.lo AS DOUBLE) AS x1, CAST(s.hi AS DOUBLE) AS x2
         |      FROM pts p1, pts p2
         |      WHERE p1.series_id = s.series_id AND p1.ts = s.lo
         |        AND p2.series_id = s.series_id AND p2.ts = s.hi
         |    ),
         |    best AS (
         |      SELECT p.ts,
         |        CASE WHEN sqrt((c.x2-c.x1)*(c.x2-c.x1) + (c.y2-c.y1)*(c.y2-c.y1)) = 0
         |             THEN sqrt((p.ts-c.x1)*(p.ts-c.x1) + (p.value-c.y1)*(p.value-c.y1))
         |             ELSE abs((c.y2-c.y1)*p.ts - (c.x2-c.x1)*p.value + c.x2*c.y1 - c.y2*c.x1)
         |                  / sqrt((c.x2-c.x1)*(c.x2-c.x1) + (c.y2-c.y1)*(c.y2-c.y1))
         |        END AS dist
         |      FROM pts p, chord c
         |      WHERE p.series_id = s.series_id AND p.ts > s.lo AND p.ts < s.hi
         |      ORDER BY dist DESC, p.ts ASC LIMIT 1
         |    )
         |    SELECT s.series_id AS series_id, u.lo AS lo, u.hi AS hi
         |    FROM best b2
         |    CROSS JOIN (SELECT e FROM eps WHERE series_id = s.series_id) ee
         |    CROSS JOIN (VALUES (1), (2)) v(side)
         |    CROSS JOIN LATERAL (SELECT CASE WHEN v.side = 1 THEN s.lo ELSE b2.ts END AS lo,
         |                               CASE WHEN v.side = 1 THEN b2.ts ELSE s.hi END AS hi) u
         |    WHERE b2.dist > ee.e
         |  ) b ON true
         |),
         |kept AS (
         |  SELECT DISTINCT s.series_id, x.ts
         |  FROM seg s CROSS JOIN (VALUES (1), (2)) w(k)
         |  CROSS JOIN LATERAL (SELECT CASE WHEN w.k = 1 THEN s.lo ELSE s.hi END AS ts) x
         |)
         |SELECT k.series_id, k.ts, p.value
         |FROM kept k JOIN pts p ON p.series_id = k.series_id AND p.ts = k.ts""".stripMargin),
    row("ts_resample", (s, dir) => SeriesOps.resample(pts(s, dir), 86400L * NsPerS),
      s"""WITH points AS ($PointsCte)
         |SELECT series_id, ts - ts % ${86400L * NsPerS} AS bucket_ts,
         |  avg(value) FILTER (WHERE NOT isnan(value)) AS mean_value,
         |  min(value) FILTER (WHERE NOT isnan(value)) AS min_value,
         |  max(value) FILTER (WHERE NOT isnan(value)) AS max_value,
         |  count(value) FILTER (WHERE NOT isnan(value)) AS n_points
         |FROM points GROUP BY 1, 2""".stripMargin,
      face("sql_resample") { (s, dir) =>
        viaSql(s, "graft_sql_points" -> pts(s, dir))(
          "SELECT * FROM graft_resample('graft_sql_points', 86400000000000)") }),
    row("ts_rolling", (s, dir) => SeriesOps.rolling(pts(s, dir), 3 * 86400L * NsPerS),
      s"""WITH points AS ($PointsCte)
         |SELECT series_id, ts, value,
         |  avg(CASE WHEN NOT isnan(value) THEN value END) OVER w AS roll_mean,
         |  min(CASE WHEN NOT isnan(value) THEN value END) OVER w AS roll_min,
         |  max(CASE WHEN NOT isnan(value) THEN value END) OVER w AS roll_max,
         |  count(CASE WHEN NOT isnan(value) THEN value END) OVER w AS roll_n
         |FROM points WINDOW w AS (PARTITION BY series_id ORDER BY ts
         |  RANGE BETWEEN ${3 * 86400L * NsPerS} PRECEDING AND CURRENT ROW)""".stripMargin),
    row("ts_interpolate", (s, dir) => SeriesOps.interpolate(pts(s, dir), 86400L * NsPerS),
      // Mirrors SeriesOps.interpolate — the SAME sorted-union-window shape
      // (linear, no per-grid-point probes) so it also finishes at sf0.1; the
      // CASE/lerp arithmetic mirrors the Spark expression order exactly.
      {
        val dt = 86400L * NsPerS
        s"""WITH points AS ($PointsCte),
         |pts AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |b AS (SELECT series_id, min(ts) AS t0, max(ts) AS t1 FROM pts GROUP BY 1),
         |grid AS (SELECT series_id,
         |  unnest(range(t0 + (($dt - t0 % $dt) % $dt), t1 - t1 % $dt + 1, $dt)) AS ts FROM b),
         |u AS (SELECT series_id, ts, value, 0 AS grid FROM pts
         |      UNION ALL SELECT series_id, ts, NULL AS value, 1 AS grid FROM grid),
         |w AS (SELECT *,
         |  last_value(CASE WHEN grid = 0 THEN ts END IGNORE NULLS) OVER wb AS pt,
         |  last_value(CASE WHEN grid = 0 THEN value END IGNORE NULLS) OVER wb AS pv,
         |  first_value(CASE WHEN grid = 0 THEN ts END IGNORE NULLS) OVER wf AS nt,
         |  first_value(CASE WHEN grid = 0 THEN value END IGNORE NULLS) OVER wf AS nv
         |  FROM u WINDOW
         |    wb AS (PARTITION BY series_id ORDER BY ts, grid, value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wf AS (PARTITION BY series_id ORDER BY ts, grid, value ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT series_id, ts, CASE WHEN pt = ts THEN pv
         |  ELSE pv + (nv - pv) * (ts - pt) / (nt - pt) END AS value
         |FROM w WHERE grid = 1""".stripMargin
      }),
    row("ts_anomaly", (s, dir) => SeriesOps.anomaly(pts(s, dir), 3.0),
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |st AS (SELECT *, avg(value) OVER w AS m, stddev_samp(value) OVER w AS s
         |  FROM p WINDOW w AS (PARTITION BY series_id))
         |SELECT series_id, ts, value,
         |  CASE WHEN s > 0 THEN (value - m) / s END AS z_score,
         |  coalesce(CASE WHEN s > 0 THEN abs((value - m) / s) > 3.0 END, false) AS is_anomaly
         |FROM st""".stripMargin),
    row("ts_seasonal_profile", (s, dir) =>
      SeriesOps.seasonalProfile(pts(s, dir), 86400L * NsPerS, 3600L * NsPerS),
      s"""WITH points AS ($PointsCte)
         |SELECT series_id,
         |  ((ts % ${86400L * NsPerS} + ${86400L * NsPerS}) % ${86400L * NsPerS}) // ${3600L * NsPerS} AS slot,
         |  avg(value) FILTER (WHERE NOT isnan(value)) AS mean_value,
         |  min(value) FILTER (WHERE NOT isnan(value)) AS min_value,
         |  max(value) FILTER (WHERE NOT isnan(value)) AS max_value,
         |  count(value) FILTER (WHERE NOT isnan(value)) AS n_points
         |FROM points GROUP BY 1, 2""".stripMargin),
    // additive trend/seasonal/residual decomposition (±12-row trend MA,
    // hour-of-day seasonal slots)
    // Hyndman seasonal/trend strength over the STL components: the [0,1]
    // triage scores for routing series to the right forecaster
    row("ts_stl_strength", (s, dir) =>
      SeriesOps.stlStrength(pts(s, dir), 86400L * NsPerS, 3600L * NsPerS),
      // Mirrors SeriesOps.stlStrength: the ts_stl body, then ONE pinned
      // per-series fold (ORDER BY matching Spark's struct sort) into the
      // [n, Σr, Σr², Σ(s+r), Σ(s+r)², Σ(t+r), Σ(t+r)²] sums; variance and
      // strength expressions written with the identical operation order.
      {
        def variance(sq: Int, s: Int): String =
          s"(a[$sq] - a[$s] * a[$s] / a[1]) / a[1]"
        val vR = variance(3, 2)
        val vSR = variance(5, 4)
        val vTR = variance(7, 6)
        s"""WITH points AS ($PointsCte),
         |t AS (SELECT series_id, ts, value,
         |  ((ts % ${86400L * NsPerS} + ${86400L * NsPerS}) % ${86400L * NsPerS}) // ${3600L * NsPerS} AS slot,
         |  avg(CASE WHEN NOT isnan(value) THEN value END) OVER (
         |    PARTITION BY series_id ORDER BY ts, value
         |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS tr
         |  FROM points),
         |d AS (SELECT *, CASE WHEN NOT isnan(value) THEN value END - tr AS detr FROM t),
         |se AS (SELECT series_id, slot, avg(detr) AS seas FROM d GROUP BY 1, 2),
         |r2 AS (SELECT d.series_id, ts, value, tr, seas,
         |  CASE WHEN NOT isnan(value) THEN value END - tr - seas AS resid
         |  FROM d JOIN se USING (series_id, slot)),
         |f AS (SELECT series_id, list([resid, seas + resid, tr + resid]
         |    ORDER BY ts, value, seas, resid, tr) AS xs
         |  FROM r2 WHERE resid IS NOT NULL GROUP BY 1),
         |ag AS (SELECT series_id, list_reduce(list_prepend(
         |  [CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
         |   CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
         |   CAST(0 AS DOUBLE)],
         |  list_transform(xs, x -> [CAST(1 AS DOUBLE), x[1], x[1] * x[1],
         |    x[2], x[2] * x[2], x[3], x[3] * x[3]])),
         |  (acc, e) -> [acc[1] + e[1], acc[2] + e[2], acc[3] + e[3],
         |    acc[4] + e[4], acc[5] + e[5], acc[6] + e[6], acc[7] + e[7]]) AS a
         |  FROM f)
         |SELECT series_id, CAST(a[1] AS BIGINT) AS n_points,
         |  CASE WHEN $vSR > CAST(0 AS DOUBLE)
         |    THEN CASE WHEN CAST(1 AS DOUBLE) - ($vR) / ($vSR) < 1e-9
         |      THEN CAST(0 AS DOUBLE)
         |      ELSE CAST(1 AS DOUBLE) - ($vR) / ($vSR) END END
         |    AS seasonal_strength,
         |  CASE WHEN $vTR > CAST(0 AS DOUBLE)
         |    THEN CASE WHEN CAST(1 AS DOUBLE) - ($vR) / ($vTR) < 1e-9
         |      THEN CAST(0 AS DOUBLE)
         |      ELSE CAST(1 AS DOUBLE) - ($vR) / ($vTR) END END
         |    AS trend_strength
         |FROM ag""".stripMargin
      }),
    row("ts_stl", (s, dir) =>
      SeriesOps.stl(pts(s, dir), 86400L * NsPerS, 3600L * NsPerS,
        halfWindow = 12),
      // Mirrors SeriesOps.stl: same ±12-row NaN-safe trend MA over the
      // (ts, value) order, hour-of-day seasonal slot means of the detrended
      // values, residual = value − trend − seasonal; raw doubles — any
      // fixed-decimal snap lands boundaries exactly on this data's
      // 1e-6-grid means (measured failing both round and floor ways).
      s"""WITH points AS ($PointsCte),
         |t AS (SELECT series_id, ts, value,
         |  ((ts % ${86400L * NsPerS} + ${86400L * NsPerS}) % ${86400L * NsPerS}) // ${3600L * NsPerS} AS slot,
         |  avg(CASE WHEN NOT isnan(value) THEN value END) OVER (
         |    PARTITION BY series_id ORDER BY ts, value
         |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS tr
         |  FROM points),
         |d AS (SELECT *, CASE WHEN NOT isnan(value) THEN value END - tr AS detr FROM t),
         |se AS (SELECT series_id, slot, avg(detr) AS seas FROM d GROUP BY 1, 2)
         |SELECT d.series_id, ts, value, tr AS trend, seas AS seasonal,
         |  CASE WHEN NOT isnan(value) THEN value END - tr - seas AS residual
         |FROM d JOIN se USING (series_id, slot)""".stripMargin),
    // seasonality-adjusted anomaly detection: MAD scoring on the STL
    // residual — extreme-for-3am readings the raw score cannot see
    row("ts_stl_anomaly", (s, dir) =>
      SeriesOps.stlAnomaly(pts(s, dir), 86400L * NsPerS, 3600L * NsPerS),
      // Mirrors SeriesOps.stlAnomaly: the ts_stl residual fed through the
      // ts_outlier_mad scoring body (same medians, constants, fallback).
      s"""WITH points AS ($PointsCte),
         |t AS (SELECT series_id, ts, value,
         |  ((ts % ${86400L * NsPerS} + ${86400L * NsPerS}) % ${86400L * NsPerS}) // ${3600L * NsPerS} AS slot,
         |  avg(CASE WHEN NOT isnan(value) THEN value END) OVER (
         |    PARTITION BY series_id ORDER BY ts, value
         |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS tr
         |  FROM points),
         |d AS (SELECT *, CASE WHEN NOT isnan(value) THEN value END - tr AS detr FROM t),
         |se AS (SELECT series_id, slot, avg(detr) AS seas FROM d GROUP BY 1, 2),
         |r AS (SELECT d.series_id, ts,
         |  CASE WHEN NOT isnan(value) THEN value END - tr - seas AS value
         |  FROM d JOIN se USING (series_id, slot)),
         |p AS (SELECT series_id, ts, value FROM r WHERE NOT isnan(value)),
         |med AS (SELECT series_id, quantile_cont(value, 0.5) AS med FROM p GROUP BY 1),
         |mad AS (SELECT p.series_id, quantile_cont(abs(p.value - med.med), 0.5) AS mad,
         |  avg(abs(p.value - med.med)) AS meanad
         |  FROM p JOIN med USING (series_id) GROUP BY 1)
         |SELECT p.series_id, p.ts, p.value AS residual,
         |  CASE WHEN mad.mad > 0
         |    THEN CAST(0.6745 AS DOUBLE) * (p.value - med.med) / mad.mad
         |  WHEN mad.meanad > 0
         |    THEN (p.value - med.med) / (CAST(1.253314 AS DOUBLE) * mad.meanad)
         |  END AS mad_score,
         |  coalesce(abs(CASE WHEN mad.mad > 0
         |    THEN CAST(0.6745 AS DOUBLE) * (p.value - med.med) / mad.mad
         |  WHEN mad.meanad > 0
         |    THEN (p.value - med.med) / (CAST(1.253314 AS DOUBLE) * mad.meanad)
         |  END) > 3.5, false) AS is_outlier
         |FROM p JOIN med USING (series_id) JOIN mad USING (series_id)""".stripMargin),
    // seasonal-naive forecast: the reference's read_forecast raises
    // NotImplementedError — this is the working baseline in its place
    row("ts_forecast_naive", (s, dir) =>
      SeriesOps.forecastNaive(pts(s, dir), 86400L * NsPerS, 3600L * NsPerS,
        horizon = 24),
      // Mirrors SeriesOps.forecastNaive: the seasonalProfile slot means
      // joined onto a 24-step hourly horizon after each series' last point
      s"""WITH points AS ($PointsCte),
         |prof AS (SELECT series_id,
         |  ((ts % ${86400L * NsPerS} + ${86400L * NsPerS}) % ${86400L * NsPerS}) // ${3600L * NsPerS} AS slot,
         |  avg(value) FILTER (WHERE NOT isnan(value)) AS mean_value
         |  FROM points GROUP BY 1, 2),
         |lastp AS (SELECT series_id, max(ts) AS last_ts FROM points GROUP BY 1),
         |fut AS (SELECT series_id,
         |  last_ts + unnest(range(1, 25)) * ${3600L * NsPerS} AS ts FROM lastp),
         |slotted AS (SELECT series_id, ts,
         |  ((ts % ${86400L * NsPerS} + ${86400L * NsPerS}) % ${86400L * NsPerS}) // ${3600L * NsPerS} AS slot
         |  FROM fut)
         |SELECT s.series_id, ts, mean_value AS yhat
         |FROM slotted s LEFT JOIN prof USING (series_id, slot)""".stripMargin),
    row("ts_gaps", (s, dir) => SeriesOps.gaps(pts(s, dir), 2.0),
      s"""WITH points AS ($PointsCte),
         |$DtModeCte,
         |d AS (SELECT series_id, ts,
         |  ts - lag(ts) OVER (PARTITION BY series_id ORDER BY ts, value) AS delta_ns
         |  FROM points)
         |SELECT d.series_id, d.ts - d.delta_ns AS gap_start, d.ts AS gap_end,
         |  d.delta_ns AS gap_ns,
         |  CAST(d.delta_ns AS DOUBLE) / dm.dt_mode_ns AS gap_ratio
         |FROM d JOIN dmode dm USING (series_id)
         |WHERE d.delta_ns IS NOT NULL AND d.delta_ns > dm.dt_mode_ns * 2.0""".stripMargin),
    row("ts_percentiles", (s, dir) => SeriesOps.percentiles(pts(s, dir)),
      s"""WITH points AS ($PointsCte)
         |SELECT series_id, CAST(count(*) AS BIGINT) AS n_points,
         |  quantile_cont(value, 0.5) AS p50,
         |  quantile_cont(value, 0.9) AS p90,
         |  quantile_cont(value, 0.99) AS p99
         |FROM points WHERE NOT isnan(value) GROUP BY 1""".stripMargin),
    row("ts_trend", (s, dir) => SeriesOps.trend(pts(s, dir)),
      // Mirrors SeriesOps.trend: identical co-moment algebra, identical
      // ts/1e9 seconds conversion and operation order.
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts / 1e9 AS t, value AS y FROM points
         |  WHERE NOT isnan(value)),
         |s AS (SELECT series_id, CAST(count(*) AS BIGINT) AS n_points,
         |  sum(t) AS st, sum(y) AS sy, sum(t * t) AS stt,
         |  sum(y * y) AS syy, sum(t * y) AS sty
         |  FROM p GROUP BY 1)
         |SELECT series_id, n_points,
         |  CASE WHEN CAST(n_points AS DOUBLE) * stt - st * st > 0
         |    THEN (CAST(n_points AS DOUBLE) * sty - st * sy)
         |       / (CAST(n_points AS DOUBLE) * stt - st * st) END AS slope,
         |  CASE WHEN CAST(n_points AS DOUBLE) * stt - st * st > 0
         |    THEN (sy - ((CAST(n_points AS DOUBLE) * sty - st * sy)
         |               / (CAST(n_points AS DOUBLE) * stt - st * st)) * st)
         |       / CAST(n_points AS DOUBLE) END AS intercept,
         |  CASE WHEN CAST(n_points AS DOUBLE) * stt - st * st > 0
         |        AND CAST(n_points AS DOUBLE) * syy - sy * sy > 0
         |    THEN ((CAST(n_points AS DOUBLE) * sty - st * sy)
         |        * (CAST(n_points AS DOUBLE) * sty - st * sy))
         |       / ((CAST(n_points AS DOUBLE) * stt - st * st)
         |        * (CAST(n_points AS DOUBLE) * syy - sy * sy)) END AS r2
         |FROM s""".stripMargin),
    // sliding-window SAX motif census on the hourly observation sequence:
    // which normalized 8-observation shapes recur, across how many series
    row("ts_motifs", (s, dir) =>
      SeriesOps.saxMotifs(pts(s, dir), 3600L * NsPerS),
      // Mirrors SeriesOps.saxMotifs(hour): same lead chain over the hourly
      // observation sequence, same pinned left-assoc window mean/sd/segment
      // arithmetic, same 4-symbol breakpoints, integer census.
      {
        val hour = 3600L * NsPerS
        val leads = (1 to 7).map(i =>
          s"lead(mv, $i) OVER win AS x$i").mkString(", ")
        val muChain = (0 to 7).map(i => s"x$i").mkString(" + ")
        val sdChain = (0 to 7).map(i => s"(x$i - mu) * (x$i - mu)").mkString(" + ")
        def seg(j: Int) = {
          val z = s"((x${2 * j} + x${2 * j + 1}) / 2.0 - mu) / sd"
          s"CASE WHEN sd = 0.0 THEN 'c' WHEN $z < -0.6745 THEN 'a' " +
            s"WHEN $z < 0.0 THEN 'b' WHEN $z < 0.6745 THEN 'c' ELSE 'd' END"
        }
        val word = (0 until 4).map(seg).mkString(" || ")
        s"""WITH points AS ($PointsCte),
         |b AS (SELECT series_id, ts - ts % $hour AS bucket_ts,
         |  avg(value) FILTER (WHERE NOT isnan(value)) AS mv FROM points GROUP BY 1, 2),
         |nb AS (SELECT series_id, bucket_ts, mv FROM b WHERE mv IS NOT NULL),
         |w AS (SELECT series_id, mv AS x0, $leads FROM nb
         |  WINDOW win AS (PARTITION BY series_id ORDER BY bucket_ts)),
         |v AS (SELECT * FROM w WHERE x7 IS NOT NULL),
         |m AS (SELECT *, ($muChain) / 8.0 AS mu FROM v),
         |s AS (SELECT *, sqrt(($sdChain) / 8.0) AS sd FROM m),
         |sym AS (SELECT series_id, $word AS motif FROM s)
         |SELECT motif, CAST(count(*) AS BIGINT) AS n_windows,
         |  CAST(count(DISTINCT series_id) AS BIGINT) AS n_series
         |FROM sym GROUP BY 1 HAVING count(*) >= 2""".stripMargin
      },
      face("sql_motifs") { (s, dir) =>
        viaSql(s, "graft_sql_pts_mo" -> pts(s, dir))(
          s"SELECT * FROM graft_motifs('graft_sql_pts_mo', ${3600L * NsPerS})") }),
    // robust median-of-slopes trend (exact selection medians, pair guard)
    row("ts_theilsen", (s, dir) => SeriesOps.theilSen(pts(s, dir)),
      // Mirrors SeriesOps.theilSen: the same t1 < t2 pair slopes, the same
      // explicit selection median (rows (n+1)//2 and n//2+1 of the sorted
      // multiset, averaged), residual median for the intercept.
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts / 1e9 AS t, value AS y FROM points
         |  WHERE NOT isnan(value)),
         |pr AS (SELECT a.series_id, (b.y - a.y) / (b.t - a.t) AS m
         |  FROM p a JOIN p b ON a.series_id = b.series_id AND a.t < b.t),
         |rk AS (SELECT series_id, m,
         |  row_number() OVER (PARTITION BY series_id ORDER BY m) AS rn,
         |  count(*) OVER (PARTITION BY series_id) AS n FROM pr),
         |sl AS (SELECT series_id, sum(m) / count(*) AS slope,
         |  CAST(max(n) AS BIGINT) AS n_pairs
         |  FROM rk WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1),
         |r AS (SELECT p.series_id, p.y - sl.slope * p.t AS res
         |  FROM p JOIN sl USING (series_id)),
         |rr AS (SELECT series_id, res,
         |  row_number() OVER (PARTITION BY series_id ORDER BY res) AS rn,
         |  count(*) OVER (PARTITION BY series_id) AS n FROM r),
         |ic AS (SELECT series_id, sum(res) / count(*) AS intercept,
         |  CAST(max(n) AS BIGINT) AS n_points FROM rr
         |  WHERE rn = (n + 1) // 2 OR rn = n // 2 + 1 GROUP BY 1)
         |SELECT sl.series_id, ic.n_points, sl.n_pairs, sl.slope, ic.intercept
         |FROM sl JOIN ic USING (series_id)""".stripMargin),
    // nonparametric trend significance (the companion to the Theil-Sen
    // slope): S-statistic, tie-corrected variance, continuity-corrected z
    row("ts_mannkendall", (s, dir) => SeriesOps.mannKendall(pts(s, dir)),
      // Mirrors SeriesOps.mannKendall: integer S over time-ordered pairs,
      // tie-corrected variance, continuity-corrected z, 5% two-sided trend.
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |s AS (SELECT a.series_id,
         |  CAST(sum(CAST(sign(b.value - a.value) AS BIGINT)) AS BIGINT) AS s_stat
         |  FROM p a JOIN p b ON a.series_id = b.series_id AND a.ts < b.ts
         |  GROUP BY 1),
         |nt AS (SELECT series_id, CAST(count(*) AS BIGINT) AS n_points FROM p GROUP BY 1),
         |tt AS (SELECT series_id, sum(tk * (tk - 1) * (tk * 2 + 5)) AS tie_term FROM (
         |  SELECT series_id, CAST(count(*) AS BIGINT) AS tk FROM p GROUP BY series_id, value)
         |  WHERE tk > 1 GROUP BY 1),
         |v AS (SELECT nt.series_id, nt.n_points,
         |  coalesce(s.s_stat, CAST(0 AS BIGINT)) AS s_stat,
         |  CAST(nt.n_points * (nt.n_points - 1) * (nt.n_points * 2 + 5)
         |    - coalesce(tt.tie_term, CAST(0 AS BIGINT)) AS DOUBLE)
         |    / CAST(18 AS DOUBLE) AS var_s
         |  FROM nt LEFT JOIN s ON s.series_id = nt.series_id
         |  LEFT JOIN tt ON tt.series_id = nt.series_id),
         |zt AS (SELECT series_id, n_points, s_stat, var_s,
         |  CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / sqrt(var_s)
         |       WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / sqrt(var_s)
         |       ELSE CAST(0 AS DOUBLE) END AS z FROM v)
         |SELECT series_id, n_points, s_stat, var_s, z,
         |  CASE WHEN z > CAST(1.96 AS DOUBLE) THEN 'increasing'
         |       WHEN z < CAST(-1.96 AS DOUBLE) THEN 'decreasing'
         |       ELSE 'none' END AS trend
         |FROM zt""".stripMargin),
    // frequency-domain diagnostic: exact DFT power at the first 5
    // harmonics of the daily-resampled, mean-centered series
    row("ts_spectral", (s, dir) =>
      SeriesOps.periodogram(pts(s, dir), 86400L * NsPerS),
      // Mirrors SeriesOps.periodogram(day, maxFreq=5): the per-series
      // TIME-SORTED value list, the same fold order for mean and trig sums
      // (a plain SUM's accumulation order wobbles at the 9th digit between
      // runs), DuckDB's 1-based lambda index mapped to the 0-based DFT
      // position, the same ((2·pi)·j·t)/n angle tree.
      s"""WITH points AS ($PointsCte),
         |b AS (SELECT series_id, ts - ts % ${86400L * NsPerS} AS bucket_ts,
         |  avg(value) FILTER (WHERE NOT isnan(value)) AS mv FROM points GROUP BY 1, 2),
         |nb AS (SELECT * FROM b WHERE mv IS NOT NULL),
         |g AS (SELECT series_id, list(mv ORDER BY bucket_ts) AS vs FROM nb GROUP BY 1),
         |gm AS (SELECT series_id, vs, CAST(j AS INTEGER) AS freq,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE), vs), (a, x) -> a + x)
         |    / len(vs) AS mu
         |  FROM g CROSS JOIN range(1, 6) r(j)),
         |f AS (SELECT series_id, freq, CAST(len(vs) AS BIGINT) AS n_points,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(vs, (x, i) ->
         |    (x - mu) * cos(2 * pi() * freq * (i - 1) / len(vs)))), (a, y) -> a + y) AS sc,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(vs, (x, i) ->
         |    (x - mu) * sin(2 * pi() * freq * (i - 1) / len(vs)))), (a, y) -> a + y) AS ss
         |  FROM gm)
         |SELECT series_id, freq, n_points, sc * sc + ss * ss AS power FROM f""".stripMargin),
    // SAX words over the daily-resampled series: z-normalize, 8-segment
    // PAA, 4-symbol Gaussian breakpoints — shape-similarity strings
    row("ts_sax", (s, dir) =>
      SeriesOps.sax(pts(s, dir), 86400L * NsPerS),
      // Mirrors SeriesOps.sax(day, w=8): same time-sorted bucket-mean list,
      // same pinned mean/variance/segment folds, same floor segment bounds
      // and Gaussian breakpoints; list slices are 1-based inclusive where
      // Spark's slice takes (start, len).
      {
        val n = "len(vs)"
        val seg = s"vs[CAST((j * $n) // 8 AS INTEGER) + 1 : CAST(((j + 1) * $n) // 8 AS INTEGER)]"
        val segLen = s"(((j + 1) * $n) // 8 - (j * $n) // 8)"
        val segSum = s"list_reduce(list_prepend(CAST(0 AS DOUBLE), $seg), (a, x) -> a + x)"
        val z = s"((($segSum) / $segLen) - mu) / sdv"
        val sym = s"CASE WHEN sdv = CAST(0 AS DOUBLE) THEN 'c' " +
          s"WHEN $z < CAST(-0.6745 AS DOUBLE) THEN 'a' WHEN $z < CAST(0 AS DOUBLE) THEN 'b' " +
          s"WHEN $z < CAST(0.6745 AS DOUBLE) THEN 'c' ELSE 'd' END"
        s"""WITH points AS ($PointsCte),
         |b AS (SELECT series_id, ts - ts % ${86400L * NsPerS} AS bucket_ts,
         |  avg(value) FILTER (WHERE NOT isnan(value)) AS mv FROM points GROUP BY 1, 2),
         |nb AS (SELECT * FROM b WHERE mv IS NOT NULL),
         |g AS (SELECT series_id, list(mv ORDER BY bucket_ts) AS vs FROM nb GROUP BY 1),
         |gw AS (SELECT * FROM g WHERE len(vs) >= 8),
         |sx AS (SELECT series_id, vs,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE), vs), (a, x) -> a + x)
         |    / len(vs) AS mu FROM gw),
         |sdt AS (SELECT series_id, vs, mu,
         |  sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list_transform(vs, x -> (x - mu) * (x - mu))), (a, x) -> a + x)
         |    / len(vs)) AS sdv FROM sx)
         |SELECT series_id, CAST(len(vs) AS BIGINT) AS n_points,
         |  list_reduce(list_transform(range(0, 8), j -> $sym), (a, b) -> a || b)
         |    AS sax_word
         |FROM sdt""".stripMargin
      }),
    row("ts_outlier_mad", (s, dir) => SeriesOps.outliersMad(pts(s, dir), 3.5),
      // Mirrors SeriesOps.outliersMad: same two grouped medians, same
      // Iglewicz–Hoaglin 0.6745 score with the 1.253314·meanAD fallback,
      // same operation order; is_outlier mirrors coalesce(|score| > k,
      // false). Constants CAST to DOUBLE so DuckDB does not fold them in
      // DECIMAL arithmetic.
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |med AS (SELECT series_id, quantile_cont(value, 0.5) AS med FROM p GROUP BY 1),
         |mad AS (SELECT p.series_id, quantile_cont(abs(p.value - med.med), 0.5) AS mad,
         |  avg(abs(p.value - med.med)) AS meanad
         |  FROM p JOIN med USING (series_id) GROUP BY 1)
         |SELECT p.series_id, p.ts, p.value,
         |  CASE WHEN mad.mad > 0
         |    THEN CAST(0.6745 AS DOUBLE) * (p.value - med.med) / mad.mad
         |  WHEN mad.meanad > 0
         |    THEN (p.value - med.med) / (CAST(1.253314 AS DOUBLE) * mad.meanad)
         |  END AS mad_score,
         |  coalesce(abs(CASE WHEN mad.mad > 0
         |    THEN CAST(0.6745 AS DOUBLE) * (p.value - med.med) / mad.mad
         |  WHEN mad.meanad > 0
         |    THEN (p.value - med.med) / (CAST(1.253314 AS DOUBLE) * mad.meanad)
         |  END) > 3.5, false) AS is_outlier
         |FROM p JOIN med USING (series_id) JOIN mad USING (series_id)""".stripMargin),
    row("ts_ewma", (s, dir) => SeriesOps.ewma(pts(s, dir), alpha = 0.5, window = 16),
      // Mirrors SeriesOps.ewma: identical trailing-window list, weight
      // exponents (DuckDB's lambda index is 1-based: len−i == Spark's
      // size−1−i over a 0-based i), seeded left fold, and closed-form
      // denominator — with α = 0.5 every step is exact binary scaling, so
      // the two engines agree bit for bit.
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |w AS (SELECT series_id, ts, value,
         |  list(value) OVER (PARTITION BY series_id ORDER BY ts, value
         |    ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS lst FROM p)
         |SELECT series_id, ts, value,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(lst, (x, i) -> x * pow(CAST(0.5 AS DOUBLE), len(lst) - i))),
         |    (a, b) -> a + b)
         |  / ((CAST(1 AS DOUBLE) - pow(CAST(0.5 AS DOUBLE), len(lst)))
         |     / (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE))) AS ewma
         |FROM w""".stripMargin),
    // Holt double exponential smoothing: end-of-series level/trend state +
    // h-step linear forecasts (α = β = 0.5: every step an exact binary
    // scale, bit-identical cross-engine over the pinned fold order)
    row("ts_holt", (s, dir) => SeriesOps.holt(pts(s, dir)),
      // Mirrors SeriesOps.holt(α=β=0.5, horizon=3): the [level, trend] pair
      // rides a 2-element DOUBLE list through list_reduce (first element =
      // the [x_1, 0] init), same expression shape per step as the Spark
      // fold; DuckDB's list is built with the same (ts, value) order.
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |g AS (SELECT series_id, list(value ORDER BY ts, value) AS vs FROM p GROUP BY 1),
         |st AS (SELECT series_id, CAST(len(vs) AS BIGINT) AS n_points,
         |  list_reduce(list_transform(vs, x -> [x, CAST(0 AS DOUBLE)]),
         |    (a, e) -> [CAST(0.5 AS DOUBLE) * e[1]
         |        + CAST(0.5 AS DOUBLE) * (a[1] + a[2]),
         |      CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * e[1]
         |          + CAST(0.5 AS DOUBLE) * (a[1] + a[2])) - a[1])
         |        + CAST(0.5 AS DOUBLE) * a[2]]) AS acc
         |  FROM g)
         |SELECT series_id, n_points, acc[1] AS level, acc[2] AS trend,
         |  CAST(h AS BIGINT) AS h, acc[1] + h * acc[2] AS forecast
         |FROM st CROSS JOIN range(1, 4) r(h)""".stripMargin,
      face("sql_holt") { (s, dir) =>
        viaSql(s, "graft_sql_points_h" -> pts(s, dir))(
          "SELECT * FROM graft_holt('graft_sql_points_h', 3)") }),
    row("ts_changepoint", (s, dir) => SeriesOps.changepoint(pts(s, dir)),
      // Mirrors SeriesOps.changepoint: same three window passes (unordered
      // moments, ordered running CUSUM, peak rank with the same tie-breaks).
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |m AS (SELECT series_id, ts, value,
         |  avg(value) OVER (PARTITION BY series_id) AS mean_value,
         |  CAST(count(*) OVER (PARTITION BY series_id) AS BIGINT) AS n_points FROM p),
         |c AS (SELECT *, sum(value - mean_value) OVER (PARTITION BY series_id
         |  ORDER BY ts, value ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
         |  FROM m),
         |r AS (SELECT *, row_number() OVER (PARTITION BY series_id
         |  ORDER BY abs(cusum) DESC, ts ASC, cusum ASC) AS rk FROM c)
         |SELECT series_id, ts AS cp_ts, cusum AS cp_cusum, mean_value, n_points
         |FROM r WHERE rk = 1""".stripMargin),
    // additive Holt-Winters (period 4, positional): level + trend +
    // rotated seasonal state folded over the pinned series sort
    row("ts_holtwinters", (s, dir) => SeriesOps.holtWinters(pts(s, dir)),
      // Mirrors SeriesOps.holtWinters(m=4, α=β=γ=0.5): same rotated-seasonal
      // fold over the same pinned (ts, value) sort — the state list is
      // [l, b, s1..s4], each step consumes a[3] and appends the refreshed
      // slot; l1 is re-derived inline where referenced (no lateral state).
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |g AS (SELECT series_id, list(value ORDER BY ts, value) AS vs FROM p GROUP BY 1),
         |st AS (SELECT series_id, CAST(len(vs) AS BIGINT) AS n_points,
         |  list_reduce(list_transform(vs, x -> [x, CAST(0 AS DOUBLE),
         |      CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
         |      CAST(0 AS DOUBLE)]),
         |    (a, e) -> [
         |      CAST(0.5 AS DOUBLE) * (e[1] - a[3])
         |        + CAST(0.5 AS DOUBLE) * (a[1] + a[2]),
         |      CAST(0.5 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * (e[1] - a[3])
         |          + CAST(0.5 AS DOUBLE) * (a[1] + a[2])) - a[1])
         |        + CAST(0.5 AS DOUBLE) * a[2],
         |      a[4], a[5], a[6],
         |      CAST(0.5 AS DOUBLE) * (e[1] - (CAST(0.5 AS DOUBLE) * (e[1] - a[3])
         |          + CAST(0.5 AS DOUBLE) * (a[1] + a[2])))
         |        + CAST(0.5 AS DOUBLE) * a[3]]) AS acc
         |  FROM g)
         |SELECT series_id, n_points, acc[1] AS level, acc[2] AS trend,
         |  CAST(h AS BIGINT) AS h,
         |  acc[1] + h * acc[2] + acc[CAST(2 + h AS INTEGER)] AS forecast
         |FROM st CROSS JOIN range(1, 5) r(h)""".stripMargin),
    row("ts_autocorr", (s, dir) => SeriesOps.autocorr(pts(s, dir), maxLag = 3),
      // Mirrors SeriesOps.autocorr: same per-lag lagged pairs (one window
      // per lag constant — DuckDB's lag() offset must be a literal), same
      // co-moment closed form as ts_corr.
      {
        // one named window per branch: DuckDB scopes WINDOW names across
        // the whole set operation, so re-using `win` is a parse error
        def lagSel(l: Int) =
          s"""SELECT series_id, $l AS lag, lag(value, $l) OVER win$l AS x, value AS y
           |  FROM p WINDOW win$l AS (PARTITION BY series_id ORDER BY ts, value)""".stripMargin
        s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |lagged AS (
         |${lagSel(1)}
         |UNION ALL
         |${lagSel(2)}
         |UNION ALL
         |${lagSel(3)}),
         |s AS (SELECT series_id, lag, CAST(count(*) AS BIGINT) AS n_pairs,
         |  sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
         |  sum(y * y) AS syy, sum(x * y) AS sxy
         |  FROM lagged WHERE x IS NOT NULL GROUP BY 1, 2)
         |SELECT series_id, lag, n_pairs,
         |  CASE WHEN CAST(n_pairs AS DOUBLE) * sxx - sx * sx > 0
         |        AND CAST(n_pairs AS DOUBLE) * syy - sy * sy > 0
         |    THEN (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
         |      / sqrt((CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
         |           * (CAST(n_pairs AS DOUBLE) * syy - sy * sy)) END AS acf
         |FROM s""".stripMargin
      }),
    // partial autocorrelation via Durbin-Levinson over the textbook ACF:
    // the Box-Jenkins order-selection diagnostic (AR(p) cuts off at p)
    row("ts_pacf", (s, dir) => SeriesOps.pacf(pts(s, dir), maxLag = 6),
      // Mirrors SeriesOps.pacf(maxLag = 6): the same textbook ACF body, then
      // the Durbin-Levinson recursion unrolled as one LINEAR CTE chain (each
      // step referenced once — no MATERIALIZED needed): per step, the same
      // seeded-0.0 inner folds, the same reflection, 1-based list indices
      // mapping Spark's 0-based lambda index via i_duck = i_spark + 1.
      {
        def lagSel(l: Int) =
          s"""SELECT series_id, mean, denom, $l AS lag,
           |  lag(value, $l) OVER lwin$l AS x, value AS y FROM ct
           |  WINDOW lwin$l AS (PARTITION BY series_id ORDER BY ts, value)""".stripMargin
        def sumFold(terms: String) =
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $terms), (a, c) -> a + c)"
        def step(k: Int) = {
          val sumA = sumFold(s"list_transform(phi, (x, i) -> x * rhos[$k - i])")
          val sumB = sumFold("list_transform(phi, (x, i) -> x * rhos[i])")
          val pkk = "(num / den)"
          s"""q$k AS (SELECT series_id, rhos, phi, pk,
           |  CASE WHEN $k <= len(rhos) THEN rhos[$k] - $sumA END AS num,
           |  CASE WHEN $k <= len(rhos) THEN 1.0 - $sumB END AS den
           |  FROM p${k - 1}),
           |p$k AS (SELECT series_id, rhos,
           |  CASE WHEN $k <= len(rhos)
           |    THEN list_append(list_transform(phi, (x, i) -> x - $pkk * phi[$k - i]), $pkk)
           |    ELSE phi END AS phi,
           |  CASE WHEN $k <= len(rhos) THEN list_append(pk, $pkk) ELSE pk END AS pk
           |  FROM q$k)""".stripMargin
        }
        s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |st AS (SELECT series_id, ts, value,
         |  avg(value) OVER (PARTITION BY series_id) AS mean FROM p),
         |ct AS (SELECT *, sum((value - mean) * (value - mean))
         |    OVER (PARTITION BY series_id) AS denom FROM st),
         |lagged AS (
         |${(1 to 6).map(lagSel).mkString("\nUNION ALL\n")}),
         |s AS (SELECT series_id, lag, max(denom) AS denom,
         |  sum((y - mean) * (x - mean)) AS num
         |  FROM lagged WHERE x IS NOT NULL AND denom > 0 GROUP BY 1, 2),
         |r AS (SELECT series_id, list(num / denom ORDER BY lag) AS rhos
         |  FROM s GROUP BY 1),
         |p0 AS (SELECT series_id, rhos, CAST([] AS DOUBLE[]) AS phi,
         |  CAST([] AS DOUBLE[]) AS pk FROM r),
         |${(1 to 6).map(step).mkString(",\n")}
         |SELECT series_id, CAST(u.i AS INTEGER) AS lag,
         |  rhos[CAST(u.i AS INTEGER)] AS rho, pk[CAST(u.i AS INTEGER)] AS pacf
         |FROM p6 CROSS JOIN range(1, 7) u(i) WHERE u.i <= len(pk)""".stripMargin
      },
      face("sql_pacf") { (s, dir) =>
        viaSql(s, "graft_sql_pts_pc" -> pts(s, dir))(
          "SELECT * FROM graft_pacf('graft_sql_pts_pc', 6)") }),
    // Ljung-Box whiteness test at h = min(6, n-1): the "is this residual
    // still structured" gate over the textbook autocovariance ACF
    row("ts_ljungbox", (s, dir) => SeriesOps.ljungBox(pts(s, dir), maxLag = 6),
      // Mirrors SeriesOps.ljungBox(maxLag = 6): same full-series-mean ACF
      // (autocovariance numerator over the Σ(x−x̄)² denominator), same
      // adaptive df = count of lags with ≥ 1 pair, same literal χ² table.
      {
        def lagSel(l: Int) =
          s"""SELECT series_id, n, mean, denom, $l AS lag,
           |  lag(value, $l) OVER lwin$l AS x, value AS y FROM ct
           |  WINDOW lwin$l AS (PARTITION BY series_id ORDER BY ts, value)""".stripMargin
        val crit = SeriesOps.ChiSq95.zipWithIndex
          .map { case (c, i) => s"WHEN ${i + 1} THEN $c" }.mkString(" ")
        s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |st AS (SELECT series_id, ts, value,
         |  CAST(count(*) OVER (PARTITION BY series_id) AS BIGINT) AS n,
         |  avg(value) OVER (PARTITION BY series_id) AS mean FROM p),
         |ct AS (SELECT *, sum((value - mean) * (value - mean))
         |    OVER (PARTITION BY series_id) AS denom FROM st),
         |lagged AS (
         |${(1 to 6).map(lagSel).mkString("\nUNION ALL\n")}),
         |s AS (SELECT series_id, lag, max(n) AS n, max(denom) AS denom,
         |  sum((y - mean) * (x - mean)) AS num
         |  FROM lagged WHERE x IS NOT NULL GROUP BY 1, 2),
         |a AS (SELECT series_id, max(n) AS n_points,
         |  CAST(count(*) AS BIGINT) AS df,
         |  max(CASE WHEN denom > 0 THEN 0.0 ELSE 1.0 END) AS degen,
         |  sum(CASE WHEN denom > 0 THEN (num / denom) * (num / denom)
         |    / (CAST(n AS DOUBLE) - CAST(lag AS DOUBLE)) END) AS sm
         |  FROM s GROUP BY 1)
         |SELECT series_id, n_points, df,
         |  CASE WHEN degen = 0.0 THEN CAST(n_points AS DOUBLE)
         |    * (CAST(n_points AS DOUBLE) + 2.0) * sm END AS q_stat,
         |  CASE WHEN degen = 0.0 THEN (CAST(n_points AS DOUBLE)
         |    * (CAST(n_points AS DOUBLE) + 2.0) * sm)
         |    > (CASE df $crit END) END AS reject_white_noise
         |FROM a""".stripMargin
      },
      face("sql_ljungbox") { (s, dir) =>
        viaSql(s, "graft_sql_pts_lb" -> pts(s, dir))(
          "SELECT * FROM graft_ljungbox('graft_sql_pts_lb', 6)") }),
    // 7-day-holdout backtest of the seasonal-naive forecaster: slot-mean
    // profile from the train slice, MAE + signed bias per series
    row("ts_backtest", (s, dir) => SeriesOps.backtestNaive(pts(s, dir),
      86400L * NsPerS, 3600L * NsPerS, 7L * 86400L * NsPerS),
      // Mirrors SeriesOps.backtestNaive(day, hour, 7d): same global cutoff,
      // same non-negative slot arithmetic, avg FILTERs mirror Spark's
      // null-skipping aggregates over unscored slots.
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |cut AS (SELECT max(ts) - ${7L * 86400L * NsPerS} AS c FROM p),
         |tr AS (SELECT series_id,
         |  ((ts % ${86400L * NsPerS} + ${86400L * NsPerS}) % ${86400L * NsPerS}) // ${3600L * NsPerS} AS slot,
         |  avg(value) AS yhat
         |  FROM p CROSS JOIN cut WHERE ts <= c GROUP BY 1, 2),
         |te AS (SELECT series_id,
         |  ((ts % ${86400L * NsPerS} + ${86400L * NsPerS}) % ${86400L * NsPerS}) // ${3600L * NsPerS} AS slot,
         |  value
         |  FROM p CROSS JOIN cut WHERE ts > c)
         |SELECT te.series_id, CAST(count(*) AS BIGINT) AS n_test,
         |  CAST(count(tr.yhat) AS BIGINT) AS n_scored,
         |  avg(abs(te.value - tr.yhat)) AS mae,
         |  avg(te.value - tr.yhat) AS bias
         |FROM te LEFT JOIN tr USING (series_id, slot)
         |GROUP BY 1""".stripMargin),
    row("ts_monthly", (s, dir) => SeriesOps.monthly(pts(s, dir)),
      // Mirrors SeriesOps.monthly: same +1h display shift, same calendar
      // month truncation (Spark's session tz is pinned UTC, so date_trunc
      // agrees with DuckDB's naive timestamps).
      s"""WITH points AS ($PointsCte)
         |SELECT series_id,
         |  epoch_us(date_trunc('month', make_timestamp((ts + ${3600L * NsPerS}) // 1000))) AS month_start_us,
         |  CAST(count(*) AS BIGINT) AS n_points,
         |  avg(value) AS mean_value, min(value) AS min_value, max(value) AS max_value
         |FROM points WHERE NOT isnan(value) GROUP BY 1, 2""".stripMargin),
    // heating/cooling degree days per UTC month (base 17): the classic
    // weather-energy rollup over the daily-mean resample
    row("ts_degree_days", (s, dir) => SeriesOps.degreeDays(pts(s, dir)),
      // Mirrors SeriesOps.degreeDays(base 17): same NaN-ignoring daily mean,
      // same UTC month truncation, same max(0, ·) integrands.
      s"""WITH points AS ($PointsCte),
         |d AS (SELECT series_id, ts - ts % 86400000000000 AS bucket_ts,
         |  avg(CASE WHEN NOT isnan(value) THEN value END) AS mean_value
         |  FROM points GROUP BY 1, 2),
         |m AS (SELECT series_id,
         |  epoch_us(date_trunc('month', make_timestamp(bucket_ts // 1000))) AS month_start_us,
         |  mean_value FROM d WHERE mean_value IS NOT NULL)
         |SELECT series_id, month_start_us, CAST(count(*) AS BIGINT) AS n_days,
         |  sum(greatest(CAST(0 AS DOUBLE), 17.0 - mean_value)) AS hdd,
         |  sum(greatest(CAST(0 AS DOUBLE), mean_value - 17.0)) AS cdd
         |FROM m GROUP BY 1, 2""".stripMargin),
    // DST-aware calendar months: real IANA zone, not a fixed offset
    row("ts_monthly_tz", (s, dir) => SeriesOps.monthlyTz(pts(s, dir)),
      // Mirrors SeriesOps.monthlyTz: ICU AT TIME ZONE both ways — naive-UTC →
      // zone wall clock, truncate to the local month, re-anchor the local
      // month start to its UTC instant. Spark's JVM tzdb and DuckDB's ICU
      // agree on the IANA rules.
      s"""WITH points AS ($PointsCte)
         |SELECT series_id,
         |  epoch_us((date_trunc('month',
         |    (make_timestamp(ts // 1000) AT TIME ZONE 'UTC') AT TIME ZONE 'Europe/Oslo'))
         |    AT TIME ZONE 'Europe/Oslo') AS month_start_us,
         |  CAST(count(*) AS BIGINT) AS n_points,
         |  avg(value) AS mean_value, min(value) AS min_value, max(value) AS max_value
         |FROM points WHERE NOT isnan(value) GROUP BY 1, 2""".stripMargin),
    row("ts_peaks", (s, dir) => SeriesOps.peaks(pts(s, dir), delta = 5.0),
      // Mirrors SeriesOps.peaks: raw-double neighbor comparisons, no
      // accumulation — the discrete peak set cannot drift between engines.
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |n AS (SELECT series_id, ts, value,
         |  lag(value) OVER win AS prev_value, lead(value) OVER win AS next_value
         |  FROM p WINDOW win AS (PARTITION BY series_id ORDER BY ts, value))
         |SELECT series_id, ts, value, prev_value, next_value FROM n
         |WHERE prev_value IS NOT NULL AND next_value IS NOT NULL
         |  AND value > prev_value AND value > next_value
         |  AND value - prev_value >= CAST(5 AS DOUBLE)
         |  AND value - next_value >= CAST(5 AS DOUBLE)""".stripMargin),
    row("ts_ohlc", (s, dir) => SeriesOps.ohlc(pts(s, dir), 86400L * NsPerS),
      // Mirrors SeriesOps.ohlc: DuckDB's ordered-aggregate first/last mirror
      // min_by/max_by over the (ts, value) tuple exactly. `ts - ts % dt`
      // matches Spark's pmod bucketing only because epoch-ns timestamps are
      // non-negative here (same assumption as ts_resample/events_retention;
      // a pre-1970 ts would bucket differently under truncated %).
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value))
         |SELECT series_id, ts - ts % ${86400L * NsPerS} AS bucket_ts,
         |  first(value ORDER BY ts, value) AS open,
         |  max(value) AS high, min(value) AS low,
         |  last(value ORDER BY ts, value) AS close,
         |  CAST(count(*) AS BIGINT) AS n_points
         |FROM p GROUP BY 1, 2""".stripMargin),
    row("ts_winsorize", (s, dir) => SeriesOps.winsorize(pts(s, dir), 0.05, 0.95),
      // Mirrors SeriesOps.winsorize: same exact quantiles, same clamp order.
      s"""WITH points AS ($PointsCte),
         |p AS (SELECT series_id, ts, value FROM points WHERE NOT isnan(value)),
         |q AS (SELECT series_id, quantile_cont(value, 0.05) AS qlo,
         |  quantile_cont(value, 0.95) AS qhi FROM p GROUP BY 1)
         |SELECT p.series_id, p.ts, p.value,
         |  least(greatest(p.value, q.qlo), q.qhi) AS value_winsorized,
         |  (p.value < q.qlo OR p.value > q.qhi) AS is_clipped
         |FROM p JOIN q USING (series_id)""".stripMargin),
    // pairwise correlation is inherently quadratic in the series set, so
    // the query selects a bounded station group (user_id < 25) up front
    row("ts_corr", (s, dir) => {
      val p = Tables(s, dir).eventsUs.where(col("user_id") < 25)
        .select(concat(lit("shyft://events/u"), col("user_id"), lit("/"),
          col("event_type")).as("series_id"), col("ts"), col("value"))
      SeriesOps.pairCorrelation(p, 86400L * NsPerS)
    },
      // Mirrors SeriesOps.pairCorrelation: same resample reduction, same
      // canonical pair join, and the co-moment corr formula written with the
      // identical operation order.
      {
        val day = 86400L * NsPerS
        s"""WITH points AS (SELECT 'shyft://events/u' || user_id || '/' || event_type AS series_id,
         |  epoch_ns(ts) AS ts, value FROM events WHERE user_id < 25),
         |b AS (SELECT series_id, ts - ts % $day AS bucket_ts,
         |  avg(value) FILTER (WHERE NOT isnan(value)) AS mv FROM points GROUP BY 1, 2),
         |nb AS (SELECT * FROM b WHERE mv IS NOT NULL),
         |s AS (SELECT a.series_id AS series_a, c.series_id AS series_b,
         |  count(*) AS n_buckets, sum(a.mv) AS sx, sum(c.mv) AS sy,
         |  sum(a.mv * a.mv) AS sxx, sum(c.mv * c.mv) AS syy, sum(a.mv * c.mv) AS sxy
         |  FROM nb a JOIN nb c USING (bucket_ts)
         |  WHERE a.series_id < c.series_id GROUP BY 1, 2)
         |SELECT series_a, series_b, n_buckets,
         |  CASE WHEN CAST(n_buckets AS DOUBLE) * sxx - sx * sx > 0
         |        AND CAST(n_buckets AS DOUBLE) * syy - sy * sy > 0
         |    THEN (CAST(n_buckets AS DOUBLE) * sxy - sx * sy)
         |      / sqrt((CAST(n_buckets AS DOUBLE) * sxx - sx * sx)
         |           * (CAST(n_buckets AS DOUBLE) * syy - sy * sy)) END AS corr
         |FROM s""".stripMargin
      }),
    // Spearman over the same bounded station group: Pearson on per-pair
    // average ranks — monotone relations read +-1, spikes can't dominate
    row("ts_spearman", (s, dir) => {
      val p = Tables(s, dir).eventsUs.where(col("user_id") < 25)
        .select(concat(lit("shyft://events/u"), col("user_id"), lit("/"),
          col("event_type")).as("series_id"), col("ts"), col("value"))
      SeriesOps.spearmanCorrelation(p, 86400L * NsPerS)
    },
      // Mirrors SeriesOps.spearmanCorrelation(day): same per-pair average
      // ranks (rank() + (ties-1)/2 — both engines' rank() is min-rank) and
      // the same exact-in-doubles co-moment formula over them.
      {
        val day = 86400L * NsPerS
        s"""WITH points AS (SELECT 'shyft://events/u' || user_id || '/' || event_type AS series_id,
         |  epoch_ns(ts) AS ts, value FROM events WHERE user_id < 25),
         |b AS (SELECT series_id, ts - ts % $day AS bucket_ts,
         |  avg(value) FILTER (WHERE NOT isnan(value)) AS mv FROM points GROUP BY 1, 2),
         |nb AS (SELECT * FROM b WHERE mv IS NOT NULL),
         |pr AS (SELECT a.series_id AS series_a, c.series_id AS series_b,
         |  a.mv AS x, c.mv AS y
         |  FROM nb a JOIN nb c USING (bucket_ts)
         |  WHERE a.series_id < c.series_id),
         |rk AS (SELECT series_a, series_b,
         |  CAST(rank() OVER (PARTITION BY series_a, series_b ORDER BY x) AS DOUBLE)
         |    + (CAST(count(*) OVER (PARTITION BY series_a, series_b, x) AS DOUBLE) - 1.0) / 2.0 AS rx,
         |  CAST(rank() OVER (PARTITION BY series_a, series_b ORDER BY y) AS DOUBLE)
         |    + (CAST(count(*) OVER (PARTITION BY series_a, series_b, y) AS DOUBLE) - 1.0) / 2.0 AS ry
         |  FROM pr),
         |s AS (SELECT series_a, series_b, count(*) AS n_buckets,
         |  sum(rx) AS sx, sum(ry) AS sy, sum(rx * rx) AS sxx,
         |  sum(ry * ry) AS syy, sum(rx * ry) AS sxy
         |  FROM rk GROUP BY 1, 2)
         |SELECT series_a, series_b, n_buckets,
         |  CASE WHEN CAST(n_buckets AS DOUBLE) * sxx - sx * sx > 0
         |        AND CAST(n_buckets AS DOUBLE) * syy - sy * sy > 0
         |    THEN (CAST(n_buckets AS DOUBLE) * sxy - sx * sy)
         |      / sqrt((CAST(n_buckets AS DOUBLE) * sxx - sx * sx)
         |           * (CAST(n_buckets AS DOUBLE) * syy - sy * sy)) END AS rho
         |FROM s""".stripMargin
      },
      face("sql_spearman") { (s, dir) =>
        viaSql(s, "graft_sql_pts_sp" -> Tables(s, dir).eventsUs.where(col("user_id") < 25)
          .select(concat(lit("shyft://events/u"), col("user_id"), lit("/"),
            col("event_type")).as("series_id"), col("ts"), col("value")))(
          s"SELECT * FROM graft_spearman('graft_sql_pts_sp', ${86400L * NsPerS})") }),
    // DTW elastic shape distance per pair on a TIGHTER station group (the
    // DP is quadratic per pair): time-shifted lookalikes read near 0
    // where lag-0 alignment punishes the shift
    row("ts_dtw", (s, dir) => {
      val p = Tables(s, dir).eventsUs.where(col("user_id") < 10)
        .select(concat(lit("shyft://events/u"), col("user_id"), lit("/"),
          col("event_type")).as("series_id"), col("ts"), col("value"))
      SeriesOps.dtw(p, 86400L * NsPerS)
    },
      // Mirrors SeriesOps.dtw(day buckets, user_id < 10): the identical
      // nested seeded fold — outer over a's values carrying the previous DP
      // row, inner building the next row left to right (DuckDB's 1-based
      // lambda index vs Spark's 0-based shifts every position by one), the
      // same 1e150 boundary sentinel and min/add order.
      {
        val day = 86400L * NsPerS
        s"""WITH points AS (SELECT 'shyft://events/u' || user_id || '/' || event_type AS series_id,
         |  epoch_ns(ts) AS ts, value FROM events WHERE user_id < 10),
         |b AS (SELECT series_id, ts - ts % $day AS bucket_ts,
         |  avg(value) FILTER (WHERE NOT isnan(value)) AS mv FROM points GROUP BY 1, 2),
         |nb AS (SELECT * FROM b WHERE mv IS NOT NULL),
         |g AS (SELECT series_id, list(mv ORDER BY bucket_ts) AS vs FROM nb GROUP BY 1),
         |p AS (SELECT ga.series_id AS series_a, gb.series_id AS series_b,
         |  ga.vs AS av, gb.vs AS bv FROM g ga CROSS JOIN g gb
         |  WHERE ga.series_id < gb.series_id),
         |d AS (SELECT series_a, series_b, CAST(len(av) AS BIGINT) AS n_a,
         |  CAST(len(bv) AS BIGINT) AS n_b,
         |  list_reduce(
         |    list_prepend(
         |      list_prepend(CAST(0 AS DOUBLE),
         |        list_transform(bv, x -> CAST(1e150 AS DOUBLE))),
         |      list_transform(av, x -> [x])),
         |    (prev, e) -> list_reduce(
         |      list_prepend([CAST(1e150 AS DOUBLE)],
         |        list_transform(bv, (y, j) -> [y, CAST(j AS DOUBLE)])),
         |      (nr, e2) -> list_append(nr,
         |        abs(e[1] - e2[1]) + least(
         |          prev[CAST(e2[2] AS INTEGER) + 1],
         |          nr[CAST(e2[2] AS INTEGER)],
         |          prev[CAST(e2[2] AS INTEGER)])))) AS dp
         |  FROM p)
         |SELECT series_a, series_b, n_a, n_b,
         |  dp[CAST(n_b AS INTEGER) + 1] AS dtw_dist,
         |  dp[CAST(n_b AS INTEGER) + 1] / CAST(n_a + n_b AS DOUBLE)
         |    AS dtw_per_step
         |FROM d""".stripMargin
      },
      face("sql_dtw") { (s, dir) =>
        viaSql(s, "graft_sql_pts_dtw" -> Tables(s, dir).eventsUs.where(col("user_id") < 10)
          .select(concat(lit("shyft://events/u"), col("user_id"), lit("/"),
            col("event_type")).as("series_id"), col("ts"), col("value")))(
          s"SELECT * FROM graft_dtw('graft_sql_pts_dtw', ${86400L * NsPerS})") }),
    // lead/lag diagnostic: Pearson corr of (x_t, y_{t+lag·day}) per pair
    // at lags -3..3 on the shared daily axis
    row("ts_crosscorr", (s, dir) => {
      val p = Tables(s, dir).eventsUs.where(col("user_id") < 25)
        .select(concat(lit("shyft://events/u"), col("user_id"), lit("/"),
          col("event_type")).as("series_id"), col("ts"), col("value"))
      SeriesOps.crossCorrelation(p, 86400L * NsPerS)
    },
      // Mirrors SeriesOps.crossCorrelation(day, maxLag=3): the ts_corr body
      // with the lag fan-out on the left side of the bucket equi-join.
      {
        val day = 86400L * NsPerS
        s"""WITH points AS (SELECT 'shyft://events/u' || user_id || '/' || event_type AS series_id,
         |  epoch_ns(ts) AS ts, value FROM events WHERE user_id < 25),
         |b AS (SELECT series_id, ts - ts % $day AS bucket_ts,
         |  avg(value) FILTER (WHERE NOT isnan(value)) AS mv FROM points GROUP BY 1, 2),
         |nb AS (SELECT * FROM b WHERE mv IS NOT NULL),
         |s AS (SELECT a.series_id AS series_a, c.series_id AS series_b,
         |  CAST(l.lag AS INTEGER) AS lag,
         |  count(*) AS n_buckets, sum(a.mv) AS sx, sum(c.mv) AS sy,
         |  sum(a.mv * a.mv) AS sxx, sum(c.mv * c.mv) AS syy, sum(a.mv * c.mv) AS sxy
         |  FROM nb a CROSS JOIN range(-3, 4) l(lag)
         |  JOIN nb c ON c.bucket_ts = a.bucket_ts + l.lag * $day
         |  WHERE a.series_id < c.series_id GROUP BY 1, 2, 3)
         |SELECT series_a, series_b, lag, n_buckets,
         |  CASE WHEN CAST(n_buckets AS DOUBLE) * sxx - sx * sx > 0
         |        AND CAST(n_buckets AS DOUBLE) * syy - sy * sy > 0
         |    THEN (CAST(n_buckets AS DOUBLE) * sxy - sx * sy)
         |      / sqrt((CAST(n_buckets AS DOUBLE) * sxx - sx * sx)
         |           * (CAST(n_buckets AS DOUBLE) * syy - sy * sy)) END AS corr
         |FROM s""".stripMargin
      }),
    row("ts_asof_join", (s, dir) => {
      val e = Tables(s, dir).eventsUs
      val left = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val right = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("r_value"))
      AsofJoin.backward(left, right, Seq("user_id"))
    },
      """SELECT l.user_id, l.ts, l.value, r.ts AS right_ts, r.r_value AS right_r_value
        |FROM (SELECT user_id, epoch_ns(ts) AS ts, value FROM events WHERE event_type = 'click') l
        |ASOF LEFT JOIN (SELECT user_id, epoch_ns(ts) AS ts, value AS r_value FROM events WHERE event_type = 'purchase') r
        |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),
    row("ts_asof_tolerance", (s, dir) => {
      val e = Tables(s, dir).eventsUs
      val left = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      val right = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value").as("r_value"))
      AsofJoin.backward(left, right, Seq("user_id"), toleranceNs = 2L * 86400 * NsPerS)
    },
      s"""SELECT l.user_id, l.ts, l.value,
         |  CASE WHEN l.ts - r.ts <= ${2L * 86400 * NsPerS} THEN r.ts END AS right_ts,
         |  CASE WHEN l.ts - r.ts <= ${2L * 86400 * NsPerS} THEN r.r_value END AS right_r_value
         |FROM (SELECT user_id, epoch_ns(ts) AS ts, value FROM events WHERE event_type = 'click') l
         |ASOF LEFT JOIN (SELECT user_id, epoch_ns(ts) AS ts, value AS r_value FROM events WHERE event_type = 'purchase') r
         |ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin),

    // ---- evaluate/routing + store merge + find ----
    row("eval_routing", (s, dir) => {
      val warehouse = java.nio.file.Files.createTempDirectory("graft-eval").toString
      val ev = Evaluate.default(new SeriesStore(s, warehouse))
      val ids = Seq("mock1://a/1", "mock2://b/2", "mock1://c/3", "heartbeat://cb/ping")
      ev.evaluate(s, ids, Period(1704067200L * NsPerS, 1704067260L * NsPerS))
    },
      s"""WITH t AS (SELECT ts FROM range(${1704067200L * NsPerS}, ${1704067260L * NsPerS}, $NsPerS) r(ts))
         |SELECT 0 AS ordinal, 'mock1://a/1' AS series_id, ts, 1.0 AS value FROM t
         |UNION ALL SELECT 1, 'mock2://b/2', ts, 2.0 FROM t
         |UNION ALL SELECT 2, 'mock1://c/3', ts, 3.0 FROM t
         |UNION ALL SELECT 3, 'heartbeat://cb/ping', ts, 1.0 FROM t""".stripMargin),
    row("synthetic_v2", (s, dir) => {
      s.read.format("graft-synthetic")
        .option("ids", "heartbeat://cb/ping,mock1://a/2.5")
        .option("startNs", 1704067200L * NsPerS)
        .option("endNs", 1704067260L * NsPerS)
        .load()
    },
      s"""WITH t AS (SELECT ts FROM range(${1704067200L * NsPerS}, ${1704067260L * NsPerS}, $NsPerS) r(ts))
         |SELECT 'heartbeat://cb/ping' AS series_id, ts, 1.0 AS value FROM t
         |UNION ALL SELECT 'mock1://a/2.5', ts, 2.5 FROM t""".stripMargin),
    row("store_merge", (s, dir) => {
      val warehouse = java.nio.file.Files.createTempDirectory("graft-merge").toString
      val store = new SeriesStore(s, warehouse, numBuckets = 8)
      val p = pts(s, dir)
      store.merge("events", SeriesOps.periodFilter(p, Period(T0, T2)))
      val second = SeriesOps.periodFilter(p, Period(T1, T3))
        .withColumn("value", col("value") + 100.0)
      store.merge("events", second)
      store.merge("events", second) // idempotence: re-merge is a no-op
      store.read("events")
    },
      s"""WITH points AS ($PointsCte),
         |f AS (SELECT series_id, ts, value, 0 AS gen FROM points WHERE ts >= $T0 AND ts < $T2),
         |sd AS (SELECT series_id, ts, value + 100.0 AS value, 1 AS gen FROM points WHERE ts >= $T1 AND ts < $T3),
         |u AS (SELECT * FROM f UNION ALL SELECT * FROM sd)
         |SELECT series_id, ts, value FROM (
         |  SELECT *, row_number() OVER (PARTITION BY series_id, ts ORDER BY gen DESC, value DESC) AS rn
         |  FROM u) WHERE rn = 1""".stripMargin),
    row("store_find", (s, dir) => {
      val warehouse = java.nio.file.Files.createTempDirectory("graft-find").toString
      val store = new SeriesStore(s, warehouse, numBuckets = 8)
      store.merge("events", pts(s, dir))
      val infos = new StoreSource(store).find(s, "shyft://events/u1/")
      s.createDataFrame(infos.map(i =>
        (i.name, i.pointFx, i.deltaTNs, i.dataPeriodStartNs, i.dataPeriodEndNs)))
        .toDF("name", "point_fx", "delta_t_ns", "data_start_ns", "data_end_ns")
    },
      """WITH p AS (SELECT 'shyft://events/u1/' || event_type AS name, epoch_ns(ts) AS ts, value FROM events WHERE user_id = 1),
        |deltas AS (SELECT name, ts - lag(ts) OVER (PARTITION BY name ORDER BY ts, value) AS delta_ns FROM p),
        |dcnt AS (SELECT name, delta_ns, count(*) AS cnt FROM deltas WHERE delta_ns IS NOT NULL GROUP BY 1, 2),
        |dmode AS (SELECT name, delta_ns AS dt FROM (SELECT *, row_number() OVER (PARTITION BY name ORDER BY cnt DESC, delta_ns ASC) AS rn FROM dcnt) WHERE rn = 1),
        |stats AS (SELECT name, min(ts) AS t0, max(ts) AS t1 FROM p GROUP BY 1)
        |SELECT s.name, 'instant' AS point_fx, coalesce(m.dt, 0) AS delta_t_ns,
        |       s.t0 AS data_start_ns, s.t1 AS data_end_ns
        |FROM stats s LEFT JOIN dmode m ON s.name = m.name""".stripMargin),

    // ---- netatmo catalog + fixture-backed paginated API source ----
    row("netatmo_catalog", (s, dir) => {
      Netatmo.catalog(Netatmo.rawConfig(Tables(s, dir).events))
        .select("user_id", "station_id", "station_name", "module_id",
          "module_name", "data_type", "source_id", "store_id", "tz")
    },
      """WITH et AS (SELECT DISTINCT user_id, event_type FROM events),
        |r AS (SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY event_type) AS rnk FROM et)
        |SELECT user_id, 'station:' || user_id AS station_id,
        |  'Station ' || user_id AS station_name,
        |  CASE WHEN rnk % 2 = 1 THEN 'station:' || user_id ELSE 'module:' || user_id END AS module_id,
        |  CASE WHEN rnk % 2 = 1 THEN 'Main' ELSE 'Outdoor' END AS module_name,
        |  event_type AS data_type,
        |  'netatmo://?station_name=Station ' || user_id || '&module_name=' ||
        |    (CASE WHEN rnk % 2 = 1 THEN 'Main' ELSE 'Outdoor' END) || '&data_type=' || event_type AS source_id,
        |  'shyft://netatmo/station-' || user_id || '/' ||
        |    (CASE WHEN rnk % 2 = 1 THEN 'main' ELSE 'outdoor' END) || '/' || event_type AS store_id,
        |  'Europe/Oslo' AS tz
        |FROM r""".stripMargin),
    row("netatmo_lookup", (s, dir) => {
      val cat = Netatmo.catalog(Netatmo.rawConfig(Tables(s, dir).events))
      Seq(("Station 7", "Main", "click"), ("Station 7", "Outdoor", "error"),
        ("Station 12", "Main", "view"))
        .map { case (st, m, dt) => Netatmo.lookup(cat, st, m, dt) }
        .reduce(_ unionByName _)
        .select("station_name", "module_name", "data_type", "source_id")
    },
      """SELECT * FROM (VALUES
        |  ('Station 7', 'Main', 'click', 'netatmo://?station_name=Station 7&module_name=Main&data_type=click'),
        |  ('Station 7', 'Outdoor', 'error', 'netatmo://?station_name=Station 7&module_name=Outdoor&data_type=error'),
        |  ('Station 12', 'Main', 'view', 'netatmo://?station_name=Station 12&module_name=Main&data_type=view')
        |) t(station_name, module_name, data_type, source_id)""".stripMargin),
    row("netatmo_read", (s, dir) => {
      val t = Tables(s, dir)
      val cat = Netatmo.catalog(Netatmo.rawConfig(t.events))
      val eventsPoints = t.eventsUs.select("user_id", "event_type", "ts", "value")
      val src = new NetatmoSource(cat, eventsPoints, s"$dir/events.parquet")
      val ev = new Evaluate(Map("netatmo" -> src))
      val types = Seq("click", "error", "purchase", "signup", "view")
      val modOf = Map("click" -> "Main", "error" -> "Outdoor", "purchase" -> "Main",
        "signup" -> "Outdoor", "view" -> "Main")
      val ids = for (uid <- 0 to 2; dt <- types)
        yield graft.ts.Identifiers.netatmoIdStr(s"Station $uid", modOf(dt), dt)
      ev.evaluate(s, ids, Period(Long.MinValue / 2, Long.MaxValue / 2))
    },
      """WITH et AS (SELECT DISTINCT user_id, event_type FROM events WHERE user_id <= 2),
        |r AS (SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY event_type) AS rnk FROM et),
        |m AS (SELECT user_id, event_type, CASE WHEN rnk % 2 = 1 THEN 'Main' ELSE 'Outdoor' END AS module_name,
        |      CAST(user_id * 5 + rnk - 1 AS INTEGER) AS ordinal FROM r),
        |axis AS (SELECT DISTINCT m2.user_id, m2.module_name, (epoch_ns(e.ts) // 1000) * 1000 AS ts
        |         FROM events e JOIN m m2 ON e.user_id = m2.user_id AND e.event_type = m2.event_type),
        |grid AS (SELECT i.user_id, i.event_type, i.module_name, i.ordinal, a.ts
        |         FROM m i JOIN axis a ON a.user_id = i.user_id AND a.module_name = i.module_name),
        |vals AS (SELECT user_id, event_type, (epoch_ns(ts) // 1000) * 1000 AS ts, max(value) AS value
        |         FROM events GROUP BY 1, 2, 3)
        |SELECT g.ordinal,
        |  'netatmo://?station_name=Station ' || g.user_id || '&module_name=' || g.module_name ||
        |    '&data_type=' || g.event_type AS series_id,
        |  g.ts, coalesce(v.value, CAST('NaN' AS DOUBLE)) AS value
        |FROM grid g LEFT JOIN vals v
        |  ON v.user_id = g.user_id AND v.event_type = g.event_type AND v.ts = g.ts""".stripMargin),
    row("netatmo_find", (s, dir) => {
      val t = Tables(s, dir)
      // µs-grid events so the catalog's module lifetimes line up with the
      // oracle's epoch_ns values (same grid the read path uses)
      val cat = Netatmo.catalog(Netatmo.rawConfig(t.eventsUs))
      val eventsPoints = t.eventsUs.select("user_id", "event_type", "ts", "value")
      val src = new NetatmoSource(cat, eventsPoints, s"$dir/events.parquet")
      val infos = Seq(("Station 7", "Main", "click"), ("Station 7", "Outdoor", "error"),
        ("Station 12", "Main", "view"))
        .flatMap { case (st, m, dt) =>
          src.find(s, graft.ts.Identifiers.netatmoIdStr(st, m, dt))
        }
      s.createDataFrame(infos.map(i => (i.name, i.pointFx, i.deltaTNs, i.olsonTzId,
        i.dataPeriodStartNs, i.dataPeriodEndNs, i.createdNs, i.modifiedNs)))
        .toDF("name", "point_fx", "delta_t_ns", "tz",
          "data_start_ns", "data_end_ns", "created_ns", "modified_ns")
    },
      """WITH et AS (SELECT DISTINCT user_id, event_type FROM events),
        |r AS (SELECT user_id, event_type, row_number() OVER (PARTITION BY user_id ORDER BY event_type) AS rnk FROM et),
        |m AS (SELECT user_id, event_type, CASE WHEN rnk % 2 = 1 THEN 'Main' ELSE 'Outdoor' END AS module_name FROM r),
        |q(station_name, module_name, data_type) AS (VALUES
        |  ('Station 7', 'Main', 'click'), ('Station 7', 'Outdoor', 'error'), ('Station 12', 'Main', 'view')),
        |sel AS (SELECT q.*, m.user_id FROM q JOIN m
        |        ON m.user_id = CAST(replace(q.station_name, 'Station ', '') AS BIGINT)
        |       AND m.module_name = q.module_name AND m.event_type = q.data_type),
        |mod_life AS (SELECT m.user_id, m.module_name,
        |             min(epoch_ns(e.ts)) AS t0, max(epoch_ns(e.ts)) AS t1
        |             FROM events e JOIN m ON e.user_id = m.user_id AND e.event_type = m.event_type
        |             GROUP BY 1, 2),
        |p AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
        |deltas AS (SELECT user_id, event_type,
        |           ts - lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts) AS d FROM p),
        |dcnt AS (SELECT user_id, event_type, d, count(*) AS c FROM deltas WHERE d IS NOT NULL GROUP BY 1, 2, 3),
        |dmode AS (SELECT user_id, event_type, d AS dt FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY c DESC, d ASC) AS rn
        |  FROM dcnt) WHERE rn = 1)
        |SELECT 'netatmo://?station_name=' || s.station_name || '&module_name=' || s.module_name ||
        |    '&data_type=' || s.data_type AS name,
        |  'instant' AS point_fx, coalesce(dm.dt, 0) AS delta_t_ns, 'Europe/Oslo' AS tz,
        |  l.t0 AS data_start_ns, l.t1 AS data_end_ns, l.t0 AS created_ns, l.t1 AS modified_ns
        |FROM sel s
        |JOIN mod_life l ON l.user_id = s.user_id AND l.module_name = s.module_name
        |LEFT JOIN dmode dm ON dm.user_id = s.user_id AND dm.event_type = s.data_type""".stripMargin)
  )
}
