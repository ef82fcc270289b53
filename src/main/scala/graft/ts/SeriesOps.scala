package graft.ts

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ts.model.Period

/** The per-series analytic operators (SURVEY.md §2.4 A1-A6, §2.5 W1-W6) as
  * composable `DataFrame => DataFrame` transforms over the long point
  * schema `(series_id, ts, value)`.
  *
  * All of these are single-shuffle window/groupBy plans partitioned by
  * `series_id` — at 100 TB the series key is the natural distribution key,
  * and consecutive ops reuse the same partitioning (Catalyst removes the
  * second exchange when the child is already hash-partitioned on the key).
  * Values may be NaN (missing); aggregates here are NaN-safe by filtering,
  * matching the reference's np.nanmax/np.nanmin usage
  * (reference: visual/dtss_serve_test.py:165-166).
  */
object SeriesOps {

  private val bySeries = Window.partitionBy("series_id")
  // Secondary value key makes lead/lag deterministic if a series ever
  // carries duplicate timestamps (both Spark and ANSI engines sort NaN last).
  private val bySeriesTs = bySeries.orderBy(col("ts"), col("value"))

  private def notNan(c: Column): Column = c.isNotNull && !isnan(c)

  /** A1 last-value "current": newest point per series in the window
    * (reference: visual/dashboard_data.py:84-86).
    * Tie-break on equal ts: largest value (deterministic).
    */
  def lastValue(points: DataFrame): DataFrame =
    points.where(notNan(col("value")))
      .groupBy("series_id")
      .agg(max_by(col("value"), struct(col("ts"), col("value"))).as("last_value"),
        max(col("ts")).as("last_ts"))

  /** A2+A4: min/max/count per series (reference: visual/dashboard_data.py:88-89). */
  def minMaxCount(points: DataFrame): DataFrame =
    points.groupBy("series_id").agg(
      min(when(notNan(col("value")), col("value"))).as("min_value"),
      max(when(notNan(col("value")), col("value"))).as("max_value"),
      count(when(notNan(col("value")), lit(1))).as("n_points"))

  /** A6 display range padding: pad the [min,max] range by `frac` of its
    * magnitude, ceil/floor to integers
    * (reference: visual/dtss_serve_test.py:165-173, visual/static_plot.py:116-117).
    */
  def rangePad(points: DataFrame, frac: Double = 0.2): DataFrame =
    minMaxCount(points).select(
      col("series_id"), col("min_value"), col("max_value"),
      floor(col("min_value") - abs(col("max_value") - col("min_value")) * frac)
        .cast("double").as("range_lower"),
      ceil(col("max_value") + abs(col("max_value") - col("min_value")) * frac)
        .cast("double").as("range_upper"))

  /** W1: consecutive time deltas per series
    * (reference: weather/data_sources/netatmo/repository.py:138).
    */
  def deltas(points: DataFrame): DataFrame =
    points.select(col("series_id"), col("ts"),
      (col("ts") - lag(col("ts"), 1).over(bySeriesTs)).as("delta_ns"))

  /** A3: mode of consecutive deltas — the reference's dt inference
    * (repository.py:136-140). Python's `max(set(dt), key=count)` tie-break is
    * insertion-order-dependent; we fix the deterministic tie-break to the
    * SMALLEST delta (SURVEY.md §7.4).
    */
  def dtMode(points: DataFrame): DataFrame =
    dtModeOfDeltas(deltas(points).where(col("delta_ns").isNotNull))

  /** dt-mode from an already-computed delta stream — callers that also
    * consume the deltas ([[gaps]]) pass the SAME DataFrame here, so the
    * window sort behind it is one shared subplan (reused exchange), not
    * two independent passes over the points.
    */
  private def dtModeOfDeltas(d: DataFrame): DataFrame = {
    val counted = d.groupBy("series_id", "delta_ns").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("series_id")
      .orderBy(col("cnt").desc, col("delta_ns").asc)
    counted.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col("series_id"), col("delta_ns").as("dt_mode_ns"))
  }

  /** W2: axis extension — every point gets `valid_to = next ts`, and the
    * LAST point of each series gets a synthetic boundary `ts + dt_mode`,
    * closing the final interval (repository.py:137-140). One window + one
    * broadcast-sized join against the per-series dt table.
    */
  def extendAxis(points: DataFrame): DataFrame = {
    val lead1 = points.withColumn("__next_ts", lead(col("ts"), 1).over(bySeriesTs))
    lead1.join(dtMode(points), Seq("series_id"), "left")
      .select(col("series_id"), col("ts"), col("value"),
        coalesce(col("__next_ts"), col("ts") + coalesce(col("dt_mode_ns"), lit(0L)))
          .as("valid_to"))
  }

  /** W3: temporal concat (`extend`) — append a later chunk to a series;
    * on timestamp collision the LATER chunk wins
    * (repository.py:187-192).
    */
  def concatChunks(first: DataFrame, second: DataFrame): DataFrame = {
    val w = Window.partitionBy("series_id", "ts")
      .orderBy(col("__gen").desc, col("value").desc)
    first.withColumn("__gen", lit(0))
      .unionByName(second.withColumn("__gen", lit(1)))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn", "__gen")
  }

  /** W5: point-interpretation-aware render expansion
    * (reference: visual/utils.py:10-23, visual/dtss_serve_test.py:39-52).
    *  - instant: points pass through (trailing synthetic boundary dropped by
    *    the caller via period filter);
    *  - average: staircase — each value appears at both interval boundaries
    *    `[t_i, t_{i+1}]`.
    */
  def stepExpand(points: DataFrame, fx: model.PointFx): DataFrame = fx match {
    case model.InstantValue => points.select("series_id", "ts", "value")
    case model.AverageValue =>
      points
        .withColumn("__next_ts", lead(col("ts"), 1).over(bySeriesTs))
        .select(col("series_id"), col("ts"), col("value"), col("__next_ts"))
        .select(col("series_id"),
          explode(when(col("__next_ts").isNotNull,
            array(struct(col("ts").as("ts"), col("value").as("value")),
              struct(col("__next_ts").as("ts"), col("value").as("value"))))
            .otherwise(array(struct(col("ts").as("ts"), col("value").as("value")))))
            .as("p"))
        .select(col("series_id"), col("p.ts").as("ts"), col("p.value").as("value"))
  }

  /** W6: display-time localization — epoch ms shifted by a fixed tz offset,
    * the reference's `(t + base_offset) * 1000`
    * (reference: visual/utils.py:5-7).
    */
  def displayMs(points: DataFrame, tzOffsetSeconds: Long): DataFrame =
    points.withColumn("display_ms",
      (col("ts") + lit(tzOffsetSeconds * Period.Second)) / lit(Period.Milli))

  /** P3: period filter [startNs, endNs) — a pure Catalyst predicate so it
    * pushes down to the parquet scan (partition/row-group pruning).
    */
  def periodFilter(points: DataFrame, period: Period): DataFrame =
    points.where(col("ts") >= period.startNs && col("ts") < period.endNs)

  /** Threshold color banding for dashboard display: the first (descending)
    * threshold the value exceeds wins, else the default band — the
    * reference's `temp_icon_color`/`co2_icon_color` widget formatters
    * (reference: visual/dtss_serve_test.py:289-301; e.g. CO2 >1000 'red',
    * >600 'yellow', else 'green'). NaN exceeds nothing → default, matching
    * Python's NaN comparison semantics there.
    */
  def thresholdBands(df: DataFrame, valueCol: String,
      thresholds: Seq[(Double, String)], default: String): DataFrame = {
    val v = col(valueCol)
    val band = thresholds.sortBy(-_._1).foldRight(lit(default): Column) {
      case ((thr, label), rest) => when(notNan(v) && v > thr, label).otherwise(rest)
    }
    df.withColumn("band", band)
  }

  /** Fixed-interval downsample: bucket each point onto the regular axis
    * `bucket_ts = ts - (ts mod dt)` and aggregate NaN-safe mean/min/max/count
    * per (series, bucket) — the query-side realization of the reference's
    * fixed-interval `TimeAxis(start, dt, n)` surface
    * (reference: weather/utilities/create_ts.py:16,
    * weather/test/test_dtss_host.py:116).
    *
    * Scale shape: one shuffle on the composite (series, bucket) key with
    * full map-side partial aggregation — at 100 TB this is the canonical
    * first-stage reduction of raw points, and the output is ~span/dt rows
    * per series regardless of input density.
    */
  def resample(points: DataFrame, dtNs: Long): DataFrame = {
    require(dtNs > 0, s"dt must be positive, got $dtNs")
    val v = when(notNan(col("value")), col("value"))
    points
      .groupBy(col("series_id"),
        (col("ts") - pmod(col("ts"), lit(dtNs))).as("bucket_ts"))
      .agg(
        avg(v).as("mean_value"),
        min(v).as("min_value"),
        max(v).as("max_value"),
        count(v).as("n_points"))
  }

  /** Linear interpolation onto the fixed grid `dt`: every multiple of `dt`
    * inside each series' observed span gets `v = v1 + (v2-v1)·(g-t1)/(t2-t1)`
    * from its bracketing samples — the POINT_INSTANT_VALUE reading of a
    * series on a regular axis (reference: weather/data_sources/netatmo/
    * domain.py:111-120 fixes instant interpretation; create_ts.py:16 the
    * fixed axis). No extrapolation: grid points outside [first, last] sample
    * don't exist. A grid point landing exactly on a sample returns that
    * sample's value.
    *
    * Scale shape: the grid is a per-series sequence/explode off a tiny
    * min/max aggregate; the interpolation is the sorted-union trick (cf.
    * [[graft.ops.AsofJoin]]) — real and grid rows share ONE shuffle+sort on
    * (series, ts), and frame-bounded running windows carry the bracketing
    * (ts, value) pairs in the same sort. No pair join, no per-point probe;
    * survives 100 TB on the natural series partitioning. Duplicate-ts
    * samples tie-break deterministically: backward bracket takes the
    * largest value, forward the smallest (mirrored in the SQL twin).
    */
  def interpolate(points: DataFrame, dtNs: Long): DataFrame = {
    require(dtNs > 0, s"dt must be positive, got $dtNs")
    val dt = lit(dtNs)
    val p = points.where(notNan(col("value"))).select("series_id", "ts", "value")
    val bounds = p.groupBy("series_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      .withColumn("__g0", col("t0") + pmod(-col("t0"), dt))
      .withColumn("__g1", col("t1") - pmod(col("t1"), dt))
    // sequence() throws on start > stop (a span shorter than one dt step):
    // guard to an empty grid instead
    val grid = bounds.select(col("series_id"),
      explode(when(col("__g0") <= col("__g1"),
        sequence(col("__g0"), col("__g1"), dt))
        .otherwise(array().cast("array<bigint>"))).as("ts"))
    val u = p.withColumn("__grid", lit(0))
      .unionByName(grid.select(col("series_id"), col("ts"),
        lit(null).cast("double").as("value"), lit(1).as("__grid")))
    // real rows (grid=0) sort before a same-ts grid row, so the backward
    // bracket of an on-sample grid point is that sample itself
    val ord = Window.partitionBy("series_id")
      .orderBy(col("ts"), col("__grid"), col("value"))
    val back = ord.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = ord.rowsBetween(0, Window.unboundedFollowing)
    val realTs = when(col("__grid") === 0, col("ts"))
    val realV = when(col("__grid") === 0, col("value"))
    u
      .withColumn("__pt", last(realTs, ignoreNulls = true).over(back))
      .withColumn("__pv", last(realV, ignoreNulls = true).over(back))
      .withColumn("__nt", first(realTs, ignoreNulls = true).over(fwd))
      .withColumn("__nv", first(realV, ignoreNulls = true).over(fwd))
      .where(col("__grid") === 1)
      .select(col("series_id"), col("ts"),
        when(col("__pt") === col("ts"), col("__pv"))
          .otherwise(col("__pv")
            + (col("__nv") - col("__pv")) * (col("ts") - col("__pt"))
              / (col("__nt") - col("__pt")))
          .as("value"))
  }

  /** Trailing rolling-window statistics: for every point, the NaN-safe
    * mean/min/max/count over `[ts - windowNs, ts]` of its own series — the
    * smoothing the reference dashboards apply visually, as a queryable
    * operator. A RANGE frame (not ROWS): weather axes are irregular, so the
    * lookback is defined in time, not in samples; duplicate timestamps are
    * frame peers in both engines.
    *
    * Scale shape: one shuffle+sort on the series key; the range frame is
    * evaluated in a single pass over each sorted partition (Spark's sliding
    * frame keeps a running aggregate buffer, it does not re-scan the
    * window per row).
    */
  def rolling(points: DataFrame, windowNs: Long): DataFrame = {
    require(windowNs >= 0, s"window must be non-negative, got $windowNs")
    val w = Window.partitionBy("series_id").orderBy(col("ts"))
      .rangeBetween(-windowNs, 0)
    val v = when(notNan(col("value")), col("value"))
    points.select(col("series_id"), col("ts"), col("value"),
      avg(v).over(w).as("roll_mean"),
      min(v).over(w).as("roll_min"),
      max(v).over(w).as("roll_max"),
      count(v).over(w).as("roll_n"))
  }

  /** Per-series anomaly scoring: the z-score of each point against ITS OWN
    * series' mean and sample standard deviation, and a flag for |z| beyond
    * `z` — the first-pass outlier screen run before trusting a sensor's
    * data drop. NaN samples are dropped; a series with fewer than two
    * points or zero variance yields null z-scores (never a division by
    * zero) and `is_anomaly = false`.
    *
    * Scale shape: one shuffle on the series key; both moments come from an
    * unordered whole-partition window frame (no sort — Spark evaluates the
    * unbounded frame with a single running aggregate per partition), so the
    * stats join-back a groupBy would need never happens.
    */
  def anomaly(points: DataFrame, z: Double = 3.0): DataFrame = {
    require(z > 0, s"z threshold must be positive, got $z")
    val w = Window.partitionBy("series_id")
    points.where(notNan(col("value")))
      .select(col("series_id"), col("ts"), col("value"),
        avg("value").over(w).as("__m"), stddev_samp("value").over(w).as("__s"))
      .select(col("series_id"), col("ts"), col("value"),
        when(col("__s") > 0, (col("value") - col("__m")) / col("__s")).as("z_score"))
      .withColumn("is_anomaly", coalesce(abs(col("z_score")) > z, lit(false)))
  }

  /** Pairwise Pearson correlation between series, aligned on a fixed
    * `dtNs` resample grid: each series is reduced to bucket means (see
    * [[resample]]), buckets are matched exactly, and the correlation is
    * computed from co-moment sums over the shared buckets. Pairs are
    * canonical (`series_a < series_b`); pairs with under-2 shared buckets
    * or zero variance on either side emit null.
    *
    * Scale shape: the resample is the 100 TB-safe first-stage reduction
    * (raw points never meet the join); the bucket equi-join then carries
    * ~k rows per bucket and k² pair-rows per bucket for k series — the
    * inherent cost of all-pairs correlation, so this is an operator for a
    * SELECTED series set (dashboards, station groups), not an unbounded
    * corpus; the final aggregation is partial-combined on the pair key.
    * The formula is the textbook `(n·Σxy − ΣxΣy) / √((n·Σx² − (Σx)²)
    * ·(n·Σy² − (Σy)²))`, written identically in the SQL twin so both
    * engines share the exact arithmetic.
    */
  def pairCorrelation(points: DataFrame, dtNs: Long): DataFrame = {
    val b = resample(points, dtNs)
      .where(col("mean_value").isNotNull)
      .select(col("series_id"), col("bucket_ts"), col("mean_value"))
    val left = b.select(col("series_id").as("series_a"), col("bucket_ts"),
      col("mean_value").as("__x"))
    val right = b.select(col("series_id").as("series_b"), col("bucket_ts"),
      col("mean_value").as("__y"))
    pearson(left.join(right, Seq("bucket_ts"))
      .where(col("series_a") < col("series_b")),
      Seq("series_a", "series_b"), "__x", "__y", "n_buckets", "corr")
  }

  /** Pearson correlation of columns `x` and `y` per group of `keys`, from
    * the six co-moment sums in one aggregation: `(n·Σxy − ΣxΣy) /
    * √((n·Σx² − (Σx)²)·(n·Σy² − (Σy)²))`, written identically in the SQL
    * twins; null unless both variances are positive. Emits `keys`, the
    * group count as `nName` and the correlation as `out`.
    */
  private def pearson(df: DataFrame, keys: Seq[String], x: String, y: String,
      nName: String, out: String): DataFrame = {
    val sums = df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as(nName),
        sum(x).as("__sx"), sum(y).as("__sy"),
        sum(col(x) * col(x)).as("__sxx"),
        sum(col(y) * col(y)).as("__syy"),
        sum(col(x) * col(y)).as("__sxy"))
    val n = col(nName).cast("double")
    val vx = n * col("__sxx") - col("__sx") * col("__sx")
    val vy = n * col("__syy") - col("__sy") * col("__sy")
    sums.select(keys.map(col) :+ col(nName) :+
      when(vx > 0 && vy > 0,
        (n * col("__sxy") - col("__sx") * col("__sy")) / sqrt(vx * vy))
        .as(out): _*)
  }

  /** Spearman rank correlation between series pairs on the shared `dtNs`
    * resample grid — the robust companion to [[pairCorrelation]]: Pearson
    * on the RANKS of the aligned bucket values, so any monotone relation
    * reads ±1 and heavy-tailed spikes can't dominate the moments. Ranks
    * are computed within each pair's OWN shared bucket set (the textbook
    * definition — a pair that shares only a sub-window is ranked over
    * exactly that window), with average ranks on ties: `rank() +
    * (ties − 1)/2`, i.e. the mean of the positions the tie group spans.
    *
    * Bit-stability: ranks are exact half-integers, their products and
    * co-moment sums stay far below 2^52, so every aggregate is EXACT in
    * double arithmetic — accumulation order cannot wobble the result
    * (unlike raw-value Pearson, which ships under the 9-sig-digit compare
    * contract instead). Degenerate sides (all buckets tied) yield null.
    *
    * Scale shape: identical to [[pairCorrelation]] — the resample reduces
    * raw points first, the bucket equi-join carries the k²-pair fan-out
    * (a SELECTED series set, not an unbounded corpus), then two rank
    * windows over the pair partitions and one partial-combined moment
    * aggregation on the pair key.
    */
  def spearmanCorrelation(points: DataFrame, dtNs: Long): DataFrame = {
    val b = resample(points, dtNs)
      .where(col("mean_value").isNotNull)
      .select(col("series_id"), col("bucket_ts"), col("mean_value"))
    val left = b.select(col("series_id").as("series_a"), col("bucket_ts"),
      col("mean_value").as("__x"))
    val right = b.select(col("series_id").as("series_b"), col("bucket_ts"),
      col("mean_value").as("__y"))
    val pw = Window.partitionBy("series_a", "series_b")
    def avgRank(v: String): Column =
      rank().over(pw.orderBy(col(v))).cast("double") +
        (count(lit(1)).over(Window.partitionBy(col("series_a"),
          col("series_b"), col(v))).cast("double") - 1.0) / 2.0
    val ranked = left.join(right, Seq("bucket_ts"))
      .where(col("series_a") < col("series_b"))
      .select(col("series_a"), col("series_b"),
        avgRank("__x").as("__rx"), avgRank("__y").as("__ry"))
    pearson(ranked, Seq("series_a", "series_b"), "__rx", "__ry",
      "n_buckets", "rho")
  }

  /** Lagged cross-correlation between series pairs on the shared resampled
    * axis: Pearson corr of (x_t, y_{t+lag·dt}) for every lag in
    * [−maxLag, maxLag] — the lead/lag diagnostic ([[pairCorrelation]] is
    * the lag-0 slice): which sensor leads which, and by how many buckets.
    * Same moment-sum formulation as the lag-0 operator (one pass per
    * surviving aligned pair, no per-series collection), pairs ordered
    * `series_a < series_b` with both signs of lag reported, so the
    * reverse direction is the mirrored lag. Degenerate windows (either
    * side constant) yield null corr; n_buckets counts the aligned
    * buckets actually correlated at that lag.
    *
    * Scale shape: the lag fan-out is a 2·maxLag+1 explode on the LEFT
    * side before the bucket equi-join — the join stays a well-spread
    * hash join on the time bucket; moments partial-aggregate map-side.
    */
  def crossCorrelation(points: DataFrame, dtNs: Long, maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val b = resample(points, dtNs)
      .where(col("mean_value").isNotNull)
      .select(col("series_id"), col("bucket_ts"), col("mean_value"))
    val left = b.select(col("series_id").as("series_a"), col("bucket_ts"),
        col("mean_value").as("__x"))
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      .withColumn("__bt", col("bucket_ts") + col("lag").cast("long") * dtNs)
    val right = b.select(col("series_id").as("series_b"),
      col("bucket_ts").as("__bt"), col("mean_value").as("__y"))
    pearson(left.join(right, Seq("__bt"))
      .where(col("series_a") < col("series_b")),
      Seq("series_a", "series_b", "lag"), "__x", "__y", "n_buckets", "corr")
  }

  /** Exact per-series distribution summary: p50/p90/p99 (linear
    * interpolation — Spark's `percentile` and ANSI `quantile_cont` share
    * the formula) plus the count, over non-NaN values — the latency-style
    * tail view of a sensor's readings.
    *
    * Scale note: exact percentiles buffer each group's values
    * (TypedImperativeAggregate) — right for per-series cardinalities
    * (points per series are bounded); for a percentile over the WHOLE
    * corpus use `percentile_approx` as [[graft.pipeline.Profile]] does.
    */
  def percentiles(points: DataFrame): DataFrame = {
    val p = points.where(notNan(col("value")))
    p.groupBy("series_id").agg(
      count(lit(1)).as("n_points"),
      percentile(col("value"), lit(0.5)).as("p50"),
      percentile(col("value"), lit(0.9)).as("p90"),
      percentile(col("value"), lit(0.99)).as("p99"))
  }

  /** Dynamic time warping distance between every series pair (Sakoe &
    * Chiba 1978 without the band — see the scale note): the elastic
    * shape-similarity measure that matches two series whose features are
    * SHIFTED or locally stretched in time, where Pearson/Euclidean on the
    * shared axis punish any misalignment ([[pairCorrelation]]'s blind
    * spot; a sensor lagging its neighbor by an hour is "the same shape"
    * to DTW and uncorrelated noise to lag-0 Pearson). Series are first
    * `resample`d to `dtNs` buckets; the DP runs over the two
    * bucket-ordered mean-value sequences.
    *
    * The quadratic DP is a nested pinned fold over the two COLLECTED
    * sequences (outer fold carries the previous DP row; the inner fold
    * builds the next row left to right, so every min/add happens in one
    * fixed order in both engines). Band-edge/boundary cells use a large
    * finite sentinel (1e150), not ∞ — additions stay finite and ordered
    * identically. `maxPoints` fails fast ([[theilSen]]'s contract): the
    * per-pair cost is n·m interpreted lambda steps, so this operator is
    * for BOUNDED station groups after resampling — at corpus scale,
    * shortlist pairs first (SAX words / [[crossCorrelation]]) and run DTW
    * on the candidates. `maxSeries` bounds the OTHER quadratic axis the
    * same way (the [[graft.pipeline.Sketches.kmvPairJaccard]] maxGroups
    * contract): the pair space is |S|²/2, so a million-series corpus
    * must not silently attempt 5·10¹¹ DPs — the count is checked on a
    * column-pruned id list and forced AHEAD of the pair expansion by the
    * broadcast join (the build side evaluates before any pair exists).
    * Don't just raise the guard: past ~10³ series, move the kernel to
    * mapPartitions and shortlist.
    *
    * Output per (series_a < series_b): lengths, `dtw_dist` (sum of
    * |a_i − b_j| along the optimal warp), and the per-step normalization
    * `dtw_dist / (n_a + n_b)`.
    */
  def dtw(points: DataFrame, dtNs: Long, maxPoints: Int = 64,
      maxSeries: Int = 1000): DataFrame = {
    require(maxPoints >= 2, s"dtw needs maxPoints >= 2, got $maxPoints")
    require(maxSeries >= 2, s"dtw needs maxSeries >= 2, got $maxSeries")
    val big = lit(1e150)
    val ser = resample(points, dtNs)
      .where(col("mean_value").isNotNull)
      .groupBy("series_id")
      .agg(array_sort(collect_list(struct(col("bucket_ts"), col("mean_value"))))
        .as("__bv"))
      .select(col("series_id"),
        transform(col("__bv"), x => x.getField("mean_value")).as("__vs"))
      .withColumn("__vs",
        when(size(col("__vs")) > maxPoints, raise_error(format_string(
          s"dtw: series %s has %s buckets > maxPoints $maxPoints — the DP " +
            "is quadratic per pair; resample coarser or shortlist pairs",
          col("series_id"), size(col("__vs")).cast("string"))))
          .otherwise(col("__vs")))
    // series-count guard: a metadata-scale window over the column-pruned
    // id list (the arrays never ride through it), broadcast-joined so the
    // raise evaluates before the crossJoin can expand a single pair
    val guardedIds = ser.select(col("series_id"))
      .withColumn("__g", count(lit(1)).over(Window.partitionBy()))
      .withColumn("series_id",
        when(col("__g") > maxSeries, raise_error(format_string(
          s"dtw: %s series exceed maxSeries $maxSeries — the DP pair " +
            "space is quadratic in series count; shortlist candidate " +
            "pairs (SAX/crossCorrelation) or raise maxSeries (and move " +
            "the kernel to mapPartitions if you do)",
          col("__g").cast("string"))))
          .otherwise(col("series_id")))
      .drop("__g")
    val a = ser.select(col("series_id").as("series_a"), col("__vs").as("__a"))
      .join(broadcast(guardedIds.withColumnRenamed("series_id", "series_a")),
        "series_a")
    val c = ser.select(col("series_id").as("series_b"), col("__vs").as("__b"))
    val innerRow = (prev: Column, x: Column) =>
      aggregate(
        transform(col("__b"), (y, j) => struct(y.as("y"), j.as("j"))),
        array(big),
        (nr, e) => {
          val j = e.getField("j")
          val cost = abs(x - e.getField("y"))
          concat(nr, array(cost + least(
            element_at(prev, j + lit(2)),
            element_at(nr, j + lit(1)),
            element_at(prev, j + lit(1)))))
        })
    val dp = aggregate(
      col("__a"),
      concat(array(lit(0.0)), array_repeat(big, size(col("__b")))),
      innerRow)
    a.crossJoin(c)
      .where(col("series_a") < col("series_b"))
      .withColumn("__dp", dp)
      .select(col("series_a"), col("series_b"),
        size(col("__a")).cast("long").as("n_a"),
        size(col("__b")).cast("long").as("n_b"),
        element_at(col("__dp"), size(col("__b")) + 1).as("dtw_dist"))
      .withColumn("dtw_per_step",
        col("dtw_dist") / (col("n_a") + col("n_b")).cast("double"))
  }

  /** Robust per-series outliers via the Iglewicz–Hoaglin modified z-score:
    * `0.6745·(x − median) / MAD`, flagged beyond `|score| > k` (default 3.5,
    * THEIR cutoff for THIS score — the 0.6745 consistency constant makes
    * MAD estimate σ on Gaussian data, so the scale of the screen matches
    * the literature it borrows the threshold from). This is the screen to
    * use when [[anomaly]]'s mean/σ is itself corrupted by the outliers (a
    * stuck sensor emitting one huge value inflates σ and hides itself; the
    * median and MAD have 50% breakdown). When MAD is zero (over half the
    * values identical — exactly the stuck-sensor case), the score falls
    * back to Iglewicz–Hoaglin's `(x − median) / (1.253314·meanAD)` so a
    * genuine spike still surfaces; only a fully constant series yields
    * null scores and `is_outlier = false` (never a division by zero).
    *
    * Scale shape: two grouped exact medians and two join-backs, all on the
    * series key — one partitioning reused end to end. Exact medians buffer
    * per-series values (see [[percentiles]]); at whole-corpus cardinality
    * swap in `percentile_approx`.
    */
  def outliersMad(points: DataFrame, k: Double = 3.5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val p = points.where(notNan(col("value")))
    val med = p.groupBy("series_id")
      .agg(percentile(col("value"), lit(0.5)).as("__med"))
    val withMed = p.join(med, "series_id")
    val mad = withMed.groupBy("series_id")
      .agg(percentile(abs(col("value") - col("__med")), lit(0.5)).as("__mad"),
        avg(abs(col("value") - col("__med"))).as("__meanad"))
    val score = when(col("__mad") > 0,
      lit(0.6745) * (col("value") - col("__med")) / col("__mad"))
      .otherwise(when(col("__meanad") > 0,
        (col("value") - col("__med")) / (lit(1.253314) * col("__meanad"))))
    withMed.join(mad, "series_id")
      .select(col("series_id"), col("ts"), col("value"),
        score.as("mad_score"),
        coalesce(abs(score) > k, lit(false)).as("is_outlier"))
  }

  /** Per-series exponential moving average (adjusted EWMA over a bounded
    * trailing window): `y_i = Σ_{j<L} α^j·x_{i−j} / Σ_{j<L} α^j` where `L`
    * is the number of points in the trailing `window` (so early points use
    * the weights actually available — pandas' `adjust=True`). The window
    * bound makes the weighted sum a FINITE per-row fold instead of the
    * textbook recursion, which no engine can parallelize; weights below
    * α^window are ≤ 2⁻¹⁶ at the defaults and carry no signal.
    *
    * Cross-engine exactness: with α = 0.5 every weight is a power of two,
    * so each `x·α^j` is an exact binary scaling and the fold (seeded 0.0,
    * left-to-right over the same frame order) is bit-identical in any
    * IEEE-754 engine; the denominator's closed form `(1 − α^L)/(1 − α)` is
    * exact for the same reason.
    *
    * Scale shape: one shuffle+sort on the series key; the frame collect is
    * bounded by `window` rows, so per-row state is O(window) regardless of
    * series length. NaN samples are dropped first (they would poison every
    * window they touch).
    */
  def ewma(points: DataFrame, alpha: Double = 0.5, window: Int = 16): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(window > 0, s"window must be positive, got $window")
    val w = Window.partitionBy("series_id").orderBy(col("ts"), col("value"))
      .rowsBetween(-(window - 1), 0)
    val lst = col("__lst")
    val n = size(lst).cast("double")
    val num = aggregate(
      transform(lst, (x, i) => x * pow(lit(alpha), n - 1.0 - i.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    val den = (lit(1.0) - pow(lit(alpha), n)) / (lit(1.0) - lit(alpha))
    points.where(notNan(col("value")))
      .withColumn("__lst", collect_list(col("value")).over(w))
      .select(col("series_id"), col("ts"), col("value"), (num / den).as("ewma"))
  }

  /** OHLC downsampling: per (series, fixed `dtNs` bucket) the opening and
    * closing samples in time order plus the low/high/count — the candle
    * view a dashboard renders when raw points outnumber pixels, and the
    * lossy-but-shaped alternative to [[Rdp]]. Open/close tie-break on
    * duplicate timestamps is (ts, value) lexicographic, matching every
    * other ordered operator here. NaN samples are dropped.
    *
    * Scale shape: one partial-combined aggregation on (series, bucket) —
    * `min_by`/`max_by` carry a single (ordinal, value) pair per partial,
    * so the shuffle is one row per group per map partition, same as any
    * min/max.
    */
  def ohlc(points: DataFrame, dtNs: Long): DataFrame = {
    require(dtNs > 0, s"bucket width must be positive, got $dtNs")
    val ord = struct(col("ts"), col("value"))
    points.where(notNan(col("value")))
      .groupBy(col("series_id"),
        (col("ts") - pmod(col("ts"), lit(dtNs))).as("bucket_ts"))
      .agg(
        min_by(col("value"), ord).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), ord).as("close"),
        count(lit(1)).as("n_points"))
  }

  /** Per-series winsorization: clip each sample to its OWN series'
    * [pLo, pHi] quantile band (exact quantiles, the same interpolation as
    * [[percentiles]]) — the standard robust-cleaning step before moments
    * and model fits when [[outliersMad]]-style removal is too aggressive.
    * Emits the clipped value and a flag; NaN samples are dropped.
    *
    * Scale shape: one grouped quantile pass + an id-keyed join-back, all
    * on the series key (the quantile buffer caveat from [[percentiles]]
    * applies).
    */
  def winsorize(points: DataFrame, pLo: Double = 0.05,
      pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi,
      s"need 0 <= pLo < pHi <= 1, got [$pLo, $pHi]")
    val p = points.where(notNan(col("value")))
    val q = p.groupBy("series_id").agg(
      percentile(col("value"), lit(pLo)).as("__qlo"),
      percentile(col("value"), lit(pHi)).as("__qhi"))
    p.join(q, "series_id")
      .select(col("series_id"), col("ts"), col("value"),
        least(greatest(col("value"), col("__qlo")), col("__qhi"))
          .as("value_winsorized"),
        (col("value") < col("__qlo") || col("value") > col("__qhi"))
          .as("is_clipped"))
  }

  /** Local-peak detection: a sample is a peak when it STRICTLY exceeds
    * both its neighbors, by at least `delta` (strictly interior — the
    * first and last samples have only one neighbor and never qualify; a
    * plateau member tied with a neighbor never qualifies, even at
    * delta = 0). The comparisons are raw stored doubles plus one
    * subtraction each — no accumulation — so the discrete peak set is
    * bit-identical in any engine. NaN samples are dropped first so a NaN
    * neighbor can't mask a peak.
    *
    * Scale shape: one series-key shuffle; lag/lead ride a single sort.
    */
  def peaks(points: DataFrame, delta: Double = 0.0): DataFrame = {
    require(delta >= 0, s"delta must be non-negative, got $delta")
    val w = Window.partitionBy("series_id").orderBy(col("ts"), col("value"))
    points.where(notNan(col("value")))
      .select(col("series_id"), col("ts"), col("value"),
        lag(col("value"), 1).over(w).as("__prev"),
        lead(col("value"), 1).over(w).as("__next"))
      .where(col("__prev").isNotNull && col("__next").isNotNull
        && col("value") > col("__prev") && col("value") > col("__next")
        && col("value") - col("__prev") >= delta
        && col("value") - col("__next") >= delta)
      .select(col("series_id"), col("ts"), col("value"),
        col("__prev").as("prev_value"), col("__next").as("next_value"))
  }

  /** Calendar-aligned monthly rollup: per (series, calendar month of the
    * display timezone) sample stats — the "station report" view whose
    * buckets are 28–31 days and therefore CANNOT come from [[resample]]'s
    * fixed-width arithmetic; the month boundary needs a real calendar.
    * The display timezone enters as a fixed offset (same convention as the
    * ms-display projection the reference's plotting layer uses); the
    * session timezone is pinned UTC (Sessions), so `date_trunc` is
    * calendar-UTC on the shifted axis in BOTH engines. NaN samples drop.
    *
    * Scale shape: one partial-combined aggregation on (series, month).
    */
  def monthly(points: DataFrame,
      displayOffsetNs: Long = 3600L * 1000000000L): DataFrame =
    points.where(notNan(col("value")))
      .groupBy(col("series_id"),
        // ns→µs with FLOOR semantics (`x - pmod(x,1000)` is the largest
        // multiple of 1000 ≤ x): Spark's `div` truncates toward zero while
        // the DuckDB twin's `//` floors, and the two diverge exactly when
        // ts + displayOffsetNs < 0 (pre-epoch shifted timestamps)
        unix_micros(date_trunc("MONTH",
          timestamp_micros(expr(
            s"(ts + $displayOffsetNs - pmod(ts + $displayOffsetNs, 1000)) div 1000"))))
          .as("month_start_us"))
      .agg(
        count(lit(1)).as("n_points"),
        avg("value").as("mean_value"),
        min("value").as("min_value"),
        max("value").as("max_value"))

  /** DST-aware calendar monthly rollup: like [[monthly]], but the display
    * timezone is a REAL IANA zone instead of a fixed offset — the month
    * boundary follows the zone's wall clock through DST transitions, so a
    * UTC instant late on the last day of a local month lands in the month
    * its wall clock says, not the one a fixed offset would pick (a point at
    * 23:30 UTC on March 31 is April 1st 01:30 in Europe/Oslo's summer
    * time). `month_start_us` is the UTC instant the local month began —
    * note it shifts by the DST offset across the year. Month starts never
    * fall inside a DST transition (zones shift at 02:00-03:00 local), so
    * the local→UTC conversion is unambiguous.
    *
    * Scale shape: identical to [[monthly]] — one partial-combined
    * aggregation on (series, month).
    */
  def monthlyTz(points: DataFrame, tz: String = "Europe/Oslo"): DataFrame =
    points.where(notNan(col("value")))
      .groupBy(col("series_id"),
        // same ns→µs FLOOR semantics as monthly (see comment there)
        unix_micros(to_utc_timestamp(date_trunc("MONTH",
          from_utc_timestamp(timestamp_micros(expr(
            "(ts - pmod(ts, 1000)) div 1000")), tz)), tz))
          .as("month_start_us"))
      .agg(
        count(lit(1)).as("n_points"),
        avg("value").as("mean_value"),
        min("value").as("min_value"),
        max("value").as("max_value"))

  /** Per-series autocorrelation at lags 1..maxLag: the Pearson correlation
    * between the series and its ℓ-step-lagged self over the co-observed
    * pairs — the standard ACF the "is this sensor periodic / mean-
    * reverting / a random walk" triage reads. Pairs with a null lag (the
    * first ℓ points) are excluded per lag; a lag with under-2 pairs or
    * zero variance on either side emits a null `acf`.
    *
    * Scale shape: ONE shuffle total — the lag columns ride a single
    * series-key sort, the per-lag pairs explode map-side, and the
    * (series, lag) co-moment aggregation reuses the series partitioning
    * (a sub-key groupBy needs no new Exchange). Co-moment algebra is the
    * same closed form as [[pairCorrelation]], written identically in the
    * SQL twin.
    */
  def autocorr(points: DataFrame, maxLag: Int = 3): DataFrame = {
    require(maxLag > 0, s"maxLag must be positive, got $maxLag")
    val w = Window.partitionBy("series_id").orderBy(col("ts"), col("value"))
    val p = points.where(notNan(col("value")))
    val lagged = (1 to maxLag).foldLeft(p) { (df, l) =>
      df.withColumn(s"__lag$l", lag(col("value"), l).over(w))
    }
    val pairs = lagged.select(col("series_id"), col("value").as("__y"),
      explode(array((1 to maxLag).map(l =>
        struct(lit(l).as("lag"), col(s"__lag$l").as("prev"))): _*)).as("lp"))
      .select(col("series_id"), col("lp.lag").as("lag"),
        col("__y"), col("lp.prev").as("__x"))
      .where(col("__x").isNotNull)
    pearson(pairs, Seq("series_id", "lag"), "__x", "__y", "n_pairs", "acf")
  }

  /** Per-series Ljung–Box whiteness test: Q = n(n+2) Σ_{k=1..h} ρ_k²/(n−k)
    * over the textbook autocovariance ACF (full-series mean, denominator
    * Σ(x−x̄)² — NOT the pairwise-Pearson form [[autocorr]] reports; the two
    * agree asymptotically but Ljung–Box's null distribution is derived for
    * this estimator). Rejecting the null at 5% means the series is NOT
    * white noise — the "does this residual still carry structure" gate run
    * after detrending/deseasonalizing, and the honesty check behind any
    * forecast whose residuals should be noise.
    *
    * h adapts per series to min(maxLag, n−1) (a lag needs at least one
    * co-observed pair), and `df` reports the h actually used so the χ²
    * verdict compares against the matching critical value (5% upper tail,
    * df 1..maxLag, literal table). Constant series (zero denominator) emit
    * null q/reject; a single-point series has no lag pair at all and emits
    * no row (same contract as [[autocorr]]).
    *
    * Scale shape: one shuffle on the series key; the unordered mean/
    * denominator windows and the ordered lag window share the partition,
    * the per-lag pairs explode map-side, and both aggregations are
    * sub-keys of the window partitioning (no further Exchange).
    */
  def ljungBox(points: DataFrame, maxLag: Int = 6): DataFrame = {
    require(maxLag >= 1 && maxLag <= ChiSq95.length,
      s"maxLag must be in [1, ${ChiSq95.length}], got $maxLag")
    val bySeries = Window.partitionBy("series_id")
    val byTime = Window.partitionBy("series_id").orderBy(col("ts"), col("value"))
    val p = points.where(notNan(col("value")))
      .withColumn("__n", count(lit(1)).over(bySeries))
      .withColumn("__mean", avg(col("value")).over(bySeries))
    val centered = p
      .withColumn("__denom",
        sum((col("value") - col("__mean")) * (col("value") - col("__mean")))
          .over(bySeries))
    val lagged = (1 to maxLag).foldLeft(centered) { (df, l) =>
      df.withColumn(s"__lag$l", lag(col("value"), l).over(byTime))
    }
    val terms = lagged.select(col("series_id"), col("__n"), col("__mean"),
      col("__denom"), col("value").as("__y"),
      explode(array((1 to maxLag).map(l =>
        struct(lit(l).as("lag"), col(s"__lag$l").as("prev"))): _*)).as("lp"))
      .select(col("series_id"), col("__n"), col("__mean"), col("__denom"),
        col("lp.lag").as("lag"), col("__y"), col("lp.prev").as("__x"))
      .where(col("__x").isNotNull)
    val perLag = terms.groupBy("series_id", "lag").agg(
      max(col("__n")).as("__n"), max(col("__denom")).as("__denom"),
      sum((col("__y") - col("__mean")) * (col("__x") - col("__mean")))
        .as("__num"))
    val nD = col("__n").cast("double")
    val rho = col("__num") / col("__denom")
    val agg = perLag.groupBy("series_id").agg(
      max(col("__n")).as("n_points"),
      count(lit(1)).as("df"),
      max(when(col("__denom") > 0, lit(0.0)).otherwise(lit(1.0))).as("__degen"),
      sum(when(col("__denom") > 0,
        rho * rho / (nD - col("lag").cast("double")))).as("__s"))
    val q = when(col("__degen") === 0.0,
      col("n_points").cast("double") * (col("n_points").cast("double") + 2.0)
        * col("__s"))
    val crit = ChiSq95.zipWithIndex.foldLeft(lit(null).cast("double")) {
      case (acc, (c, i)) => when(col("df") === (i + 1), lit(c)).otherwise(acc)
    }
    agg.select(col("series_id"), col("n_points"), col("df"),
      q.as("q_stat"), (q > crit).as("reject_white_noise"))
  }

  /** Per-series partial autocorrelation (PACF) via the Durbin–Levinson
    * recursion — the Box–Jenkins order-selection companion to [[autocorr]]
    * and [[ljungBox]]: pacf(k) is the correlation of x_t with x_{t−k}
    * AFTER the intermediate lags are regressed out, so an AR(p) process
    * cuts off sharply after lag p where the raw ACF only decays. Uses the
    * same textbook autocovariance ACF as [[ljungBox]] (full-series mean,
    * Σ(x−x̄)² denominator — the estimator the recursion is derived for).
    *
    * The recursion is a per-series FOLD over the collected lag-ordered ρ
    * array: step k computes φ_kk = (ρ_k − Σφ_j ρ_{k−j}) / (1 − Σφ_j ρ_j)
    * and reflects the coefficient vector — pure list algebra with pinned
    * inner fold order, expressible identically in the twin (the
    * [[holtWinters]] rationale). Emits (lag, rho, pacf) per series for
    * lags 1..min(maxLag, observed). Degenerate series (zero denominator —
    * constants) emit no rows, same contract as [[autocorr]]'s null.
    *
    * Scale shape: one shuffle on the series key (windows + the per-lag
    * and per-series aggregations are sub-keys of it); the fold runs on
    * ≤ maxLag doubles per series.
    */
  def pacf(points: DataFrame, maxLag: Int = 6): DataFrame = {
    require(maxLag >= 1 && maxLag <= 12,
      s"maxLag must be in [1, 12], got $maxLag")
    val bySeries = Window.partitionBy("series_id")
    val byTime = Window.partitionBy("series_id").orderBy(col("ts"), col("value"))
    val p = points.where(notNan(col("value")))
      .withColumn("__mean", avg(col("value")).over(bySeries))
      .withColumn("__denom",
        sum((col("value") - col("__mean")) * (col("value") - col("__mean")))
          .over(bySeries))
    val lagged = (1 to maxLag).foldLeft(p) { (df, l) =>
      df.withColumn(s"__lag$l", lag(col("value"), l).over(byTime))
    }
    val terms = lagged.select(col("series_id"), col("__mean"), col("__denom"),
      col("value").as("__y"),
      explode(array((1 to maxLag).map(l =>
        struct(lit(l).as("lag"), col(s"__lag$l").as("prev"))): _*)).as("lp"))
      .select(col("series_id"), col("__mean"), col("__denom"),
        col("lp.lag").as("lag"), col("__y"), col("lp.prev").as("__x"))
      .where(col("__x").isNotNull && col("__denom") > 0)
    val perLag = terms.groupBy("series_id", "lag").agg(
      max(col("__denom")).as("__denom"),
      sum((col("__y") - col("__mean")) * (col("__x") - col("__mean")))
        .as("__num"))
    val rhos = perLag
      .groupBy("series_id")
      .agg(array_sort(collect_list(struct(col("lag"),
        (col("__num") / col("__denom")).as("__rho")))).as("__lr"))
      .select(col("series_id"),
        transform(col("__lr"), x => x.getField("__rho")).as("__rhos"))
    def sumArr(a: Column): Column =
      aggregate(a, lit(0.0), (s, v) => s + v)
    val emptyD = array().cast("array<double>")
    val state = aggregate(
      sequence(lit(1), size(col("__rhos"))),
      struct(emptyD.as("phi"), emptyD.as("pk")),
      (acc, k) => {
        val phi = acc.getField("phi")
        val pk = acc.getField("pk")
        val r = col("__rhos")
        val num = element_at(r, k) -
          sumArr(transform(phi, (x, i) => x * element_at(r, k - i - 1)))
        val den = lit(1.0) -
          sumArr(transform(phi, (x, i) => x * element_at(r, i + 1)))
        val pkk = num / den
        struct(
          concat(transform(phi, (x, i) =>
            x - pkk * element_at(phi, k - i - 1)), array(pkk)).as("phi"),
          concat(pk, array(pkk)).as("pk"))
      })
    rhos
      .withColumn("__pk", state.getField("pk"))
      .select(col("series_id"), col("__rhos"),
        posexplode(col("__pk")).as(Seq("__i", "pacf")))
      .select(col("series_id"), (col("__i") + 1).as("lag"),
        element_at(col("__rhos"), col("__i") + 1).as("rho"), col("pacf"))
  }

  /** χ² 5% upper-tail critical values for df 1..6 — literal decimal strings
    * parse to the same IEEE double in any engine, so the twin's verdict
    * boundary is bit-identical.
    */
  private[graft] val ChiSq95: Seq[Double] = Seq(
    3.841458820694124, 5.991464547107979, 7.814727903251179,
    9.487729036781154, 11.070497693516351, 12.591587243743977)

  /** Per-series CUSUM changepoint: the running sum of deviations from the
    * series mean, `S_i = Σ_{j≤i}(x_j − x̄)`, peaks in magnitude at the most
    * likely single level-shift point — the classic offline CUSUM statistic.
    * Emits one row per series: the peak's timestamp, the signed peak CUSUM
    * (positive = the series ran above its mean before the shift down), the
    * series mean and the point count. Ties on |S| break to the earliest
    * point.
    *
    * Scale shape: one shuffle on the series key carries all three window
    * passes — the unordered mean frame, the ordered running sum, and the
    * peak rank (two sorts, zero extra exchanges); nothing leaves the
    * executors but one row per series.
    *
    * Cross-engine caveat: the mean (and hence every CUSUM value) is a
    * float sum whose accumulation order is engine- and layout-dependent,
    * and the peak is a DISCRETE argmax over those floats — two peaks tied
    * within an ulp can resolve to different rows in different engines.
    * Unlike [[ewma]]'s seeded fold, the order cannot be pinned here
    * (DuckDB evaluates window sums as tree reductions), so the operator
    * relies on real data not producing exact |CUSUM| ties between
    * DIFFERENT candidate rows — the same argmax-over-floats contract as
    * [[graft.pipeline.Similarity.kmeans]] assignments.
    */
  def changepoint(points: DataFrame): DataFrame = {
    val bySeries = Window.partitionBy("series_id")
    val run = Window.partitionBy("series_id").orderBy(col("ts"), col("value"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val peak = Window.partitionBy("series_id")
      .orderBy(abs(col("__cusum")).desc, col("ts").asc, col("__cusum").asc)
    points.where(notNan(col("value")))
      .withColumn("mean_value", avg("value").over(bySeries))
      .withColumn("n_points", count(lit(1)).over(bySeries))
      .withColumn("__cusum", sum(col("value") - col("mean_value")).over(run))
      .withColumn("__rk", row_number().over(peak))
      .where(col("__rk") === 1)
      .select(col("series_id"), col("ts").as("cp_ts"),
        col("__cusum").as("cp_cusum"), col("mean_value"), col("n_points"))
  }

  /** Per-series linear trend: least-squares slope/intercept of value over
    * time — the warming/cooling drift a station report leads with. Closed
    * form from co-moment sums (`slope = (nΣty − ΣtΣy)/(nΣt² − (Σt)²)`),
    * the same one-aggregation shape as [[pairCorrelation]]; a series with
    * under 2 points or zero time variance yields nulls. Time enters as
    * SECONDS (`ts / 1e9` in double) — ns² co-moments would overflow
    * doubles' integer range for century-scale spans, and the division is
    * written identically in the SQL twin so both engines share the
    * rounding.
    *
    * `slope` is units/second; `r2` is the squared Pearson correlation of
    * (t, y), null when either variance is zero.
    */
  def trend(points: DataFrame): DataFrame = {
    val sums = points.where(notNan(col("value")))
      .select(col("series_id"), (col("ts") / 1e9).as("__t"), col("value").as("__y"))
      .groupBy("series_id")
      .agg(count(lit(1)).as("n_points"),
        sum("__t").as("__st"), sum("__y").as("__sy"),
        sum(col("__t") * col("__t")).as("__stt"),
        sum(col("__y") * col("__y")).as("__syy"),
        sum(col("__t") * col("__y")).as("__sty"))
    val n = col("n_points").cast("double")
    val vt = n * col("__stt") - col("__st") * col("__st")
    val vy = n * col("__syy") - col("__sy") * col("__sy")
    val cov = n * col("__sty") - col("__st") * col("__sy")
    val slope = when(vt > 0, cov / vt)
    sums.select(col("series_id"), col("n_points"),
      slope.as("slope"),
      when(vt > 0, (col("__sy") - (cov / vt) * col("__st")) / n).as("intercept"),
      when(vt > 0 && vy > 0, (cov * cov) / (vt * vy)).as("r2"))
  }

  /** Theil–Sen robust trend: slope = exact median of all pairwise slopes
    * `(y_j − y_i)/(t_j − t_i)` over point pairs with `t_i < t_j`, intercept
    * = exact median of the residuals `y − slope·t`. Up to ~29% of the
    * points can be arbitrary outliers before the estimate breaks — the
    * robust counterpart to [[trend]]'s least squares, whose slope a single
    * spike drags (pinned in the spec).
    *
    * Medians are selection-based and explicit (rows (n+1) div 2 and
    * n div 2 + 1 of the sorted multiset, averaged) so the SQL twin lands
    * on the same doubles — no engine-specific quantile interpolation.
    * Series need >= 2 distinct-timestamp points (others drop out with the
    * empty pair set).
    *
    * Scale shape: the pair join is per-series QUADRATIC — that is inherent
    * to exact Theil–Sen, so a count window guards it: any series above
    * `maxPoints` fails fast with a routing hint (downsample via [[resample]]
    * / [[Rdp]] first, or use [[trend]]) instead of silently exploding a
    * 10⁶-point series into 10¹² pairs on the cluster. Below the bound,
    * everything is key-partitioned on the series: one sort per median,
    * pair volume Σ n_s², never cross-series.
    */
  def theilSen(points: DataFrame, maxPoints: Int = 10000): DataFrame = {
    require(maxPoints >= 2, s"theilSen needs maxPoints >= 2, got $maxPoints")
    val p0 = points.where(notNan(col("value")))
      .select(col("series_id"), (col("ts") / 1e9).as("__t"), col("value").as("__y"))
    val p = p0.withColumn("__n", count(lit(1)).over(bySeries))
      .withColumn("__t",
        when(col("__n") > maxPoints, raise_error(format_string(
          s"theilSen: series %s has %s points > maxPoints $maxPoints — " +
            "the exact pair median is quadratic; downsample (resample/rdp) " +
            "or use trend()",
          col("series_id"), col("__n"))))
          .otherwise(col("__t")))
      .drop("__n")
    val a = p.select(col("series_id"), col("__t").as("__t1"), col("__y").as("__y1"))
    val b = p.select(col("series_id"), col("__t").as("__t2"), col("__y").as("__y2"))
    val slopes = a.join(b, Seq("series_id"))
      .where(col("__t1") < col("__t2"))
      .select(col("series_id"),
        ((col("__y2") - col("__y1")) / (col("__t2") - col("__t1"))).as("__m"))
    val sl = exactMedian(slopes, "__m").select(col("series_id"),
      col("__median").as("slope"), col("__n_vals").as("n_pairs"))
    val resid = p.join(sl, "series_id")
      .select(col("series_id"), col("slope"), col("n_pairs"),
        (col("__y") - col("slope") * col("__t")).as("__r"))
    val ic = exactMedian(resid.select("series_id", "__r"), "__r")
      .select(col("series_id"), col("__median").as("intercept"),
        col("__n_vals").as("n_points"))
    sl.join(ic, "series_id")
      .select("series_id", "n_points", "n_pairs", "slope", "intercept")
  }

  /** Periodogram per series — the frequency-domain diagnostic the
    * time-domain family (STL slot means, autocorrelation) approximates
    * from the side: exact DFT power at the first `maxFreq` harmonics of
    * the resampled, mean-centered series,
    * `P(j) = (Σ_t v'_t·cos(2πjt/n))² + (Σ_t v'_t·sin(2πjt/n))²`.
    * A dominant seasonal cycle shows as a power spike at its harmonic
    * (period in buckets = n/j); centering removes the DC term that would
    * otherwise dominate every bin. Buckets are indexed by their rank on
    * the resampled axis (gaps compress — the pragmatic convention for
    * sparse series; regularity is the caller's resample contract).
    *
    * The trig sums fold over the per-series TIME-SORTED value array, not
    * a groupBy sum: a partial-aggregated sum's accumulation order varies
    * with partitioning, and the resulting last-ulp wobble in `power` was
    * MEASURED straddling the compare's 9th significant digit between
    * runs. The sorted fold pins one accumulation order in both engines
    * (the same contract as the per-series collect in [[percentiles]]:
    * per-series cardinalities are bounded). DFT positions are the array
    * positions (Spark's lambda index is 0-based, DuckDB's 1-based — the
    * twin subtracts 1).
    */
  def periodogram(points: DataFrame, dtNs: Long, maxFreq: Int = 5): DataFrame = {
    require(maxFreq >= 1, s"maxFreq must be >= 1, got $maxFreq")
    val b = resample(points, dtNs)
      .where(col("mean_value").isNotNull)
      .select(col("series_id"), col("bucket_ts"), col("mean_value"))
    val g = b.groupBy("series_id")
      .agg(array_sort(collect_list(struct(col("bucket_ts"),
        col("mean_value")))).as("__bm"))
      .select(col("series_id"),
        transform(col("__bm"), x => x.getField("mean_value")).as("__vs"))
      .withColumn("freq", explode(sequence(lit(1), lit(maxFreq))))
    val n = size(col("__vs"))
    val withMu = g.withColumn("__mu",
      aggregate(col("__vs"), lit(0.0), (a, x) => a + x) / n)
    def fold(trig: Column => Column): Column =
      aggregate(
        transform(col("__vs"), (x, i) => (x - col("__mu")) *
          trig(lit(2 * math.Pi) * col("freq") * i / n)),
        lit(0.0), (a, x) => a + x)
    withMu
      .withColumn("__sc", fold(cos))
      .withColumn("__ss", fold(sin))
      .select(col("series_id"), col("freq"), n.cast("long").as("n_points"),
        (col("__sc") * col("__sc") + col("__ss") * col("__ss")).as("power"))
  }

  /** Mann–Kendall trend test per series (Mann 1945; Kendall 1975) — the
    * nonparametric SIGNIFICANCE companion to [[theilSen]]'s slope: S =
    * Σ_{i<j} sign(v_j − v_i) over time-ordered pairs, Var(S) =
    * (n(n−1)(2n+5) − Σ_ties t(t−1)(2t+5)) / 18 with the standard tied-
    * value correction, and the continuity-corrected z = (S∓1)/√Var(S).
    * Distribution-free (no normality assumption), insensitive to
    * outliers — the standard "is this sensor actually drifting"
    * hypothesis test. `trend` applies the two-sided 5% level (|z| >
    * 1.96). Everything up to the final division is exact integer
    * arithmetic, so the statistic is bit-reproducible cross-engine.
    *
    * Same quadratic-pair contract as [[theilSen]]: fails fast above
    * `maxPoints` with a downsample hint. Pairs at identical timestamps
    * are excluded (no defined order), matching the slope operator.
    */
  def mannKendall(points: DataFrame, maxPoints: Int = 10000): DataFrame = {
    require(maxPoints >= 2, s"mannKendall needs maxPoints >= 2, got $maxPoints")
    val p0 = points.where(notNan(col("value")))
      .select(col("series_id"), col("ts"), col("value").as("__y"))
    val p = p0.withColumn("__n", count(lit(1)).over(bySeries))
      .withColumn("ts",
        when(col("__n") > maxPoints, raise_error(format_string(
          s"mannKendall: series %s has %s points > maxPoints $maxPoints — " +
            "the pair statistic is quadratic; downsample (resample/rdp) first",
          col("series_id"), col("__n"))))
          .otherwise(col("ts")))
      .drop("__n")
    val a = p.select(col("series_id"), col("ts").as("__t1"), col("__y").as("__y1"))
    val b = p.select(col("series_id"), col("ts").as("__t2"), col("__y").as("__y2"))
    val s = a.join(b, Seq("series_id"))
      .where(col("__t1") < col("__t2"))
      .groupBy("series_id")
      .agg(sum(signum(col("__y2") - col("__y1")).cast("long")).as("s_stat"))
    val nTab = p.groupBy("series_id").agg(count(lit(1)).as("n_points"))
    val ties = p.groupBy(col("series_id"), col("__y"))
      .agg(count(lit(1)).as("__tk"))
      .where(col("__tk") > 1)
      .groupBy("series_id")
      .agg(sum(col("__tk") * (col("__tk") - 1) * (col("__tk") * 2 + 5))
        .as("__tie_term"))
    val n = col("n_points")
    val varS = ((n * (n - 1) * (n * 2 + 5) - coalesce(col("__tie_term"), lit(0L)))
      .cast("double") / 18.0)
    val withV = nTab
      .join(s, Seq("series_id"), "left")
      .join(ties, Seq("series_id"), "left")
      .select(col("series_id"), col("n_points"),
        coalesce(col("s_stat"), lit(0L)).as("s_stat"), varS.as("var_s"))
    val z = when(col("s_stat") > 0,
        (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
      .when(col("s_stat") < 0,
        (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
      .otherwise(lit(0.0))
    withV.withColumn("z", z)
      .withColumn("trend",
        when(col("z") > 1.96, "increasing")
          .when(col("z") < -1.96, "decreasing")
          .otherwise("none"))
  }

  /** Exact interpolation-free median per series: the average of the sorted
    * multiset's rows (n+1) div 2 and n div 2 + 1 (the same row twice when n
    * is odd) — explicit selection arithmetic both engines reproduce
    * bit-for-bit, unlike percentile/quantile_cont interpolation forms.
    * Output: series_id, __median, __n_vals.
    */
  private def exactMedian(df: DataFrame, vCol: String): DataFrame = {
    val w = bySeries.orderBy(col(vCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__nn", count(lit(1)).over(bySeries))
      .where(col("__rn") === expr("(__nn + 1) DIV 2")
        || col("__rn") === expr("__nn DIV 2 + 1"))
      .groupBy("series_id")
      .agg((sum(vCol) / count(lit(1))).as("__median"),
        max("__nn").as("__n_vals"))
  }

  /** Diurnal seasonal profile: NaN-safe mean/min/max/count per (series,
    * time-of-period bucket) — the hour-of-day (or day-of-week) cycle a
    * weather dashboard overlays on raw readings, and the seasonal component
    * a naive forecaster subtracts. `periodNs` is the cycle length (a day),
    * `bucketNs` the slot width (an hour); the slot of a point is
    * `pmod(ts, period) div bucket`, so pre-epoch timestamps land in the
    * correct slot (pmod, not `%`).
    *
    * Scale shape: identical to [[resample]] — one composite-key shuffle
    * with full map-side combine; output is seriesCount · period/bucket rows
    * regardless of input density.
    */
  def seasonalProfile(points: DataFrame, periodNs: Long, bucketNs: Long): DataFrame = {
    require(periodNs > 0, s"period must be positive, got $periodNs")
    require(bucketNs > 0 && periodNs % bucketNs == 0,
      s"bucket must divide period, got $bucketNs / $periodNs")
    val v = when(notNan(col("value")), col("value"))
    points
      .groupBy(col("series_id"),
        expr(s"pmod(ts, $periodNs) div $bucketNs").as("slot"))
      .agg(avg(v).as("mean_value"), min(v).as("min_value"),
        max(v).as("max_value"), count(v).as("n_points"))
  }

  /** Gap detection: intervals where a series went silent for more than
    * `factor` times its own inferred cadence ([[dtMode]]) — the
    * data-quality screen that finds dead sensors and collection outages
    * without any per-series configuration. Emits one row per gap with the
    * bracketing timestamps and the gap/dt ratio.
    *
    * Scale shape: the lag runs in the same (series, ts) sort every other
    * sequential op uses; dtMode is a bounded aggregate joined back on the
    * series key (broadcast-size: one row per series).
    */
  def gaps(points: DataFrame, factor: Double = 2.0): DataFrame = {
    require(factor > 0, s"factor must be positive, got $factor")
    val d = deltas(points).where(col("delta_ns").isNotNull)
    d.join(dtModeOfDeltas(d), Seq("series_id"))
      .where(col("delta_ns") > col("dt_mode_ns") * factor)
      .select(col("series_id"),
        (col("ts") - col("delta_ns")).as("gap_start"),
        col("ts").as("gap_end"),
        col("delta_ns").as("gap_ns"),
        (col("delta_ns").cast("double") / col("dt_mode_ns")).as("gap_ratio"))
  }

  /** Additive seasonal-trend decomposition (the moving-average STL-lite a
    * monitoring stack runs before alerting on residuals): per point,
    * `trend` is the NaN-safe centered moving average over ±`halfWindow`
    * rows, `seasonal` is the per-(series, time-of-period slot) mean of the
    * detrended values, and `residual = value − trend − seasonal`. The slot
    * is `pmod(ts, periodNs) div bucketNs`, matching [[seasonalProfile]].
    * Outputs are RAW doubles, deliberately un-rounded: any fixed-decimal
    * snap (round or floor) plants boundary lines exactly where this
    * data's window/slot means live (2-decimal values over small counts
    * are 1e-6-grid rationals), so engine-order ulp noise flips digits —
    * measured both ways. Raw doubles ride the compare gate's
    * significant-digit normalization, the same contract every other
    * windowed-mean operator here ([[rolling]], [[seasonalProfile]])
    * ships under.
    *
    * Scale shape: one (series, ts) sort for the rows window — the same
    * sort every sequential op shares — plus a slot-keyed partial-combined
    * aggregate whose output is seriesCount · period/bucket rows, rejoined
    * on its composite key. No corpus-wide window, nothing driver-side.
    */
  def stl(points: DataFrame, periodNs: Long, bucketNs: Long,
      halfWindow: Int = 12): DataFrame = {
    require(periodNs > 0, s"period must be positive, got $periodNs")
    require(bucketNs > 0 && periodNs % bucketNs == 0,
      s"bucket must divide period, got $bucketNs / $periodNs")
    require(halfWindow >= 1, s"halfWindow must be >= 1, got $halfWindow")
    val v = when(notNan(col("value")), col("value"))
    val w = bySeries.orderBy(col("ts"), col("value"))
      .rowsBetween(-halfWindow, halfWindow)
    val trended = points
      .withColumn("slot", expr(s"pmod(ts, $periodNs) div $bucketNs"))
      .withColumn("__trend", avg(v).over(w))
      .withColumn("__detr", v - col("__trend"))
    val seasonal = trended.groupBy("series_id", "slot")
      .agg(avg(col("__detr")).as("__seasonal"))
    trended.join(seasonal, Seq("series_id", "slot"))
      .select(col("series_id"), col("ts"), col("value"),
        col("__trend").as("trend"),
        col("__seasonal").as("seasonal"),
        (v - col("__trend") - col("__seasonal")).as("residual"))
  }

  /** Per-series seasonal and trend STRENGTH (Hyndman & Athanasopoulos,
    * fpp3 §4.5) over the [[stl]] decomposition: F_s = max(0, 1 −
    * Var(R)/Var(S+R)) and F_t = max(0, 1 − Var(R)/Var(T+R)) — the [0, 1]
    * scores that rank thousands of series by "how seasonal / how
    * trending" without eyeballing plots (the triage step before routing
    * series to [[forecastNaive]] vs [[holt]] vs [[holtWinters]]).
    *
    * All three variances fold over ONE per-series sorted collect
    * ([[periodogram]]'s pinned-order lesson — plain partial-aggregated
    * Σx² over hundreds of float terms wobbles at the 9th digit); the
    * population-variance formula (Σx² − (Σx)²/n)/n is written with the
    * identical operation order in the twin. A component with zero
    * variance yields null strength (the ratio is undefined), not a
    * divide-by-zero.
    *
    * Noise floor: a strength below 1e-9 reads EXACTLY 0.0. When the
    * seasonal (or trend) component is flat, 1 − Var(R)/Var(S+R) is a
    * catastrophic cancellation of two near-equal variances whose value
    * (~1e-16) is pure accumulation-order noise — the upstream seasonal
    * mean is a partial-aggregated float avg, so the noise is
    * run-nondeterministic and engine-divergent even at 9 significant
    * digits (bit once at sf0.1). Real strengths on any data are either
    * ≈0 at the 1e-12 scale or ≥1e-6; nothing meaningful lives at the
    * floor. The twin applies the identical floor.
    */
  def stlStrength(points: DataFrame, periodNs: Long, bucketNs: Long,
      halfWindow: Int = 12): DataFrame = {
    val comp = stl(points, periodNs, bucketNs, halfWindow)
      .where(col("residual").isNotNull)
    val fold = """aggregate(__rows,
      | array(0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D, 0.0D),
      | (a, x) -> array(
      |   element_at(a, 1) + 1.0D,
      |   element_at(a, 2) + x.residual,
      |   element_at(a, 3) + x.residual * x.residual,
      |   element_at(a, 4) + (x.seasonal + x.residual),
      |   element_at(a, 5) + (x.seasonal + x.residual) * (x.seasonal + x.residual),
      |   element_at(a, 6) + (x.trend + x.residual),
      |   element_at(a, 7) + (x.trend + x.residual) * (x.trend + x.residual)))""".stripMargin
    def variance(sq: String, s: String): String =
      s"(element_at(__a, $sq) - element_at(__a, $s) * element_at(__a, $s) " +
        s"/ element_at(__a, 1)) / element_at(__a, 1)"
    val vR = variance("3", "2")
    val vSR = variance("5", "4")
    val vTR = variance("7", "6")
    comp
      .groupBy("series_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("value"),
        col("seasonal"), col("residual"), col("trend")))).as("__rows"))
      .withColumn("__a", expr(fold))
      .select(col("series_id"),
        expr("CAST(element_at(__a, 1) AS BIGINT)").as("n_points"),
        expr(s"CASE WHEN $vSR > 0.0D THEN CASE WHEN 1.0D - ($vR) / ($vSR) < 1e-9D" +
            s" THEN 0.0D ELSE 1.0D - ($vR) / ($vSR) END END")
          .as("seasonal_strength"),
        expr(s"CASE WHEN $vTR > 0.0D THEN CASE WHEN 1.0D - ($vR) / ($vTR) < 1e-9D" +
            s" THEN 0.0D ELSE 1.0D - ($vR) / ($vTR) END END")
          .as("trend_strength"))
  }

  /** Seasonality-adjusted anomaly detection: [[outliersMad]] applied to
    * the [[stl]] RESIDUAL instead of the raw value — a reading that is
    * extreme for 3 a.m. but normal for 3 p.m. is invisible to raw-value
    * scoring and obvious after the trend and seasonal components are
    * removed. Pure composition of the two verified operators: the STL
    * decomposition feeds its residual through the same Iglewicz–Hoaglin
    * MAD scoring (per-series medians, 0.6745 constant, mean-AD
    * fallback, flag at `k`). Rows whose residual is undefined (NaN
    * source values) drop, exactly like [[outliersMad]] drops NaN inputs.
    *
    * Scale shape: the [[stl]] windows plus [[outliersMad]]'s two grouped
    * medians, all keyed on the series — nothing new beyond the parents.
    */
  def stlAnomaly(points: DataFrame, periodNs: Long, bucketNs: Long,
      halfWindow: Int = 12, k: Double = 3.5): DataFrame =
    outliersMad(stl(points, periodNs, bucketNs, halfWindow)
        .select(col("series_id"), col("ts"), col("residual").as("value")), k)
      .withColumnRenamed("value", "residual")

  /** Seasonal-naive forecast: the reference's `read_forecast` endpoint
    * raises NotImplementedError (reference:
    * weather/data_sources/netatmo/repository.py:308-324) — this is the
    * working Spark-native baseline that slot fills it. For each series,
    * emit `horizon` future points on the `bucketNs` grid after the last
    * observed timestamp; the forecast at each future instant is the
    * series' historical NaN-safe mean for that time-of-period slot (the
    * [[seasonalProfile]] component — the standard seasonal-naive
    * baseline every forecast benchmark measures against). Slots the
    * series never observed yield null. Values are raw slot means —
    * exactly [[seasonalProfile]]'s un-rounded contract (see [[stl]] for
    * why fixed-decimal snapping is the wrong stabilizer here).
    *
    * Scale shape: one slot-keyed profile aggregate + one per-series max —
    * both partial-combined — joined on (series, slot) after a map-only
    * horizon explode; output is seriesCount · horizon rows.
    */
  def forecastNaive(points: DataFrame, periodNs: Long, bucketNs: Long,
      horizon: Int = 24): DataFrame = {
    require(periodNs > 0, s"period must be positive, got $periodNs")
    require(bucketNs > 0 && periodNs % bucketNs == 0,
      s"bucket must divide period, got $bucketNs / $periodNs")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val profile = seasonalProfile(points, periodNs, bucketNs)
      .select(col("series_id"), col("slot"), col("mean_value"))
    val future = points.groupBy("series_id").agg(max("ts").as("__last"))
      .withColumn("step", explode(sequence(lit(1), lit(horizon))))
      .select(col("series_id"),
        (col("__last") + col("step").cast("long") * bucketNs).as("ts"))
      .withColumn("slot", expr(s"pmod(ts, $periodNs) div $bucketNs"))
    future.join(profile, Seq("series_id", "slot"), "left")
      .select(col("series_id"), col("ts"), col("mean_value").as("yhat"))
  }

  /** Rolling-origin backtest of the seasonal-naive forecaster: hold out
    * the trailing `holdoutNs` window (one GLOBAL cutoff at max(ts) −
    * holdout — a per-series cutoff would starve sparse series), fit the
    * slot-mean profile on the train slice only, score every held-out
    * point against its slot's forecast. Per series: held-out count,
    * scored count (slots never seen in train yield no forecast), MAE and
    * signed bias — the accuracy report that decides whether
    * [[forecastNaive]] is good enough before anything fancier ships.
    *
    * Scale shape: two partial-combined aggregates (train profile, test
    * scores) around one (series, slot)-keyed join; the cutoff is a
    * broadcast scalar. Per-series test sums are few-term (the holdout is
    * a window, not the corpus), so plain aggregates stay cross-engine
    * stable — the [[periodogram]] many-term hazard does not apply.
    */
  def backtestNaive(points: DataFrame, periodNs: Long, bucketNs: Long,
      holdoutNs: Long): DataFrame = {
    require(periodNs > 0 && bucketNs > 0 && periodNs % bucketNs == 0,
      s"bucket must divide period, got $bucketNs / $periodNs")
    require(holdoutNs > 0, s"holdout must be positive, got $holdoutNs")
    val p = points.where(notNan(col("value")))
    val cutoff = p.agg(max("ts").as("__mx"))
      .select((col("__mx") - lit(holdoutNs)).as("__cut"))
    val slot = expr(s"pmod(ts, $periodNs) div $bucketNs")
    val withCut = p.crossJoin(broadcast(cutoff))
    val profile = withCut.where(col("ts") <= col("__cut"))
      .groupBy(col("series_id"), slot.as("slot"))
      .agg(avg("value").as("__yhat"))
    withCut.where(col("ts") > col("__cut"))
      .select(col("series_id"), slot.as("slot"), col("value"))
      .join(profile, Seq("series_id", "slot"), "left")
      .groupBy("series_id")
      .agg(count(lit(1)).as("n_test"), count(col("__yhat")).as("n_scored"),
        avg(abs(col("value") - col("__yhat"))).as("mae"),
        avg(col("value") - col("__yhat")).as("bias"))
  }

  /** O4: stream tail limit — keep only the newest `n` points per series,
    * the reference's Bokeh `stream(new, 100)` display buffer
    * (reference: visual/dashboard_test.py:81). Deterministic tie-break on
    * (ts, value) descending.
    */
  def tailLimit(points: DataFrame, n: Int): DataFrame =
    points
      .withColumn("__rn", row_number().over(
        bySeries.orderBy(col("ts").desc, col("value").desc)))
      .where(col("__rn") <= n)
      .drop("__rn")

  /** Heating/cooling degree days per series and UTC month — the classic
    * weather-energy metric over a temperature series: each day
    * contributes max(0, base − T̄) to HDD and max(0, T̄ − base) to CDD,
    * with T̄ the day's mean reading. Composes [[resample]]'s daily
    * rollup (NaN-ignoring mean) with a calendar-month aggregate — two
    * partial-combined shuffles end to end; days whose readings are all
    * NaN contribute nothing.
    */
  def degreeDays(points: DataFrame, baseTemp: Double = 17.0): DataFrame = {
    val dayNs = 86400L * 1000 * 1000 * 1000
    resample(points, dayNs)
      .where(col("mean_value").isNotNull)
      .select(col("series_id"),
        unix_micros(date_trunc("month",
          timestamp_micros(expr("bucket_ts div 1000")))).as("month_start_us"),
        col("mean_value"))
      .groupBy("series_id", "month_start_us")
      .agg(count(lit(1)).as("n_days"),
        sum(greatest(lit(0.0), lit(baseTemp) - col("mean_value"))).as("hdd"),
        sum(greatest(lit(0.0), col("mean_value") - lit(baseTemp))).as("cdd"))
  }

  /** Holt linear (double) exponential smoothing per series — the
    * trend-aware upgrade of [[ewma]]: level l_t = α·x_t + (1−α)(l_{t−1} +
    * b_{t−1}), trend b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, initialized
    * l_1 = x_1, b_1 = 0 (the zero-trend start; the recursion washes the
    * choice out at these α). Emits the end-of-series state and the h-step
    * linear forecasts l + h·b for h = 1..`horizon` — the short-range
    * operational forecast ([[forecastNaive]] covers the seasonal shape).
    *
    * The recursion folds over the per-series TIME-SORTED value array
    * (ties on ts break by value) — one pinned accumulation order in both
    * engines, same rationale as [[periodogram]]. Defaults α = β = 0.5
    * make every step an exact binary scale, bit-identical cross-engine.
    * Scale shape: one groupBy collect per series; per-series state is two
    * doubles. Series longer than driver memory would stream through
    * [[graft.streaming.StreamOps]]' EWMA face instead.
    */
  def holt(points: DataFrame, alpha: Double = 0.5, beta: Double = 0.5,
      horizon: Int = 3): DataFrame = {
    require(alpha > 0 && alpha <= 1 && beta >= 0 && beta <= 1,
      s"need 0 < alpha <= 1, 0 <= beta <= 1; got alpha=$alpha beta=$beta")
    require(horizon >= 1, s"horizon must be >= 1, got $horizon")
    val a = lit(alpha)
    val bt = lit(beta)
    val state = aggregate(
      expr("slice(__vs, 2, size(__vs) - 1)"),
      struct(element_at(col("__vs"), 1).as("l"), lit(0.0).as("b")),
      (acc, x) => {
        val l1 = a * x + (lit(1.0) - a) * (acc.getField("l") + acc.getField("b"))
        struct(l1.as("l"),
          (bt * (l1 - acc.getField("l")) + (lit(1.0) - bt) * acc.getField("b"))
            .as("b"))
      })
    points.where(notNan(col("value")))
      .groupBy("series_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("value")))).as("__tv"))
      .select(col("series_id"),
        transform(col("__tv"), x => x.getField("value")).as("__vs"))
      .withColumn("__st", state)
      .select(col("series_id"), size(col("__vs")).cast("long").as("n_points"),
        col("__st.l").as("level"), col("__st.b").as("trend"),
        explode(sequence(lit(1), lit(horizon))).as("h"))
      .select(col("series_id"), col("n_points"), col("level"), col("trend"),
        col("h").cast("long").as("h"),
        (col("level") + col("h") * col("trend")).as("forecast"))
  }

  /** SAX symbolization per series (Lin et al. 2003): z-normalize the
    * resampled series, Piecewise Aggregate Approximation into `w` equal
    * segments (the [⌊j·n/w⌋, ⌊(j+1)·n/w⌋) floor windows the contour
    * fingerprints use), then map each segment mean to one of 4 symbols at
    * the standard Gaussian breakpoints (−0.6745, 0, 0.6745) — the compact
    * string representation behind time-series indexing, motif mining, and
    * "which sensors behave alike" grouping (two series with the same SAX
    * word are shape-similar regardless of scale/offset).
    *
    * Arithmetic is pinned ([[periodogram]]'s lesson): mean, variance, and
    * every segment sum fold over the per-series TIME-SORTED value list,
    * one accumulation order in both engines; a zero-variance series maps
    * to the mid symbol. Series shorter than `w` buckets drop (empty
    * segments would be undefined). One collect per series; the word is w
    * chars however long the series.
    */
  def sax(points: DataFrame, dtNs: Long, w: Int = 8): DataFrame = {
    require(w >= 2, s"sax needs w >= 2 segments, got $w")
    require(dtNs > 0, s"dtNs must be positive, got $dtNs")
    val nL = "size(__vs)"
    val segLen = s"(CAST(((j + 1) * $nL) DIV $w AS INT) - CAST((j * $nL) DIV $w AS INT))"
    val segSum = s"aggregate(slice(__vs, CAST((j * $nL) DIV $w AS INT) + 1, $segLen), " +
      "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
    val z = s"((($segSum) / $segLen) - __mu) / __sd"
    val sym = s"CASE WHEN __sd = CAST(0.0 AS DOUBLE) THEN 'c' " +
      s"WHEN $z < -0.6745D THEN 'a' WHEN $z < 0.0D THEN 'b' " +
      s"WHEN $z < 0.6745D THEN 'c' ELSE 'd' END"
    resample(points, dtNs)
      .where(col("mean_value").isNotNull)
      .groupBy("series_id")
      .agg(array_sort(collect_list(struct(col("bucket_ts"),
        col("mean_value")))).as("__bm"))
      .select(col("series_id"),
        transform(col("__bm"), x => x.getField("mean_value")).as("__vs"))
      .where(size(col("__vs")) >= w)
      .withColumn("__mu",
        aggregate(col("__vs"), lit(0.0), (a, x) => a + x) / size(col("__vs")))
      .withColumn("__sd", sqrt(
        aggregate(transform(col("__vs"),
            x => (x - col("__mu")) * (x - col("__mu"))),
          lit(0.0), (a, x) => a + x) / size(col("__vs"))))
      .select(col("series_id"), size(col("__vs")).cast("long").as("n_points"),
        expr(s"array_join(transform(sequence(0, ${w - 1}), j -> $sym), '')")
          .as("sax_word"))
  }

  /** Sliding-window SAX motif census — the corpus-scale "which normalized
    * shapes recur" diagnostic built on the same symbolization as [[sax]]:
    * every length-`L` window of CONSECUTIVE OBSERVATIONS (the resampled
    * bucket sequence in time order; like the whole-series operator, the
    * grid aligns and dedupes within buckets but gaps do not break a
    * window — this corpus is sparse and irregular, so shape is defined
    * over the observation sequence) is z-normalized, PAA-reduced to
    * `L/2`-bucket segments of width 2, and mapped to a 4-symbol word.
    * Identical words = identical coarse shapes; the census reports how
    * many windows and how many distinct series produce each word — motif
    * families across the fleet (a word seen once is noise and is dropped
    * below `minCount`). Flat windows (zero in-window sd) read the
    * all-'c' word, which is itself a meaningful motif (dead-level spans).
    *
    * Exactness: each window's mean/sd/segment sums are single pinned
    * left-to-right expressions over the `L` led values (no aggregation
    * order anywhere), and the census aggregates are integer counts — the
    * output is bit-stable cross-engine by construction.
    *
    * Scale shape: one shuffle on the series key for the lead window, then
    * one partial-combined groupBy on the word (a ≤ 4^(L/2)-key census).
    */
  def saxMotifs(points: DataFrame, dtNs: Long, minCount: Long = 2): DataFrame = {
    val L = 8
    val byTime = Window.partitionBy("series_id").orderBy(col("bucket_ts"))
    val b = resample(points, dtNs)
      .where(col("mean_value").isNotNull)
      .select(col("series_id"), col("bucket_ts"), col("mean_value"))
    val led = (1 until L).foldLeft(b.withColumn("__x0", col("mean_value"))) {
      (df, i) => df.withColumn(s"__x$i", lead(col("mean_value"), i).over(byTime))
    }.where(col(s"__x${L - 1}").isNotNull)
    val xs = (0 until L).map(i => col(s"__x$i"))
    val mu = xs.reduceLeft(_ + _) / lit(L.toDouble)
    val sd = sqrt(xs.map(x => (x - col("__mu")) * (x - col("__mu")))
      .reduceLeft(_ + _) / lit(L.toDouble))
    def sym(z: Column): Column =
      when(col("__sd") === 0.0, lit("c"))
        .when(z < -0.6745, lit("a")).when(z < 0.0, lit("b"))
        .when(z < 0.6745, lit("c")).otherwise(lit("d"))
    val segs = (0 until L / 2).map { j =>
      sym(((col(s"__x${2 * j}") + col(s"__x${2 * j + 1}")) / 2.0 - col("__mu"))
        / col("__sd"))
    }
    led
      .withColumn("__mu", mu)
      .withColumn("__sd", sd)
      .select(col("series_id"), concat(segs: _*).as("motif"))
      .groupBy("motif")
      .agg(count(lit(1)).as("n_windows"),
        countDistinct(col("series_id")).as("n_series"))
      .where(col("n_windows") >= minCount)
  }

  /** Additive Holt–Winters (triple) exponential smoothing per series — the
    * seasonal upgrade of [[holt]]: l_t = α(x_t − s_{t−m}) + (1−α)(l_{t−1}
    * + b_{t−1}), b_t = β(l_t − l_{t−1}) + (1−β)b_{t−1}, s_t = γ(x_t −
    * l_t) + (1−γ)s_{t−m}, seasonality positional with period `m` over the
    * time-sorted observation sequence. Initialized l_1 = x_1, b_1 = 0,
    * s = 0⃗ (the first cycle learns the seasonals; the recursion washes
    * the start out at these rates). Emits the end state and h = 1..m
    * forecasts l + h·b + s_{next h}.
    *
    * The seasonal state is carried ROTATED — the fold consumes the head
    * slot and appends the refreshed one — so each step is pure list
    * algebra with no indexed writes, expressible identically in both
    * engines. Defaults α = β = γ = 0.5 make every step an exact binary
    * scale on top of the same fold order ([[holt]]'s rationale), so the
    * doubles are bit-identical cross-engine. Scale shape: one groupBy
    * collect per series; per-series state is m + 2 doubles.
    */
  def holtWinters(points: DataFrame, m: Int = 4, alpha: Double = 0.5,
      beta: Double = 0.5, gamma: Double = 0.5): DataFrame = {
    require(m >= 2, s"season length m must be >= 2, got $m")
    require(alpha > 0 && alpha <= 1 && beta >= 0 && beta <= 1 && gamma >= 0 && gamma <= 1,
      s"need 0 < alpha <= 1, 0 <= beta, gamma <= 1; got alpha=$alpha beta=$beta gamma=$gamma")
    val a = lit(alpha)
    val bt = lit(beta)
    val g = lit(gamma)
    val state = aggregate(
      expr("slice(__vs, 2, size(__vs) - 1)"),
      concat(array(element_at(col("__vs"), 1), lit(0.0)),
        array_repeat(lit(0.0), m)),
      (acc, x) => {
        val l0 = element_at(acc, 1)
        val b0 = element_at(acc, 2)
        val s1 = element_at(acc, 3)
        val l1 = a * (x - s1) + (lit(1.0) - a) * (l0 + b0)
        val b1 = bt * (l1 - l0) + (lit(1.0) - bt) * b0
        val sN = g * (x - l1) + (lit(1.0) - g) * s1
        concat(array(l1, b1), slice(acc, 4, m - 1), array(sN))
      })
    points.where(notNan(col("value")))
      .groupBy("series_id")
      .agg(array_sort(collect_list(struct(col("ts"), col("value")))).as("__tv"))
      .select(col("series_id"),
        transform(col("__tv"), x => x.getField("value")).as("__vs"))
      .withColumn("__st", state)
      .select(col("series_id"), size(col("__vs")).cast("long").as("n_points"),
        element_at(col("__st"), 1).as("level"),
        element_at(col("__st"), 2).as("trend"),
        slice(col("__st"), 3, m).as("__seas"),
        explode(sequence(lit(1), lit(m))).as("h"))
      .select(col("series_id"), col("n_points"), col("level"), col("trend"),
        col("h").cast("long").as("h"),
        (col("level") + col("h") * col("trend")
          + element_at(col("__seas"), col("h").cast("int"))).as("forecast"))
  }
}
