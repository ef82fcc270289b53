package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cohort retention over an event stream: users are grouped into cohorts by
  * the UTC day of their FIRST event, and each (cohort, day-offset) cell
  * counts the distinct users of that cohort seen again `offset` days later
  * — the classic retention triangle (offset 0 row == cohort size).
  *
  * Scale shape: the first-seen timestamp comes from an unordered
  * whole-partition window on the user key (one shuffle, no groupBy+join
  * back), then one distinct-aggregate on the (cohort, offset) key.
  * `count(DISTINCT user)` is exact — partial-deduplicated per partition
  * before the final merge — because retention cells must tie out to cohort
  * sizes; swap in `approx_count_distinct` when a ±2% HLL estimate is
  * acceptable at cluster scale.
  */
object Retention {

  /** `tsCol` is epoch nanoseconds (UTC); `dayNs` parameterizes the bucket
    * so tests can use synthetic day lengths. Day bucketing is FLOOR
    * division (`(ts - pmod(ts, d)) div d`, exact long arithmetic), so
    * pre-epoch timestamps land on the correct UTC day — a plain `div`
    * truncates toward zero and would cohort a 1969 event one day late.
    */
  def retention(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", dayNs: Long = 86400L * 1000 * 1000 * 1000): DataFrame = {
    require(dayNs > 0, s"dayNs must be positive, got $dayNs")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(userCol)
    events
      .select(col(userCol),
        expr(s"(`$tsCol` - pmod(`$tsCol`, $dayNs)) div $dayNs").as("__day"))
      .withColumn("cohort_day", min("__day").over(w))
      .groupBy(col("cohort_day"), (col("__day") - col("cohort_day")).as("day_offset"))
      .agg(count_distinct(col(userCol)).as("n_users"))
  }

  /** Rolling active-user metrics per UTC day: DAU (distinct users that
    * day), trailing-`window`-day WAU (distinct users across the day and
    * the window−1 days before it), and DAU/WAU stickiness — the
    * engagement dashboard triple. Only days with actual activity are
    * emitted; early days carry partial (shorter) trailing windows, the
    * standard convention.
    *
    * The trailing distinct is computed WITHOUT a sliding distinct window
    * (which would hold per-day user sets in executor state): each
    * distinct (user, day) pair fans out to the `window` target days it
    * covers, the pair stream is re-deduplicated on (target_day, user) —
    * a user active twice inside one window still counts once — and the
    * count is a plain partial-combined aggregate. Scale shape: two
    * distinct-aggregates and one bounded explode (fan-out = window), all
    * keyed on well-spread (day, user) pairs; no windows, no state.
    */
  def activeUsers(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", window: Int = 7,
      dayNs: Long = 86400L * 1000 * 1000 * 1000): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(dayNs > 0, s"dayNs must be positive, got $dayNs")
    val ud = events
      .select(col(userCol).as("__u"),
        expr(s"(`$tsCol` - pmod(`$tsCol`, $dayNs)) div $dayNs").as("day"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(explode(sequence(col("day"), col("day") + (window - 1)))
        .as("day"), col("__u"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau")).as("stickiness"))
  }

  /** RFM segmentation over conversion events: per user, Recency (days
    * since last conversion, relative to the stream's max timestamp),
    * Frequency (conversion count), Monetary (summed value), each scored
    * into discrete quintiles 1..5 (5 best) by rank — `score = 5 −
    * ⌊(rank−1)·5/n⌋` under a (metric, user_id) order, so ties and
    * boundaries are engine-exact. The classic customer-value segmentation.
    *
    * Scale shape: one conversion-filtered aggregate on the user key
    * (materialized once via [[graft.core.Lineage.truncate]] — the three
    * rank passes and the sample draws re-read blocks, not the event
    * stream), a one-row max-ts broadcast, and three EXACT distributed
    * ranks via [[graft.pipeline.Prefix.globalRowNumber]] — a global
    * `row_number().over(Window.orderBy(…))` here would funnel the whole
    * user table through ONE task, which at production user counts is the
    * job's bottleneck (and Spark says so in the WindowExec warning).
    * Desc metrics rank via negated keys; a null monetary (every purchase
    * value NaN) is pinned to the WORST monetary rank explicitly.
    * Frequency is exact in the rank key below 2⁵³ conversions per user.
    *
    * `userCol` must be non-null for every converting event: the user id is
    * the rank passes' unique tie key, and [[graft.pipeline.Prefix]]'s
    * guarded tie contract raises on a null (or non-long-castable) id
    * rather than silently dropping or mis-ranking the row. Filter or
    * sentinel-map null user ids before calling.
    */
  def rfm(events: DataFrame, convPredicate: Column,
      userCol: String = "user_id", tsCol: String = "ts",
      valueCol: String = "value",
      dayNs: Long = 86400L * 1000 * 1000 * 1000): DataFrame = {
    require(dayNs > 0, s"dayNs must be positive, got $dayNs")
    val conv = events.where(convPredicate)
    val now = conv.agg(max(col(tsCol)).as("__now"))
    // NaN purchase values are excluded from the monetary sum (the
    // calendarProfile convention): one NaN would otherwise make monetary
    // NaN, which desc-orders above every double and awards that user the
    // best m_score. The conversion still counts toward frequency.
    val perUser = graft.core.Lineage.truncate(
      conv.groupBy(col(userCol))
        .agg(max(col(tsCol)).as("__last"), count(lit(1)).as("frequency"),
          sum(when(!isnan(col(valueCol)), col(valueCol))).as("monetary"))
        .crossJoin(broadcast(now))
        .withColumn("recency_days",
          expr(s"(__now - __last) div $dayNs")))
    val n = perUser.count()
    // the three metrics share ONE deterministic boundary-sample draw
    // (Prefix.pickBounds per key) instead of one sample scan per rank
    // pass — exactness is untouched (bounds from any (key, tie) subset
    // only affect balance, never ranks), the materialized perUser table
    // is scanned once for sampling instead of three times
    val keys: Seq[(String, Column)] = Seq(
      "r_score" -> col("recency_days").cast("double"),
      "f_score" -> (-col("frequency")).cast("double"),
      "m_score" -> when(col("monetary").isNull, lit(Double.MaxValue))
        .otherwise(-col("monetary")).cast("double"))
    val parts = graft.core.Sessions.partsOf(perUser.sparkSession)
    val mod = math.max(1L, n / (1L << 12))
    val sampleRows = perUser
      .where(pmod(xxhash64(col(userCol).cast("long")), lit(mod)) === 0)
      .select(col(userCol).cast("long").as("__t")
        +: keys.map { case (nm, k) => k.as(nm) }: _*)
      .collect()
    // Each score ranks the MATERIALIZED perUser independently and the
    // three (user, score) columns join back on the user key. The previous
    // chained form (score(score(score(perUser)))) nested each pass's plan
    // inside the next, and globalRowNumberBounded's two branches (local
    // ranks + partition offsets) then re-executed the whole upstream chain
    // per branch — 4× recompute of the first rank pipeline by the third
    // pass. Ranks are unchanged: every pass reads the same checkpointed
    // rows either way.
    def score(idx: Int): DataFrame = {
      val (name, key) = keys(idx)
      val bounds = graft.pipeline.Prefix.pickBounds(sampleRows.map(r =>
        (if (r.isNullAt(idx + 1)) None else Some(r.getDouble(idx + 1)),
          r.getLong(0))), parts)
      graft.pipeline.Prefix
        .globalRowNumberBounded(perUser, key, col(userCol), "__rn", bounds)
        .withColumn(name,
          expr(s"CAST(5 - ((__rn - 1) * 5) div ${math.max(n, 1L)} AS INT)"))
        .select(col(userCol), col(name))
    }
    val scored = perUser
      .join(score(0), Seq(userCol))
      .join(score(1), Seq(userCol))
      .join(score(2), Seq(userCol))
    scored
      .select(col(userCol), col("recency_days"), col("frequency"), col("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("rfm"))
  }

  /** Cohort lifetime-value curves: users cohorted by first-seen UTC day
    * (ANY event), conversion revenue rolled up per (cohort, day-offset)
    * and accumulated along the offset axis, normalized per cohort member
    * — the "how much is a January signup worth by day 30" curve that
    * prices acquisition. Offsets with no revenue are emitted only if some
    * cohort activity happened that day (same sparsity convention as
    * [[retention]]).
    *
    * Scale shape: first-seen via one user-keyed aggregate, revenue cells
    * via one (cohort, offset) aggregate; the running total is a window
    * over the CELL table (cohorts × offsets — metadata scale).
    */
  def ltv(events: DataFrame, convPredicate: Column,
      userCol: String = "user_id", tsCol: String = "ts",
      valueCol: String = "value",
      dayNs: Long = 86400L * 1000 * 1000 * 1000): DataFrame = {
    require(dayNs > 0, s"dayNs must be positive, got $dayNs")
    import org.apache.spark.sql.expressions.Window
    val withDay = events
      .select(col(userCol), col(tsCol),
        expr(s"(`$tsCol` - pmod(`$tsCol`, $dayNs)) div $dayNs").as("__day"),
        convPredicate.as("__conv"), col(valueCol).as("__v"))
    val firstSeen = withDay.groupBy(userCol).agg(min("__day").as("cohort_day"))
    val sizes = firstSeen.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_size"))
    // NaN revenue is excluded (calendarProfile convention) — a single NaN
    // would otherwise poison the cumulative curve for every later offset
    val cells = withDay.join(firstSeen, userCol)
      .groupBy(col("cohort_day"), (col("__day") - col("cohort_day")).as("day_offset"))
      .agg(sum(when(col("__conv") && !isnan(col("__v")), col("__v"))
        .otherwise(lit(0.0))).as("revenue"))
    val w = Window.partitionBy("cohort_day").orderBy("day_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_revenue", sum("revenue").over(w))
      .join(sizes, "cohort_day")
      .withColumn("ltv", col("cum_revenue") / col("cohort_size"))
      .select("cohort_day", "day_offset", "revenue", "cum_revenue",
        "cohort_size", "ltv")
  }

  /** Cumulative distinct users per UTC day — the growth curve. Exact
    * distinct-over-growing-window WITHOUT any stateful window or repeated
    * rescans: a user contributes to every day from their FIRST event on,
    * so `min(day) per user` (one shuffle on the user key) turns the
    * problem into a plain per-day count plus a running total.
    *
    * The running total is an ordered window with no partition key, but it
    * runs over the per-day rollup — one row per active day, metadata
    * scale even at 100 TB of events (a century is < 40k rows), so the
    * single-partition sort is free. Only days with signups appear in
    * `new_users`; `cumulative_users` is the running count as of each such
    * day.
    */
  def cumulativeUsers(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", dayNs: Long = 86400L * 1000 * 1000 * 1000): DataFrame = {
    require(dayNs > 0, s"dayNs must be positive, got $dayNs")
    import org.apache.spark.sql.expressions.Window
    val firstSeen = events
      .select(col(userCol),
        expr(s"(`$tsCol` - pmod(`$tsCol`, $dayNs)) div $dayNs").as("__day"))
      .groupBy(userCol).agg(min("__day").as("day"))
    val running = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstSeen
      .groupBy("day").agg(count(lit(1)).as("new_users"))
      .withColumn("cumulative_users", sum("new_users").over(running))
  }

  /** Window-over-window churn: per tumbling window, how many of its
    * active users do NOT appear in the NEXT window — the companion to
    * [[retention]]'s cohort view (churn asks "who left this period",
    * retention asks "who stayed since signup"). The final window has no
    * successor to judge against and is excluded rather than reported as
    * 100% churn. Rate is one integer quotient — bit-stable.
    *
    * Scale shape: one distinct on (user, window), one left-anti
    * self-join on the shifted key, two partial-combined counts; the
    * max-window bound is a broadcast scalar.
    */
  def churn(events: DataFrame, windowNs: Long,
      userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    require(windowNs > 0, s"windowNs must be positive, got $windowNs")
    val active = events
      .where(col(userCol).isNotNull)
      .select(col(userCol).as("__u"),
        (col(tsCol) - pmod(col(tsCol), lit(windowNs))).as("window_start"))
      .distinct()
    val maxW = active.agg(max("window_start").as("__max_w"))
    val nextShifted = active.select(col("__u"),
      (col("window_start") - lit(windowNs)).as("window_start"))
    val churned = active
      .join(nextShifted, Seq("__u", "window_start"), "left_anti")
      .groupBy("window_start").agg(count(lit(1)).as("n_churned"))
    active.groupBy("window_start").agg(count(lit(1)).as("n_active"))
      .join(churned, Seq("window_start"), "left")
      .crossJoin(broadcast(maxW))
      .where(col("window_start") < col("__max_w"))
      .select(col("window_start"), col("n_active"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        (coalesce(col("n_churned"), lit(0L)).cast("double")
          / col("n_active").cast("double")).as("churn_rate"))
  }

  /** Kaplan–Meier survival curve over user lifetimes — the product-limit
    * estimator (Kaplan & Meier 1958) that churn dashboards actually need:
    * "what fraction of users are still active t days after their first
    * event", with the right-censoring the naive histogram gets wrong. A
    * user's lifetime is last-day − first-day (UTC floor-division days);
    * the churn event is OBSERVED only when the last activity predates the
    * corpus end by at least `censorDays` — users still active near the
    * end are censored (their lifetime is a lower bound), and censored
    * users leave the risk set without pulling the curve down.
    *
    * One row per distinct lifetime t: the risk-set size just before t,
    * observed churns d(t), censored exits c(t), and
    * S(t) = Π_{t' ≤ t} (1 − d(t')/n(t')).
    *
    * Exactness: d, c, and the risk set are integer aggregates; S(t) is a
    * running float product, which a partial-combined aggregate would
    * reorder — so the per-lifetime rollup (≤ corpus-day-span rows,
    * metadata scale) collects into ONE t-sorted array and every row's
    * survival folds over its own prefix with a (risk, product) struct
    * accumulator: one pinned multiplication order in both engines
    * (ts_spectral's lesson). The prefix folds are quadratic in distinct
    * lifetimes — bounded by the day span, never by users.
    *
    * Scale shape: one per-user partial-combined aggregate (the only
    * corpus-scale shuffle, on the well-spread user key), a ≤ span-sized
    * rollup, then array algebra on one row. At 100 TB of events this is a
    * scan plus two reductions.
    */
  def survival(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", censorDays: Long = 14,
      dayNs: Long = 86400L * 1000 * 1000 * 1000): DataFrame = {
    require(censorDays >= 0, s"censorDays must be >= 0, got $censorDays")
    require(dayNs > 0, s"dayNs must be positive, got $dayNs")
    val users = events
      .where(col(userCol).isNotNull)
      .select(col(userCol).as("__u"),
        expr(s"(`$tsCol` - pmod(`$tsCol`, $dayNs)) div $dayNs").as("__day"))
      .groupBy("__u")
      .agg(min("__day").as("__fd"), max("__day").as("__ld"))
    val maxDay = users.agg(max("__ld").as("__maxd"))
    val rollup = users.crossJoin(broadcast(maxDay))
      .select((col("__ld") - col("__fd")).as("t"),
        when(col("__ld") <= col("__maxd") - censorDays, 1L).otherwise(0L)
          .as("__obs"))
      .groupBy("t")
      .agg(sum("__obs").as("d"), (count(lit(1)) - sum("__obs")).as("c"))
    val packed = rollup
      .agg(array_sort(collect_list(struct(col("t"), col("d"), col("c"))))
        .as("__arr"))
      .withColumn("__n",
        aggregate(col("__arr"), lit(0L),
          (a, x) => a + x.getField("d") + x.getField("c")))
    // 1-based prefix: row i's risk set excludes exits at earlier lifetimes
    // only; its survival folds rows 1..i with the factor computed BEFORE
    // the row's own exits leave the risk set.
    val surv = aggregate(
      expr("slice(__arr, 1, __pos + 1)"),
      struct(col("__n").cast("double").as("rem"), lit(1.0).as("s")),
      (acc, x) => struct(
        (acc.getField("rem") - x.getField("d") - x.getField("c")).as("rem"),
        (acc.getField("s") * (lit(1.0)
          - x.getField("d").cast("double") / acc.getField("rem"))).as("s")))
    packed
      .select(col("__arr"), col("__n"),
        posexplode(col("__arr")).as(Seq("__pos", "__r")))
      .select(col("__r.t").as("t"),
        (col("__n") - aggregate(expr("slice(__arr, 1, __pos)"), lit(0L),
          (a, x) => a + x.getField("d") + x.getField("c"))).as("n_risk"),
        col("__r.d").as("n_events"), col("__r.c").as("n_censored"),
        surv.getField("s").as("survival"))
  }
}
