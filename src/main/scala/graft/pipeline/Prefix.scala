package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MetadataBuilder

import graft.core.Sessions

/** Distributed exclusive/inclusive prefix sums over an id-ordered stream —
  * the primitive under sequence packing, compaction planning, and
  * token-budget sampling. A naive `sum(x) OVER (ORDER BY id)` is a
  * single-partition sort: one task owns every row of the corpus. The
  * textbook fix (Blelloch's scan, here in three Spark stages):
  *
  *  1. shard by `id div shardWidth` — shards are contiguous id ranges, so
  *     shard order == id order — and cumsum WITHIN each shard (parallel,
  *     one shuffle on the shard key);
  *  2. aggregate one total per shard (metadata scale: #shards rows) and
  *     prefix-scan THOSE on a single partition — trivially cheap;
  *  3. broadcast the shard prefixes back and add.
  *
  * Optional `groupCols` scope the scan (shard key becomes (group, shard)
  * and the metadata scan partitions by group), so per-source budgets don't
  * serialize on one task either.
  */
object Prefix {

  /** `__shard` metadata keys: the id column and width that cut the shards. */
  private val ShardIdKey = "graft.prefix.idCol"
  private val ShardWidthKey = "graft.prefix.shardWidth"

  /** Append `endCol` = inclusive running sum of `valCol` in `idCol` order
    * (within `groupCols` if given). The exclusive prefix is
    * `endCol - valCol`. Values must be non-negative longs at the caller's
    * contract; ids need not be dense — only monotone with shard order.
    *
    * Plan shape (ONE corpus exchange, input executed ONCE): both the
    * per-shard window scan and the shard-totals branch hang off the SAME
    * `Window.partitionBy(group, shard)` exchange — the totals aggregate
    * groups by exactly the keys the data is already partitioned on, so it
    * needs no exchange of its own, and ReusedExchange computes the shared
    * exchange (and everything below it — the caller's projection, which
    * for the budget/packing callers includes a full tokenize) once. The
    * previous form aggregated the totals from the INPUT, which executed
    * the input subtree twice through two sibling corpus exchanges.
    *
    * `keepShard = true` retains the internal `__shard` column (named
    * `__shard`, = `idCol div shardWidth`, its metadata recording both) in
    * the output so a CHAINED scan over the same `idCol`/`shardWidth` can
    * reuse the established partitioning: a scan reuses the input's
    * `__shard` only when its metadata names the scan's own `idCol` and
    * `shardWidth`. Any other input carrying `__shard` (a stale column, or
    * one cut at another width) fails with an `IllegalArgumentException`
    * naming the mismatch.
    */
  def runningSum(df: DataFrame, idCol: String, valCol: String,
      groupCols: Seq[String] = Nil, shardWidth: Long = 1L << 20,
      endCol: String = "__end", keepShard: Boolean = false): DataFrame =
    scan(df, idCol, valCol, groupCols, shardWidth, endCol, keepShard,
      sum(col(valCol)),
      (prefix, localEnd) => coalesce(prefix, lit(0L)) + localEnd,
      sum(col("__total")))

  /** Append `endCol` = inclusive running MAX of `valCol` in `idCol` order
    * (within `groupCols` if given) — [[runningSum]]'s shard scan
    * instantiated at the (max, −∞) monoid instead of (+, 0):
    * per-shard local max-scan in parallel, a metadata-scale prefix-max
    * over the per-shard maxima, broadcast combine via `greatest` (whose
    * null handling absorbs the first shard's empty prefix). Any
    * associative-idempotent fold rides this shape; the politeness
    * scheduler's recurrence `sched_i = max(t_i, sched_{i−1} + delay)`
    * unrolls to `delay·i + max_{j≤i}(t_j − delay·j)` — a prefix max.
    */
  def runningMax(df: DataFrame, idCol: String, valCol: String,
      groupCols: Seq[String] = Nil, shardWidth: Long = 1L << 20,
      endCol: String = "__end", keepShard: Boolean = false): DataFrame =
    scan(df, idCol, valCol, groupCols, shardWidth, endCol, keepShard,
      max(col(valCol)),
      (prefix, localEnd) => greatest(prefix, localEnd),
      max(col("__total")))

  /** The shared single-exchange shard scan: per-shard inclusive window
    * fold, shard totals aggregated FROM the window branch's exchange
    * (no second corpus exchange, no second input execution), a
    * metadata-scale prefix fold over the totals, broadcast combine.
    */
  private def scan(df: DataFrame, idCol: String, valCol: String,
      groupCols: Seq[String], shardWidth: Long, endCol: String,
      keepShard: Boolean, fold: Column,
      combine: (Column, Column) => Column, prefixFold: Column): DataFrame = {
    require(shardWidth > 0, s"shardWidth must be positive, got $shardWidth")
    val shardMeta = new MetadataBuilder()
      .putString(ShardIdKey, idCol).putLong(ShardWidthKey, shardWidth).build()
    val carried = df.schema.find(_.name == "__shard")
    carried.foreach { f =>
      require(f.metadata == shardMeta,
        s"Prefix scan: the input's __shard was not cut by a keepShard scan with " +
          s"idCol=$idCol, shardWidth=$shardWidth (its metadata: ${f.metadata.json})")
    }
    val grp = groupCols.map(col)
    // The ONE corpus exchange of the scan, as an EXPLICIT pinned-width
    // repartition on the window's own partition keys rather than the
    // window's implicit ENSURE_REQUIREMENTS exchange, for two reasons:
    //  - both downstream branches (window fold + shard totals) reference
    //    this frame, and only a repartition keeps their exchange subtrees
    //    identical for reuse — column pruning narrows an implicit
    //    exchange's projection per branch (the totals branch drops the
    //    caller's payload columns), and two branch-specific exchanges
    //    re-execute the whole input (measured: the PSL-domain projection
    //    of fetchSchedule ran twice that way);
    //  - REPARTITION_BY_NUM is AQE-proof: a small scan's shuffle would
    //    otherwise coalesce to one partition and serialize the window
    //    (the width is the session's shuffle.partitions — cluster-sized
    //    in production, never a local constant).
    // A chained frame, checked above, is ALREADY partitioned on these keys
    // by the previous scan, so the chain pays no second exchange.
    val shuffleN = Sessions.partsOf(df.sparkSession)
    val sharded = if (carried.isDefined) df
      else {
        val s0 = df.select(col("*"), expr(s"`$idCol` div $shardWidth").as("__shard", shardMeta))
        s0.repartition(shuffleN, (grp :+ col("__shard")): _*)
      }
    val keys = grp :+ col("__shard")
    val localW = Window.partitionBy(keys: _*).orderBy(col(idCol))
    val local = sharded.withColumn("__local_end",
      fold.over(localW))
    val prefW = Window.partitionBy(grp: _*).orderBy("__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    // totals from the WINDOW COLUMN (the last row's inclusive end IS the
    // shard total — ids are unique, so max_by picks exactly the last row):
    // referencing __local_end keeps the Window in this branch's plan, so
    // both branches' exchanges are IDENTICAL subtrees and ReusedExchange
    // computes the exchange (and the whole input below it) once. An
    // aggregate over the raw value column instead gets column-pruned past
    // the Window into its own sibling exchange — two input executions
    // (measured: that shape kept the second Scan+Exchange in the plan).
    // The groupBy keys are the window's own partition keys, so this branch
    // adds no exchange of its own.
    val prefixes = local.groupBy(keys: _*)
      .agg(max_by(col("__local_end"), col(idCol)).as("__total"))
      .withColumn("__prefix", prefixFold.over(prefW))
      .drop("__total")
    val joined = local.join(broadcast(prefixes), groupCols :+ "__shard")
      .withColumn(endCol, combine(col("__prefix"), col("__local_end")))
      .drop("__local_end", "__prefix")
    if (keepShard) joined else joined.drop("__shard")
  }

  /** Reduce a (key, tie) sample to `parts − 1` sorted distinct boundary
    * keys — the picker [[globalRowNumber]] uses, exposed so multi-metric
    * callers ([[globalRowNumberBounded]]) can draw one sample and slice
    * it per key.
    */
  def pickBounds(sample: Array[(Option[Double], Long)],
      parts: Int): Array[(Option[Double], Long)] = {
    val sorted = sample
      .sortBy { case (k, t) => (k.getOrElse(Double.NegativeInfinity), t) }
    if (sorted.isEmpty) Array.empty
    else (1 until parts)
      .map(i => sorted(((i.toLong * sorted.length) / parts).toInt))
      .distinct.toArray
  }

  // try_cast throughout: under ANSI (Spark 4's default) a plain cast of an
  // uncastable tie would throw the generic CAST_INVALID_INPUT before the
  // contract guard could fire; try_cast nulls instead, so the raise_error
  // below is the ONE error surface in both ANSI and legacy modes
  private def guarded(df: DataFrame, key: Column, tie: Column): DataFrame =
    df.withColumn("__gk", key.cast("double"))
      .withColumn("__gt",
        when(tie.isNull || tie.try_cast("long").isNull,
          raise_error(concat(
            lit("globalRowNumber: tie must be a non-null long-castable " +
              "value (unique-tie contract); got: "),
            coalesce(tie.cast("string"), lit("null")))).cast("long"))
          .otherwise(tie.try_cast("long")))

  /** Append `rankCol` = exact global `row_number()` under
    * (`key` asc, `tie` asc) — the distributed form of
    * `row_number().OVER (ORDER BY key, tie)`, whose direct Spark plan is a
    * SINGLE-PARTITION sort (one task owns every row; Spark prints the
    * WindowExec warning). Three stages, none corpus-bottlenecked:
    *
    *  1. pick `parts − 1` boundary keys from a DETERMINISTIC hash-drawn
    *     sample of (key, tie) pairs (`xxhash64(tie) % (n/sampleTarget)`,
    *     layout-invariant — NOT `df.sample`, whose draw follows partition
    *     layout) and compute each row's partition id as a pure codegen
    *     fold of `(key, tie) > boundary` comparisons — a deterministic
    *     FUNCTION of the row, so no cross-subplan exchange-reuse is
    *     needed for the two consumers below to agree;
    *  2. `row_number()` within each pid (a PARTITIONED window — parallel);
    *  3. per-pid counts → a ≤`parts`-row prefix scan → broadcast add.
    *
    * Exactness needs only pid-monotonicity w.r.t. the total order (the
    * boundary indicator is monotone in (key, tie)), NOT balanced
    * boundaries — a skewed sample degrades parallelism, never the ranks.
    * Ties are impossible by contract: `tie` must be unique per row.
    *
    * Contract: `key` is cast to double (exact for longs < 2⁵³ — cast
    * counts/ids that can exceed that yourself) and must not be NaN;
    * null keys rank FIRST (Spark's asc null order — coalesce to a
    * sentinel first if nulls mean "worst"). `tie` must be non-null and
    * castable to long — a tie that silently casts to null (a string
    * user id, say) would BOTH break the unique-tie determinism and
    * empty the boundary sample (xxhash64(null) is constant), so the
    * cast is guarded: any null-or-uncastable tie raises at run time
    * instead of degrading silently. String ids: pre-map them to a
    * numeric surrogate (monotonically unique zip, their own hash +
    * a dedup pass) before ranking. `n` is the caller's row count (most
    * callers already have it); it only sizes the sample draw, so an
    * estimate is fine.
    */
  def globalRowNumber(df: DataFrame, key: Column, tie: Column,
      rankCol: String, n: Long, parts0: Int = 0,
      sampleTarget: Int = 1 << 12): DataFrame = {
    val parts = Sessions.partsOf(df.sparkSession, parts0)
    val base = guarded(df, key, tie)
    val mod = math.max(1L, n / math.max(1, sampleTarget))
    val sample = base
      .where(pmod(xxhash64(col("__gt")), lit(mod)) === 0)
      .select(col("__gk"), col("__gt")).collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Double]), r.getLong(1)))
    globalRowNumberBounded(df, key, tie, rankCol,
      pickBounds(sample, parts))
  }

  /** [[globalRowNumber]] with the boundary keys precomputed — the
    * multi-metric face: when several rank passes run over the SAME
    * relation with different keys but a shared tie (rfm's three metrics),
    * ONE sample collect can feed [[pickBounds]] per key instead of one
    * scan per pass. Exactness is untouched: correctness needs only
    * pid-monotonicity of the boundary comparisons, which holds for
    * boundaries drawn from any (key, tie) subset — an unrepresentative
    * sample degrades balance, never ranks.
    */
  def globalRowNumberBounded(df: DataFrame, key: Column, tie: Column,
      rankCol: String, bounds: Array[(Option[Double], Long)]): DataFrame = {
    val base = guarded(df, key, tie)
    // (key, tie) > (bk, bt) with null keys ordering first: a null row key
    // exceeds no boundary (pid 0); a null BOUNDARY key is exceeded by any
    // non-null key or a larger tie
    val pid = bounds.foldLeft(lit(0)) { case (acc, (bk, bt)) =>
      val gt = bk match {
        case Some(k) =>
          col("__gk") > k || (col("__gk") === k && col("__gt") > bt)
        case None => col("__gk").isNotNull || col("__gt") > bt
      }
      acc + when(gt, 1).otherwise(0)
    }
    // explicit pinned-width repartition on the window's partition key, for
    // the same two reasons as [[scan]]: identical exchange subtrees for the
    // two branches below (reuse — input executes once) and AQE-proof width
    // so a small rank pass is not serialized onto one partition
    val shuffleN = Sessions.partsOf(df.sparkSession)
    val withPid = base.withColumn("__pid", pid)
      .repartition(shuffleN, col("__pid"))
    val localW = Window.partitionBy("__pid")
      .orderBy(col("__gk").asc, col("__gt").asc)
    val local = withPid
      .withColumn("__lrn", row_number().over(localW).cast("long"))
    val offW = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    // per-pid counts from the WINDOW COLUMN (max local row number == the
    // pid's row count): referencing __lrn keeps the Window in this branch,
    // so both branches' exchanges are identical subtrees and ReusedExchange
    // computes the exchange — and the whole input pipeline below it — once.
    // A count(1) here instead gets column-pruned past the Window into its
    // own sibling exchange: two input executions. Grouping on the window's
    // own partition key adds no exchange of its own.
    val offsets = local.groupBy("__pid").agg(max(col("__lrn")).as("__cnt"))
      .withColumn("__off", coalesce(sum("__cnt").over(offW), lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(broadcast(offsets), Seq("__pid"))
      .withColumn(rankCol, col("__off") + col("__lrn"))
      .drop("__pid", "__lrn", "__off", "__gk", "__gt")
  }
}
