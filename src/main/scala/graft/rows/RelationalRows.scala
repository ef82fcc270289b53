package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.ops.{Retention, Sessionize}
import graft.pipeline.{Sampling, SemiStructured}

import Fixtures._
import QueryRow.{face, row}

/** Relational anchors (scan, filter, aggregate, join, window), entity resolution, and the analytics over the events table. */
private[graft] object RelationalRows {
  val rows: Seq[QueryRow] = Seq(
    // ---- relational anchors (scan/filter/agg/join; Catalyst baseline) ----
    row("q1_agg", (s, dir) => {
      Tables(s, dir).lineitem
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum("l_quantity").as("sum_qty"),
          sum("l_extendedprice").as("sum_base"),
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc"),
          avg("l_discount").as("avg_disc"),
          count(lit(1)).as("n"))
    },
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        |sum(l_extendedprice) AS sum_base,
        |sum(l_extendedprice * (1.0 - l_discount)) AS sum_disc,
        |avg(l_discount) AS avg_disc, count(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin),
    row("q2_join_agg", (s, dir) => {
      val t = Tables(s, dir)
      t.orders.join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
          sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n"))
    },
      """SELECT o_orderpriority,
        |sum(l_extendedprice * (1.0 - l_discount)) AS revenue, count(*) AS n
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1""".stripMargin),
    row("q3_broadcast_dims", (s, dir) => {
      val t = Tables(s, dir)
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(count(lit(1)).as("n_cust"), sum("c_acctbal").as("acctbal"))
    },
      """SELECT r_name, n_name, count(*) AS n_cust, sum(c_acctbal) AS acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2""".stripMargin),
    row("q4_filter", (s, dir) => {
      Tables(s, dir).lineitem
        .where(col("l_quantity") > 45.0 && col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem WHERE l_quantity > 45.0 AND l_discount > 0.05""".stripMargin),
    // ROLLUP goes through the SQL surface: Dataset.rollup on a join output
    // false-positives Spark 4's ambiguous-self-join detector (the Expand
    // re-resolves grouping attrs against the join), and GROUP BY ROLLUP over
    // a view of the same plan optimizes to the identical Expand+Aggregate.
    row("q5_rollup", (s, dir) => {
      val t = Tables(s, dir)
      t.customer
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
        .createOrReplaceTempView("graft_q5_joined")
      // spark.sql analyzes eagerly, so the view can be dropped immediately
      // instead of leaking session-global state past this builder
      val out = s.sql(
        """SELECT r_name, n_name, count(1) AS n_cust, sum(c_acctbal) AS acctbal
          |FROM graft_q5_joined GROUP BY ROLLUP (r_name, n_name)""".stripMargin)
      s.catalog.dropTempView("graft_q5_joined")
      out
    },
      """SELECT r_name, n_name, count(*) AS n_cust, sum(c_acctbal) AS acctbal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin),
    // windowed relational anchor: per-customer order rank + running revenue
    row("q6_window", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byDate = Window.partitionBy("o_custkey")
        .orderBy(col("order_us"), col("o_orderkey"))
      Tables(s, dir).orders
        // o_orderdate is TIMESTAMP_NTZ; the session tz is pinned UTC, so
        // the cast to (local) timestamp is a no-op reinterpretation
        .select(col("o_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("order_us"),
          col("o_totalprice"))
        .withColumn("order_rank", row_number().over(byDate))
        .withColumn("running_revenue", sum("o_totalprice").over(
          byDate.rowsBetween(Window.unboundedPreceding, 0)))
    },
      """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS order_us,
        |  o_totalprice,
        |  CAST(row_number() OVER win AS INTEGER) AS order_rank,
        |  sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY epoch_us(o_orderdate), o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_revenue
        |FROM orders
        |WINDOW win AS (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate), o_orderkey)""".stripMargin),
    // correlated-aggregate anchor (TPC-H Q17 shape): per-part average
    // quantity re-joined to lineitem on the SAME key — the groupBy output
    // is co-partitioned with the probe side, so AQE plans one shuffle for
    // both; the part dimension broadcasts. The quantity limit is exact
    // across engines: quantities are integer-valued doubles, so the
    // per-part sum is exact in any order and avg*0.2 is one deterministic
    // IEEE rounding in both.
    row("q7_small_qty", (s, dir) => {
      val t = Tables(s, dir)
      val lim = t.lineitem.groupBy("l_partkey")
        .agg((avg("l_quantity") * 0.2).as("qty_lim"))
      t.lineitem.join(lim, "l_partkey")
        .where(col("l_quantity") < col("qty_lim"))
        .join(broadcast(t.part), col("p_partkey") === col("l_partkey"))
        .groupBy("p_brand")
        .agg(sum("l_extendedprice").as("total_price"), count(lit(1)).as("n"))
    },
      // Mirrors the correlated-aggregate anchor: per-part avg is exact in
      // both engines (integer-valued quantities sum exactly in any order),
      // so the strict < against avg*0.2 cannot flip between them.
      """WITH pa AS (SELECT l_partkey, avg(l_quantity) * 0.2 AS qty_lim
        |  FROM lineitem GROUP BY 1)
        |SELECT p_brand, sum(l_extendedprice) AS total_price, count(*) AS n
        |FROM lineitem JOIN pa USING (l_partkey)
        |JOIN part ON p_partkey = l_partkey
        |WHERE l_quantity < qty_lim GROUP BY 1""".stripMargin),
    // bloom-prefiltered semi-join: the 32 KiB key bloom rides the
    // lineitem scan as a literal-array codegen predicate, so the shuffle
    // carries only possible matches; the exact semi-join removes the
    // bloom's false positives — result identical to a plain semi-join
    row("join_bloom_semi", (s, dir) => {
      val t = Tables(s, dir)
      graft.ops.BloomJoin.semiJoin(
        t.lineitem.select("l_orderkey", "l_linenumber", "l_partkey"),
        t.part.where(col("p_size") === 1).select(col("p_partkey").as("l_partkey")),
        "l_partkey")
    },
      // Mirrors the bloom-prefiltered semi-join: the bloom must be
      // invisible, so the oracle is the PLAIN semi-join.
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)""".stripMargin),
    // record-linkage fuzzy join: a dirty feed (customer names with one
    // digit deleted, injected for custkey % 3 = 0 — the corpus has no
    // organic typos; oracle mirrors) matched back to the master table via
    // SymSpell deletion-neighborhood blocking + exact levenshtein verify.
    // Ambiguity is real and kept: deleting a zero from the id-digit run
    // often lands within ED 1 of several master names
    row("er_fuzzy_join", (s, dir) => {
      val c = Tables(s, dir).customer
      graft.ops.FuzzyJoin.editJoin(erDirtyCustomers(c), c,
        "d_id", "d_name", "c_custkey", "c_name")
    },
      // Mirrors FuzzyJoin.editJoin over the injected dirty feed: same digit
      // deletion, same deletion-neighborhood expansion (i = 0 keeps the
      // key), same exact levenshtein verify.
      s"""WITH $ErPairsCtes
         |SELECT id_a, id_b, name_a, name_b, dist FROM er_pairs""".stripMargin),
    // entity canonicalization over the same fuzzy-match graph: connected
    // components assign every dirty and master record its canonical
    // entity (min reachable id); an ambiguous dirty record merges its
    // candidate masters — entity_size flags those for review. The gate
    // bounds the id range (a no-op at sf0.01): the ORACLE's recursive
    // reachability is quadratic in component size, and the zero-heavy
    // digit-run region chains into one giant component at larger SFs —
    // the Spark side (log-round star CC) handles the full graph fine
    row("er_entities", (s, dir) => {
      val c = Tables(s, dir).customer.where(col("c_custkey") <= 1500)
      graft.ops.FuzzyJoin.entities(erDirtyCustomers(c), c,
        "d_id", "d_name", "c_custkey", "c_name")
    },
      // Mirrors FuzzyJoin.entities over the same match graph: recursive
      // min-label closure seeded with EVERY record id (singletons label
      // themselves), the shared er_pairs CTE as the edge relation.
      s"""WITH RECURSIVE customer_b AS (
         |  SELECT * FROM customer WHERE c_custkey <= 1500),
         |${erPairsCtesFrom("customer_b")},
         |nodes AS (SELECT d_id AS id FROM dirty
         |  UNION SELECT c_custkey FROM customer_b),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM er_pairs
         |  UNION SELECT id_b, id_a FROM er_pairs),
         |reach(id, comp) AS (SELECT id, id FROM nodes
         |  UNION SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.id),
         |comps AS (SELECT id AS record_id, min(comp) AS entity_id FROM reach GROUP BY 1),
         |sizes AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS entity_size
         |  FROM comps GROUP BY 1)
         |SELECT record_id, entity_id, entity_size
         |FROM comps JOIN sizes USING (entity_id)""".stripMargin),
    // the ED <= 2 face of the fuzzy join: supplier names with TWO digits
    // deleted (positions keyed off s_suppkey so the damage varies) matched
    // back to the master via the radius-2 deletion neighborhood — exact
    // for ED <= 2 by the SymSpell property, so heavier typos than the
    // ED-1 gate covers still link; candidates only ever meet levenshtein
    row("er_ed2_join", (s, dir) => {
      val sup = Tables(s, dir).supplier
      val dirty = sup
        .select(col("s_suppkey"),
          expr("concat(substring(s_name, 1, CAST(9 + s_suppkey % 5 AS INT)), " +
            "substring(s_name, CAST(11 + s_suppkey % 5 AS INT), length(s_name)))")
            .as("__d1"))
        .select((col("s_suppkey") + lit(1L << 40)).as("d_id"),
          expr("concat(substring(__d1, 1, CAST(9 + s_suppkey % 3 AS INT)), " +
            "substring(__d1, CAST(11 + s_suppkey % 3 AS INT), length(__d1)))")
            .as("d_name"))
      graft.ops.FuzzyJoin.editJoin(dirty, sup,
        "d_id", "d_name", "s_suppkey", "s_name", maxDist = 2)
    },
      // Mirrors the ED <= 2 fuzzy join: the same two-digit deletion fixture
      // and the same radius-2 deletion neighborhood on both sides (one
      // deletion level per CTE, DISTINCT per side), levenshtein-verified.
      {
        // single-line on purpose: the enclosing stripMargin would otherwise
        // eat the leading pipe of a line-initial || concat
        def dels(x: String) =
          s"list_transform(range(0, length($x) + 1), i -> " +
            s"CASE WHEN i = 0 THEN $x ELSE substr($x, 1, CAST(i - 1 AS INTEGER)) " +
            s"|| substr($x, CAST(i + 1 AS INTEGER), CAST(length($x) AS INTEGER)) END)"
        s"""WITH d1 AS (SELECT s_suppkey,
         |  substr(s_name, 1, CAST(9 + s_suppkey % 5 AS INTEGER))
         |    || substr(s_name, CAST(11 + s_suppkey % 5 AS INTEGER), length(s_name)) AS n1
         |  FROM supplier),
         |dirty AS (SELECT s_suppkey + (CAST(1 AS BIGINT) << 40) AS d_id,
         |  substr(n1, 1, CAST(9 + s_suppkey % 3 AS INTEGER))
         |    || substr(n1, CAST(11 + s_suppkey % 3 AS INTEGER), length(n1)) AS d_name
         |  FROM d1),
         |va1 AS (SELECT d_id AS id_a, d_name AS name_a,
         |  unnest(${dels("d_name")}) AS v1 FROM dirty),
         |va2 AS (SELECT id_a, name_a, unnest(${dels("v1")}) AS v FROM va1),
         |va AS (SELECT DISTINCT id_a, name_a, v FROM va2),
         |vb1 AS (SELECT s_suppkey AS id_b, s_name AS name_b,
         |  unnest(${dels("s_name")}) AS v1 FROM supplier),
         |vb2 AS (SELECT id_b, name_b, unnest(${dels("v1")}) AS v FROM vb1),
         |vb AS (SELECT DISTINCT id_b, name_b, v FROM vb2),
         |cand AS (SELECT DISTINCT id_a, id_b, name_a, name_b
         |  FROM va JOIN vb ON va.v = vb.v)
         |SELECT id_a, id_b, name_a, name_b,
         |  CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
         |FROM cand WHERE levenshtein(name_a, name_b) <= 2""".stripMargin
      }),
    // anti-join anchor: customers with NO order above the price threshold
    // — NOT EXISTS as a left_anti hash join (the orders side is filtered
    // before the join, so the build input is the small filtered set)
    row("q8_no_big_order", (s, dir) => {
      val t = Tables(s, dir)
      t.customer
        .join(t.orders.where(col("o_totalprice") > 400000.0),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"), sum("c_acctbal").as("acctbal"))
    },
      """SELECT c_mktsegment, count(*) AS n_customers, sum(c_acctbal) AS acctbal
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        |GROUP BY 1""".stripMargin),
    // TPC-H Q10 shape: returned-item revenue per customer, nation
    // broadcast, top 20 — the shuffle joins ride the orderkey/custkey
    // keys, the final top-k is TakeOrdered (never a global sort)
    row("q9_returns_top", (s, dir) => {
      val t = Tables(s, dir)
      t.lineitem.where(col("l_returnflag") === "R")
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .join(t.customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    },
      // Mirrors q9_returns_top: same join chain and the same revenue
      // expression tree; ties at the cutoff break on c_custkey.
      """SELECT c_custkey, c_name, n_name,
        |  sum(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin),

    // ---- gap sessionization over the event stream (30-minute gap);
    // eventsUs: DuckDB truncates TIMESTAMP_NS to whole microseconds ----
    row("events_sessionize", (s, dir) =>
      Sessionize.sessions(Tables(s, dir).eventsUs, gapNs = 1800000000000L),
      // Mirrors Sessionize.sessions: lag marks session starts, running sum
      // numbers them (CAST: DuckDB promotes the window sum to HUGEINT).
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts FROM events),
        |m AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > 1800000000000 THEN 1 ELSE 0 END AS st
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |x AS (SELECT user_id, ts, CAST(sum(st) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS BIGINT) AS session_idx FROM m)
        |SELECT user_id, session_idx, min(ts) AS start_ns, max(ts) AS end_ns,
        |  max(ts) - min(ts) AS duration_ns, count(*) AS n_events
        |FROM x GROUP BY 1, 2""".stripMargin,
      // streaming sessionization's batch face: one micro-batch holding the
      // whole frame must equal Sessionize.sessions row for row
      face("stream_sessions") { (s, dir) =>
        graft.streaming.StreamOps.sessionStream(
          Tables(s, dir).eventsUs, gapNs = 1800000000000L).toDF() },
      face("sql_sessionize") { (s, dir) =>
        viaSql(s, "graft_sql_events" -> Tables(s, dir).eventsUs)(
          "SELECT * FROM graft_sessionize('graft_sql_events', 1800000000000)") }),
    // native session_window implementation of the SAME contract (boundary
    // verified identical: exact-gap successors merge in both)
    row("events_session_window", (s, dir) =>
      Sessionize.sessionWindows(Tables(s, dir).eventsUs, "30 minutes"),
      // Mirrors Sessionize.sessionWindows — the SAME logical contract as
      // events_sessionize (exact-gap successors merge in both; verified by
      // PipelineOpsSpec), so the twin SQL is identical: one oracle
      // formulation checks two physical implementations.
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts FROM events),
        |m AS (SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w > 1800000000000 THEN 1 ELSE 0 END AS st
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |x AS (SELECT user_id, ts, CAST(sum(st) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS BIGINT) AS session_idx FROM m)
        |SELECT user_id, session_idx, min(ts) AS start_ns, max(ts) AS end_ns,
        |  max(ts) - min(ts) AS duration_ns, count(*) AS n_events
        |FROM x GROUP BY 1, 2""".stripMargin),
    // ordered funnel: earliest signup, first click strictly after it,
    // first purchase strictly after that
    // experiment measurement: hash-assigned 50/50 arms, per-user
    // big-purchase conversion (every fixture user makes SOME purchase, so
    // the raw flag is degenerate — pooled p = 1, se = 0), pooled
    // two-proportion z
    row("events_ab_test", (s, dir) =>
      graft.ops.Experiment.abTest(Tables(s, dir).events, "user_id",
        col("event_type") === "purchase" && col("value") > 150),
      // Mirrors Experiment.abTest(user_id, purchase, salt="abtest"): the
      // bucketOf CW draw, 50/50 arm split, integer conditional sums, the
      // pooled two-proportion z with the identical expression tree.
      s"""WITH u AS (SELECT user_id,
         |  max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY 1),
         |a AS (SELECT conv, CASE WHEN ((${phSql("CAST(user_id AS VARCHAR)", "0")}
         |    * ${Sampling.saltMult("abtest")} + ${Sampling.saltAdd("abtest")})
         |    % 1000000007) % 10000 < 5000 THEN 'A' ELSE 'B' END AS arm FROM u),
         |g AS (SELECT
         |  CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
         |  CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |  CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
         |  FROM a),
         |se AS (SELECT n_a, conv_a, n_b, conv_b,
         |  sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |    * (CAST(1 AS DOUBLE) - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
         |    * (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)) AS s
         |  FROM g),
         |z AS (SELECT n_a, conv_a, n_b, conv_b,
         |  CAST(conv_a AS DOUBLE) / n_a AS p_a,
         |  CAST(conv_b AS DOUBLE) / n_b AS p_b,
         |  CASE WHEN n_a > 0 AND n_b > 0 AND s > CAST(0 AS DOUBLE)
         |    THEN (CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b) / s
         |  END AS z
         |  FROM se)
         |SELECT n_a, conv_a, n_b, conv_b, p_a, p_b, z,
         |  coalesce(abs(z) > CAST(1.96 AS DOUBLE), false) AS significant FROM z""".stripMargin),
    // CUPED variance-reduced readout of the same experiment (same salt ->
    // same arms): purchase revenue adjusted by its pre-period covariate,
    // every moment an exact integer until the final pinned doubles
    row("events_cuped", (s, dir) =>
      graft.ops.Experiment.cuped(Tables(s, dir).events, "user_id",
        when(col("event_type") === "purchase" && col("value").isNotNull
          && !isnan(col("value")), floor(col("value")).cast("long"))
          .otherwise(0L)),
      // Mirrors Experiment.cuped: same midpoint split, the identical CW arm
      // hash, HUGEINT moments (exact like Spark's decimal(38,0) sums), and
      // the same pinned double expression trees for theta / adjusted means /
      // variance ratio / z.
      s"""WITH b AS (SELECT min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) AS hi
         |  FROM events),
         |e0 AS (SELECT user_id, epoch_ns(ts) AS tns,
         |  CASE WHEN event_type = 'purchase' AND value IS NOT NULL
         |    AND NOT isnan(value) THEN CAST(floor(value) AS BIGINT)
         |    ELSE 0 END AS m
         |  FROM events WHERE user_id IS NOT NULL),
         |e AS (SELECT user_id,
         |  CASE WHEN tns < (lo + hi) // 2 THEN m ELSE 0 END AS mx,
         |  CASE WHEN tns >= (lo + hi) // 2 THEN m ELSE 0 END AS my
         |  FROM e0 CROSS JOIN b),
         |u AS (SELECT user_id, CAST(sum(mx) AS BIGINT) AS x,
         |  CAST(sum(my) AS BIGINT) AS y FROM e GROUP BY 1),
         |a AS (SELECT x, y,
         |  CASE WHEN ((${phSql("CAST(user_id AS VARCHAR)", "0")}
         |    * ${Sampling.saltMult("abtest")} + ${Sampling.saltAdd("abtest")})
         |    % 1000000007) % 10000 < 5000 THEN 'A' ELSE 'B' END AS arm FROM u),
         |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |  sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(x*y) AS sxy,
         |  sum(y*y) AS syy,
         |  CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  sum(CASE WHEN arm = 'A' THEN x ELSE 0 END) AS sx_a,
         |  sum(CASE WHEN arm = 'A' THEN y ELSE 0 END) AS sy_a,
         |  CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         |  sum(CASE WHEN arm = 'B' THEN x ELSE 0 END) AS sx_b,
         |  sum(CASE WHEN arm = 'B' THEN y ELSE 0 END) AS sy_b
         |  FROM a),
         |v AS (SELECT *, n * sxx - sx * sx AS vxx, n * sxy - sx * sy AS vxy,
         |  n * syy - sy * sy AS vyy FROM g),
         |t AS (SELECT *,
         |  CASE WHEN vxx > 0 THEN CAST(vxy AS DOUBLE) / CAST(vxx AS DOUBLE)
         |    END AS theta,
         |  CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean_x,
         |  CASE WHEN n_a > 0 THEN CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         |    END AS mean_a,
         |  CASE WHEN n_b > 0 THEN CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
         |    END AS mean_b,
         |  CASE WHEN n_a > 0 THEN CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         |    END AS mean_x_a,
         |  CASE WHEN n_b > 0 THEN CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE)
         |    END AS mean_x_b
         |  FROM v),
         |w AS (SELECT *,
         |  mean_a - theta * (mean_x_a - mean_x) AS adj_mean_a,
         |  mean_b - theta * (mean_x_b - mean_x) AS adj_mean_b,
         |  CAST(vyy AS DOUBLE) - CAST(2 AS DOUBLE) * theta * CAST(vxy AS DOUBLE)
         |    + theta * theta * CAST(vxx AS DOUBLE) AS vnum
         |  FROM t),
         |z AS (SELECT *, sqrt(vnum / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
         |    * (CAST(1 AS DOUBLE) / CAST(n_a AS DOUBLE)
         |      + CAST(1 AS DOUBLE) / CAST(n_b AS DOUBLE))) AS se FROM w),
         |f AS (SELECT *, CASE WHEN n_a > 0 AND n_b > 0
         |    AND se > CAST(0 AS DOUBLE)
         |    THEN (adj_mean_b - adj_mean_a) / se END AS z_adj FROM z)
         |SELECT n, n_a, n_b, theta, mean_a, mean_b,
         |  mean_b - mean_a AS diff_raw, adj_mean_a, adj_mean_b,
         |  adj_mean_b - adj_mean_a AS diff_adj,
         |  CASE WHEN vyy > 0 THEN vnum / CAST(vyy AS DOUBLE)
         |    END AS var_reduction,
         |  z_adj, coalesce(abs(z_adj) > CAST(1.96 AS DOUBLE), false)
         |    AS significant
         |FROM f""".stripMargin),
    // the design-time face of the A/B test: per detectable effect size,
    // the two-proportion sample-size requirement at 5%/80% against the
    // MEASURED baseline conversion, and whether this corpus can power it
    row("events_power", (s, dir) =>
      graft.ops.Experiment.powerPlan(Tables(s, dir).events, "user_id",
        col("event_type") === "purchase" && col("value") > 150),
      // Mirrors Experiment.powerPlan: same user rollup and integer-quotient
      // baseline, the SAME Scala-computed kappa literal, same pinned formula
      // order, effects grid interpolated from the same Seq.
      {
        val effs = (1 to 10).map(i => s"(${i / 100.0})").mkString(", ")
        s"""WITH u AS (SELECT user_id,
         |  max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END) AS conv
         |  FROM events GROUP BY 1),
         |b AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
         |  CAST(sum(conv) AS BIGINT) AS n_conv FROM u),
         |g AS (SELECT e.effect, b.n_users, b.n_conv,
         |  CAST(b.n_conv AS DOUBLE) / CAST(b.n_users AS DOUBLE) AS p_base,
         |  CAST(b.n_conv AS DOUBLE) / CAST(b.n_users AS DOUBLE) + e.effect AS p_target
         |  FROM b CROSS JOIN (VALUES $effs) e(effect))
         |SELECT effect, n_users, p_base, p_target,
         |  CASE WHEN p_target < 1.0 THEN CAST(ceil(${graft.ops.Experiment.PowerKappa}
         |    * (p_base * (1.0 - p_base) + p_target * (1.0 - p_target))
         |    / (effect * effect)) AS BIGINT) END AS n_required,
         |  n_users // 2 AS n_available,
         |  CASE WHEN p_target < 1.0 THEN n_users // 2 >= CAST(ceil(${graft.ops.Experiment.PowerKappa}
         |    * (p_base * (1.0 - p_base) + p_target * (1.0 - p_target))
         |    / (effect * effect)) AS BIGINT) END AS powered
         |FROM g""".stripMargin
      }),
    // engagement dashboard triple: DAU, trailing-7-day WAU, stickiness —
    // the rolling distinct via bounded fan-out, never a stateful window
    row("events_active_users", (s, dir) =>
      graft.ops.Retention.activeUsers(Tables(s, dir).events),
      // Mirrors Retention.activeUsers(window=7): floor-division day, the
      // distinct (user, day) fan-out to 7 target days, re-dedup, join.
      s"""WITH ud AS (SELECT DISTINCT user_id,
         |  epoch_ns(ts) // ${86400L * NsPerS} AS day FROM events),
         |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
         |c AS (SELECT DISTINCT ud.day + r.o AS day, user_id
         |  FROM ud CROSS JOIN range(0, 7) r(o)),
         |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM c GROUP BY 1)
         |SELECT dau.day, dau.dau, wau.wau,
         |  CAST(dau.dau AS DOUBLE) / wau.wau AS stickiness
         |FROM dau JOIN wau USING (day)""".stripMargin),
    // RFM segmentation over purchases: recency/frequency/monetary with
    // discrete rank quintiles (5 best) — engine-exact boundaries
    row("events_rfm", (s, dir) =>
      graft.ops.Retention.rfm(Tables(s, dir).events,
        col("event_type") === "purchase"),
      // Mirrors Retention.rfm over purchases: same max-ts anchor, same
      // NaN-excluded monetary sum (null when every value is NaN — ranked
      // WORST, mirroring the Spark sentinel pin), same discrete
      // 5 − ⌊(rank−1)·5/n⌋ quintiles under (metric, user) order.
      """WITH c AS (SELECT user_id, epoch_ns(ts) AS t, value FROM events
        |  WHERE event_type = 'purchase'),
        |nowt AS (SELECT max(t) AS now FROM c),
        |u AS (SELECT user_id, max(t) AS last_t,
        |  CAST(count(*) AS BIGINT) AS frequency,
        |  sum(CASE WHEN NOT isnan(value) THEN value END) AS monetary
        |  FROM c GROUP BY 1),
        |r AS (SELECT user_id, (nowt.now - last_t) // 86400000000000 AS recency_days,
        |  frequency, monetary, CAST(count(*) OVER () AS BIGINT) AS n FROM u, nowt),
        |s AS (SELECT *,
        |  CAST(row_number() OVER (ORDER BY recency_days ASC, user_id ASC) AS BIGINT) AS rr,
        |  CAST(row_number() OVER (ORDER BY frequency DESC, user_id ASC) AS BIGINT) AS rf,
        |  CAST(row_number() OVER (ORDER BY monetary DESC NULLS LAST, user_id ASC) AS BIGINT) AS rm
        |  FROM r)
        |SELECT user_id, recency_days, frequency, monetary,
        |  CAST(5 - ((rr - 1) * 5) // n AS INTEGER) AS r_score,
        |  CAST(5 - ((rf - 1) * 5) // n AS INTEGER) AS f_score,
        |  CAST(5 - ((rm - 1) * 5) // n AS INTEGER) AS m_score,
        |  CAST(5 - ((rr - 1) * 5) // n AS INTEGER) * 100
        |    + CAST(5 - ((rf - 1) * 5) // n AS INTEGER) * 10
        |    + CAST(5 - ((rm - 1) * 5) // n AS INTEGER) AS rfm
        |FROM s""".stripMargin),
    // user-base growth curve: first-seen day per user → daily new users +
    // running cumulative total (exact distinct-over-growing-window with no
    // stateful window — the running sum is over the per-day rollup)
    row("events_cumulative_users", (s, dir) =>
      graft.ops.Retention.cumulativeUsers(Tables(s, dir).events),
      // Mirrors Retention.cumulativeUsers: first-seen day per user, per-day
      // new-user counts, running total (CAST: DuckDB promotes the window sum
      // to HUGEINT).
      """WITH fs AS (SELECT user_id,
        |  min(epoch_ns(ts) // 86400000000000) AS day FROM events GROUP BY 1),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users FROM fs GROUP BY 1)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cumulative_users
        |FROM d""".stripMargin),
    // multi-dimensional rollup cube over (event_type, day): every
    // aggregation granularity in ONE pass (Catalyst's Expand), null
    // grouping cells re-labeled so the dtype survives the parquet→pandas
    // round trip
    row("events_cube", (s, dir) => {
      Tables(s, dir).events
        .select(col("event_type"), expr("ts div 86400000000000").as("day"),
          col("value"))
        .cube(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
        .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
          coalesce(col("day"), lit(-1L)).as("day"),
          col("n"), col("total_value"))
    },
      // Mirrors the events cube: same day bucketing, same null re-labels.
      """WITH e AS (SELECT event_type,
        |  epoch_ns(ts) // 86400000000000 AS day, value FROM events)
        |SELECT coalesce(event_type, '(all)') AS event_type,
        |  coalesce(day, -1) AS day, count(*) AS n, sum(value) AS total_value
        |FROM e GROUP BY CUBE (event_type, day)""".stripMargin),
    row("events_funnel", (s, dir) =>
      graft.ops.Funnel.funnel(Tables(s, dir).eventsUs,
        Seq("signup", "click", "purchase")),
      // Mirrors Funnel.funnel: each stage is the min event time of its type
      // strictly after the previous stage, per user.
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t_1 FROM e WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t_2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t_1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t_3 FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 GROUP BY 1)
        |SELECT s1.user_id, s1.t_1, s2.t_2, s3.t_3,
        |  1 + (CASE WHEN s2.t_2 IS NOT NULL THEN 1 ELSE 0 END)
        |    + (CASE WHEN s3.t_3 IS NOT NULL THEN 1 ELSE 0 END) AS stage_reached
        |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin),
    // window-over-window churn (weekly): active users absent from the
    // NEXT window; the final window has no successor and is excluded
    row("events_churn", (s, dir) =>
      graft.ops.Retention.churn(Tables(s, dir).events, 7L * 86400L * NsPerS),
      // Mirrors Retention.churn(week): same tumbling key, left-anti via
      // NOT EXISTS against the next window, max window excluded.
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS ts FROM events
         |  WHERE user_id IS NOT NULL),
         |a AS (SELECT DISTINCT user_id,
         |  ts - ((ts % ${7L * 86400L * NsPerS} + ${7L * 86400L * NsPerS}) % ${7L * 86400L * NsPerS}) AS window_start
         |  FROM e),
         |mw AS (SELECT max(window_start) AS mx FROM a),
         |c AS (SELECT window_start, CAST(count(*) AS BIGINT) AS n_churned
         |  FROM a WHERE NOT EXISTS (SELECT 1 FROM a n
         |    WHERE n.user_id = a.user_id
         |      AND n.window_start = a.window_start + ${7L * 86400L * NsPerS})
         |  GROUP BY 1),
         |t AS (SELECT window_start, CAST(count(*) AS BIGINT) AS n_active
         |  FROM a GROUP BY 1)
         |SELECT t.window_start, t.n_active,
         |  coalesce(c.n_churned, 0) AS n_churned,
         |  CAST(coalesce(c.n_churned, 0) AS DOUBLE) / CAST(t.n_active AS DOUBLE)
         |    AS churn_rate
         |FROM t LEFT JOIN c USING (window_start) CROSS JOIN mw
         |WHERE t.window_start < mw.mx""".stripMargin),
    // Kaplan-Meier survival over user lifetimes: observed churns vs
    // right-censored still-active users, S(t) folded in one pinned order.
    // Hour-granularity lifetimes (the corpus spans 30 days — calendar days
    // would collapse the curve to 3 rows), 48h censoring horizon.
    row("events_survival", (s, dir) =>
      graft.ops.Retention.survival(Tables(s, dir).events,
        censorDays = 48, dayNs = 3600L * NsPerS),
      // Mirrors Retention.survival(censorDays=14): same lifetime rollup, the
      // risk set by integer prefix sums, and S(t) as the identical seeded
      // (risk, product) fold over the t-sorted prefix — one pinned
      // multiplication order in both engines.
      s"""WITH u AS (SELECT user_id,
         |  min(epoch_ns(ts) // ${3600L * NsPerS}) AS fd,
         |  max(epoch_ns(ts) // ${3600L * NsPerS}) AS ld
         |  FROM events WHERE user_id IS NOT NULL GROUP BY 1),
         |m AS (SELECT max(ld) AS maxd FROM u),
         |l AS (SELECT ld - fd AS t,
         |  CASE WHEN ld <= maxd - 48 THEN 1 ELSE 0 END AS obs
         |  FROM u CROSS JOIN m),
         |r AS (SELECT t, CAST(sum(obs) AS BIGINT) AS d,
         |  CAST(count(*) - sum(obs) AS BIGINT) AS c FROM l GROUP BY 1),
         |g AS (SELECT list(t ORDER BY t) AS tl,
         |  list(CAST(d AS DOUBLE) ORDER BY t) AS dl,
         |  list(CAST(c AS DOUBLE) ORDER BY t) AS cl,
         |  CAST(sum(d + c) AS BIGINT) AS n FROM r),
         |ix AS (SELECT n, dl, cl, tl,
         |  unnest(list_transform(tl, (x, k) -> k)) AS i0 FROM g),
         |rows_ AS (SELECT n, dl, cl, CAST(i0 AS INTEGER) AS i,
         |  tl[CAST(i0 AS INTEGER)] AS t FROM ix)
         |SELECT t,
         |  n - CAST(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      list_transform(dl[1:i-1], (x, k) -> x + cl[k])),
         |    (a, x) -> a + x) AS BIGINT) AS n_risk,
         |  CAST(dl[i] AS BIGINT) AS n_events,
         |  CAST(cl[i] AS BIGINT) AS n_censored,
         |  list_reduce(list_prepend([CAST(n AS DOUBLE), CAST(1 AS DOUBLE)],
         |      list_transform(dl[1:i], (x, k) -> [x, cl[k]])),
         |    (a, e) -> [a[1] - e[1] - e[2],
         |      a[2] * (CAST(1 AS DOUBLE) - e[1] / a[1])])[2] AS survival
         |FROM rows_""".stripMargin,
      face("sql_survival") { (s, dir) =>
        viaSql(s, "graft_sql_ev_sv" -> Tables(s, dir).events)(
          s"SELECT * FROM graft_survival('graft_sql_ev_sv', 48, ${3600L * NsPerS})") }),
    // telemetry repeat suppression: first event per (user, type, hour)
    // cell + how many repeats were collapsed — retry storms become one
    // logical event per window
    row("events_dedup_window", (s, dir) =>
      graft.ops.Sessionize.firstPerWindow(Tables(s, dir).eventsUs,
        3600L * NsPerS),
      // Mirrors Sessionize.firstPerWindow(hour): same tumbling-window key,
      // the (ts, id) struct-min split into min-ts then min-id-at-min-ts.
      s"""WITH e AS (SELECT user_id, event_type, event_id, epoch_ns(ts) AS ts FROM events),
         |w AS (SELECT user_id, event_type, event_id, ts,
         |  ts - ((ts % ${3600L * NsPerS} + ${3600L * NsPerS}) % ${3600L * NsPerS}) AS window_start
         |  FROM e),
         |b AS (SELECT user_id, event_type, window_start, min(ts) AS first_ts,
         |  CAST(count(*) - 1 AS BIGINT) AS n_suppressed
         |  FROM w GROUP BY 1, 2, 3)
         |SELECT b.user_id, b.event_type, b.window_start, b.first_ts,
         |  min(w.event_id) AS first_event_id, b.n_suppressed
         |FROM w JOIN b ON w.user_id IS NOT DISTINCT FROM b.user_id
         |  AND w.event_type IS NOT DISTINCT FROM b.event_type
         |  AND w.window_start = b.window_start AND w.ts = b.first_ts
         |GROUP BY 1, 2, 3, 4, 6""".stripMargin,
      // streaming repeat suppression in batch mode: batch face of
      // Sessionize.firstPerWindow (associative struct-min + count)
      face("stream_dedup_window") { (s, dir) =>
        graft.streaming.StreamOps.dedupWindowStream(
          Tables(s, dir).eventsUs, 3600L * NsPerS).toDF() }),
    // step-pair conversion rates + median/p90 time-to-convert
    row("events_funnel_timing", (s, dir) =>
      graft.ops.Funnel.stepTiming(Tables(s, dir).eventsUs,
        Seq("signup", "click", "purchase")),
      // Mirrors Funnel.stepTiming: the events_funnel chain materialized,
      // one aggregate per step pair, exact interpolated percentiles.
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS ts FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t_1 FROM e WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t_2 FROM e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.ts > s1.t_1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t_3 FROM e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 GROUP BY 1),
        |f AS (SELECT s1.user_id, s1.t_1, s2.t_2, s3.t_3
        |  FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id))
        |SELECT CAST(1 AS INTEGER) AS step_from, CAST(2 AS INTEGER) AS step_to,
        |  count(*) AS n_from, count(t_2) AS n_to,
        |  CASE WHEN count(*) > 0 THEN count(t_2) / count(*) END AS conv_rate,
        |  quantile_cont(t_2 - t_1, 0.5) AS median_dt_ns,
        |  quantile_cont(t_2 - t_1, 0.9) AS p90_dt_ns
        |FROM f WHERE t_1 IS NOT NULL
        |UNION ALL
        |SELECT CAST(2 AS INTEGER), CAST(3 AS INTEGER),
        |  count(*), count(t_3),
        |  CASE WHEN count(*) > 0 THEN count(t_3) / count(*) END,
        |  quantile_cont(t_3 - t_2, 0.5), quantile_cont(t_3 - t_2, 0.9)
        |FROM f WHERE t_2 IS NOT NULL""".stripMargin),
    row("events_retention", (s, dir) => Retention.retention(Tables(s, dir).eventsUs),
      // Mirrors Retention.retention; `//` floors like Spark's `div` because
      // epoch days are non-negative here.
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |f AS (SELECT user_id, day, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM e)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  count(DISTINCT user_id) AS n_users
        |FROM f GROUP BY 1, 2""".stripMargin),
    // cohort lifetime value: purchase revenue accumulated along the
    // day-offset axis per first-seen cohort, normalized per member
    row("events_ltv", (s, dir) =>
      graft.ops.Retention.ltv(Tables(s, dir).events,
        col("event_type") === "purchase"),
      // Mirrors Retention.ltv over purchases: same cohorting, same cell
      // rollup, offset-ordered running total, per-member normalization.
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
        |  event_type = 'purchase' AS conv, value FROM events),
        |fs AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
        |sz AS (SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM fs GROUP BY 1),
        |cells AS (SELECT fs.cohort_day, e.day - fs.cohort_day AS day_offset,
        |  sum(CASE WHEN e.conv AND NOT isnan(e.value) THEN e.value
        |    ELSE CAST(0 AS DOUBLE) END) AS revenue
        |  FROM e JOIN fs USING (user_id) GROUP BY 1, 2),
        |c2 AS (SELECT cohort_day, day_offset, revenue,
        |  sum(revenue) OVER (PARTITION BY cohort_day ORDER BY day_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_revenue
        |  FROM cells)
        |SELECT c2.cohort_day, day_offset, revenue, cum_revenue, cohort_size,
        |  cum_revenue / cohort_size AS ltv
        |FROM c2 JOIN sz USING (cohort_day)""".stripMargin),
    row("events_top_paths", (s, dir) =>
      graft.ops.Paths.topPaths(Tables(s, dir).eventsUs,
        gapNs = 3600L * NsPerS, k = 20, maxSteps = 5),
      // Mirrors Paths.topPaths: same session labeling, same first-maxSteps
      // cap via rn - start_rn, path built by ordered string_agg.
      {
        val gap = 3600L * NsPerS
        s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS ts FROM events),
         |w AS (SELECT *,
         |  CASE WHEN lag(ts) OVER win IS NULL OR ts - lag(ts) OVER win > $gap
         |    THEN 1 ELSE 0 END AS is_start,
         |  row_number() OVER win AS rn
         |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (SELECT *,
         |  sum(is_start) OVER run AS sess,
         |  max(CASE WHEN is_start = 1 THEN rn END) OVER run AS start_rn
         |  FROM w WINDOW run AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING)),
         |p AS (SELECT user_id, sess,
         |  string_agg(event_type, ' > ' ORDER BY ts, event_id) AS path
         |  FROM s WHERE rn - start_rn < 5 GROUP BY 1, 2)
         |SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM p
         |GROUP BY 1 ORDER BY n_sessions DESC, path ASC LIMIT 20""".stripMargin
      }),
    row("events_markov", (s, dir) =>
      graft.ops.Paths.transitions(Tables(s, dir).eventsUs, gapNs = 3600L * NsPerS),
      // Mirrors Paths.transitions, formulation-identical: label sessions
      // (lag marks starts, running sum numbers them), take the successor via
      // lead in the SAME ordering, keep pairs whose lead(session) equals the
      // row's session; denominator = per-from outgoing count.
      {
        val gap = 3600L * NsPerS
        s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS ts FROM events),
         |w AS (SELECT *,
         |  CASE WHEN lag(ts) OVER win IS NULL OR ts - lag(ts) OVER win > $gap
         |    THEN 1 ELSE 0 END AS is_start,
         |  lead(event_type) OVER win AS next_type
         |  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (SELECT *,
         |  sum(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS UNBOUNDED PRECEDING) AS sess
         |  FROM w),
         |s2 AS (SELECT *,
         |  lead(sess) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_sess
         |  FROM s),
         |pairs AS (SELECT event_type AS from_type, next_type AS to_type,
         |  CAST(count(*) AS BIGINT) AS n_transitions
         |  FROM s2 WHERE next_type IS NOT NULL AND next_sess = sess
         |  GROUP BY 1, 2),
         |deg AS (SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS total
         |  FROM pairs GROUP BY 1)
         |SELECT from_type, to_type, n_transitions,
         |  CAST(n_transitions AS DOUBLE) / total AS p_transition
         |FROM pairs JOIN deg USING (from_type)""".stripMargin
      }),
    // purchases paired with same-user clicks of the preceding hour — the
    // batch face of the stream-stream interval join (streaming parity in
    // StreamOpsSpec)
    row("events_interval_join", (s, dir) => {
      val e = Tables(s, dir).eventsUs
      graft.ops.IntervalJoin.intervalJoin(
        e.where(col("event_type") === "click")
          .select(col("user_id"), col("event_id").as("click_id"),
            col("ts").as("click_ts")),
        e.where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts")),
        "user_id", "click_ts", "purchase_ts", 3600L * NsPerS)
    },
      // Mirrors IntervalJoin: plain key + time-range join — the range
      // bounds are exact integer ns, so no float hazard exists.
      {
        val win = 3600L * NsPerS
        s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS ts FROM events),
         |c AS (SELECT user_id, event_id AS click_id, ts AS click_ts FROM e
         |  WHERE event_type = 'click'),
         |p AS (SELECT user_id, event_id AS purchase_id, ts AS purchase_ts FROM e
         |  WHERE event_type = 'purchase')
         |SELECT c.user_id, click_id, click_ts, purchase_id, purchase_ts
         |FROM c JOIN p ON c.user_id = p.user_id
         |  AND purchase_ts >= click_ts AND purchase_ts <= click_ts + $win""".stripMargin
      }),
    // market-basket lift over per-user event-type sets
    row("events_cooccurrence", (s, dir) =>
      graft.ops.Cooccurrence.typeLift(Tables(s, dir).eventsUs),
      // Mirrors Cooccurrence.typeLift: integer-exact counts, one double
      // division in the same operand order.
      """WITH e AS (SELECT DISTINCT user_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM e),
        |s AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  CAST(count(*) AS BIGINT) AS n_users_both
        |  FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT type_a, type_b, n_users_both,
        |  CAST(n_users_both AS DOUBLE) * nu.n_users
        |    / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS lift
        |FROM p JOIN s sa ON sa.t = p.type_a JOIN s sb ON sb.t = p.type_b
        |CROSS JOIN nu""".stripMargin),
    // directional association rules a -> b over the same baskets:
    // support, confidence P(b|a), lift — both orientations
    row("events_assoc_rules", (s, dir) =>
      graft.ops.Cooccurrence.assocRules(Tables(s, dir).eventsUs),
      // Mirrors Cooccurrence.assocRules: same distinct baskets, directional
      // pair join (a <> b keeps both orientations), same pinned divisions.
      """WITH e AS (SELECT DISTINCT user_id, event_type FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
        |nu AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM e),
        |s AS (SELECT event_type AS t, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1),
        |p AS (SELECT a.event_type AS antecedent, b.event_type AS consequent,
        |  CAST(count(*) AS BIGINT) AS n_users_both
        |  FROM e a JOIN e b ON a.user_id = b.user_id AND a.event_type <> b.event_type
        |  GROUP BY 1, 2)
        |SELECT antecedent, consequent, n_users_both,
        |  CAST(n_users_both AS DOUBLE) / CAST(nu.n_users AS DOUBLE) AS support,
        |  CAST(n_users_both AS DOUBLE) / CAST(sa.n AS DOUBLE) AS confidence,
        |  CAST(n_users_both AS DOUBLE) * nu.n_users
        |    / (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) AS lift
        |FROM p JOIN s sa ON sa.t = p.antecedent JOIN s sb ON sb.t = p.consequent
        |CROSS JOIN nu""".stripMargin,
      face("sql_assoc_rules") { (s, dir) =>
        viaSql(s, "graft_sql_ev_ar" -> Tables(s, dir).eventsUs)(
          "SELECT * FROM graft_assoc_rules('graft_sql_ev_ar')") }),
    // linear multi-touch attribution: purchase value split evenly across
    // the preceding hour's clicks, credited revenue per touch day
    // (day = -1 is the organic/no-touch bucket)
    row("events_attribution", (s, dir) =>
      graft.ops.Funnel.linearAttribution(Tables(s, dir).events,
        windowNs = 3600L * NsPerS),
      // Mirrors Funnel.linearAttribution(1h): the same bounded-range pair
      // join, even credit split, day rollup, and organic bucket.
      """WITH t AS (SELECT user_id, event_id AS touch_id, epoch_ns(ts) AS touch_ts
        |  FROM events WHERE event_type = 'click'),
        |c AS (SELECT user_id, event_id AS conv_id, epoch_ns(ts) AS conv_ts,
        |  CASE WHEN NOT isnan(value) THEN value END AS value
        |  FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT t.touch_ts, c.conv_id, c.value FROM t JOIN c
        |  ON t.user_id = c.user_id AND c.conv_ts >= t.touch_ts
        |  AND c.conv_ts <= t.touch_ts + 3600000000000),
        |k AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS kk FROM p GROUP BY 1),
        |cr AS (SELECT touch_ts // 86400000000000 AS day, p.value / k.kk AS credit
        |  FROM p JOIN k USING (conv_id)),
        |byday AS (SELECT day, CAST(count(*) AS BIGINT) AS n_touches,
        |  sum(credit) AS credited_revenue FROM cr GROUP BY 1),
        |org AS (SELECT CAST(-1 AS BIGINT) AS day,
        |  CAST(count(*) AS BIGINT) AS n_touches, sum(value) AS credited_revenue
        |  FROM c WHERE conv_id NOT IN (SELECT conv_id FROM p)
        |  HAVING count(*) > 0)
        |SELECT * FROM byday UNION ALL SELECT * FROM org""".stripMargin),
    // typed JSON projection out of the props payload, then a per-type audit
    row("events_json", (s, dir) =>
      SemiStructured.extractJson(
        Tables(s, dir).events.select("event_type", "props"), "props", "k INT")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), count("k").as("n_k"), avg("k").as("avg_k"),
          min("k").as("min_k"), max("k").as("max_k"),
          count_distinct(col("k")).as("n_distinct_k")),
      // Mirrors the events_json extraction: one typed JSON projection, same
      // per-type audit aggregates (k is INT32 on both sides). TRY_CAST +
      // json_valid mirror from_json's PERMISSIVE nulls instead of erroring
      // on malformed payloads (remaining tolerance gap, documented: a QUOTED
      // integer "7" is null under Spark's typed parse but 7 under TRY_CAST —
      // absent from this corpus, where props is machine-written {"k": int}).
      """WITH e AS (SELECT event_type,
        |  CASE WHEN json_valid(props)
        |    THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) END AS k
        |  FROM events)
        |SELECT event_type, count(*) AS n, count(k) AS n_k, avg(k) AS avg_k,
        |  min(k) AS min_k, max(k) AS max_k, count(DISTINCT k) AS n_distinct_k
        |FROM e GROUP BY 1""".stripMargin),

    // ---- salted join (heavy-hitter resilience; == plain join) ----
    row("skew_join", (s, dir) => {
      val e = Tables(s, dir).events.select("event_id", "user_id", "value")
      val dim = e.groupBy("user_id")
        .agg(min("value").as("user_min"), count(lit(1)).as("n_user_events"))
      graft.ops.SkewJoin.saltedJoin(e, dim, "user_id", salts = 8, tieBreak = "event_id")
        .select(col("event_id"), col("user_id"), col("value"),
          col("user_min"), col("n_user_events"),
          (col("value") - col("user_min")).as("dev"))
    },
      // Mirrors the salted join: salting must be invisible in the result, so
      // the oracle is the PLAIN join (min/count are order-independent, no
      // float-summation hazard).
      """WITH d AS (SELECT user_id, min(value) AS user_min,
        |  count(*) AS n_user_events FROM events GROUP BY 1)
        |SELECT e.event_id, e.user_id, e.value, d.user_min, d.n_user_events,
        |  e.value - d.user_min AS dev
        |FROM events e JOIN d USING (user_id)""".stripMargin)
  )
}
