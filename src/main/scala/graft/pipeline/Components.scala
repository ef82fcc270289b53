package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Connected components over an edge list, and the dedup-cluster resolution
  * built on it (near-dup PAIRS → duplicate GROUPS → canonical keeper).
  *
  * Algorithm: the alternating large-star / small-star method of Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components in
  * MapReduce and Beyond" (SoCC'14). Each round is two groupBy+join passes
  * over the edge list — no per-node adjacency list is ever materialized
  * (a `collect_list` of neighbors would die on a high-degree node), and the
  * edge set contracts toward star graphs rooted at each component's minimum
  * id in O(log² n) rounds (in practice 2-4 for dedup graphs, whose
  * components are small and dense).
  *
  * Scale shape: every pass is a shuffle on a well-spread node id; lineage is
  * truncated each round via [[graft.core.Lineage.truncate]] so the plan stays
  * flat (iterative DataFrame algorithms otherwise double their plan depth per
  * round). When the session has a checkpoint directory configured the
  * truncation is a reliable `checkpoint()` (cluster-durable: survives
  * executor loss on a preemptible fleet); without one it falls back to
  * `localCheckpoint()` — both modes are pinned green in ComponentsSpec.
  */
object Components {

  /** Edge count up to which a graph's iteration working set is one
    * in-memory task (16 B per long pair ⇒ ≤ ~3 MB): [[connectedComponents]]
    * runs its union-find tail and [[pageRank]] all of its rounds in one
    * `mapPartitions` task over `coalesce(1)` at or below it.
    */
  private[pipeline] val SmallEdgeBound = 200000L

  /** Connected components of the undirected graph given as an edge list.
    * Returns one row per non-isolated vertex: (id, component), where
    * `component` is the smallest vertex id in the component. Vertices not
    * present in any edge are absent from the output (the caller knows its
    * own vertex universe; dedup treats absent docs as singletons).
    */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Canonical orientation (lo, hi), self-loops dropped. Kept deduplicated:
    // the star transforms re-emit overlapping edges every round.
    // Below this edge count the iteration working set is re-shaped to ONE
    // partition: every star round schedules jobs over the full shuffle
    // partition count otherwise, and on a contracted (or small-input) edge
    // set that fixed per-round scheduling dwarfs the actual work — measured
    // 8.3 s -> ~3 s for the sf0.1 dedup graph (~600 edges over 32
    // partitions). At scale the early rounds stay wide and only the
    // converged tail collapses — the same adaptive idea as AQE coalescing,
    // driven by the exact count the convergence probe already pays for.
    def shape(df: DataFrame, edgeCount: Long): DataFrame =
      if (edgeCount <= SmallEdgeBound) df.coalesce(1) else df

    // One eager checkpoint materializes the (possibly expensive) upstream
    // pair plan exactly once; every loop round and the final labeling read
    // the materialized edges. (A/B-measured against persist()+count()
    // before the checkpoint: identical within noise, so the plain form
    // stays.)
    var cur = graft.core.Lineage.truncate(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("lo"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("hi"))
      .where(col("lo") =!= col("hi"))
      .distinct())

    // Convergence probe: count + an order-independent checksum of the edge
    // multiset in ONE aggregation job (cheaper than two except() anti-joins;
    // a 64-bit xxhash collision making two DIFFERENT consecutive edge sets
    // look equal is vanishingly unlikely, and maxIter still bounds the loop).
    def probe(df: DataFrame): (Long, Long, Long) = {
      // bit_xor is order-independent and cannot overflow; the masked sum
      // (31-bit terms) stays within Long for < 2^32 edges under ANSI mode
      val h = xxhash64(col("lo"), col("hi"))
      df.agg(count(lit(1)), coalesce(expr("bit_xor(xxhash64(lo, hi))"), lit(0L)),
        coalesce(sum(h.bitwiseAND(lit(0x7FFFFFFFL))), lit(0L)))
        .as[(Long, Long, Long)].head()
    }

    // Small-tail fixpoint in ONE task: once the (contracted) edge set fits
    // the small bound, the remaining star rounds are pure scheduling — each
    // round costs ~6 shuffle stages + a probe job + an eager checkpoint on
    // a working set of a few thousand rows (measured: the CC tail was the
    // dominant job count of vec_clusters/er_entities/dedup_incremental —
    // 84/71/140 jobs — with executor task time under 10% of wall). A
    // single mapPartitions over the coalesced edges runs union-find to the
    // SAME fixpoint (component = min member id, integers, no float order)
    // in one job with zero driver materialization: ≤ SmallEdgeBound edges
    // (16 B each ⇒ ≤ ~3 MB) is one in-memory task by the same bound that
    // already reshaped these rounds to one partition. Above the bound the
    // star rounds run unchanged and the tail switch engages only after
    // they contract the graph below it — the 100 TB path is untouched.
    def unionFindTail(df: DataFrame): DataFrame =
      df.select(col("lo"), col("hi")).as[(Long, Long)].coalesce(1)
        .mapPartitions { rows =>
          val parent = new java.util.HashMap[Long, Long]()
          def find(x: Long): Long = {
            var r = x
            while (parent.get(r) != r) r = parent.get(r)
            // path compression
            var c = x
            while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
            r
          }
          rows.foreach { case (a, b) =>
            if (!parent.containsKey(a)) parent.put(a, a)
            if (!parent.containsKey(b)) parent.put(b, b)
            val ra = find(a); val rb = find(b)
            // union by MIN id so the representative is the component minimum
            if (ra != rb) {
              if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
            }
          }
          val it = parent.keySet().iterator()
          val out = Seq.newBuilder[(Long, Long)]
          while (it.hasNext) { val id = it.next(); out += ((id, find(id))) }
          out.result().iterator
        }.toDF("id", "component")

    var sig = probe(cur)
    if (sig._1 > 0L && sig._1 <= SmallEdgeBound) return unionFindTail(cur)
    cur = shape(cur, sig._1)
    var it = 0
    var done = sig._1 == 0L
    while (!done && it < maxIter) {
      // Large-star: for every node u, every STRICTLY LARGER neighbor v is
      // re-attached to m(u) = min(Γ(u) ∪ {u}). Undirected view of the edge
      // list = both orientations.
      val und = cur.select(col("lo").as("u"), col("hi").as("v"))
        .unionByName(cur.select(col("hi").as("u"), col("lo").as("v")))
      val mins = und.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("m"))
      val afterLarge = und.join(mins, "u")
        .where(col("v") > col("u"))
        // m <= u < v, so (m, v) is already (lo, hi) and never a self-loop
        .select(col("m").as("lo"), col("v").as("hi"))
        .distinct()
      // Small-star: orient each edge to its larger endpoint u; u and all its
      // smaller neighbors attach to m(u) = min of those neighbors.
      val sMins = afterLarge.groupBy(col("hi").as("u")).agg(min(col("lo")).as("m"))
      val afterSmall = graft.core.Lineage.truncate(
        afterLarge.select(col("hi").as("u"), col("lo").as("v"))
          .join(sMins, "u")
          .select(col("m").as("lo"), col("v").as("hi"))
          .unionByName(sMins.select(col("m").as("lo"), col("u").as("hi")))
          .where(col("lo") =!= col("hi"))
          .distinct())
      val nsig = probe(afterSmall)
      done = nsig == sig
      sig = nsig
      cur = shape(afterSmall, nsig._1)
      it += 1
      // the star transforms preserve the component partition AND keep every
      // non-isolated vertex as an endpoint, so the single-task fixpoint on
      // the contracted edge set labels identically to more star rounds
      if (!done && nsig._1 > 0L && nsig._1 <= SmallEdgeBound)
        return unionFindTail(cur)
    }
    require(done, s"connectedComponents did not converge in $maxIter rounds")

    // At the fixpoint every edge is (componentMin, member): the labels are
    // the edges themselves plus the roots labeling themselves.
    cur.select(col("hi").as("id"), col("lo").as("component"))
      .unionByName(cur.select(col("lo").as("id"), col("lo").as("component")))
      .distinct()
  }

  /** Duplicate-cluster resolution for a document corpus: MinHash near-dup
    * pairs → transitive clusters → canonical keeper per cluster (smallest
    * doc_id — the deterministic convention [[Dedup.exact]] already uses).
    * One row per clustered document: (doc_id, cluster_id, cluster_size,
    * is_canonical). Documents in no near-dup pair are their own singleton
    * cluster and are omitted, mirroring [[connectedComponents]].
    */
  def dedupClusters(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val pairs = Dedup.minhashNearDups(df, idCol, textCol, shingleK, bands,
      rowsPerBand, threshold)
    clustersFromPairs(pairs, "id_a", "id_b")
  }

  /** Keeper selection over the near-dup clusters: join each clustered doc
    * with its [[TextOps.qualityScore]] and keep the highest-quality doc
    * per cluster (ties → smallest id) — the policy step that turns "these
    * documents are duplicates" into "drop THESE rows", preferring the
    * best-written copy over [[dedupClusters]]'s arbitrary smallest-id
    * canonical. Scores are exact double arithmetic over integer counts,
    * identical cross-engine, so the argmax is deterministic.
    *
    * Scale shape: the cluster resolution dominates (see
    * [[connectedComponents]]); the quality join is id-keyed and the rank
    * is the only window over the cluster key.
    */
  def dedupKeepers(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dedupClusters(df, idCol, textCol, shingleK, bands,
      rowsPerBand, threshold)
    val quality = TextOps.qualityScore(df.select(col(idCol), col(textCol)), textCol)
      .select(col(idCol).as("doc_id"), col("quality_score"))
    val rk = Window.partitionBy("cluster_id")
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    clusters.join(quality, "doc_id")
      .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(rk))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"), (col("__rk") === 1).as("is_keeper"))
  }

  /** Cluster resolution from an explicit pair list (any near-dup source:
    * minhash, simhash, embedding cosine).
    */
  def clustersFromPairs(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cc = connectedComponents(pairs, aCol, bCol)
    // component count scales with the corpus — a shuffle join on the
    // well-spread component key, not a broadcast; AQE may still broadcast
    // when the cluster table is actually small
    val sizes = cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "component")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"),
        (col("id") === col("component")).as("is_canonical"))
  }

  /** Per-node triangle participation and local clustering coefficient over
    * an undirected graph — the structural diagnostic of a near-dup graph:
    * high-triangle nodes sit inside genuinely duplicated content families
    * (every pair of their neighbors also matches), while high-degree /
    * low-triangle nodes are boilerplate hubs colliding with many unrelated
    * documents (their neighbors do NOT match each other). A keeper policy
    * can use the coefficient to treat the two very differently.
    *
    * Algorithm: degree-ordered orientation ("node-iterator++" /
    * compact-forward, Schank & Wagner 2005; the same orientation MapReduce
    * triangle counters use, cf. Suri & Vassilvitskii WWW'11). Each
    * undirected edge is directed from its lower-(degree, id) endpoint to
    * the higher one; wedges are enumerated ONLY at each edge's lower-rank
    * endpoint and closed against the directed edge set. Every triangle is
    * found exactly once (its vertices form a total order under (deg, id)),
    * and — the scale property — the out-degree of every node is bounded by
    * O(√m) on any graph (a node of degree d > √m has all out-neighbors of
    * degree ≥ d, and there can be at most 2√m of those), so the wedge join
    * fans out to at most Σ outdeg² = O(m^1.5) candidate wedges, the
    * textbook bound, instead of Σ deg² which a hub node makes quadratic.
    *
    * Scale shape: two partial-combined degree counts, one edge-keyed
    * orientation join, one wedge self-join on the shared lower endpoint,
    * and one equi-join probe of the closing edge — every key a well-spread
    * node/edge id, no windows, no driver state. Isolated or degree-1 nodes
    * report lcc = 0 over a 0 wedge base (they have no wedges to close).
    *
    * Output: (doc_id, deg, triangles, lcc) with lcc = 2T / (deg·(deg−1))
    * rounded to 6 decimals (a ratio of exact integers — the rounding only
    * guards the cross-engine division ulp).
    */
  def triangleCounts(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b"): DataFrame = {
    // canonical undirected edge set (a < b), self-loops dropped; materialize
    // once — the incoming plan is a whole LSH pipeline and is referenced by
    // the degree count, the orientation, and the closing-edge probe
    val und = graft.core.Lineage.truncate(
      edges.select(
          least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .where(col("a") =!= col("b"))
        .distinct())
    val deg = und.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient a→b iff (deg(a), a) < (deg(b), b): struct comparison gives the
    // lexicographic (degree, id) rank directly
    val dir = und
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // wedges at the lower-rank endpoint u: out-neighbors v < w by id (the
    // id order de-duplicates the unordered neighbor pair); close with the
    // CANONICAL edge (v, w ordered by id) — rank order between v and w is
    // unknown, so probe the undirected set, not the oriented one
    val wedges = dir.select(col("u"), col("v"))
      .join(dir.select(col("u"), col("v").as("w")), Seq("u"))
      .where(col("v") < col("w"))
    val tris = wedges
      .join(und.select(col("a").as("v"), col("b").as("w")), Seq("v", "w"))
      .select(col("u"), col("v"), col("w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("doc_id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("lcc",
        when(col("deg") >= 2,
          round(lit(2.0) * col("triangles") /
            (col("deg").cast("double") * (col("deg") - lit(1)).cast("double")), 6))
          .otherwise(lit(0.0)))
  }

  /** Both orientations of every edge, deduplicated and materialized once,
    * with their count: the incoming `edges` plan can be arbitrarily
    * expensive (the near-dup graph is a whole LSH pipeline), and every
    * round reads the result. One explode, not a self-union — a union
    * references the upstream plan twice and executes it twice
    * (cross-branch reuse never fires on differing projections), the same
    * fix as [[degreeDistribution]]. The count is observed on the
    * materializing job itself, so it costs no job of its own.
    */
  private[graft] def symmetrize(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, Long) = {
    val observed = org.apache.spark.sql.Observation()
    val sym = graft.core.Lineage.truncate(
      edges.select(explode(array(
          struct(col(srcCol).as("src"), col(dstCol).as("dst")),
          struct(col(dstCol).as("src"), col(srcCol).as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst"))
        .distinct()
        .observe(observed, count(lit(1)).as("edges")))
    (sym, observed.get("edges").asInstanceOf[Long])
  }

  /** PageRank over an undirected edge list (symmetrized, deduplicated):
    * `iters` rounds of `r = (1−d)/N + d·Σ r_nbr/deg_nbr` over the nodes
    * that appear in at least one edge — on a near-dup graph this ranks
    * cluster centrality, a keeper-selection signal richer than
    * smallest-id. Isolated documents never enter (their rank is the
    * uniform floor by definition). Output: (doc_id, deg, rank).
    *
    * Scale shape: the symmetrized edge list is materialized and counted
    * once. At or below [[SmallEdgeBound]] edges — the bound
    * [[connectedComponents]] uses for its union-find tail — every round
    * runs in ONE `mapPartitions` task over `coalesce(1)`: the rounds on a
    * near-dup graph of a few hundred edges are pure scheduling otherwise
    * (a join, an aggregate and a checkpoint per round on a table of a
    * few dozen rows). Above the bound each round is one edge-keyed join
    * against the (node, rank) table and one partial-combined sum on the
    * destination key — the standard distributed PageRank step — with
    * per-round [[graft.core.Lineage.truncate]] as in
    * [[graft.pipeline.Similarity.kmeans]] (without it round r re-executes
    * every earlier round; reliable `checkpoint()` when the session has a
    * checkpoint dir, `localCheckpoint()` otherwise).
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val (sym, symEdges) = symmetrize(edges, srcCol, dstCol)
    if (symEdges <= SmallEdgeBound) pageRankOneTask(sym, iters, damping)
    else pageRankRounds(sym, iters, damping)
  }

  /** All PageRank rounds over the materialized symmetric edges `sym`
    * (src, dst) in one task, with the distributed rounds' double-op
    * sequence: `rank / deg` contributions summed per destination, then
    * `(1−d)/N + d·c`. Edges are sorted by (dst, src) inside the task, so
    * each sum runs in one fixed order whatever the input layout.
    */
  private[graft] def pageRankOneTask(sym: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    val schema = StructType(Seq(sym.schema("src").copy(name = "doc_id"),
      StructField("deg", LongType, nullable = false),
      StructField("rank", DoubleType, nullable = false)))
    sym.coalesce(1).sortWithinPartitions("dst", "src")
      .mapPartitions { rows =>
        val index = new java.util.HashMap[Any, Int]()
        val ids = scala.collection.mutable.ArrayBuffer[Any]()
        def node(id: Any): Int =
          index.computeIfAbsent(id, _ => { ids += id; ids.size - 1 })
        val edges = rows.map(r => (node(r.get(0)), node(r.get(1)))).toArray
        val n = ids.size
        val deg = new Array[Long](n)
        edges.foreach { case (s, _) => deg(s) += 1 }
        var rank = Array.fill(n)(1.0 / n)
        for (_ <- 1 to iters) {
          val c = new Array[Double](n)
          edges.foreach { case (s, d) => c(d) += rank(s) / deg(s) }
          rank = c.map(x => (1 - damping) / n + damping * x)
        }
        Iterator.tabulate(n)(v => Row(ids(v), deg(v), rank(v)))
      }(RowEncoder.encoderFor(schema))
  }

  /** The distributed PageRank rounds over the materialized symmetric
    * edges `sym` (src, dst): one join and one partial-combined sum per
    * round, lineage-truncated per round.
    */
  private[graft] def pageRankRounds(sym: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    val deg = graft.core.Lineage.truncate(
      sym.groupBy("src").agg(count(lit(1)).as("deg")))
    val n = deg.count()
    if (n == 0) return deg.select(col("src").as("doc_id"), col("deg"),
      lit(0.0).as("rank"))
    var ranks = deg.select(col("src").as("id"), lit(1.0 / n).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = sym
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .join(deg, "src")
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("deg")).as("c"))
      // lazy truncation: the plan is cut immediately (round r+1 never
      // re-plans round r) but materialization folds into the next
      // consumer's job — each eager per-round checkpoint was a full
      // scheduling barrier on a tiny state table (no probe reads it,
      // unlike the CC loop, so nothing needs it materialized early)
      ranks = graft.core.Lineage.truncate(deg.select(col("src").as("id"))
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit((1 - damping) / n) + lit(damping) * coalesce(col("c"), lit(0.0)))
            .as("rank")), eager = false)
    }
    deg.join(ranks.withColumnRenamed("id", "src"), "src")
      .select(col("src").as("doc_id"), col("deg"), col("rank"))
  }

  /** Semi-supervised label propagation over an undirected pair graph
    * (Zhu & Ghahramani 2002 in its hard-label form): seed labels are
    * CLAMPED, every other node re-votes each synchronous round for the
    * most common label among its neighbors' current labels (ties to the
    * smallest label; unlabeled neighbors don't vote; a node with no
    * labeled neighbor keeps its previous state). Over the near-dup graph
    * this transfers curated metadata — language, source, license — across
    * duplicate families from the labeled minority to the rest.
    *
    * Scale shape: the symmetrized edge list and the per-round label table
    * are lineage-truncated (round r's plan must not contain round r−1's);
    * each round is one edge-keyed join + a partial-combined (node, label)
    * count + a struct-argmax — no windows over the corpus, state is one
    * row per node. Output: doc_id, label (null if never reached),
    * is_seed.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame, rounds: Int = 3,
      srcCol: String = "id_a", dstCol: String = "id_b",
      idCol: String = "doc_id", labelCol: String = "label"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val (sym, _) = symmetrize(edges, srcCol, dstCol)
    val nodes = sym.select(col("src").as("id")).distinct()
    val seed = graft.core.Lineage.truncate(
      seeds.select(col(idCol).as("id"), col(labelCol).as("seed_label")))
    var labels = graft.core.Lineage.truncate(
      nodes.join(seed, Seq("id"), "left")
        .select(col("id"), col("seed_label").as("label")))
    for (_ <- 1 to rounds) {
      val votes = sym
        .join(labels.withColumnRenamed("id", "src"), "src")
        .where(col("label").isNotNull)
        .groupBy(col("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("n"))
        .groupBy("id")
        .agg(min(struct((-col("n")).as("neg_n"), col("label").as("l"))).as("m"))
        .select(col("id"), col("m.l").as("vote"))
      // lazy truncation — see pageRank's round comment
      labels = graft.core.Lineage.truncate(
        labels.join(votes, Seq("id"), "left")
          .join(seed, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("seed_label"), col("vote"), col("label")).as("label")),
        eager = false)
    }
    labels.join(seed, Seq("id"), "left")
      .select(col("id").as("doc_id"), col("label"),
        col("seed_label").isNotNull.as("is_seed"))
  }

  /** Degree distribution of an undirected pair list — the one-look graph
    * health check (a fat tail here is the boilerplate-hub signature that
    * motivates [[triangleCounts]]' orientation and the posting-list caps).
    * Two partial-combined aggregates; output is at most max-degree rows.
    */
  def degreeDistribution(edges: DataFrame, srcCol: String = "id_a",
      dstCol: String = "id_b"): DataFrame =
    // explode, not union: the incoming plan is a whole LSH pipeline, and a
    // union references it TWICE — two full executions (cross-branch reuse
    // never fires on differing projections). One reference, same multiset.
    edges.select(explode(array(col(srcCol), col(dstCol))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))

  /** Newman modularity of an EXTERNAL partition against an undirected edge
    * list: per label `Q_c = intra_c/m − (deg_c/(2m))²` (intra = edges with
    * both endpoints in c, deg = endpoint count in c, m = total edges);
    * `Σ Q_c` is the classic modularity. Scored here with the doc→label map
    * as the partition — over the near-dup graph with `source` labels this
    * answers "does near-duplication concentrate WITHIN sources" (high Q:
    * intra-source boilerplate; near 0: cross-source syndication, which
    * per-source dedup would miss entirely).
    *
    * Exactness: intra/deg/m are exact integers; each contribution is the
    * same three-op double expression in any engine. Scale shape: edge
    * normalization is one groupBy; the two label joins key on the
    * well-spread doc id; m is a one-row broadcast; output is one row per
    * label.
    */
  def modularity(pairs: DataFrame, labels: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      idCol: String = "doc_id", labelCol: String = "source"): DataFrame = {
    val e = pairs
      .select(least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("w"))
      .where(col("u") =!= col("w"))
      .groupBy("u", "w").agg(count(lit(1)).as("__dup")).drop("__dup")
    val el = e
      .join(labels.select(col(idCol).as("u"), col(labelCol).as("lu")), "u")
      .join(labels.select(col(idCol).as("w"), col(labelCol).as("lw")), "w")
    val m = el.agg(count(lit(1)).as("m"))
    val deg = el.select(explode(array(col("lu"), col("lw"))).as("label"))
      .groupBy("label").agg(count(lit(1)).as("degree"))
    val intra = el.where(col("lu") === col("lw"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("intra_edges"))
    deg.join(intra, Seq("label"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(broadcast(m))
      .withColumn("q_part",
        col("intra_edges").cast("double") / col("m")
          - (col("degree").cast("double") / (lit(2) * col("m")))
          * (col("degree").cast("double") / (lit(2) * col("m"))))
      .select("label", "intra_edges", "degree", "q_part")
  }

  /** k-core membership by synchronous peeling (Seidman 1983): repeatedly
    * remove every node whose degree in the SURVIVING subgraph is < k; what
    * remains is the maximal subgraph where everyone keeps ≥ k neighbors.
    * Over the near-dup graph this separates dense duplicate families
    * (which survive) from leaf attachments and boilerplate chains (which
    * peel away) — the structural triage behind keeper policies and hub
    * review queues.
    *
    * `rounds` peels run unconditionally; peeling is monotone and
    * idempotent at the fixpoint, so extra rounds are no-ops and a FIXED
    * round count keeps the operator reproducible (and its SQL twin a
    * finite unrolled chain) instead of data-dependent. Each round is one
    * membership semi-join + a partial-combined degree count on well-spread
    * node keys, lineage-truncated so round r's plan does not contain round
    * r−1's. At 100 TB the edge list shuffles once per round on the edge
    * key — no all-pairs anything.
    *
    * Output: every node of the input graph with its full-graph degree,
    * its degree within the surviving core (null if peeled), and the
    * membership flag.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 8,
      srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = graft.core.Lineage.truncate(
      edges.select(
          least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .where(col("a") =!= col("b"))
        .distinct())
    val deg0 = graft.core.Lineage.truncate(
      und.select(explode(array(col("a"), col("b"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("deg")))
    // round 1 peels on the full-graph degrees; later rounds on the
    // surviving subgraph's
    var alive = graft.core.Lineage.truncate(
      deg0.where(col("deg") >= k).select("node"))
    // Fixpoint early-stop: peeling only REMOVES nodes, so an unchanged
    // count means an unchanged set and every further round is the
    // idempotent identity — the output is bit-identical to always running
    // all `rounds` rounds, without paying ~4 stages per no-op round
    // (dedup graphs converge in 2-3). The count rides the eager per-round
    // truncation the loop already paid for.
    var aliveN = alive.count()
    var round = 2
    var converged = false
    while (round <= rounds && !converged) {
      val ea = und
        .join(alive.select(col("node").as("a")), "a")
        .join(alive.select(col("node").as("b")), "b")
      alive = graft.core.Lineage.truncate(
        ea.select(explode(array(col("a"), col("b"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("cd"))
          .where(col("cd") >= k).select("node"))
      val n2 = alive.count()
      converged = n2 == aliveN
      aliveN = n2
      round += 1
    }
    val ef = und
      .join(alive.select(col("node").as("a")), "a")
      .join(alive.select(col("node").as("b")), "b")
    val coreDeg = ef.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("core_deg"))
    deg0.join(alive.withColumn("__in", lit(true)), Seq("node"), "left")
      .join(coreDeg, Seq("node"), "left")
      .select(col("node").as("doc_id"), col("deg"), col("core_deg"),
        coalesce(col("__in"), lit(false)).as("in_core"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003) over an undirected
    * pair graph: for every non-trivial 2-hop pair (u, w), the score
    * Σ_{v ∈ N(u)∩N(w)} 1/ln(deg v) — common neighbors weighted inversely
    * by how promiscuous they are, so sharing a rare neighbor means more
    * than sharing a hub. Over the near-dup graph this surfaces the pairs
    * LSH *almost* connected (same duplicate family, no direct edge) —
    * review candidates for dedup-threshold tuning; `is_edge` marks pairs
    * the graph already joins.
    *
    * Scale shape: wedge enumeration at the shared neighbor, exactly
    * [[triangleCounts]]'s candidate space — Σ deg(v)² — bounded here by
    * dropping centers with deg > `maxDeg` (a hub's 1/ln(deg) contribution
    * is the least informative, and quadratic fan-out on organic hubs is
    * the classic skew bomb; the cap is the documented contract, not a
    * silent truncation). Per-pair scores sum ≤ common-neighbor-count
    * terms — few-term float sums, inside cross-engine tolerance; degree-1
    * centers produce no wedge, so ln(deg) ≥ ln 2 > 0 always.
    */
  def adamicAdar(edges: DataFrame, maxDeg: Int = 64,
      srcCol: String = "id_a", dstCol: String = "id_b"): DataFrame = {
    require(maxDeg >= 2, s"maxDeg must be >= 2, got $maxDeg")
    val und = graft.core.Lineage.truncate(
      edges.select(
          least(col(srcCol), col(dstCol)).as("a"),
          greatest(col(srcCol), col(dstCol)).as("b"))
        .where(col("a") =!= col("b"))
        .distinct())
    val sym = und.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("deg"))
    // materialize the capped neighbor list ONCE: the wedge self-join below
    // references it twice with different projections, so without this the
    // degree aggregate + join subtree executes twice (the mutualEdges
    // disease — exchange reuse never dedupes differing projections). The
    // frame is edge-scale and already hub-capped, so the checkpoint is
    // bounded by the symmetrized edge count.
    val nb = graft.core.Lineage.truncate(sym.join(
      deg.where(col("deg") >= 2 && col("deg") <= maxDeg)
        .select(col("src"), col("deg").as("cdeg")), "src"))
    val wedges = nb.select(col("src"), col("dst").as("u"), col("cdeg"))
      .join(nb.select(col("src"), col("dst").as("w")), Seq("src"))
      .where(col("u") < col("w"))
    wedges.groupBy(col("u").as("id_a"), col("w").as("id_b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(lit(1.0) / log(col("cdeg").cast("double"))).as("aa_score"))
      .join(und.select(col("a").as("id_a"), col("b").as("id_b"),
        lit(true).as("__e")), Seq("id_a", "id_b"), "left")
      .select(col("id_a"), col("id_b"), col("common_neighbors"),
        col("aa_score"), coalesce(col("__e"), lit(false)).as("is_edge"))
  }
}
