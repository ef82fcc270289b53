package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Components, Dedup}

/** Connected-components semantics checked against a from-scratch union-find
  * on the driver: the alternating star algorithm must produce EXACTLY the
  * transitive closure's min-label per vertex, on shapes that stress it
  * (long chains need multiple rounds; cliques collapse in one; random
  * graphs mix both).
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Reference labeling: plain union-find over the edge list. */
  private def bruteComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    // path-compress everything, then label by root (root IS the min id
    // because union always parents the larger root to the smaller)
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("long chain collapses to one component rooted at the min") {
    val chain = (0L until 40L).map(i => (i, i + 1))
    val got = ccOf(chain)
    assert(got == (0L to 40L).map(_ -> 0L).toMap)
  }

  test("chain fed in reversed, shuffled, duplicated edge order") {
    val chain = (0L until 30L).map(i => (i + 1, i))
    val messy = scala.util.Random.shuffle(chain ++ chain.map(e => (e._2, e._1)))
    assert(ccOf(messy) == (0L to 30L).map(_ -> 0L).toMap)
  }

  test("disjoint cliques keep distinct labels") {
    val cliques = Seq(100L, 200L, 300L).flatMap { base =>
      for (i <- 0 until 5; j <- i + 1 until 5) yield (base + i, base + j)
    }
    val got = ccOf(cliques)
    assert(got == cliques.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> (v / 100 * 100)).toMap)
  }

  test("random graphs match union-find exactly") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 5) {
      val n = 50 + trial * 30
      val edges = Seq.fill(n)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
        .filter(e => e._1 != e._2)
      assert(ccOf(edges) == bruteComponents(edges), s"trial $trial")
    }
  }

  test("10k-edge random graph and a 1000-node chain both converge correctly") {
    val rnd = new scala.util.Random(1234)
    val big = Seq.fill(10000)((rnd.nextInt(2000).toLong, rnd.nextInt(2000).toLong))
      .filter(e => e._1 != e._2)
    assert(ccOf(big) == bruteComponents(big))
    // a long path is the adversarial diameter case for label propagation;
    // the star algorithm must still converge within maxIter
    val chain = (0L until 1000L).map(i => (i, i + 1))
    val got = ccOf(chain)
    assert(got.size == 1001 && got.values.forall(_ == 0L))
  }

  test("empty and single-edge graphs") {
    assert(ccOf(Seq.empty) == Map.empty)
    assert(ccOf(Seq((7L, 3L))) == Map(7L -> 3L, 3L -> 3L))
  }

  test("self-loops are ignored") {
    assert(ccOf(Seq((5L, 5L), (1L, 2L))) == Map(1L -> 1L, 2L -> 1L))
  }

  test("modularity: hand-computed partition quality, duplicate/self edges normalized") {
    import graft.pipeline.Components
    // labels A = {1,2,3}, B = {4,5}; edges (1,2),(2,3),(4,5),(3,4):
    // m = 4; intra_A = 2, deg_A = 5; intra_B = 1, deg_B = 3
    // Q_A = 2/4 - (5/8)^2 = 0.109375; Q_B = 1/4 - (3/8)^2 = 0.109375
    val pairs = Seq((1L, 2L), (3L, 2L), (4L, 5L), (3L, 4L),
      (2L, 1L), (3L, 3L)) // reversed dup + self loop must be normalized away
      .toDF("id_a", "id_b")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"), (5L, "B"))
      .toDF("doc_id", "source")
    val got = Components.modularity(pairs, labels)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got("A") == ((2L, 5L, 0.109375)), got("A").toString)
    assert(got("B") == ((1L, 3L, 0.109375)), got("B").toString)
  }

  test("dedup clusters: members, sizes, and canonical flags agree with the pair closure") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = Dedup.minhashNearDups(docs)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSeq
    val expect = bruteComponents(pairs)
    val sizes = expect.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    val got = Components.dedupClusters(docs)
      .as[(Long, Long, Long, Boolean)].collect()
    assert(got.map(r => r._1 -> r._2).toMap == expect)
    assert(got.forall(r => r._3 == sizes(r._2)))
    assert(got.forall(r => r._4 == (r._1 == r._2)))
  }

  test("dedupKeepers: highest quality wins its cluster; quality ties fall to min id") {
    import graft.pipeline.TextOps
    import org.apache.spark.sql.functions.col
    // cluster 1: identical junk texts (equal quality) -> keeper = min id.
    // cluster 2: doc 20 is doc 21 minus its stopword-rich tail -> near-dups
    // (high Jaccard), but 21 scores higher quality -> keeper 21, not min id
    val junk = "zzz9 yyy8 xxx7 www6 vvv5 uuu4 zzz9 yyy8 xxx7 www6 vvv5 uuu4"
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val better = base + " the a of and to in is that it for"
    val docs = Seq((10L, junk), (11L, junk), (20L, base), (21L, better))
      .toDF("doc_id", "text")
    val got = Components.dedupKeepers(docs, bands = 16, rowsPerBand = 1)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_keeper"))).toMap
    assert(got.keySet == Set(10L, 11L, 20L, 21L))
    assert(got(10L) == ((10L, true)) && got(11L) == ((10L, false)))
    assert(got(20L)._1 == 20L && !got(20L)._2)
    assert(got(21L)._1 == 20L && got(21L)._2, "higher quality must beat smaller id")
    // exactly one keeper per cluster, and the scores match qualityScore
    val q = TextOps.qualityScore(docs).select(col("doc_id"), col("quality_score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(q(21L) > q(20L), "the test premise: the tail raises quality")
  }

  /** Reference triangle counter: brute enumeration over all vertex triples
    * of the canonical undirected edge set.
    */
  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
    val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val deg = nodes.map(v => v -> und.count(e => e._1 == v || e._2 == v).toLong).toMap
    val tri = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
    for {
      Seq(a, b, c) <- nodes.combinations(3)
      if und((a, b)) && und((a, c)) && und((b, c))
      v <- Seq(a, b, c)
    } tri(v) += 1
    nodes.map(v => v -> ((deg(v), tri(v)))).toMap
  }

  private def triOf(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] =
    Components.triangleCounts(edges.toDF("id_a", "id_b"))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("deg"), r.getAs[Long]("triangles"),
          r.getAs[Double]("lcc")))).toMap

  test("triangles: clique, star, chain, and one shared-edge pair of triangles") {
    // K5: every node in C(4,2) = 6 triangles, lcc = 1
    val k5 = for (i <- 0L until 5L; j <- i + 1 until 5L) yield (i, j)
    val gotK5 = triOf(k5)
    assert(gotK5.values.forall(v => v == ((4L, 6L, 1.0))))
    // star: no closing edges — zero triangles, center lcc 0; leaves deg 1
    val star = Seq((10L, 11L), (10L, 12L), (10L, 13L), (10L, 14L))
    assert(triOf(star).values.forall(v => v._2 == 0L && v._3 == 0.0))
    // two triangles sharing edge (1,2): nodes 1,2 in 2 triangles each,
    // deg 3 ⇒ lcc = 2·2/(3·2) rounded; 3,4 in 1, deg 2 ⇒ lcc = 1
    val bow = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L))
    val gotBow = triOf(bow)
    assert(gotBow(1L) == ((3L, 2L, math.round(2.0 * 2 / 6 * 1e6) / 1e6)))
    assert(gotBow(3L) == ((2L, 1L, 1.0)))
    // chain: wedges exist but never close
    val chain = (0L until 10L).map(i => (i, i + 1))
    assert(triOf(chain).values.forall(v => v._2 == 0L))
  }

  test("triangles: random graphs match brute enumeration; dup/reversed edges and self-loops ignored") {
    val rnd = new scala.util.Random(99)
    for (trial <- 0 until 4) {
      val edges = Seq.fill(150 + 50 * trial)(
        (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      val messy = edges ++ edges.map(e => (e._2, e._1)) ++ Seq((3L, 3L))
      val got = triOf(messy)
      val expect = bruteTriangles(messy)
      assert(got.keySet == expect.keySet, s"trial $trial")
      expect.foreach { case (v, (d, t)) =>
        assert(got(v)._1 == d && got(v)._2 == t, s"trial $trial node $v")
        val lcc = if (d >= 2) math.round(2.0 * t / (d.toDouble * (d - 1)) * 1e6) / 1e6
          else 0.0
        assert(got(v)._3 == lcc, s"trial $trial node $v lcc")
      }
    }
  }

  /** Reference PageRank: dense driver-side iteration, same update rule. */
  private def brutePageRank(edges: Seq[(Long, Long)], iters: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val sym = (edges ++ edges.map(e => (e._2, e._1))).distinct
    val deg = sym.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    val nodes = deg.keySet
    val n = nodes.size
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = sym.groupBy(_._2)
      r = nodes.map { v =>
        val c = in.getOrElse(v, Seq.empty).map { case (s, _) => r(s) / deg(s) }.sum
        v -> ((1 - d) / n + d * c)
      }.toMap
    }
    r
  }

  test("pageRank matches dense reference; star center dominates; mass conserved") {
    // star 1-{2,3,4,5} plus a 6-7 pair
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (6L, 7L))
    val got = Components.pageRank(edges.toDF("id_a", "id_b"), iters = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("deg"), r.getAs[Double]("rank")))).toMap
    val expect = brutePageRank(edges, 3)
    assert(got.keySet == expect.keySet)
    expect.foreach { case (v, r) =>
      assert(math.abs(got(v)._2 - r) < 1e-12, s"node $v") }
    assert(got(1L)._1 == 4L && got(6L)._1 == 1L)
    // center of the star outranks every leaf; symmetric pair ties
    assert(got(1L)._2 > got(2L)._2 * 2)
    assert(math.abs(got(6L)._2 - got(7L)._2) < 1e-15)
    // undirected graph with no dangling nodes: total rank mass stays 1
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9)
    // layout invariance
    val shuffled = Components.pageRank(edges.toDF("id_a", "id_b").repartition(5), 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("rank")).toMap
    expect.foreach { case (v, r) => assert(math.abs(shuffled(v) - r) < 1e-12) }
  }

  test("pageRank's one-task and distributed rounds both match the dense reference on messy random graphs") {
    val rnd = new scala.util.Random(23)
    for (trial <- 0 until 3) {
      // three components on disjoint id ranges (more where the random
      // edges leave gaps), then duplicated, reversed and self-loop edges
      val base = (0 until 3).flatMap { c =>
        Seq.fill(25)((c * 1000L + rnd.nextInt(15), c * 1000L + rnd.nextInt(15)))
      }
      val edges = base ++ base.take(10) ++ base.takeRight(10).map(_.swap) ++
        Seq((5L, 5L), (1003L, 1003L), (2999L, 2999L))
      val expect = brutePageRank(edges, 4)
      val expectDeg = (edges ++ edges.map(_.swap)).distinct.groupBy(_._1)
        .view.mapValues(_.size.toLong).toMap
      val (sym, symEdges) = Components.symmetrize(edges.toDF("id_a", "id_b"), "id_a", "id_b")
      assert(symEdges == (edges ++ edges.map(_.swap)).distinct.size, s"trial $trial")
      val oneTask = Components.pageRankOneTask(sym, 4, 0.85)
      val rounds = Components.pageRankRounds(sym, 4, 0.85)
      assert(oneTask.schema == rounds.schema, s"trial $trial")
      for ((path, df) <- Seq("one task" -> oneTask, "rounds" -> rounds)) {
        val got = df.collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("deg"), r.getAs[Double]("rank")))).toMap
        assert(got.keySet == expect.keySet, s"trial $trial $path")
        expect.foreach { case (v, r) =>
          assert(got(v)._1 == expectDeg(v), s"trial $trial $path node $v deg")
          assert(math.abs(got(v)._2 - r) < 1e-12, s"trial $trial $path node $v")
        }
      }
    }
  }

  test("reliable-checkpoint mode: identical components and ranks, blocks on disk") {
    // Same computations with a checkpoint dir configured: Lineage.truncate
    // must switch every iterative truncation to cluster-durable
    // checkpoint() (the preemptible-fleet mode) without changing a single
    // result, and must actually write recovery blocks under the dir.
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(e => e._1 != e._2)
    val prEdges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (6L, 7L))
    val ccLocal = ccOf(edges)
    val prLocal = Components.pageRank(prEdges.toDF("id_a", "id_b"), iters = 3)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("rank")).toMap
    withCheckpointDir { dir =>
      assert(graft.core.Lineage.reliable(edges.toDF("src", "dst")))
      assert(ccOf(edges) == ccLocal)
      val prReliable = Components.pageRank(prEdges.toDF("id_a", "id_b"), iters = 3)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("rank")).toMap
      assert(prReliable.keySet == prLocal.keySet)
      prLocal.foreach { case (v, r) =>
        assert(prReliable(v) == r, s"node $v rank must be bit-identical") }
      // proof the reliable path ran: checkpoint RDD directories exist
      val written = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(written > 0, s"expected rdd-* checkpoint dirs under $dir")
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "checkpoint dir must be restored for the other suites")
  }

  test("labelPropagation: hop-per-round spread, clamped seeds, smallest-label ties, unreached stay null") {
    import spark.implicits._
    // path 1-2-3-4 seeded at 1; isolated edge 8-9 unseeded;
    // node 6 between seeds 5 (lang "aa") and 7 (lang "bb") — tie
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (8L, 9L),
      (5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val seeds = Seq((1L, "xx"), (5L, "aa"), (7L, "bb")).toDF("doc_id", "lang")
    def run(rounds: Int): Map[Long, (Option[String], Boolean)] =
      graft.pipeline.Components.labelPropagation(edges, seeds, rounds, labelCol = "lang")
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((Option(r.getAs[String]("label")), r.getAs[Boolean]("is_seed")))).toMap
    val r1 = run(1)
    assert(r1(2L)._1.contains("xx") && r1(3L)._1.isEmpty && r1(4L)._1.isEmpty,
      s"one round reaches exactly one hop: $r1")
    val r3 = run(3)
    assert(r3(1L) == ((Some("xx"), true)))
    assert(r3(2L)._1.contains("xx") && r3(3L)._1.contains("xx") && r3(4L)._1.contains("xx"))
    assert(r3(8L)._1.isEmpty && r3(9L)._1.isEmpty, "no labeled neighbor ever")
    assert(r3(6L)._1.contains("aa"), s"tie must break to the smallest label: ${r3(6L)}")
    assert(r3(5L) == ((Some("aa"), true)) && r3(7L) == ((Some("bb"), true)),
      "seeds stay clamped even with a differently-labeled neighbor")
    intercept[IllegalArgumentException](
      graft.pipeline.Components.labelPropagation(edges, seeds, rounds = 0))
  }

  /** Reference k-core: peel to the true fixpoint on the driver. */
  private def bruteKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, (Long, Option[Long])] = {
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val deg0 = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    var alive = deg0.keySet
    var changed = true
    while (changed) {
      val sub = und.filter(e => alive(e._1) && alive(e._2))
      val d = sub.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
        .map { case (n, xs) => n -> xs.size }
      val next = alive.filter(n => d.getOrElse(n, 0) >= k)
      changed = next != alive
      alive = next
    }
    val finalSub = und.filter(e => alive(e._1) && alive(e._2))
    val coreDeg = finalSub.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    deg0.map { case (n, d) =>
      n -> ((d, if (alive(n)) Some(coreDeg.getOrElse(n, 0L)) else None))
    }
  }

  private def kcoreOf(edges: Seq[(Long, Long)], k: Int): Map[Long, (Long, Option[Long], Boolean)] =
    Components.kCore(edges.toDF("id_a", "id_b"), k)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("deg"),
          if (r.isNullAt(r.fieldIndex("core_deg"))) None
          else Some(r.getAs[Long]("core_deg")),
          r.getAs[Boolean]("in_core")))).toMap

  test("kCore: clique survives, pendant chain peels, random graphs match the fixpoint") {
    // K4 with a pendant chain hung off node 0: the chain peels node by
    // node (multi-round), the clique is the entire 2-core
    val k4 = for (i <- 0L until 4L; j <- i + 1 until 4L) yield (i, j)
    val chain = Seq((0L, 10L), (10L, 11L), (11L, 12L))
    val got = kcoreOf(k4 ++ chain, 2)
    assert(got.filter(_._2._3).keySet == Set(0L, 1L, 2L, 3L), s"$got")
    assert(got(0L) == ((4L, Some(3L), true)))   // full deg 4, core deg 3
    assert(got(12L) == ((1L, None, false)))
    // random graphs: exact fixpoint parity (8 rounds must suffice at
    // these sizes — bruteKCore iterates to the true fixpoint)
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 5; k <- Seq(2, 3)) {
      val n = 18 + trial
      val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      assert(kcoreOf(edges, k) ==
        bruteKCore(edges, k).map { case (id, (d, cd)) => id -> ((d, cd, cd.isDefined)) },
        s"trial $trial k $k")
    }
    intercept[IllegalArgumentException](
      Components.kCore(Seq((1L, 2L)).toDF("id_a", "id_b"), k = 0))
  }

  test("adamicAdar: brute parity; hub cap drops wedges; is_edge flags closed pairs") {
    def brute(edges: Seq[(Long, Long)], maxDeg: Int): Map[(Long, Long), (Long, Double, Boolean)] = {
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct.toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2))
      val adj = nodes.map(v => v ->
        und.collect { case (a, b) if a == v => b; case (a, b) if b == v => a }).toMap
      val out = for {
        u <- nodes.toSeq; w <- nodes.toSeq if u < w
        cns = (adj(u) intersect adj(w))
          .filter(v => adj(v).size >= 2 && adj(v).size <= maxDeg)
        if cns.nonEmpty
      } yield (u, w) -> ((cns.size.toLong,
        cns.toSeq.map(v => 1.0 / math.log(adj(v).size.toDouble)).sum,
        und((u, w))))
      out.toMap
    }
    def aaOf(edges: Seq[(Long, Long)], maxDeg: Int) =
      Components.adamicAdar(edges.toDF("id_a", "id_b"), maxDeg)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
          ((r.getAs[Long]("common_neighbors"), r.getAs[Double]("aa_score"),
            r.getAs[Boolean]("is_edge")))).toMap
    // path 1-2-3: the ends share rare neighbor 2 -> one open pair
    val path = Seq((1L, 2L), (2L, 3L))
    val gp = aaOf(path, 64)
    assert(gp.keySet == Set((1L, 3L)))
    assert(gp((1L, 3L))._1 == 1L && !gp((1L, 3L))._3
      && math.abs(gp((1L, 3L))._2 - 1.0 / math.log(2.0)) < 1e-12)
    // random graphs: exact counts, score within float-reorder tolerance
    val rnd = new scala.util.Random(43)
    for (trial <- 1 to 5) {
      val n = 14 + trial
      val edges = Seq.fill(32)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val (got, exp) = (aaOf(edges, 64), brute(edges, 64))
      assert(got.keySet == exp.keySet, s"trial $trial")
      exp.foreach { case (pair, (cn, score, isE)) =>
        val g = got(pair)
        assert(g._1 == cn && g._3 == isE, s"trial $trial $pair")
        assert(math.abs(g._2 - score) < 1e-9, s"trial $trial $pair score")
      }
      // a tight hub cap must drop high-degree centers' wedges entirely
      val (capped, cExp) = (aaOf(edges, 3), brute(edges, 3))
      assert(capped.keySet == cExp.keySet, s"capped $trial")
      cExp.foreach { case (pair, (cn, score, isE)) =>
        val g = capped(pair)
        assert(g._1 == cn && g._3 == isE && math.abs(g._2 - score) < 1e-9,
          s"capped $trial $pair")
      }
    }
  }
}
