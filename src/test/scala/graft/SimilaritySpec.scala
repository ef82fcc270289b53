package graft

import org.apache.spark.sql.functions._

import graft.functions.{RpProject, Signatures}
import graft.pipeline.Similarity

/** Similarity search: centroid training must be dimension-agnostic (the
  * round-1/2 bug hardcoded 64 dims), and IVF probing with all cells probed
  * must reproduce brute force exactly.
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  /** Deterministic clustered corpus for the recall floor: `groups` well-
    * separated clusters (near-orthogonal centers, small deterministic
    * per-dimension jitter) of `perGroup` vectors each, dim = 2·groups.
    * This is the regime ANN methods are FOR — on the bench's near-uniform
    * synthetic embeddings (top cosine ≈ 0.33) no sublinear method retains
    * recall (hyperplane/cell membership of a weakly-correlated neighbor is
    * a coin flip — the curse of dimensionality), so the absolute floor is
    * pinned here.
    */
  private def clusteredCorpus(groups: Int = 8, perGroup: Int = 50) =
    corpus(groups, perGroup, dim = 2 * groups, jitter = 0.05f) { (g, d) =>
      if (d == 2 * g) 1.0f else if (d == 2 * g + 1) 0.5f else 0.0f
    }

  /** Mid-separation corpus: clusters whose centers OVERLAP on shared
    * dimensions (center g is 1.0 on dim g and 0.8 on dim g+1, so adjacent
    * centers have cosine ≈ 0.6) with 12× the jitter of [[clusteredCorpus]].
    * The regime between the well-separated floor corpus and the hopeless
    * uniform bench embeddings — where real embedding spaces live: SRP
    * hyperplanes cut through the fattened cluster interiors, so the SRP
    * family measurably loses recall (measured 0.85 at 8×25) while
    * label-cell IVF holds 1.0 — the discrimination the well-separated
    * corpus cannot show (everything measures 1.0 there).
    */
  private def overlappingCorpus(groups: Int = 8, perGroup: Int = 50) =
    corpus(groups, perGroup, dim = groups + 1, jitter = 0.6f) { (g, d) =>
      if (d == g) 1.0f else if (d == g + 1) 0.8f else 0.0f
    }

  /** `groups` × `perGroup` vectors (vec_id, label = group, embedding): each
    * element is its group's center plus a deterministic jitter in
    * [0, `jitter`).
    */
  private def corpus(groups: Int, perGroup: Int, dim: Int, jitter: Float)(
      center: (Int, Int) => Float): org.apache.spark.sql.DataFrame = {
    val rows = for {
      g <- 0 until groups
      i <- 0 until perGroup
    } yield {
      val id = (g * perGroup + i).toLong
      val v = Array.tabulate(dim) { d =>
        center(g, d) + (((id * 1315423911L + d * 2654435761L) % 1000L + 1000L) % 1000L)
          .toFloat / 1000f * jitter
      }
      (id, g.toLong, v)
    }
    rows.toDF("vec_id", "label", "embedding")
  }

  test("centroids are per-dimension means for ANY dimension (here 3-dim)") {
    val d = Seq(
      (1L, "a", Array(1.0f, 2.0f, 3.0f)),
      (2L, "a", Array(3.0f, 4.0f, 5.0f)),
      (3L, "b", Array(10.0f, 0.0f, -2.0f))
    ).toDF("vec_id", "label", "embedding")
    val got = Similarity.centroids(d).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(got("a") == Seq(2.0, 3.0, 4.0))
    assert(got("b") == Seq(10.0, 0.0, -2.0))
  }

  test("centroid dimension follows the data, not a constant") {
    val d = Seq((1L, "x", Array.fill(7)(2.0f))).toDF("vec_id", "label", "embedding")
    val c = Similarity.centroids(d).collect()(0).getSeq[Double](1)
    assert(c.length == 7 && c.forall(_ == 2.0))
  }

  test("silhouette: tight separated clusters read near 1, a midpoint reads near 0") {
    // two tight clusters far apart + one point midway between their centers
    val pts = (1L to 10L).map(i => (i, Array(0.0f + (i % 3) * 0.01f, 0.0f))) ++
      (11L to 20L).map(i => (i, Array(10.0f + (i % 3) * 0.01f, 0.0f))) ++
      Seq((99L, Array(5.0f, 0.0f)))
    val d = pts.toDF("vec_id", "embedding")
    val got = Similarity.silhouette(d, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // cluster members: tight (a tiny, b huge) -> sil near 1
    (1L to 20L).foreach { i =>
      assert(got(i)._4 > 0.9, s"vec $i sil ${got(i)._4}")
      assert(got(i)._3 >= got(i)._2, "b is the min over OTHER clusters, >= a")
    }
    // the midpoint sits on the boundary -> sil near 0
    assert(math.abs(got(99L)._4) < 0.2, got(99L).toString)
    // assignment slot equals the kmeans assignment exactly
    val km = Similarity.kmeans(d, k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, (c, _, _, _)) => assert(c == km(id), s"vec $id") }
  }

  test("semanticJoin: cross twins pair in their frozen cell, sides keep id spaces") {
    // left: two tight clusters; right: a paraphrase of cluster A + noise
    val left = ((1L to 5L).map(i => (i, Array(1.0f, 0.001f * i, 0.0f))) ++
      (6L to 10L).map(i => (i, Array(0.0f, 0.001f * i, 1.0f))))
      .toDF("vec_id", "embedding")
    val right = Seq(
      (101L, Array(1.0f, 0.002f, 0.0f)),   // semantic twin of cluster A
      (102L, Array(-1.0f, 5.0f, -1.0f))    // unrelated direction
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticJoin(left, right, threshold = 0.95,
      k = 2, iters = 2).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty, "the planted twin must surface")
    // id spaces stay on their sides
    assert(got.forall { case (a, b, _) => a <= 10L && b >= 101L }, got.mkString(","))
    // the twin pairs ONLY with cluster-A vectors, and 102 pairs with nothing
    assert(got.forall { case (a, b, c) => b == 101L && a <= 5L && c >= 0.95 },
      got.mkString(","))
    assert(got.map(_._1).toSet == (1L to 5L).toSet,
      s"twin should match every cluster-A member: ${got.mkString(",")}")
  }

  test("silhouette requires k >= 2") {
    intercept[IllegalArgumentException] {
      Similarity.silhouette(emb, k = 1, iters = 1)
    }
  }

  test("IVF with nprobe = #cells reproduces brute force exactly") {
    val queries = emb.where(col("vec_id") < 3)
    val nCells = emb.select("label").distinct().count().toInt
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
    val ivf = Similarity.ivfTopK(queries, emb, k = 5, nprobe = nCells)
    assert(rowsOf(ivf) == rowsOf(brute))
  }

  test("brute-force top-k is deterministically ordered and self-excluding") {
    val got = Similarity.bruteForceTopK(emb.where(col("vec_id") === 0), emb, k = 3).collect()
    assert(got.length == 3)
    assert(got.forall(_.getAs[Long]("neighbor_id") != 0L))
    val sims = got.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("SRP-LSH: every neighbor shares the query's bucket, ranked exactly within it") {
    val planes = 4 // coarse buckets so every query has company
    val bucketed = emb.select(col("vec_id"), col("embedding"),
      Similarity.srpBucket(col("embedding"), planes).as("bucket"))
    val buckets = bucketed.select("vec_id", "bucket").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(buckets.values.toSet.size > 1, "planes must actually partition the corpus")

    val got = Similarity.srpTopK(emb.where(col("vec_id") < 5), emb, k = 3, planes = planes)
      .collect()
    assert(got.nonEmpty)
    // candidate containment: a neighbor is only ever drawn from the bucket
    got.foreach { r =>
      assert(buckets(r.getAs[Long]("neighbor_id")) == buckets(r.getAs[Long]("query_id")))
    }
    // within the bucket, ranking equals brute force restricted to it
    val q0 = got.filter(_.getAs[Long]("query_id") == 0L).sortBy(_.getAs[Int]("rank"))
    if (q0.nonEmpty) {
      val mates = buckets.filter { case (id, b) => b == buckets(0L) && id != 0L }.keys.toSeq
      val brute = Similarity.bruteForceTopK(
        emb.where(col("vec_id") === 0), emb.where(col("vec_id").isin(mates: _*)), k = 3)
        .collect().sortBy(_.getAs[Int]("rank"))
      assert(q0.map(_.getAs[Long]("neighbor_id")).toSeq ==
        brute.map(_.getAs[Long]("neighbor_id")).toSeq)
    }
  }

  test("multiprobe SRP: nprobe=1 equals single-probe; more probes never hurt recall") {
    val planes = 4
    val qs = emb.where(col("vec_id") < 5)
    val single = Similarity.srpTopK(qs, emb, k = 3, planes = planes).collect()
    val mp1 = Similarity.srpTopKMultiprobe(qs, emb, k = 3, planes = planes, nprobe = 1).collect()
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(key(mp1) == key(single))

    // wider probing: per query, the rank-1 similarity can only improve
    val mp3 = Similarity.srpTopKMultiprobe(qs, emb, k = 3, planes = planes, nprobe = 3).collect()
    def best(rows: Array[org.apache.spark.sql.Row]) =
      rows.filter(_.getAs[Int]("rank") == 1)
        .map(r => r.getAs[Long]("query_id") -> r.getAs[Double]("cos_sim")).toMap
    val b1 = best(mp1)
    val b3 = best(mp3)
    b1.foreach { case (q, s1) => assert(b3(q) >= s1, s"query $q lost recall") }
    // and the candidate pool actually grew somewhere (3 of 16 buckets probed)
    assert(mp3.length >= mp1.length)
  }

  test("embedding near-dups only emits pairs above threshold within a cell") {
    val got = Similarity.embeddingNearDups(emb, threshold = 0.4).collect()
    assert(got.forall(_.getAs[Double]("cos_sim") >= 0.4))
    assert(got.forall(r => r.getAs[Long]("id_a") < r.getAs[Long]("id_b")))
  }

  test("labelOutliers: planted outlier flags, tight cluster doesn't, degenerate z null") {
    // label 0: 20 vectors near (1,0) plus one far point; label 1: a pair
    // (n=2 -> z defined but huge denominators are fine); label 2: singleton
    val near = (0 until 20).map(i =>
      (i.toLong, Array(1.0f + (i % 5) * 0.01f, (i % 3) * 0.01f), 0))
    val far = Seq((100L, Array(9.0f, 9.0f), 0))
    val pair = Seq((200L, Array(0.0f, 1.0f), 1), (201L, Array(0.0f, 3.0f), 1))
    val single = Seq((300L, Array(5.0f, 5.0f), 2))
    val df = (near ++ far ++ pair ++ single).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelOutliers(df).collect()
      .map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(got(100L).getAs[Boolean]("is_outlier"),
      s"planted outlier not flagged: ${got(100L)}")
    near.foreach { case (id, _, _) =>
      assert(!got(id).getAs[Boolean]("is_outlier"), s"tight vec $id flagged") }
    // singleton label: no spread, z null, not flagged
    assert(got(300L).isNullAt(got(300L).fieldIndex("z_score")))
    assert(!got(300L).getAs[Boolean]("is_outlier"))
    assert(got(300L).getAs[Double]("dist") == 0.0) // centroid == itself
    // symmetric pair: equal distances, zero variance -> z null on both
    assert(got(200L).isNullAt(got(200L).fieldIndex("z_score")))
    // distances are honest L2: the pair sits 1.0 from its centroid
    assert(math.abs(got(200L).getAs[Double]("dist") - 1.0) < 1e-9)
  }

  test("rrfFuse: hand-computed fusion, absent-list nulls, id tie-break") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val b = Seq((3L, 1), (4L, 2)).toDF("doc_id", "rank")
    val got = Similarity.rrfFuse(a, b, "doc_id", "rank", k = 10)
      .select("doc_id", "rank_a", "rank_b", "rrf_score")
      .as[(Long, Option[Long], Option[Long], Double)].collect().toSeq
    // id 3 hits both lists; 2 and 4 tie at 1/62 and break on id asc
    assert(got.map(_._1) == Seq(3L, 1L, 2L, 4L), got.toString)
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(3L) == ((3L, Some(3L), Some(1L), 1.0 / 63 + 1.0 / 61)))
    assert(byId(1L) == ((1L, Some(1L), None, 1.0 / 61)))
    assert(byId(2L) == ((2L, Some(2L), None, 1.0 / 62)))
    assert(byId(4L) == ((4L, None, Some(2L), 1.0 / 62)))
    // k cuts after the fused order
    val cut = Similarity.rrfFuse(a, b, "doc_id", "rank", k = 2)
      .select("doc_id").as[Long].collect().toSeq
    assert(cut == Seq(3L, 1L))
    intercept[IllegalArgumentException] { Similarity.rrfFuse(a, b, "doc_id", "rank", k = 0) }
  }

  test("kmeans matches a from-scratch Lloyd run and is layout-invariant") {
    import spark.implicits._
    // three well-separated groups around (0,0), (10,0), (0,10) plus the
    // seeds; k=3, iters=2 — small enough to replay exactly on the driver
    val vecs: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(0f, 0f), 1L -> Array(10f, 0f), 2L -> Array(0f, 10f),
      3L -> Array(1f, 0f), 4L -> Array(0f, 1f), 5L -> Array(9f, 1f),
      6L -> Array(11f, 0f), 7L -> Array(1f, 10f), 8L -> Array(0f, 11f),
      9L -> Array(5f, 5f))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.kmeans(df, k = 3, iters = 2).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Double]("dist")))).toMap

    // driver-side reference: identical init (from-scratch replay of the
    // k-means|| seeding: CW-hash candidate draw + greedy farthest-point),
    // identical argmin, identical mean update
    def sq(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val pts = vecs.map { case (id, v) => id -> v.map(_.toDouble) }.sortBy(_._1)
    var cents: Seq[(Long, Array[Double])] = {
      import graft.functions.PolyHash
      import graft.pipeline.Sampling
      val key = (id: Long) =>
        (PolyHash.hash(id.toString, 0L) * Sampling.saltMult("kmeans_init")
          + Sampling.saltAdd("kmeans_init")) % PolyHash.Mod
      val cand = pts.sortBy { case (id, _) => (key(id), id) }.take(3 * 4).map(_._2)
      var sel = Vector(0)
      while (sel.size < math.min(3, cand.size)) {
        val md = cand.indices.map(i => sel.map(s => sq(cand(i), cand(s))).min)
        val next = cand.indices.filterNot(sel.contains).maxBy(i => (md(i), -i))
        sel = sel :+ next
      }
      sel.zipWithIndex.map { case (ci, cl) => cl.toLong -> cand(ci) }
    }
    def assignRef() = pts.map { case (id, v) =>
      val (c, d) = cents.map { case (ci, cv) => (ci, sq(v, cv)) }
        .minBy { case (ci, d) => (d, ci) }
      (id, c, d, v)
    }
    for (_ <- 1 to 2) {
      val a = assignRef()
      cents = a.groupBy(_._2).toSeq.map { case (c, rows) =>
        val dim = rows.head._4.length
        c -> Array.tabulate(dim)(i => rows.map(_._4(i)).sum / rows.size)
      }.sortBy(_._1)
    }
    val expect = assignRef().map { case (id, c, d, _) => id -> ((c, d)) }.toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, (c, d)) =>
      assert(got(id)._1 == c, s"vec $id cluster")
      assert(math.abs(got(id)._2 - d) < 1e-9, s"vec $id dist")
    }
    // groups must actually separate: ids {0,3,4}, {1,5,6}, {2,7,8} each share
    assert(Set(got(0L)._1, got(3L)._1, got(4L)._1).size == 1)
    assert(Set(got(1L)._1, got(5L)._1, got(6L)._1).size == 1)
    assert(Set(got(2L)._1, got(7L)._1, got(8L)._1).size == 1)

    val shuffled = Similarity.kmeans(df.repartition(7), k = 3, iters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    assert(shuffled == got.view.mapValues(_._1).toMap)

    // reliable-checkpoint mode (cluster-durable Lineage.truncate path) must
    // reproduce the exact same trajectory bit-for-bit
    withCheckpointDir { _ =>
      val reliable = Similarity.kmeans(df, k = 3, iters = 2).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("cluster"), r.getAs[Double]("dist")))).toMap
      assert(reliable == got)
    }
  }

  test("kmeans|| init recovers all true clusters on id-ordered clustered data") {
    import spark.implicits._
    // the degenerate layout for first-k-by-id seeding: ids 0..14 are ALL in
    // the first group, so the old init would seed every cluster inside one
    // blob and often never separate the far groups; the hash-sampled +
    // farthest-point init must place seeds across the space regardless of
    // id order and recover a pure 4-way partition
    val centers = Seq((0.0, 0.0), (100.0, 0.0), (0.0, 100.0), (100.0, 100.0))
    val vecs = for {
      (c, g) <- centers.zipWithIndex
      i <- 0 until 15
    } yield ((g * 15 + i).toLong,
      Array((c._1 + i * 0.1).toFloat, (c._2 - i * 0.1).toFloat))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.kmeans(df, k = 4, iters = 4).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    val byGroup = vecs.map(_._1).groupBy(_ / 15)
      .view.mapValues(_.map(got).toSet).toMap
    // each true group lands in exactly one predicted cluster...
    byGroup.foreach { case (g, cls) =>
      assert(cls.size == 1, s"group $g split across clusters $cls")
    }
    // ...and the four predicted clusters are distinct (all groups recovered)
    assert(byGroup.values.map(_.head).toSet.size == 4,
      s"groups collapsed: $byGroup")
  }

  test("ANN recall floor: >= 0.9 vs brute force on clustered data at fixed params") {
    // the regime ANN methods are for: well-separated clusters (on the
    // bench's near-uniform embeddings no sublinear method retains recall;
    // ROUND_r06.md records that curve). Floor pinned at 0.9 with
    // real margin: all three methods measure 1.0 on this corpus.
    val c = clusteredCorpus()
    val q = c.where(col("vec_id") % 50 === 0) // one query per cluster
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(q, c, k = 5))
    assert(brute.size == 40) // 8 queries x k=5
    def recall(got: Set[(Long, Long)]): Double =
      got.intersect(brute).size.toDouble / brute.size
    val rIvf = recall(pairs(Similarity.ivfTopK(q, c, k = 5, nprobe = 2)))
    val rSrp = recall(pairs(Similarity.srpTopK(q, c, k = 5, planes = 4)))
    val rMp = recall(pairs(
      Similarity.srpTopKMultiprobe(q, c, k = 5, planes = 4, nprobe = 3)))
    assert(rIvf >= 0.9, s"ivfTopK recall@5 $rIvf < 0.9")
    assert(rSrp >= 0.9, s"srpTopK recall@5 $rSrp < 0.9")
    assert(rMp >= 0.9, s"srpTopKMultiprobe recall@5 $rMp < 0.9")
    // PQ serving shape: the exact re-rank over a tie-group-covering
    // shortlist restores the compressed index to full recall (raw ADC at
    // this code size measures 0.28, ROUND_r06.md records the ladder)
    val rPq = recall(pairs(
      Similarity.pqTopKRerank(q, c, topK = 5, candidates = 100, m = 2, kc = 8)))
    assert(rPq >= 0.9, s"pqTopKRerank recall@5 $rPq < 0.9")
    // cell-blocked mutual knn graph: trained kmeans cells recover the 8
    // planted clusters, so one probe already holds the EDGE floor
    val kb = Similarity.knnGraphBrute(c, k = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val kg = Similarity.knnGraph(c, k = 3, nprobe = 1, kCells = 8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rKnn = kg.intersect(kb).size.toDouble / kb.size
    assert(rKnn >= 0.9, s"knnGraph edge recall $rKnn < 0.9")
  }

  test("ANN recall floor: >= 0.8 on the mid-separation overlapping corpus") {
    // overlapping clusters with heavy jitter (adjacent centers cos ≈ 0.6):
    // SRP hyperplanes cut through the fattened cluster interiors, so this
    // corpus discriminates (SRP family measures 0.85, IVF 1.0) where the
    // well-separated corpus reads 1.0 across the board — the floor pins
    // against regressions in hashing/probing
    val c = overlappingCorpus(perGroup = 25)
    val q = c.where(col("vec_id") % 25 === 0) // one query per cluster
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs(Similarity.bruteForceTopK(q, c, k = 5))
    assert(brute.size == 40)
    def recall(got: Set[(Long, Long)]): Double =
      got.intersect(brute).size.toDouble / brute.size
    val rIvf = recall(pairs(Similarity.ivfTopK(q, c, k = 5, nprobe = 2)))
    val rSrp = recall(pairs(Similarity.srpTopK(q, c, k = 5, planes = 4)))
    val rMp = recall(pairs(
      Similarity.srpTopKMultiprobe(q, c, k = 5, planes = 4, nprobe = 3)))
    assert(rIvf >= 0.9, s"ivfTopK recall@5 $rIvf < 0.9 on mid-separation data")
    assert(rSrp >= 0.8, s"srpTopK recall@5 $rSrp < 0.8 on mid-separation data")
    assert(rMp >= 0.8, s"srpTopKMultiprobe recall@5 $rMp < 0.8 on mid-separation data")
  }

  test("dimStats: exact per-dimension moments; dead dimension shows zero std") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, Array(1.0f, 5.0f, 2.0f)),
      (2L, Array(3.0f, 5.0f, 4.0f)),
      (3L, Array(5.0f, 5.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = Similarity.dimStats(df).orderBy("dim").collect()
    assert(got.map(_.getAs[Int]("dim")).toSeq == Seq(0, 1, 2))
    assert(got.forall(_.getAs[Long]("n") == 3L))
    assert(got(0).getAs[Double]("mean") == 3.0)
    assert(math.abs(got(0).getAs[Double]("std") - 2.0) < 1e-12) // var = 4
    assert(got(1).getAs[Double]("std") == 0.0) // the dead dimension
    assert(got(2).getAs[Double]("min_v") == 0.0 && got(2).getAs[Double]("max_v") == 4.0)
  }

  test("pcaTop recovers a planted dominant direction with its variance share") {
    // variance planted along u = (3,4)/5 with amplitude ±{1..4}, plus a
    // tiny orthogonal wiggle: the top PC must align with u and claim
    // nearly all the variance
    val u = Array(0.6, 0.8)
    val data = for (a <- Seq(-4.0, -3.0, -2.0, -1.0, 1.0, 2.0, 3.0, 4.0);
                    w <- Seq(-0.01, 0.01))
      yield (a, Array((a * u(0) - w * u(1)).toFloat, (a * u(1) + w * u(0)).toFloat))
    val df = data.zipWithIndex
      .map { case ((_, v), i) => (i.toLong, v) }.toDF("vec_id", "embedding")
    val got = graft.pipeline.Similarity.pcaTop(df, iters = 12)
      .orderBy("dim").collect()
    val loading = got.map(_.getAs[Double]("loading"))
    val cos = math.abs(loading(0) * u(0) + loading(1) * u(1))
    assert(cos > 0.999999, s"PC misaligned: cos=$cos loadings=${loading.toSeq}")
    // unit norm; eigenvalue ~ planted variance (E[a^2] = 7.5); explained
    // share nearly 1 (the wiggle carries 1e-4 of the variance)
    assert(math.abs(loading.map(x => x * x).sum - 1.0) < 1e-12)
    val lam = got.head.getAs[Double]("eigenvalue")
    assert(math.abs(lam - 7.5) < 0.01, s"eigenvalue $lam")
    assert(got.head.getAs[Double]("var_explained") > 0.9999)
  }

  test("semanticDedup: within-cluster cosine twins prune to the lowest id; cross-cluster twins survive") {
    import spark.implicits._
    // three well-separated directions; within direction X, ids 0/1/2 are
    // near-parallel (cosine ~1) and 3 is orthogonal-ish noise appended to
    // the same cell only if kmeans puts it there — so derive the expected
    // prune set from the OPERATOR'S own verified primitives replayed on
    // the driver: kmeans assignment (trusted, pinned above) + exact cosine.
    val vecs: Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0f, 0f), 1L -> Array(0.99f, 0.01f, 0f),
      2L -> Array(0.98f, 0.02f, 0f),
      10L -> Array(0f, 1f, 0f), 11L -> Array(0f, 0.99f, 0.01f),
      20L -> Array(0f, 0f, 1f), 21L -> Array(0.01f, 0f, 0.99f),
      30L -> Array(0.577f, 0.577f, 0.577f))
    val df = vecs.toDF("vec_id", "embedding")
    val thr = 0.95
    val got = Similarity.semanticDedup(df, threshold = thr, k = 3, iters = 2)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Boolean]("is_kept"),
          Option(r.getAs[java.lang.Long]("pruned_by")).map(_.toLong)))).toMap
    assert(got.keySet == vecs.map(_._1).toSet, "one row per vector")
    // driver reference from the same primitives
    val clusters = Similarity.kmeans(df, k = 3, iters = 2).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster")).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val vmap = vecs.toMap
    val expect = vecs.map { case (id, v) =>
      val lower = vecs.filter { case (o, w) => o < id &&
        clusters(o) == clusters(id) && cos(w, v) >= thr }.map(_._1)
      id -> (if (lower.isEmpty) None else Some(lower.min))
    }.toMap
    got.foreach { case (id, (cl, kept, prunedBy)) =>
      assert(cl == clusters(id), s"id $id cluster")
      assert(prunedBy == expect(id), s"id $id pruned_by")
      assert(kept == expect(id).isEmpty, s"id $id is_kept")
      prunedBy.foreach { p =>
        assert(p < id && clusters(p) == clusters(id) &&
          cos(vmap(p), vmap(id)) >= thr, s"id $id pruner $p invariants")
      }
    }
    // the scenario must be non-trivial: at least the 0/1/2 chain pruned to 0
    assert(got(1L)._3.contains(0L) && got(2L)._3.contains(0L))
    assert(got(0L)._2 && got(30L)._2, "cluster-lowest ids and the lone diagonal survive")
  }

  test("pqEncode: codes are the per-subspace kmeans assignments, sq_err their summed distances") {
    val got = Similarity.pqEncode(emb, m = 2, k = 4, iters = 1).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[scala.collection.Seq[Long]]("codes").toList,
          r.getAs[Double]("sq_err")))).toMap
    // reference: the operator's contract IS per-subspace kmeans (pinned
    // above); compose it from the verified primitive on sliced vectors
    val halves = (0 until 2).map { j =>
      Similarity.kmeans(
        emb.select(col("vec_id"),
          slice(col("embedding"), j * 32 + 1, 32).as("embedding")),
        k = 4, iters = 1).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Long]("cluster"), r.getAs[Double]("dist")))).toMap
    }
    assert(got.keySet == halves(0).keySet)
    got.foreach { case (id, (codes, err)) =>
      assert(codes == Seq(halves(0)(id)._1, halves(1)(id)._1), s"id $id codes")
      assert(err == halves(0)(id)._2 + halves(1)(id)._2, s"id $id sq_err")
      assert(codes.forall(c => c >= 0 && c < 4))
    }
    // the quantizer must actually use multiple codewords per subspace
    assert(got.values.map(_._1.head).toSet.size > 1)
    assert(got.values.map(_._1(1)).toSet.size > 1)
  }

  test("pqTopK: adc distances equal codebook-table sums; ranking and self-exclusion hold") {
    val queries = emb.where(col("vec_id") < 5)
    val got = Similarity.pqTopK(queries, emb, topK = 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"), r.getAs[Double]("adc_dist")))
    assert(got.length == 15, "5 queries x top-3")
    assert(got.forall(r => r._1 != r._2), "self excluded")
    assert(got.groupBy(_._1).values.forall(g =>
      g.map(_._3).sorted.toSeq == Seq(1, 2, 3)), "contiguous ranks")
    // replay from the verified primitives: centroids + codes per subspace
    def sq(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + (x - y) * (x - y) }
    val cb = (0 until 2).map { j =>
      Similarity.kmeansCentroids(
        emb.select(col("vec_id"),
          slice(col("embedding"), j * 32 + 1, 32).as("embedding")),
        k = 4, iters = 1).collect()
        .map(r => r.getAs[Long]("cluster") ->
          r.getAs[scala.collection.Seq[Double]]("centroid").toSeq).toMap
    }
    val codes = Similarity.pqEncode(emb, m = 2, k = 4, iters = 1).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Long]]("codes").toSeq).toMap
    val qv = queries.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toSeq).toMap
    got.foreach { case (q, nb, _, adc) =>
      val expect = (0 until 2).map { j =>
        sq(qv(q).slice(j * 32, (j + 1) * 32), cb(j)(codes(nb)(j)))
      }.sum
      assert(math.abs(adc - expect) < 1e-9, s"query $q neighbor $nb")
    }
  }

  test("ivfPqTopK: probing all cells reproduces pqTopK; neighbors come only from probed cells") {
    val queries = emb.where(col("vec_id") < 5)
    def rowsOfAdc(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rank"), r.getAs[Double]("adc_dist"))).toSet
    val nCells = emb.select("label").distinct().count().toInt
    assert(rowsOfAdc(Similarity.ivfPqTopK(queries, emb, k = 3, nprobe = nCells))
      == rowsOfAdc(Similarity.pqTopK(queries, emb, topK = 3)),
      "all cells probed must equal plain ADC over the whole corpus")
    // restricted probe: every returned neighbor must live in one of its
    // query's nprobe nearest cells (replayed from the centroid table)
    val nprobe = 2
    val got = Similarity.ivfPqTopK(queries, emb, k = 3, nprobe = nprobe).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(got.nonEmpty)
    val cents = Similarity.centroids(emb).collect()
      .map(r => r.getAs[Int]("cell") ->
        r.getAs[scala.collection.Seq[Double]]("centroid").toSeq).toMap
    val vecOf = emb.collect().map(r => r.getAs[Long]("vec_id") ->
      ((r.getAs[Int]("label"),
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toSeq))).toMap
    def cos(a: Seq[Double], b: Seq[Double]) = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val probedOf = vecOf.filter(_._1 < 5).map { case (q, (_, qv)) =>
      q -> cents.toSeq.map { case (c, cv) => (cos(qv, cv), c) }
        .sortBy { case (s, c) => (-s, c) }.take(nprobe).map(_._2).toSet
    }
    got.foreach { case (q, nb) =>
      assert(probedOf(q).contains(vecOf(nb)._1),
        s"neighbor $nb of query $q sits in an unprobed cell")
      assert(q != nb)
    }
  }

  test("truncationRecall: full prefix is exactly 1; an informative prefix recovers it; a dead prefix doesn't") {
    // signal lives ONLY in dims 1-2; dims 3-8 are ZERO (a constant
    // non-zero plateau would still shift every cosine through the norms),
    // so the 2-dim prefix reproduces the full ranking exactly while the
    // 1-dim prefix of all-positive values makes every cosine 1 and
    // collapses the ranking to the id tie-break
    val vecs: Seq[(Long, Array[Float])] = (0L until 40L).map { i =>
      val a = ((i * 37) % 100).toFloat / 100f + 0.01f
      val b = ((i * 61) % 100).toFloat / 100f + 0.01f
      i -> (Array(a, b) ++ Array.fill(6)(0f))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val q = df.where(col("vec_id") < 4)
    val got = Similarity.truncationRecall(q, df, k = 3, dims = Seq(1, 2, 8))
      .collect().map(r => r.getAs[Int]("dim_kept") ->
        ((r.getAs[Long]("n_ref"), r.getAs[Long]("n_matched"),
          r.getAs[Double]("recall")))).toMap
    assert(got.keySet == Set(1, 2, 8))
    assert(got.values.forall(_._1 == 12L), "4 queries x k=3 reference pairs")
    assert(got(8) == ((12L, 12L, 1.0)), "the full prefix IS the reference")
    assert(got(2)._3 == 1.0, "dims 1-2 carry all the signal")
    assert(got(1)._3 < 1.0, "the 1-dim prefix must lose ranking information")
    got.foreach { case (_, (n, m, r)) => assert(r == m.toDouble / n) }
  }

  test("standardize: unit moments per live dim, dead dim to zero") {
    val vecs = Seq(
      (1L, Array(1.0f, 10f, 5f)),
      (2L, Array(2.0f, 20f, 5f)),
      (3L, Array(3.0f, 30f, 5f))).toDF("vec_id", "embedding")
    val got = Similarity.standardize(vecs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // dims 0 and 1 standardize to the same z-pattern (-1, 0, 1); the
    // constant dim maps to 0
    Seq(0, 1).foreach { d =>
      assert(math.abs(got(1L)(d) + 1.0) < 1e-12)
      assert(math.abs(got(2L)(d)) < 1e-12)
      assert(math.abs(got(3L)(d) - 1.0) < 1e-12)
    }
    assert(Seq(1L, 2L, 3L).forall(id => got(id)(2) == 0.0))
  }

  test("hardNegatives: wrong-label only, ranked; triplets pair both legs") {
    // two tight clusters on orthogonal axes plus one "confuser" of label B
    // sitting close to cluster A — it must be every A-anchor's hardest
    // negative despite B's own cluster being far away
    val rows = Seq(
      (1L, "A", Array(1.0f, 0.0f, 0.05f)),
      (2L, "A", Array(0.95f, 0.0f, 0.0f)),
      (3L, "B", Array(0.0f, 1.0f, 0.0f)),
      (4L, "B", Array(0.0f, 0.9f, 0.1f)),
      (5L, "B", Array(0.9f, 0.1f, 0.0f))) // confuser near cluster A
    val e = rows.toDF("vec_id", "label", "embedding")
    val hn = Similarity.hardNegatives(e.where($"vec_id" <= 2), e, k = 2)
      .collect()
    assert(hn.forall(r => r.getAs[String]("query_label") !=
      r.getAs[String]("neighbor_label")), "a hard negative shares the label")
    val top = hn.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(top == Map(1L -> 5L, 2L -> 5L), s"confuser must rank first: $top")

    val tr = Similarity.miningTriplets(e, e).collect()
      .map(r => r.getAs[Long]("anchor_id") ->
        ((r.getAs[Long]("pos_id"), r.getAs[Long]("neg_id"),
          r.getAs[Double]("margin")))).toMap
    assert(tr.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(tr(1L)._1 == 2L && tr(1L)._2 == 5L)
    assert(tr(1L)._3 > 0, "intra-cluster anchor has positive margin")
    assert(tr(5L)._3 < 0, "the confuser's own label is farther than A — " +
      "negative margin is exactly what mining must surface")
    // a single-label corpus yields no triplets (no negative leg)
    val mono = Seq((1L, "A", Array(1f, 0f)), (2L, "A", Array(0.9f, 0.1f)))
      .toDF("vec_id", "label", "embedding")
    assert(Similarity.miningTriplets(mono, mono).isEmpty)
  }

  test("pcaTop rejects a zero-variance corpus instead of dividing by zero") {
    val df = Seq((1L, Array(1f, 2f)), (2L, Array(1f, 2f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.Similarity.pcaTop(df, iters = 2)
    }
    assert(e.getMessage.contains("degenerate"))
  }
  test("mmrSelect diversifies: a near-duplicate of the top hit is demoted") {
    // query along e1; a1/a2 near-identical high-relevance; b distinct
    // direction with moderate relevance; c filler
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val rows = Seq(
      (0L, v(1, 0, 0, 0)),            // query
      (1L, v(0.9, 0.1, 0, 0)),        // a1: top relevance
      (2L, v(0.9, 0.11, 0, 0)),       // a2: near-copy of a1 (sim ≈ 0.9999)
      (3L, v(0.8, 0, 0.6, 0)),        // b: good relevance, different direction
      (4L, v(0.1, 0, 0, 0.99)))       // c: weak, near-orthogonal to all
    val df = rows.toDF("vec_id", "embedding")
    val got = graft.pipeline.Similarity
      .mmrSelect(df.where($"vec_id" === 0), df, k = 3, shortlist = 4, lambda = 0.5)
      .collect().map(r => r.getAs[Int]("mmr_rank") -> r.getAs[Long]("vec_id"))
      .toMap
    // pure relevance order would be 1, 2, 3; at λ=0.5 the near-copy's
    // 0.9999 redundancy penalty pushes it out of the top-3 entirely
    // (margins ≈ 3e-3 — far above float noise)
    assert(got == Map(1 -> 1L, 2 -> 3L, 3 -> 4L), s"got $got")
    // rank-1 score is λ·rel (empty selected set)
    val r1 = graft.pipeline.Similarity
      .mmrSelect(df.where($"vec_id" === 0), df, k = 1, shortlist = 4, lambda = 0.7)
      .collect().head
    assert(r1.getAs[Double]("mmr_score") == 0.7 * r1.getAs[Double]("rel"))
  }
  test("knnGraphBrute keeps only mutual edges and prunes the hub") {
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // two tight pairs plus a "hub" near the origin direction of both pairs'
    // bisector: the hub ranks pair members in ITS top-k, but pair members
    // rank each other + their twin first, so hub edges must be pruned at k=1
    val rows = Seq(
      (1L, v(1, 0.01, 0, 0)), (2L, v(1, -0.01, 0, 0)),   // pair A
      (3L, v(0, 0, 1, 0.01)), (4L, v(0, 0, 1, -0.01)),   // pair B
      (5L, v(0.7, 0, 0.7, 0)))                           // hub between A and B
    val df = rows.toDF("vec_id", "embedding")
    val got = graft.pipeline.Similarity.knnGraphBrute(df, k = 1)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got == Set((1L, 2L), (3L, 4L)), s"got $got")
    // at k=2 the hub's edges are still one-sided (nobody ranks it top-2
    // except itself-excluded neighbors rank their pair first, then the hub)
    val got2 = graft.pipeline.Similarity.knnGraphBrute(df, k = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got2.contains((1L, 2L)) && got2.contains((3L, 4L)))
  }
  test("knnGraph (cell-blocked): exact within probed cells, blocked outside") {
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val rows = Seq(
      (1L, v(1, 0.01, 0, 0)), (2L, v(1, -0.01, 0, 0)),
      (3L, v(0, 0, 1, 0.01)), (4L, v(0, 0, 1, -0.01)),
      (5L, v(0.7, 0, 0.7, 0)))
    val df = rows.toDF("vec_id", "embedding")
    // nprobe >= kCells: every cell probed -> the graph IS the brute graph
    for (k <- Seq(1, 2)) {
      val cells = Similarity.knnGraph(df, k = k, nprobe = 2, kCells = 2,
          iters = 1)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Double]("cos_sim"))).toSet
      val brute = Similarity.knnGraphBrute(df, k = k)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
          r.getAs[Double]("cos_sim"))).toSet
      assert(cells == brute, s"k=$k full-probe must equal brute: $cells")
    }
    // one cell likewise degenerates to brute
    assert(Similarity.knnGraph(df, k = 1, nprobe = 1, kCells = 1, iters = 1)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet ==
      Similarity.knnGraphBrute(df, k = 1).collect().map(
        r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet)
    // nprobe = 1 with two trained cells on two planted clusters: the
    // within-cluster twins pair (own cell probed), and CROSS-cluster
    // candidates are blocked — no mixed edge can form even at k = 4
    val twoClusters = Seq(
      (1L, v(1, 0.02, 0, 0)), (2L, v(1, -0.01, 0, 0)), (3L, v(0.99, 0, 0.01, 0)),
      (11L, v(0, 0, 1, 0.03)), (12L, v(0.01, 0, 1, -0.02)), (13L, v(0, 0.01, 0.98, 0)))
      .toDF("vec_id", "embedding")
    val got1 = Similarity.knnGraph(twoClusters, k = 4, nprobe = 1, kCells = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(got1.nonEmpty && got1.forall { case (a, b) =>
      (a < 10L) == (b < 10L) }, s"cross-cell edges must be blocked: $got1")
    assert(got1 == Set((1L, 2L), (1L, 3L), (2L, 3L),
      (11L, 12L), (11L, 13L), (12L, 13L)),
      s"within-cell ranking stays exact: $got1")
  }
  test("embeddingDrift: a planted centroid shift shows on exactly its dims") {
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    // slice A around (1, 0, 5); slice B identical except dim 1 shifted +2
    val rows = Seq(
      (0L, v(1.0, 0.1, 5.0)), (2L, v(1.2, -0.1, 5.0)),   // A (even ids)
      (1L, v(1.0, 2.1, 5.0)), (3L, v(1.2, 1.9, 5.0)))    // B (odd ids)
    val got = graft.pipeline.Similarity
      .embeddingDrift(rows.toDF("vec_id", "embedding"), $"vec_id" % 2 === 0)
      .collect().map(r => r.getAs[Int]("dim") ->
        ((r.getAs[Long]("n_a"), r.getAs[Double]("mean_gap")))).toMap
    assert(got.keySet == Set(0, 1, 2))
    assert(got(0)._1 == 2L)
    assert(math.abs(got(0)._2) < 1e-9, "dim 0 unshifted")
    assert(math.abs(got(1)._2 - 2.0) < 1e-6, s"dim 1 shifted by 2: ${got(1)._2}")
    assert(math.abs(got(2)._2) < 1e-9, "dim 2 unshifted")
  }

  test("kCenters: one pick per planted cluster before any repeat; sep_dist non-increasing; driver parity") {
    val rnd = new scala.util.Random(13)
    // 4 well-separated axis clusters in 8 dims, 6 points each
    val rows = for {
      c <- 0 until 4
      i <- 0 until 6
    } yield {
      val v = Array.fill(8)(rnd.nextGaussian().toFloat * 0.05f)
      v(c * 2) = 1.0f + rnd.nextGaussian().toFloat * 0.05f
      ((c * 100 + i).toLong, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.kCenters(df, k = 4).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[Long]("vec_id"),
        Option(r.getAs[Any]("sep_dist")).map(_.asInstanceOf[Double])))
      .sortBy(_._1)
    assert(got.length == 4)
    assert(got.head == ((1, 0L, None)), "seed is the smallest id")
    // the first 4 picks land in 4 DISTINCT clusters (farthest-point
    // property on well-separated clusters)
    assert(got.map(_._2 / 100).distinct.length == 4)
    // sep_dist is non-increasing over rounds 2..k
    val ds = got.tail.map(_._3.get)
    assert(ds.zip(ds.tail).forall { case (a, b) => b <= a + 1e-12 },
      s"sep_dist must be non-increasing: ${ds.mkString(", ")}")
    // exact driver replay of the greedy recursion
    def cosL(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val pts = rows.map { case (id, v) => (id, v.map(_.toDouble)) }.sortBy(_._1)
    var centers = Vector(pts.head)
    var exp = Vector[(Int, Long, Option[Double])]((1, pts.head._1, None))
    for (r <- 2 to 4) {
      val cands = pts.filter(p => !centers.exists(_._1 == p._1))
        .map { case (id, v) => (id, v, 1.0 - centers.map(c => cosL(v, c._2)).max) }
      val pick = cands.minBy { case (id, _, d) => (-d, id) }
      centers :+= ((pick._1, pick._2))
      exp :+= ((r, pick._1, Some(pick._3)))
    }
    assert(got.map(t => (t._1, t._2)).toSeq == exp.map(t => (t._1, t._2)))
    got.tail.zip(exp.tail).foreach { case (g, e) =>
      assert(math.abs(g._3.get - e._3.get) < 1e-12) }
  }

  test("knn-graph clustering: two planted clusters resolve to two components") {
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val rows = Seq(
      (1L, v(1.0, 0.02, 0.0)), (2L, v(1.0, -0.01, 0.01)), (3L, v(0.99, 0.0, -0.02)),
      (11L, v(0.0, 1.0, 0.03)), (12L, v(0.01, 1.0, -0.02)), (13L, v(-0.02, 0.98, 0.0)))
    val df = rows.toDF("vec_id", "embedding")
    val got = graft.pipeline.Components.clustersFromPairs(
      Similarity.knnGraphBrute(df, k = 2), "id_a", "id_b")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"))).toSet
    assert(got.map(_._2) == Set(1L, 11L), s"two components: $got")
    assert(got.forall(_._3 == 3L))
    assert(got.map(_._1) == Set(1L, 2L, 3L, 11L, 12L, 13L))
  }

  test("kCenters guards: empty corpus and k < 1 refuse; k larger than corpus returns all") {
    intercept[IllegalArgumentException](Similarity.kCenters(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"), k = 2).collect())
    intercept[IllegalArgumentException](Similarity.kCenters(emb, k = 0))
    val tiny = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    assert(Similarity.kCenters(tiny, k = 5).count() == 2)
  }

  test("rpTopK: full shortlist equals brute force exactly; recall floor on clustered data; shortlist < k refuses") {
    val c = clusteredCorpus()
    val n = c.count().toInt
    val q = c.where(col("vec_id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Double)] =
      df.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"),
        r.getAs[Double]("cos_sim"))).toSet
    // exactness contract: shortlist covering the corpus == brute force,
    // including the cos_sim doubles
    val brute = rows(Similarity.bruteForceTopK(q, c, k = 5))
    val full = rows(Similarity.rpTopK(q, c, k = 5, shortlist = n,
      dOut = 8, dIn = 16))
    assert(full == brute, s"full-shortlist rpTopK must equal brute force")
    // serving config: project 16 -> 8 dims, shortlist 50 of 400 vectors
    val sl = rows(Similarity.rpTopK(q, c, k = 5, shortlist = 50,
      dOut = 8, dIn = 16))
    val pb = brute.map(t => (t._1, t._2))
    val ps = sl.map(t => (t._1, t._2))
    val recall = ps.intersect(pb).size.toDouble / pb.size
    assert(recall >= 0.9, s"rpTopK recall@5 $recall < 0.9 on clustered data")
    intercept[IllegalArgumentException](
      Similarity.rpTopK(q, c, k = 5, shortlist = 4, dOut = 8, dIn = 16))
  }

  test("sqTopK: full shortlist equals brute force exactly; int8 shortlist recall floor; shortlist < k refuses") {
    val c = clusteredCorpus()
    val n = c.count().toInt
    val q = c.where(col("vec_id") % 50 === 0)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int, Double)] =
      df.collect().map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"), r.getAs[Int]("rank"),
        r.getAs[Double]("cos_sim"))).toSet
    // exactness contract: a corpus-covering shortlist makes the quantized
    // stage irrelevant — output == brute force including the doubles
    val brute = rows(Similarity.bruteForceTopK(q, c, k = 5))
    val full = rows(Similarity.sqTopK(q, c, k = 5, shortlist = n))
    assert(full == brute, "full-shortlist sqTopK must equal brute force")
    // serving config: int8 shortlist 50 of 400 — int8 cosine distorts
    // far less than an 8-dim projection, so the floor is strict
    val sl = rows(Similarity.sqTopK(q, c, k = 5, shortlist = 50))
    val pb = brute.map(t => (t._1, t._2))
    val recall = sl.map(t => (t._1, t._2)).intersect(pb).size.toDouble / pb.size
    assert(recall >= 0.95, s"sqTopK recall@5 $recall < 0.95 on clustered data")
    intercept[IllegalArgumentException](
      Similarity.sqTopK(q, c, k = 5, shortlist = 4))
  }

  test("randomProject: exact driver parity, JL distance preservation on a seeded corpus, wrong width raises") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (1L to 30L).map(i =>
      (i, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    val got = Similarity.randomProject(df).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Double]]("rp").toArray).toMap
    assert(got.size == 30)
    assert(got(1L).length == 16)
    // exact replay of the left-assoc signed chain
    def rpLocal(v: Array[Float]): Array[Double] =
      Array.tabulate(16) { o =>
        (0 until 64).map { i =>
          val e = v(i).toDouble
          if (RpProject.rpSign(o, i) > 0) e else -e
        }.reduceLeft(_ + _) / 4.0
      }
    vecs.foreach { case (id, v) =>
      val exp = rpLocal(v)
      assert(got(id).sameElements(exp), s"vec $id: ${got(id).toSeq} vs ${exp.toSeq}")
    }
    // JL property with the fixed sign matrix: pairwise L2 distances are
    // preserved within modest distortion at k = 16
    def d2(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val orig = vecs.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    val ratios = for {
      i <- 1L to 30L; j <- (i + 1) to 30L
    } yield d2(got(i), got(j)) / d2(orig(i), orig(j))
    assert(ratios.forall(r => r > 0.4 && r < 1.8),
      s"worst distortion ${ratios.min} .. ${ratios.max}")
    val mean = ratios.sum / ratios.size
    assert(mean > 0.85 && mean < 1.15, s"mean distance ratio $mean")

    val bad = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception](Similarity.randomProject(bad).collect())
    assert(ex.getMessage.contains("randomProject") ||
      Option(ex.getCause).exists(_.getMessage.contains("randomProject")))
  }

  test("randomProject kernel is bit-identical to the unrolled column chain it replaced (sf0.001 embeddings)") {
    // the reference: the column chain randomProject emitted before the
    // kernel — per output dim, 64 signed element_at terms summed left to
    // right, then / √16
    def chain(v: org.apache.spark.sql.Column) = array((0 until 16).map { o =>
      (0 until 64).map { i =>
        val e = element_at(v, i + 1).cast("double")
        if (RpProject.rpSign(o, i) > 0) e else -e
      }.reduceLeft(_ + _) / lit(math.sqrt(16.0))
    }: _*)
    def bits(df: org.apache.spark.sql.DataFrame) = df.collect().map(r => r.get(0) ->
      r.getSeq[java.lang.Double](1).map(d =>
        Option(d).map(x => java.lang.Double.doubleToRawLongBits(x)))).toMap
    val e = emb.where(col("embedding").isNotNull)
    // float elements, the same widened to double, and a null element on
    // every third vector (which nulls all 16 components)
    val inputs = Seq(
      col("embedding"),
      col("embedding").cast("array<double>"),
      transform(col("embedding"), (x, i) =>
        when(i === 7 && col("vec_id") % 3 === 0, lit(null)).otherwise(x)))
    val projected = inputs.map { v =>
      val in = e.select(col("vec_id"), v.as("embedding"))
      val got = Similarity.randomProject(in)
      val ref = in.select(col("vec_id"), chain(col("embedding")).as("rp"))
      assert(got.schema == ref.schema)
      val (g, r) = (bits(got), bits(ref))
      assert(g.size == e.count() && g == r)
      g
    }
    assert(projected(2).values.count(_.forall(_.isEmpty)) ==
      e.where(col("vec_id") % 3 === 0).count(), "a null element nulls every component")
  }

  test("isotropy: identical corpus saturates at cos 1; orthogonal one-hots read 0 with exact anisotropy") {
    import spark.implicits._
    val same = (1L to 100L).map(i => (i, Array(3.0f, 4.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val a = Similarity.isotropy(same, nBuckets = 16).collect().head
    assert(a.getAs[Long]("n_vectors") == 100L)
    val np = a.getAs[Long]("n_pairs")
    assert(np >= 1 && np <= 16, s"one pair max per bucket, got $np")
    assert(math.abs(a.getAs[Double]("mean_pair_cos") - 1.0) < 1e-12)
    assert(math.abs(a.getAs[Double]("sd_pair_cos")) < 1e-12)
    assert(math.abs(a.getAs[Double]("mean_norm") - 5.0) < 1e-12)
    assert(math.abs(a.getAs[Double]("anisotropy") - 1.0) < 1e-12,
      "identical vectors: centroid norm == vector norm")

    // 16 one-hot dims, one vector each: every cross pair is exactly 0,
    // centroid = (1/16, ..., 1/16) -> anisotropy = 1/4
    val ortho = (0 until 16).map { i =>
      (i.toLong, Array.tabulate(16)(j => if (i == j) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val b = Similarity.isotropy(ortho, nBuckets = 4).collect().head
    assert(b.getAs[Long]("n_pairs") >= 1)
    assert(b.getAs[Double]("mean_pair_cos") == 0.0)
    assert(b.getAs[Double]("sd_pair_cos") == 0.0)
    assert(math.abs(b.getAs[Double]("anisotropy") - 0.25) < 1e-12)

    // single vector: nothing to pair; moments stay honest nulls
    val one = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val c = Similarity.isotropy(one).collect().head
    assert(c.getAs[Long]("n_pairs") == 0L)
    assert(c.isNullAt(c.fieldIndex("mean_pair_cos")))
    assert(c.getAs[Long]("n_vectors") == 1L)
  }

  test("cellsFor: √n policy floored at 8, capped at 2^16; auto kCells applies it") {
    assert(Similarity.cellsFor(0) == 8 && Similarity.cellsFor(64) == 8)
    assert(Similarity.cellsFor(100) == 10)
    assert(Similarity.cellsFor(1000000) == 1000)
    assert(Similarity.cellsFor(Long.MaxValue) == (1 << 16),
      "broadcastable-centroid cap")
    // the auto default routes through the SAME trajectory as the explicit
    // call at cellsFor(n) — no second policy hiding in the default path
    val n = emb.count()
    assert(rowsOf9(Similarity.knnGraph(emb, k = 3, nprobe = 3))
      == rowsOf9(Similarity.knnGraph(emb, k = 3, nprobe = 3,
        kCells = Similarity.cellsFor(n))),
      "knnGraph auto == explicit cellsFor(n)")
    assert(rowsOf9(Similarity.semanticDedup(emb, threshold = 0.4))
      == rowsOf9(Similarity.semanticDedup(emb, threshold = 0.4,
        k = Similarity.cellsFor(n), iters = 2)),
      "semanticDedup auto == explicit cellsFor(n)")
  }

  test("pqTrain + frozen serving reproduce the train-inline rerank exactly " +
    "(parquet round-trip included)") {
    val queries = emb.where(col("vec_id") < 5)
    val (cb, cd) = Similarity.pqTrain(emb, m = 2, kc = 4, iters = 1)
    // freeze through parquet exactly as sim_pq_prod does: doubles round-trip
    // bit-exact, so the read-back model must serve identical results
    val base = tmpDir("graft-pq-frozen")
    cb.write.mode("overwrite").parquet(s"$base/codebooks")
    cd.write.mode("overwrite").parquet(s"$base/codes")
    val cbF = spark.read.parquet(s"$base/codebooks")
    val cdF = spark.read.parquet(s"$base/codes")
    // codebook/code shapes: m*k codebook rows max (empty cells allowed),
    // exactly m codes per vector
    assert(cbF.count() <= 8 && cbF.select("subspace").distinct().count() == 2)
    assert(cdF.groupBy("vec_id").count().select(max("count")).head().getLong(0) == 2)
    // ADC face: frozen scoring == train-inline pqTopK, which is pqTrain then
    // the same scorer — only the parquet round trip differs, and it is
    // bit-exact
    assert(rowsOf(Similarity.pqAdcTopKFrozen(queries, cbF, cdF, topK = 3))
      == rowsOf(Similarity.pqTopK(queries, emb, topK = 3)),
      "frozen ADC must equal train-inline ADC")
    // rerank face: frozen shortlist+rerank == train-inline pqTopKRerank
    assert(rowsOf(Similarity.pqRerankFrozen(queries, emb, cbF, cdF,
        topK = 3, candidates = 20))
      == rowsOf(Similarity.pqTopKRerank(queries, emb, topK = 3,
        candidates = 20)),
      "frozen rerank must equal train-inline rerank")
    // serving-side geometry guard: a query whose vector length disagrees
    // with the frozen model's m*sub must raise, not slice short and rank
    // null distances to the top (NULLS FIRST in the ascending window)
    val badQ = queries.select(col("vec_id"),
      slice(col("embedding"), 1, 7).as("embedding"))
    intercept[IllegalArgumentException] {
      Similarity.pqAdcTopKFrozen(badQ, cbF, cdF, topK = 3)
    }
  }

  test("ivfPqTrain + frozen serving reproduce the train-inline ivfPqTopK " +
    "exactly (freeze round-trip included)") {
    val queries = emb.where(col("vec_id") < 5)
    val n = emb.count()
    val (cells, cb, cd) = Similarity.ivfPqTrain(emb, m = 2, kc = 4, iters = 1)
    val (ceF, cbF, cdF) = Similarity.ivfPqFreeze(cells, cb, cd, s"spec-$n",
      tmpDir("graft-ivfpq-frozen"))
    // frozen layout: read-back columns, codes carry their cell id
    assert(ceF.columns.toSet == Set("cell", "centroid"))
    assert(cdF.columns.toSet == Set("vec_id", "subspace", "cluster", "cell"))
    // cell-pruned frozen ADC == train-inline ivfPqTopK, which is ivfPqTrain
    // then the same scorer; the freeze is a bit-exact parquet round trip
    assert(rowsOf(Similarity.ivfPqAdcTopKFrozen(queries, ceF, cbF, cdF,
        topK = 3, nprobe = 3))
      == rowsOf(Similarity.ivfPqTopK(queries, emb, k = 3, nprobe = 3)),
      "frozen cell-pruned ADC must equal train-inline ivfPqTopK")
    // rerank-to-the-bottom equivalence: with the shortlist as deep as the
    // corpus, the frozen probe+ADC+rerank pipeline degenerates to exact
    // cosine top-k WITHIN PROBED CELLS — which is ivfTopK by definition
    assert(rowsOf9(Similarity.ivfPqRerankFrozen(queries, emb, ceF, cbF, cdF,
        topK = 3, candidates = n.toInt, nprobe = 3))
      == rowsOf9(Similarity.ivfTopK(queries, emb, k = 3, nprobe = 3)),
      "corpus-deep frozen rerank must equal the exact IVF search")
    // serving-side geometry guard, same contract as pqAdcTopKFrozen
    val badQ = queries.select(col("vec_id"),
      slice(col("embedding"), 1, 7).as("embedding"))
    intercept[IllegalArgumentException] {
      Similarity.ivfPqAdcTopKFrozen(badQ, ceF, cbF, cdF, topK = 3, nprobe = 3)
    }
  }

  test("pqEncodeFrozen reproduces pqTrain's own codes through the freeze " +
    "round trip; wrong width raises") {
    val (cb, cd) = Similarity.pqTrain(emb, m = 2, kc = 4, iters = 1)
    val (cbF, cdF) = Similarity.pqFreeze(cb, cd, s"spec-${emb.count()}",
      tmpDir("graft-pq-addbatch"))
    // encoding the TRAINING corpus against its own frozen books must land
    // on exactly the codes training assigned (same argmin kernel, same
    // (dist, cluster) tie-break; parquet round-trips doubles bit-exact)
    val enc = Similarity.pqEncodeFrozen(emb, cbF)
      .select("vec_id", "subspace", "cluster")
    assert(rowsOf(enc) == rowsOf(cdF.select("vec_id", "subspace", "cluster")),
      "encode-frozen must reproduce the training assignment")
    // a batch whose width disagrees with the frozen geometry must raise
    val bad = emb.selectExpr("vec_id", "slice(embedding, 1, 7) as embedding")
    intercept[IllegalArgumentException] {
      Similarity.pqEncodeFrozen(bad, cbF)
    }
  }

  test("frozen PQ consumers reject a codebook missing a subspace or mixing " +
    "centroid widths") {
    val queries = emb.where(col("vec_id") < 5)
    def books(spec: (Int, Int)*) =
      spec.map { case (j, w) => (j, 0L, Seq.fill(w)(0.0)) }
        .toDF("subspace", "cluster", "centroid")
    val codes = Seq((0L, 0, 0L, 0)).toDF("vec_id", "subspace", "cluster", "cell")
    val cells = Seq((0, Seq.fill(64)(0.0))).toDF("cell", "centroid")
    // read at sub = 32 both books pass the 64-dim query guard: only the
    // geometry guard stops them
    for ((what, cb) <- Seq("missing subspace 1" -> books(0 -> 32, 2 -> 32),
        "mixed centroid widths" -> books(0 -> 32, 1 -> 31))) {
      withClue(s"$what: ") {
        intercept[IllegalArgumentException](Similarity.pqEncodeFrozen(queries, cb))
        intercept[IllegalArgumentException](
          Similarity.pqAdcTopKFrozen(queries, cb, codes, topK = 3))
        intercept[IllegalArgumentException](
          Similarity.ivfPqAdcTopKFrozen(queries, cells, cb, codes, topK = 3,
            nprobe = 1))
      }
    }
  }

  test("frozen-model registry identity: two same-size corpora freeze to " +
    "distinct partitions instead of overwriting each other") {
    // the r12-verdict identity defect: keying by corpus ROW COUNT made two
    // equal-size corpora collide into one partition (dynamic overwrite —
    // the second freeze silently clobbered the first). With explicit model
    // ids, both models coexist under one base and each read-back serves
    // its own corpus' codes.
    val corpusA = emb.where(col("vec_id") % 2 === 0)
    val corpusB = emb.where(col("vec_id") % 2 === 1) // same row count at sf0.01
    val (cbA, cdA) = Similarity.pqTrain(corpusA, m = 2, kc = 4, iters = 1)
    val (cbB, cdB) = Similarity.pqTrain(corpusB, m = 2, kc = 4, iters = 1)
    val base = tmpDir("graft-pq-identity")
    val (cbFA, cdFA) = Similarity.pqFreeze(cbA, cdA, "corpus-a", base)
    val (cbFB, cdFB) = Similarity.pqFreeze(cbB, cdB, "corpus-b", base)
    // both partitions intact after the SECOND freeze (re-read A from disk:
    // the returned frame is lazy, so a clobber would surface here)
    assert(cdFA.count() == corpusA.count() * 2,
      "model A's codes must survive model B's freeze")
    assert(cdFB.count() == corpusB.count() * 2)
    val idsA = cdFA.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    val idsB = cdFB.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(idsA.forall(_ % 2 == 0) && idsB.forall(_ % 2 == 1),
      "each model's read-back must serve exactly its own corpus' codes")
    assert(cbFA.count() == 8 && cbFB.count() == 8)
  }

  test("sqDist and dot kernels are bit-identical to the interpreted HOF folds they replace") {
    // the folds the kernels must reproduce exactly (the pre-kernel bodies)
    def hofFold(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v)
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    // deterministic pseudo-random vectors exercising float AND double
    // element types, plus catastrophic-cancellation-prone magnitudes where
    // fold order changes the last ulp
    val rnd = new scala.util.Random(42)
    val rows = (1L to 64L).map { i =>
      val d = 16
      val af = Array.fill(d)((rnd.nextDouble() - 0.5).toFloat * (if (i % 7 == 0) 1e6f else 1f))
      val bd = Array.fill(d)((rnd.nextDouble() - 0.5) * (if (i % 5 == 0) 1e-6 else 1e3))
      (i, af, bd)
    }
    val df = rows.toDF("id", "af", "bd")
      .withColumn("ad", transform(col("af"), _.cast("double")))
      .withColumn("bf", transform(col("bd"), _.cast("float")))
    for ((l, r) <- Seq(("af", "bd"), ("ad", "bd"), ("af", "bf"), ("ad", "bf"))) {
      val got = df.select(col("id"),
          Similarity.sqDist(col(l), col(r)).as("k"),
          hofFold(col(l), col(r)).as("h"),
          Similarity.dot(col(l), col(r)).as("kd"),
          hofDot(col(l), col(r)).as("hd"))
        .collect()
      got.foreach { row =>
        assert(java.lang.Double.doubleToLongBits(row.getDouble(1))
          == java.lang.Double.doubleToLongBits(row.getDouble(2)),
          s"$l x $r id=${row.getLong(0)}: sqdist kernel ${row.getDouble(1)} != fold ${row.getDouble(2)}")
        assert(java.lang.Double.doubleToLongBits(row.getDouble(3))
          == java.lang.Double.doubleToLongBits(row.getDouble(4)),
          s"$l x $r id=${row.getLong(0)}: dot kernel ${row.getDouble(3)} != fold ${row.getDouble(4)}")
      }
    }
    // null semantics match the fold: null element or length mismatch -> null
    val edge = Seq(
      (1L, Array(1.0, 2.0), Array(1.0, 2.0, 3.0)), // length mismatch
      (2L, Array(1.0, 2.0), Array(4.0, 5.0))
    ).toDF("id", "a", "b")
      .withColumn("an", when(col("id") === 2L,
        array(lit(null).cast("double"), lit(2.0))).otherwise(col("a")))
    for ((kernel, hof) <- Seq((Similarity.sqDist _, hofFold _), (Similarity.dot _, hofDot _))) {
      val e = edge.select(col("id"),
          kernel(col("a"), col("b")).as("k"),
          hof(col("a"), col("b")).as("h"),
          kernel(col("an"), col("b")).as("kn"),
          hof(col("an"), col("b")).as("hn"))
        .collect()
        .map(r => r.getLong(0) -> ((r.isNullAt(1), r.isNullAt(2), r.isNullAt(3), r.isNullAt(4))))
        .toMap
      assert(e(1L) == ((true, true, true, true)), "length mismatch must null like zip_with padding")
      assert(e(2L) == ((false, false, true, true)), "null element must null the accumulation")
    }
  }
}
