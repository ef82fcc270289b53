package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Sessions

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query set
  * against a full corpus scan; one pass, no shuffle of the corpus, the
  * per-row dot product is a codegen'd fold. 100 TB path: IVF-style coarse
  * quantization — corpus pre-assigned to cells (here: the `label` column as
  * trained assignment), queries probe only the `nprobe` nearest centroids,
  * pruning the scan to cells' partitions.
  */
object Similarity {

  /** Left-fold dot product of two float vectors in double precision.
    * Explicit sequential fold (not SIMD reassociation) so the result is
    * bit-reproducible across engines. Runs as the single-pass
    * [[graft.functions.VecDot]] kernel — bit-identical to the interpreted
    * `aggregate(zip_with(...))` chain it replaces.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.Signatures.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine via the single-pass kernel ([[graft.functions.VecCosine]]) —
    * bit-identical to `dot(a,b) / (norm(a) * norm(b))` (same element order,
    * same double arithmetic) without 3×dim interpreted lambda calls/pair.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.Signatures.vecCosine(a, b)

  /** Scalar-quantized top-k search — the serving path [[quantizeInt8]]
    * feeds: score the whole corpus against each query in int8 (4× less
    * bandwidth, and the quantized cosine needs only INTEGER dot products —
    * with per-vector symmetric scales the scale factors cancel out of the
    * cosine entirely), take a `shortlist` per query, then exact-cosine
    * re-rank the shortlist rows' raw vectors only. The zero-training
    * sibling of the PQ/ADC family: one knob (shortlist), no codebooks.
    *
    * Exactness: every int8 component and every product/sum in the
    * quantized cosine is an exact integer (≤ 127²·dim ≪ 2⁵³) evaluated
    * through the same pinned-order kernel as the exact path, so the
    * shortlist is reproducible bit-for-bit; the re-rank is the ordinary
    * exact cosine. Zero vectors quantize to all-zeros and score NaN — both
    * engines order NaN above every number, so they would flood a desc
    * shortlist identically; feed non-degenerate corpora (the audit is
    * [[dimStats]]).
    *
    * Scale shape: corpus-side map + broadcast of the (small) query side,
    * one per-query window on the well-spread corpus — identical to
    * [[rpTopK]]'s plan with the projection swapped for quantization.
    */
  def sqTopK(queries: DataFrame, corpus: DataFrame, k: Int, shortlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val qq = quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"),
        col("qvec").cast("array<double>").as("__qq"))
    val cq = quantizeInt8(spread(corpus, idCol), idCol, vecCol)
      .select(col(idCol).as("neighbor_id"),
        col("qvec").cast("array<double>").as("__cq"))
    val slw = Window.partitionBy("query_id")
      .orderBy(col("sq_sim").desc, col("neighbor_id").asc)
    val sl = cq.crossJoin(broadcast(qq))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sq_sim", cosine(col("__cq"), col("__qq")))
      .withColumn("__r", row_number().over(slw))
      .where(col("__r") <= shortlist)
      .select("query_id", "neighbor_id")
    rerank(sl, queries, corpus, k, idCol, vecCol)
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors (excluding itself). Deterministic order: (sim desc, id asc).
    */
  /** Spread the corpus across cores before per-row dot-product work: a
    * small/single-row-group parquet arrives as one non-empty partition and
    * would serialize the scoring (see Dedup.spreadById).
    */
  private def spread(df: DataFrame, idCol: String): DataFrame =
    // pinned width — REPARTITION_BY_COL is AQE-coalescable back to one
    // partition on small inputs, serializing the per-row vector kernels
    // and the brute audit joins downstream (see Dedup.spreadById)
    df.repartition(
      Sessions.partsOf(df.sparkSession),
      col(idCol))

  /** Reciprocal-rank fusion of two ranked retrieval lists (Cormack et al.
    * 2009): `rrf = Σ_lists 1/(kRrf + rank)`, a score-free combiner that is
    * THE standard way to merge lexical (BM25) and vector (cosine) retrieval
    * into one hybrid ranking — ranks are comparable where raw scores are
    * not (BM25 is unbounded, cosine lives in [-1, 1]). A document present
    * in only one list contributes only that list's term; `kRrf = 60` is
    * the constant the original paper fixed and everyone kept.
    *
    * Inputs are any two `(idCol, rankCol)` relations with 1-based ranks.
    * Output: `idCol, rank_a, rank_b (null where absent), rrf_score`, the
    * top `k` by (rrf desc, id asc). The division order is pinned —
    * coalesce(1/(kRrf+rank_a), 0) + coalesce(1/(kRrf+rank_b), 0) — so the
    * double result is bit-identical cross-engine.
    *
    * Scale shape: retrieval lists are top-k's — metadata-scale by
    * construction — so the fusion is a full-outer join over 2k rows and a
    * TakeOrdered; the heavy lifting stays in the upstream retrievers
    * (which scale independently: BM25's term-filtered scan, ANN's
    * bucketed probes).
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
      rankCol: String = "rank", k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(k >= 1, s"rrfFuse needs k >= 1, got $k")
    require(kRrf >= 1, s"rrfFuse needs kRrf >= 1, got $kRrf")
    val ar = a.select(col(idCol), col(rankCol).cast("long").as("rank_a"))
    val br = b.select(col(idCol), col(rankCol).cast("long").as("rank_b"))
    ar.join(br, Seq(idCol), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("rank_a")), lit(0.0))
          + coalesce(lit(1.0) / (lit(kRrf.toDouble) + col("rank_b")), lit(0.0)))
      .orderBy(col("rrf_score").desc, col(idCol).asc)
      .limit(k)
  }

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = spread(corpus, idCol).select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
  }

  /** Hard-negative mining for contrastive embedding training: for each
    * anchor, the `k` most-similar corpus vectors with a DIFFERENT label —
    * the negatives that actually move a contrastive loss (random negatives
    * are trivially separable; the highest-cosine wrong-label neighbors
    * define the decision boundary). Deterministic order: (cos desc, id
    * asc). Same scale shape as [[bruteForceTopK]]: broadcast anchor set,
    * one corpus pass, per-anchor bounded ranking; for corpus-scale anchor
    * sets, shortlist with the ANN family first and re-rank — the exact
    * brute pass here is the oracle-checkable core.
    */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"), col(vecCol).as("qv"))
    val c = spread(corpus, idCol).select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id") &&
        col("neighbor_label") =!= col("query_label"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "query_label", "neighbor_id", "neighbor_label",
        "rank", "cos_sim")
  }

  /** Triplet assembly over mined pairs: per anchor, the hardest positive
    * (most-similar SAME-label vector — excluding self) and the hardest
    * negative (most-similar different-label vector, [[hardNegatives]]'
    * rank 1), with `margin = pos_sim − neg_sim` — the quantity a triplet /
    * InfoNCE loss is trained to keep positive. Anchors missing either side
    * (singleton label, or a single-label corpus) are omitted — a triplet
    * needs both legs. One corpus pass per leg, both bounded rankings; the
    * margin is a two-term difference, bit-stable cross-engine.
    */
  def miningTriplets(queries: DataFrame, corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(labelCol).as("query_label"), col(vecCol).as("qv"))
    val c = spread(corpus, idCol).select(col(idCol).as("neighbor_id"),
      col(labelCol).as("neighbor_label"), col(vecCol).as("cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    def top1(sameLabel: Boolean): DataFrame = {
      val cond = if (sameLabel) col("neighbor_label") === col("query_label")
        else col("neighbor_label") =!= col("query_label")
      c.crossJoin(broadcast(q))
        .where(col("neighbor_id") =!= col("query_id") && cond)
        .withColumn("cos_sim", cosine(col("qv"), col("cv")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") === 1)
    }
    top1(sameLabel = true)
      .select(col("query_id").as("anchor_id"), col("query_label").as("label"),
        col("neighbor_id").as("pos_id"), col("cos_sim").as("pos_sim"))
      .join(top1(sameLabel = false)
        .select(col("query_id").as("anchor_id"),
          col("neighbor_id").as("neg_id"), col("cos_sim").as("neg_sim")),
        "anchor_id")
      .withColumn("margin", col("pos_sim") - col("neg_sim"))
      .select("anchor_id", "label", "pos_id", "pos_sim", "neg_id",
        "neg_sim", "margin")
  }

  /** Cell centroids by per-dimension mean of member vectors — the "training"
    * step of IVF (here cells = the pre-assigned `label` column).
    *
    * Dimension-agnostic and memory-safe: the [[graft.functions.VecMeanAgg]]
    * kernel keeps one (count, dim-width sums) buffer per cell — never a
    * per-cell list of whole vectors in executor memory — with map-side
    * partial combine, so the one shuffle carries (cells · dim)-scale
    * partials. Scales to any dim and any cell size.
    */
  def centroids(corpus: DataFrame, cellCol: String = "label",
      vecCol: String = "embedding"): DataFrame =
    // one element-wise-mean aggregate (see lloydCentroids.updateStep): same
    // sum/count arithmetic as the posexplode → avg(cell, pos) → reassemble
    // chain it replaces, one hash-agg row per vector instead of per element,
    // one shuffle instead of two
    corpus
      .select(col(cellCol).as("cell"),
        col(vecCol).cast("array<double>").as("v"))
      .groupBy("cell")
      .agg(graft.functions.VecMeanAgg.vecMean(col("v")).as("centroid"))

  /** IVF probe: each query ranks cells by centroid cosine, searches only the
    * top `nprobe` cells. Returns top-k per query within probed cells.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame = {
    val cents = centroids(corpus, cellCol, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val probe = q.crossJoin(broadcast(cents))
      .withColumn("csim", cosine(col("qv"), col("centroid")))
    val wq = Window.partitionBy("query_id").orderBy(col("csim").desc, col("cell").asc)
    val probed = probe.withColumn("prank", row_number().over(wq))
      .where(col("prank") <= nprobe)
      .select(col("query_id"), col("qv"), col("cell"))
    val c = spread(corpus, idCol)
      .select(col(cellCol).as("cell"), col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(probed), Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
  }

  /** SRP-LSH bucket id: bit k set iff dot(vec, r_k) ≥ 0 for `planes`
    * deterministic ±1 hyperplanes (LCG-mix signs the SQL oracle reproduces
    * bit-for-bit — the classic signed-random-projection simplification of
    * seeded Gaussians). Single-pass kernel
    * ([[graft.functions.SrpBucket]]): the column-algebra form (one
    * transform+fold per plane) re-walks the vector once per plane in
    * interpreted lambdas — the known HOF trap, planes×dim interpreted calls
    * per row. At sf0.1 this query is scan/shuffle-overhead-dominated and
    * the two forms measure within noise; the kernel's one-pass shape is
    * what survives a 1000× corpus, and its buckets are bit-identical.
    */
  def srpBucket(vec: Column, planes: Int): Column =
    graft.functions.Signatures.srpBucket(vec, planes)

  /** SRP-LSH approximate top-k: corpus and queries bucket by hyperplane sign
    * pattern; each query exact-reranks ONLY its bucket — the LSH-bucketed
    * ANN path (complement to [[ivfTopK]]'s learned cells). The scan prunes
    * to bucket partitions at scale; recall tunes via `planes` (fewer planes
    * = bigger buckets = higher recall/cost; multiprobe — flipping low-margin
    * bits — is the standard extension). May return < k rows per query when
    * the bucket is small: that is the ANN contract, deterministically.
    */
  def srpTopK(queries: DataFrame, corpus: DataFrame, k: Int, planes: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = spread(corpus, idCol).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), srpBucket(col(vecCol), planes).as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      srpBucket(col(vecCol), planes).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
  }

  /** Multiprobe SRP-LSH top-k: besides its own bucket, each query probes the
    * buckets reached by flipping its `nprobe - 1` LOWEST-MARGIN hyperplane
    * bits (smallest |dot| — the planes the query sits closest to, where its
    * true neighbors most likely landed on the other side). The standard
    * recall lever for hyperplane LSH: recall grows with `nprobe` while the
    * scan still touches only `nprobe` of the 2^planes buckets. Flip order is
    * deterministic (|dot| asc, plane asc), so results are reproducible and
    * SQL-oracle-verifiable like the single-probe variant.
    */
  def srpTopKMultiprobe(queries: DataFrame, corpus: DataFrame, k: Int,
      planes: Int = 6, nprobe: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1 && nprobe <= planes + 1,
      s"nprobe must be in [1, planes + 1], got $nprobe for $planes planes")
    val c = spread(corpus, idCol).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), srpBucket(col(vecCol), planes).as("bucket"))
    // dots -> flip ranking in column algebra over the (tiny, broadcast)
    // query side; the primary bucket comes from the same kernel as the
    // corpus side, so the two derivations cannot drift
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      graft.functions.Signatures.srpDots(col(vecCol), planes).as("dots"),
      srpBucket(col(vecCol), planes).as("bucket0"))
      // planes ranked by closeness: struct sort = (|dot| asc, plane asc)
      .withColumn("flips",
        slice(array_sort(transform(col("dots"),
          (d, i) => struct(abs(d).as("m"), i.as("k")))), 1, nprobe - 1))
      .withColumn("bucket",
        explode(concat(array(col("bucket0")),
          // 2^k is exact in doubles for k <= 62, so the cast is lossless
          transform(col("flips"),
            f => col("bucket0").bitwiseXOR(
              pow(lit(2.0), f.getField("k")).cast("long"))))))
      .select(col("query_id"), col("qv"), col("bucket"))
    val scored = c.join(broadcast(q0), Seq("bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos_sim", cosine(col("qv"), col("cv")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
  }

  /** Squared L2 distance, left-to-right over the element order — the same
    * fold both engines evaluate, so distances are bit-reproducible. Runs as
    * the single-pass [[graft.functions.VecSqDist]] kernel (one JVM call per
    * pair) instead of the interpreted `aggregate(zip_with(...))` lambda
    * chain it is bit-identical to — this sits in every kmeans / IVF / PQ
    * assignment hot path, where interpreted per-element HOF dispatch costs
    * ~dim× per centroid pair.
    */
  def sqDist(a: Column, b: Column): Column =
    graft.functions.Signatures.vecSqDist(a, b)

  /** Deterministic k-means||-style seeding: Carter–Wegman-hash-sample
    * `k·oversample` candidate vectors, then reduce to `k` seeds by greedy
    * farthest-point selection (k-center greedy — the reduction step of
    * k-means|| with a deterministic draw in place of the probabilistic
    * one). Fixes the first-k-by-id degeneracy: when ids correlate with
    * position in embedding space (a sorted corpus), the k lowest-id
    * vectors can all land in one region and Lloyd never separates the far
    * clusters; the hash draw is independent of id order and the greedy
    * spread maximizes pairwise seed separation among the candidates.
    *
    * Fully deterministic and engine-reproducible: the candidate draw is
    * the `k·oversample` smallest (CW-hash(id), id) keys — a bounded-heap
    * TakeOrdered, no shuffle of the corpus — and the greedy runs on the
    * driver over that metadata-scale candidate set (≤ k·oversample rows)
    * with the same left-to-right double arithmetic the SQL twin unrolls.
    * Seed c₀ is the smallest-key candidate; seed cᵢ is the non-selected
    * candidate maximizing min distance to the chosen set, ties broken by
    * (key asc, id asc) — the candidate-collection order.
    */
  def kmeansInit(pts: DataFrame, k: Int, oversample: Int = 4): DataFrame = {
    require(oversample >= 1, s"oversample must be >= 1, got $oversample")
    val spark = pts.sparkSession
    import spark.implicits._
    greedyFarthest(kmeansCandidates(pts, k * oversample), k)
      .map { case (cl, c) => (cl, c.toSeq) }
      .toSeq.toDF("cluster", "centroid")
  }

  /** The deterministic candidate draw of [[kmeansInit]]: the
    * `count` smallest (CW-hash(vec_id), vec_id) rows' vectors, in that
    * order (the greedy's tie-break order). Keyed on the ID alone, so
    * subspace views of one corpus draw the SAME candidate rows —
    * [[pqTrain]] draws once and slices per subspace.
    */
  private[pipeline] def kmeansCandidates(pts: DataFrame,
      count: Int): Array[Array[Double]] = {
    val salt = "kmeans_init"
    val key = (graft.functions.PolyHash(col("vec_id").cast("string"), 0L)
      * Sampling.saltMult(salt) + Sampling.saltAdd(salt)) % graft.functions.PolyHash.Mod
    // metadata-scale collect by design: k·oversample rows via TakeOrdered
    pts.withColumn("__key", key)
      .orderBy(col("__key").asc, col("vec_id").asc)
      .limit(count)
      .select("v")
      .collect()
      .map(_.getSeq[Double](0).toArray)
  }

  /** The greedy farthest-point reduction of [[kmeansInit]], on the driver
    * over the candidate-draw order: seed 0 is the first candidate, seed i
    * maximizes min squared distance to the chosen set, ties to the lowest
    * candidate index. Returns (cluster = selection rank, centroid) sorted
    * by cluster.
    */
  private[pipeline] def greedyFarthest(cand: Array[Array[Double]],
      k: Int): Array[(Long, Array[Double])] = {
    val n = cand.length
    def sqd(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
    val minDist = Array.fill(n)(Double.PositiveInfinity)
    if (n > 0) chosen += 0
    while (chosen.size < math.min(k, n)) {
      val last = cand(chosen.last)
      var i = 0
      while (i < n) { minDist(i) = math.min(minDist(i), sqd(cand(i), last)); i += 1 }
      // argmax of min-dist over non-selected candidates; ties -> lowest
      // candidate index == (key asc, id asc), matching the twin's ORDER BY
      var best = -1
      i = 0
      while (i < n) {
        if (!chosen.contains(i) && (best < 0 || minDist(i) > minDist(best))) best = i
        i += 1
      }
      chosen += best
    }
    chosen.toArray.zipWithIndex
      .map { case (ci, cl) => (cl.toLong, cand(ci)) }
  }

  /** Lloyd's k-means over the embedding column: `iters` rounds of
    * assign-to-nearest-centroid (squared L2, ties to the lowest cluster id)
    * then per-dimension mean update, returning the final assignment against
    * the final centroids. Initialization is the deterministic k-means||
    * seeding of [[kmeansInit]] — hash-sampled candidates reduced by greedy
    * farthest-point — so the whole trajectory is reproducible across
    * engines and partition layouts (no true randomness, no iteration-order
    * dependence) without the first-k-by-id positional degeneracy.
    *
    * Scale shape per round: centroids are k rows entering the argmin
    * assignment kernel as literals (never a shuffle of the corpus on the
    * cluster key), and the update is ONE partial-combined element-wise
    * mean aggregate ([[graft.functions.VecMeanAgg]], same shape as
    * [[centroids]]) — no per-cluster vector lists in memory, any
    * dimension. The corpus is scanned iters+1 times; each extra round is
    * one narrow assignment pass + one bounded aggregation, the textbook
    * distributed Lloyd step.
    */
  def kmeans(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      oversample: Int = 4): DataFrame = {
    val pts = kmeansPts(corpus, idCol, vecCol)
    assignStep(pts, lloydCentroids(pts, k, iters, oversample))
      .select(col("vec_id"), col("cluster"), col("dist"))
  }

  /** The trained centroid table `(cluster, centroid)` of the SAME
    * deterministic Lloyd trajectory [[kmeans]] assigns against — the
    * codebook face, for consumers (ADC scoring, cell routing) that need
    * the centroids themselves rather than the corpus assignment.
    */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      oversample: Int = 4): DataFrame =
    lloydCentroids(kmeansPts(corpus, idCol, vecCol), k, iters, oversample)

  /** Simplified silhouette (the centroid form): per vector, `a` = distance
    * to its own (nearest) centroid, `b` = distance to the nearest OTHER
    * centroid, `sil = (b − a) / max(a, b)` — the standard clustering-quality
    * readout at O(n·k) instead of the O(n²) pairwise silhouette, trained on
    * the SAME deterministic Lloyd trajectory as [[kmeans]] so the clusters
    * it scores are the clusters every other consumer sees. sil near 1:
    * tight, well-separated cell; near 0: the vector sits on a boundary —
    * the per-cluster mean is the "did k make sense" diagnostic.
    *
    * Exactness: each cluster contributes exactly one distance, so sorting
    * the k (dist, cluster) structs makes slot 0 the assignment (lowest
    * cluster on ties — [[kmeans]]'s tie-break) and slot 1's distance the
    * min over other clusters; sqrt and the final division are identical
    * IEEE ops in any engine. A vector equal to two centroids (a = b = 0)
    * reads sil = 0, not NaN.
    *
    * Scale shape: one broadcast of the k-row codebook, one partial-combined
    * k-struct collect per vector — no shuffle wider than one row per
    * vector, nothing quadratic.
    */
  def silhouette(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      oversample: Int = 4): DataFrame = {
    require(k >= 2, s"silhouette needs k >= 2, got $k")
    val pts = kmeansPts(corpus, idCol, vecCol)
    val cents = lloydCentroids(pts, k, iters, oversample)
    pts.crossJoin(broadcast(cents))
      .withColumn("dist", sqDist(col("v"), col("centroid")))
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("dist"), col("cluster")))).as("ds"))
      .select(col("vec_id"),
        col("ds").getItem(0).getField("cluster").as("cluster"),
        sqrt(col("ds").getItem(0).getField("dist")).as("a"),
        sqrt(col("ds").getItem(1).getField("dist")).as("b"))
      .withColumn("sil",
        when(greatest(col("a"), col("b")) > 0,
          (col("b") - col("a")) / greatest(col("a"), col("b")))
          .otherwise(lit(0.0)))
  }

  private def kmeansPts(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    spread(corpus, idCol).select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))

  /** argmin as a ZERO-SHUFFLE narrow map: the centroid table is
    * metadata-scale by contract (it was broadcast here before, i.e.
    * collected to the driver anyway), so it enters the single-pass
    * [[graft.functions.ArgminSqDist]] kernel as literals and each vector
    * is assigned in one JVM call — k·dim flops, no candidate explosion.
    * The replaced crossJoin(broadcast) + min(struct(dist, cluster))
    * aggregate materialized k candidate rows per vector (each copying the
    * vector array) through a SORT-based aggregate (struct-typed min gets
    * no hash-agg codegen) and one shuffle of every vector. Bit-identical:
    * the kernel accumulates each squared distance in [[sqDist]]'s exact
    * element order and breaks ties to the lowest cluster id, which is the
    * struct ordering the aggregate used.
    *
    * CONTRACT (same as the broadcast-join form, now explicit): `pts` rows
    * are unique per vec_id at every call site ([[kmeansPts]] selects from
    * the id-unique corpus) — this is a per-row map, so a duplicated id
    * would emit one assignment per duplicate where a groupBy(vec_id) form
    * would collapse them. `cents` must be non-empty: ArgminSqDist requires
    * a non-empty centroid matrix ([[kmeansInit]] returns ≥ 1 seed for any
    * non-empty corpus; an empty corpus fails there, not here).
    */
  private def assignStep(pts: DataFrame, cents: DataFrame): DataFrame = {
    val rows = cents.select(col("cluster").cast("long"),
        col("centroid").cast("array<double>").as("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1)
    pts.select(col("vec_id"), col("v"),
        graft.functions.Signatures.argminSqDist(col("v"),
          rows.map(_._1).toSeq, rows.map(_._2).toSeq).as("m"))
      .select(col("vec_id"), col("v"),
        col("m.cluster").as("cluster"), col("m.dist").as("dist"))
  }

  private def lloydCentroids(pts: DataFrame, k: Int, iters: Int,
      oversample: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // ONE aggregate per round: the element-wise mean kernel replaces the
    // posexplode → avg per (cluster, pos) → collect_list reassembly chain —
    // n·dim generic hash-agg rows and a second shuffle collapse to one
    // primitive-loop update per vector and one (k·dim)-scale partial
    // shuffle. Same sum/count arithmetic in the same accumulation-order
    // class (see VecMeanAgg).
    def updateStep(assigned: DataFrame): DataFrame =
      assigned.groupBy("cluster")
        .agg(graft.functions.VecMeanAgg.vecMean(col("v")).as("centroid"))
    var cents: DataFrame = kmeansInit(pts, k, oversample)
    // materialize the k-row centroid table each round by COLLECTING it and
    // re-entering the rows as a LOCAL relation (the pcaTop driver-literal
    // pattern). This cuts round r's lineage exactly like the
    // checkpoint()/localCheckpoint() it replaces — a local relation has no
    // lineage, so the final assignment runs O(iters) corpus scans, not
    // O(iters²) — with none of the per-round block-store round trip, none
    // of localCheckpoint's executor-loss fragility on a real cluster, and
    // k·dim doubles of driver memory (bounded by the broadcastable-
    // centroid cap that already governs every consumer). Values are
    // bit-identical: collect returns the exact doubles the avg() computed,
    // so the trajectory — and every oracle over it — is unchanged
    // (SimilaritySpec pins the with-checkpoint-dir path to the same rows).
    val spark = pts.sparkSession
    for (_ <- 1 to iters) {
      val updated = updateStep(assignStep(pts, cents))
      cents = spark.createDataFrame(
        java.util.Arrays.asList(updated.collect(): _*), updated.schema)
    }
    cents
  }

  /** Symmetric int8 quantization of an embedding column: per-vector scale
    * `max|x| / 127` and `q_i = round(x_i / scale)` — the storage/bandwidth
    * reduction step before ANN at scale (4× smaller vectors, SIMD-friendly
    * int dot products downstream). Per-row map, no shuffle; the formulation
    * (`scale` first, then one division per element) is mirrored exactly in
    * the SQL twin so the doubles agree bit-for-bit.
    */
  def quantizeInt8(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol),
        (array_max(transform(col(vecCol), x => abs(x.cast("double")))) / 127.0)
          .as("scale"),
        col(vecCol).as("v"))
      .select(col(idCol), col("scale"),
        when(col("scale") > 0.0,
          transform(col("v"), x => round(x.cast("double") / col("scale"))
            .cast("int")))
          .otherwise(transform(col("v"), _ => lit(0)))
          .as("qvec"))

  /** Per-dimension embedding profile: count, mean, sample std, min, max of
    * each coordinate over the whole corpus — the drift/collapse diagnostic
    * run before trusting an embedding table (a dead dimension has ~zero
    * std; a shifted encoder moves the means). Dimension-agnostic:
    * `posexplode` discovers the width from the data, the same pattern as
    * [[kmeans]]'s centroid update.
    *
    * Scale shape: explode is map-side; the aggregation is partial-combined
    * on the dimension key (cardinality = embedding width), so the shuffle
    * carries one partial row per (partition, dim).
    */
  def dimStats(corpus: DataFrame, vecCol: String = "embedding"): DataFrame =
    corpus.select(posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .select(col("dim"), col("__v").cast("double").as("__v"))
      .groupBy("dim").agg(
        count(lit(1)).as("n"),
        avg("__v").as("mean"),
        stddev_samp(col("__v")).as("std"),
        min("__v").as("min_v"),
        max("__v").as("max_v"))

  /** Per-dimension standardization (whitening without rotation) of the
    * embedding corpus: `z_i = (x_i − mean_i) / std_i` against the
    * [[dimStats]] corpus moments — the preprocessing that stops
    * high-variance dimensions from dominating L2/cosine geometry before
    * clustering or ANN indexing. Dead dimensions (zero or undefined
    * spread) map to 0 rather than dividing by zero — they carry no
    * information either way.
    *
    * Scale shape: the moments are one [[dimStats]] pass (dims-keyed,
    * partial-combined) broadcast back to a posexplode stream; the vector
    * reassembles through a groupBy on the well-spread id with
    * position-sorted collect — the same pattern as the kmeans centroid
    * update, no per-row lambda over a broadcast array.
    */
  def standardize(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val stats = dimStats(corpus, vecCol).select("dim", "mean", "std")
    corpus.select(col(idCol), posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .join(broadcast(stats), "dim")
      .withColumn("__z", when(col("std") > 0.0,
        (col("__x").cast("double") - col("mean")) / col("std"))
        .otherwise(lit(0.0)))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("dim"), col("__z")))).as("__pm"))
      .select(col(idCol),
        transform(col("__pm"), p => p.getField("__z")).as("zvec"))
  }

  /** Johnson–Lindenstrauss random projection to `dOut` dimensions with a
    * seeded ±1 sign matrix (Achlioptas 2003: the dense Gaussian matrix can
    * be replaced by independent signs with the same distance-preservation
    * guarantee) — the cheap dimensionality reduction in front of
    * clustering/ANN when the input dimension is the cost driver, and the
    * JL alternative to the *trained* reductions ([[pcaTop]] learns the
    * data's top direction, PQ learns codebooks; this needs no pass over
    * the data at all).
    *
    * `rp[o] = Σ_i sign(o,i) · v[i] / √dOut` is one
    * [[graft.functions.RpProject]] kernel call per vector. Its fold
    * contract pins the accumulation order: each component starts from its
    * term 0, adds `(±x)` left to right in double precision, then divides
    * by `√dOut`, so the doubles are bit-identical cross-engine (the twin
    * spells out the same chain). A null element nulls every component.
    * Map-only: no shuffle, no state, nothing collected; null vectors are
    * dropped.
    *
    * Rows whose vector is not exactly `dIn` wide raise
    * `randomProject: expected dim <dIn>, got <n>` (a silent null would
    * zero-poison the projection — same contract as
    * `hammingNearDupsWide`'s width check).
    */
  def randomProject(corpus: DataFrame, dOut: Int = 16, dIn: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // the filter drops null vectors, so the kernel's input is known
    // non-null and `rp` stays a non-nullable column
    val v = GraftBridge.column(KnownNotNull(GraftBridge.expression(col(vecCol))))
    corpus.where(col(vecCol).isNotNull).select(col(idCol).as("vec_id"),
      graft.functions.Signatures.rpProject(v, dOut, dIn).as("rp"))
  }

  /** RP-shortlisted exact top-k: score candidates in the `dOut`-dim
    * [[randomProject]] space (16 doubles per vector instead of 64 floats —
    * the JL guarantee is precisely that this ranking is approximately the
    * true one), keep a `shortlist` per query, then exactly cosine-rank
    * ONLY those rows' raw vectors — the same shortlist-then-refine serving
    * shape as [[pqTopKRerank]], with the projection instead of codebooks
    * as the cheap first pass. `shortlist == corpus size` provably equals
    * [[bruteForceTopK]] (spec-pinned), which is also the honest knob: at
    * 100 TB the projected pass runs over 4× fewer bytes with zero training
    * and the refine join touches `shortlist` rows per query.
    *
    * Both rankings break ties (sim desc, id asc) on bit-identical doubles
    * (pinned projection fold, single-pass cosine), so the shortlist cut
    * is deterministic cross-engine.
    */
  def rpTopK(queries: DataFrame, corpus: DataFrame, k: Int, shortlist: Int,
      dOut: Int = 16, dIn: Int = 64, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(shortlist >= k, s"shortlist ($shortlist) must be >= k ($k)")
    val qr = randomProject(queries, dOut, dIn, idCol, vecCol)
      .select(col("vec_id").as("query_id"), col("rp").as("__qrp"))
    val cr = randomProject(spread(corpus, idCol), dOut, dIn, idCol, vecCol)
      .select(col("vec_id").as("neighbor_id"), col("rp").as("__crp"))
    val slw = Window.partitionBy("query_id")
      .orderBy(col("rp_sim").desc, col("neighbor_id").asc)
    val sl = cr.crossJoin(broadcast(qr))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("rp_sim", cosine(col("__crp"), col("__qrp")))
      .withColumn("__r", row_number().over(slw))
      .where(col("__r") <= shortlist)
      .select("query_id", "neighbor_id")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    sl.join(broadcast(q), "query_id").join(c, "neighbor_id")
      .withColumn("cos_sim", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
  }

  /** Embedding-corpus isotropy audit — the one-row health report read
    * before trusting cosine geometry: anisotropic embedding spaces (a far
    * off-origin mean, a narrow cosine cone — the well-documented failure
    * mode of contextual encoders, cf. Ethayarajh 2019) make cosine scores
    * saturate and ANN recall collapse, and [[standardize]] is the cheap
    * fix this audit decides on. Reports:
    *  - `mean_pair_cos` / `sd_pair_cos` over a deterministic hash-paired
    *    sample (isotropic ⇒ mean ≈ 0): each row's salt-keyed CW hash maps
    *    it to one of `nBuckets` buckets, and per bucket the hash-min and
    *    hash-max rows form one pair — uniformly "random" pairs with no
    *    global sort and no quadratic, one groupBy (the struct-min/max is
    *    partial-combined) plus two metadata-scale id joins.
    *  - `center_norm` vs `mean_norm` and their ratio `anisotropy`: how far
    *    the corpus centroid sits from the origin relative to vector scale
    *    (isotropic ⇒ ratio ≈ 0).
    * Singleton buckets (hash-min row == hash-max row) pair nothing and are
    * skipped; `n_pairs` reports the sample actually measured.
    */
  def isotropy(corpus: DataFrame, nBuckets: Int = 256,
      salt: String = "isotropy", idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val e = spread(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v")),
      "vec_id")
    val hv = (graft.functions.PolyHash(col("vec_id").cast("string"), 0L)
      * Sampling.saltMult(salt) + Sampling.saltAdd(salt)) % graft.functions.PolyHash.Mod
    val sel = e
      .select(col("vec_id"), hv.as("hv"))
      .withColumn("bucket", col("hv") % nBuckets)
      .groupBy("bucket").agg(
        min(struct(col("hv"), col("vec_id"))).as("lo"),
        max(struct(col("hv"), col("vec_id"))).as("hi"))
      .select(col("lo.vec_id").as("id_a"), col("hi.vec_id").as("id_b"))
      .where(col("id_a") =!= col("id_b"))
    val pairs = sel
      .join(e.select(col("vec_id").as("id_a"), col("v").as("__va")), "id_a")
      .join(e.select(col("vec_id").as("id_b"), col("v").as("__vb")), "id_b")
      .select(cosine(col("__va"), col("__vb")).as("c"))
    val pagg = pairs.agg(count(lit(1)).as("n_pairs"),
      sum("c").as("__sc"), sum(col("c") * col("c")).as("__scc"))
    val norms = e.agg(count(lit(1)).as("n_vectors"),
      avg(norm(col("v"))).as("mean_norm"))
    val center = e.select(posexplode(col("v")).as(Seq("dim", "__x")))
      .groupBy("dim").agg(avg(col("__x").cast("double")).as("__m"))
      .agg(sqrt(sum(col("__m") * col("__m"))).as("center_norm"))
    val n = col("n_pairs").cast("double")
    pagg.crossJoin(norms).crossJoin(center).select(
      col("n_vectors"), col("n_pairs"),
      (col("__sc") / n).as("mean_pair_cos"),
      when(col("n_pairs") > 1,
        sqrt((n * col("__scc") - col("__sc") * col("__sc")) / (n * (n - 1.0))))
        .as("sd_pair_cos"),
      col("mean_norm"), col("center_norm"),
      (col("center_norm") / col("mean_norm")).as("anisotropy"))
  }

  /** Centroid-distance outlier scoring over LABELED embeddings — the
    * embedding-space quality filter for curated corpora: vectors far from
    * their own label's centroid are mislabeled, noisy, or off-distribution
    * candidates (the standard "centroid distance" heuristic of data-curation
    * pipelines; cf. the cluster-distance filters in public data-pruning
    * literature, e.g. SemDeDup-style curation). For each vector: the L2
    * distance to its label centroid, the z-score of that distance within
    * the label, and an `is_outlier` flag at `zThreshold`.
    *
    * Everything is explicit closed-form column algebra (centroid = per-dim
    * mean; variance from (n, Σd, Σd²) co-moments, sample-normalized), so
    * the SQL twin lands on the same doubles. Labels with < 2 vectors have
    * no spread — z is null, never flagged.
    *
    * Scale shape: one posexplode over the scan → (label, dim)-keyed
    * partial-combined mean (bounded by labels·dims rows), broadcast-joined
    * back to the dim stream; the distance reduction groups on the
    * well-spread vector id; label moments are a second metadata-scale
    * aggregation. No windows, no pair joins — linear in vectors·dims.
    */
  def labelOutliers(corpus: DataFrame, zThreshold: Double = 2.5,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    require(zThreshold > 0, s"zThreshold must be positive, got $zThreshold")
    val dims = corpus.select(col(idCol), col(labelCol).as("label"),
      posexplode(col(vecCol)).as(Seq("dim", "__x")))
      .select(col(idCol), col("label"), col("dim"),
        col("__x").cast("double").as("__x"))
    val cent = dims.groupBy("label", "dim").agg(avg("__x").as("__mu"))
    val dist = dims.join(broadcast(cent), Seq("label", "dim"))
      .groupBy(col(idCol), col("label"))
      .agg(sqrt(sum((col("__x") - col("__mu")) * (col("__x") - col("__mu"))))
        .as("dist"))
    val mom = dist.groupBy("label").agg(count(lit(1)).as("__n"),
      sum("dist").as("__s"), sum(col("dist") * col("dist")).as("__ss"))
    val n = col("__n").cast("double")
    val varS = (n * col("__ss") - col("__s") * col("__s")) / (n * (n - 1))
    val z = (col("dist") - col("__s") / n) /
      sqrt(greatest(varS, lit(0.0)))
    // dist/z are cross-row float sums whose accumulation ORDER varies with
    // partitioning — a last-ulp wobble that is invisible semantically but
    // can straddle a digit boundary between engines (observed once at
    // sf0.1: 0.661029301 vs ...302 in the 9th significant digit). The
    // OUTPUT is rounded to 6 decimals on both sides — well inside any
    // consumer's tolerance, three digits inside the compare normalization,
    // ~1e9× wider than the wobble; the flag uses the unrounded value.
    dist.join(broadcast(mom), "label")
      .withColumn("__z", when(col("__n") >= 2 && varS > 0, z))
      .withColumn("is_outlier", coalesce(col("__z") > zThreshold, lit(false)))
      .withColumn("dist", round(col("dist"), 6))
      .withColumn("z_score", round(col("__z"), 6))
      .select(idCol, "label", "dist", "z_score", "is_outlier")
  }

  /** Embedding-cosine near-duplicate pairs: all pairs with cosine ≥ threshold,
    * blocked by cell to bound the pair space (LSH-bucketed variant of
    * embedding dedup).
    *
    * The cell key has few distinct values, so a join carrying the vectors on
    * it would collapse into one task per cell. Pairs are instead enumerated
    * on the cell key with id-only rows, repartitioned on the pair id, and
    * the vectors attached via well-spread id-keyed joins — the quadratic
    * scoring parallelizes even though the blocking key doesn't.
    */
  def embeddingNearDups(corpus: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label"): DataFrame = {
    val v = spread(corpus, idCol)
      .select(col(cellCol).as("cell"), col(idCol).as("id"), col(vecCol).as("v"))
    val ids = v.select(col("cell"), col("id"))
    val pairs = ids.select(col("cell"), col("id").as("id_a"))
      .join(ids.select(col("cell"), col("id").as("id_b")), Seq("cell"))
      .where(col("id_a") < col("id_b"))
      // pinned width — a bare REPARTITION_BY_COL is AQE-coalescable back
      // to one partition on small inputs, serializing the pair-verify
      // joins behind it (the Dedup.spreadById trap)
      .repartition(Sessions.partsOf(corpus.sparkSession),
        col("id_a"), col("id_b"))
    pairs
      .join(v.select(col("id").as("id_a"), col("v").as("va")), Seq("id_a"))
      .join(v.select(col("id").as("id_b"), col("v").as("vb")), Seq("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .where(col("cos_sim") >= threshold)
      .select("cell", "id_a", "id_b", "cos_sim")
  }

  /** Dimension-truncation recall curve (the Matryoshka-representation
    * evaluation, Kusupati et al. 2022): for each prefix length d, the
    * top-k cosine neighbors computed from ONLY the first d dimensions,
    * scored by recall against the full-dimension top-k. This is the
    * measurement behind "can we serve the 64-dim embedding at 16 dims" —
    * a 4× index-size/bandwidth cut if the low dimensions carry the
    * ranking — and the honest answer is a curve, not an assumption. (On
    * non-MRL-trained embeddings the curve degrades fast; that IS the
    * finding.)
    *
    * Scale shape: one brute top-k per prefix length over SLICED vectors
    * (broadcast query set, one corpus pass each — same shape as
    * [[bruteForceTopK]]); the recall join touches only |q|·k pairs per
    * length. Counts are exact integers; the recall division happens once
    * per output row on metadata the driver already holds.
    */
  def truncationRecall(queries: DataFrame, corpus: DataFrame, k: Int,
      dims: Seq[Int], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(dims.nonEmpty && dims.forall(_ >= 1), s"bad prefix lengths $dims")
    val spark = corpus.sparkSession
    import spark.implicits._
    def sliced(df: DataFrame, d: Int): DataFrame =
      df.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
    val full = bruteForceTopK(queries, corpus, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"))
    val nRef = full.count()
    val rows = dims.sorted.map { d =>
      val tr = bruteForceTopK(sliced(queries, d), sliced(corpus, d), k,
          idCol, vecCol)
        .select(col("query_id"), col("neighbor_id"))
      val matched = tr.join(full, Seq("query_id", "neighbor_id")).count()
      (d, nRef, matched, matched.toDouble / nRef)
    }
    rows.toDF("dim_kept", "n_ref", "n_matched", "recall")
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): embedding-space semantic
    * dedup by k-means clustering + within-cluster cosine pruning. Lexical
    * dedup (MinHash/SimHash) cannot see paraphrases and re-renderings of
    * the same content; SemDeDup catches them in embedding space while the
    * clustering keeps the pair space linear — pairs are only scored INSIDE
    * a cluster, never across the corpus.
    *
    * Deterministic keeper rule in place of the paper's random choice: a
    * vector is pruned iff some LOWER-id cluster-mate has cosine ≥
    * threshold (the id-greedy rule every other dedup family here uses, so
    * keeper semantics are uniform across lexical and semantic dedup). The
    * rule needs no transitive closure — within a semantic cluster the
    * near-dup relation is already effectively cliqueish, and the greedy
    * sweep keeps exactly the lowest id of every duplicated chain.
    *
    * Built strictly from the two verified primitives: [[kmeans]] assigns
    * the cells (deterministic k-means|| seeding, reproducible trajectory)
    * and [[embeddingNearDups]] scores the within-cell pairs (id-spread
    * pair join — the quadratic scoring parallelizes even though the
    * cluster key has only k distinct values).
    *
    * Scale shape: the kmeans rounds are broadcast-assign + bounded
    * aggregations; the pair stage is Σ_c n_c² over cluster sizes — the
    * SemDeDup paper's own cost model — with the pair enumeration
    * repartitioned on the pair ids. At 100 TB, k grows with the corpus
    * (the paper uses 50k clusters for LAION) keeping n_c bounded; k
    * DEFAULTS to the corpus-scaled [[cellsFor]] policy (√n, one count()
    * to size it) so the no-tuning invocation follows that policy rather
    * than a fixed constant; pass k > 0 to pin a configuration.
    *
    * Output: one row per vector — (vec_id, cluster, is_kept,
    * pruned_by) where pruned_by is the LOWEST-id cluster-mate with
    * cosine ≥ threshold (null for kept rows).
    */
  def semanticDedup(corpus: DataFrame, threshold: Double, k: Int = 0,
      iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 0, s"semanticDedup needs k >= 0 (0 = auto), got $k")
    val kc = if (k > 0) k else cellsFor(corpus.count())
    semanticDedupFrozen(corpus,
      kmeansCentroids(corpus, kc, iters, idCol, vecCol), threshold,
      idCol, vecCol)
  }

  /** [[semanticDedup]] against a FROZEN centroid codebook: assign every
    * vector to its nearest given centroid (same squared-L2 argmin and
    * (dist, cluster) tie-break as the Lloyd trajectory), then the same
    * within-cell lowest-id pruning rule. This is the batch face of
    * incremental semantic dedup ([[IncrementalSemDedup]]): at 100 TB the
    * coarse clustering is trained once (on a bootstrap corpus or sample)
    * and FROZEN — retraining per ingest batch would relabel every cell
    * and invalidate all prior prune decisions — so the maintained state
    * must equal THIS, not a from-scratch retrain. [[semanticDedup]] is
    * exactly this applied to the corpus's own trained centroids.
    */
  def semanticDedupFrozen(corpus: DataFrame, centroids: DataFrame,
      threshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val assigned = assignToCentroids(corpus, centroids, idCol, vecCol)
      .select(col("vec_id"), col("cluster"))
    val cells = spread(corpus, idCol)
      .select(col(idCol).as("vec_id"), col(vecCol))
      .join(assigned, "vec_id")
    val pruned = embeddingNearDups(cells, threshold, "vec_id", vecCol,
        cellCol = "cluster")
      .groupBy(col("id_b").as("vec_id"))
      .agg(min("id_a").as("pruned_by"))
    assigned.join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("pruned_by").isNull.as("is_kept"), col("pruned_by"))
  }

  /** Cross-corpus SEMANTIC contamination join — the embedding-space twin of
    * [[graft.pipeline.Dedup.minhashJoin]]: paraphrase-level pairs BETWEEN
    * two relations (a training corpus probed against an eval benchmark),
    * which lexical n-gram/MinHash overlap cannot see. The coarse cells are
    * trained on the LEFT corpus and FROZEN (the production policy shared
    * with [[IncrementalSemDedup]] — the benchmark must not perturb the
    * routing); both sides route to their nearest cell via the broadcast
    * argmin, and only same-cell CROSS pairs pay the exact cosine. Each
    * side keeps its own id space (no `a < b` pruning — the relations are
    * distinct).
    *
    * Scale shape: same as [[embeddingNearDups]] — pairs enumerate on the
    * cell key with id-only rows, repartition on the pair id, and the
    * vectors attach via well-spread id-keyed joins; a small right side
    * bounds pair volume at Σ_cell cnt_l·cnt_r, a probe of the left's cell
    * index rather than an all-pairs scan.
    */
  def semanticJoin(left: DataFrame, right: DataFrame, threshold: Double,
      k: Int, iters: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val cents = kmeansCentroids(left, k, iters, idCol, vecCol)
    def side(df: DataFrame, idAs: String, vAs: String) = {
      val a = assignToCentroids(df, cents, idCol, vecCol)
        .select(col("vec_id").as(idAs), col("cluster").as("cell"))
      val v = spread(df, idCol).select(col(idCol).as(idAs), col(vecCol).as(vAs))
      (a, v)
    }
    val (la, lv) = side(left, "id_a", "va")
    val (ra, rv) = side(right, "id_b", "vb")
    la.join(ra, Seq("cell"))
      // pinned width (AQE-proof) — see embeddingNearDups' pair spread
      .repartition(Sessions.partsOf(left.sparkSession),
        col("id_a"), col("id_b"))
      .join(lv, Seq("id_a"))
      .join(rv, Seq("id_b"))
      .withColumn("cos_sim", cosine(col("va"), col("vb")))
      .where(col("cos_sim") >= threshold)
      .select("cell", "id_a", "id_b", "cos_sim")
  }

  /** Nearest-centroid assignment against a FROZEN `(cluster, centroid)`
    * codebook — the cell-routing primitive shared by [[semanticDedupFrozen]]
    * and incremental ingest: broadcast the (metadata-scale) codebook,
    * map-side squared-L2 argmin with the (dist, cluster) tie-break, never
    * a shuffle of the corpus on the cluster key. Identical arithmetic to
    * the final assignment step inside [[kmeans]].
    */
  def assignToCentroids(corpus: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignStep(kmeansPts(corpus, idCol, vecCol), centroids)
      .select(col("vec_id"), col("cluster"), col("dist"))

  /** Product quantization (Jégou, Douze, Schmid 2011, "Product
    * quantization for nearest neighbor search"): the vector is split into
    * `m` contiguous subvectors, each quantized independently against its
    * own `k`-centroid codebook — compressing d floats to m small codes
    * (m·log₂k bits) while keeping distances approximable from
    * per-subspace lookup tables (the ADC step of IVF-PQ). At 100 TB the
    * raw embeddings don't fit the ANN serving tier; the code table is
    * ~d·32/(m·log₂k) times smaller and the codebooks are metadata
    * (m·k·(d/m) doubles, broadcastable).
    *
    * The codebooks are [[pqTrain]]'s, and the codes are its argmin of its
    * own truncated base table, so the encoding is the trained model's own
    * and reproducible cross-engine (each subspace follows [[kmeans]]'s
    * trajectory on its slice). Output per vector: `codes` (the m cluster
    * ids, subspace order), `sq_err` (the argmin kernel's per-subspace
    * squared distances summed in subspace order — the exact
    * reconstruction error of the quantized vector).
    */
  def pqEncode(corpus: DataFrame, m: Int = 2, k: Int = 4, iters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      oversample: Int = 4): DataFrame = {
    val (base, sub, books) = pqFit(corpus, m, k, iters, idCol, vecCol,
      oversample)
    val a = books.indices.map(j => s"__a$j")
    // two projections: each argmin struct is evaluated once and read twice
    base.select(col("vec_id") +: pqAssign(books, sub).zip(a)
        .map { case (x, n) => x.as(n) }: _*)
      .select(col("vec_id"),
        array(a.map(n => col(s"$n.cluster")): _*).as("codes"),
        a.foldLeft(lit(0.0))((acc, n) => acc + col(s"$n.dist")).as("sq_err"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes (Jégou et al. 2011
    * §IV): the query stays in full precision; each corpus vector is
    * represented ONLY by its m codes, and its approximate squared L2 to
    * the query is the sum of per-subspace table lookups
    * `Σ_j d(q_j, centroid_{j,code_j})`. [[pqTrain]] then
    * [[pqAdcTopKFrozen]]: the model this trains is the one a frozen
    * deployment would serve. Output: (query_id, neighbor_id, rank,
    * adc_dist), top `topK` by (adc asc, id asc), self excluded.
    */
  def pqTopK(queries: DataFrame, corpus: DataFrame, topK: Int, m: Int = 2,
      kc: Int = 4, iters: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding", oversample: Int = 4): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val (cb, cd) = pqTrain(corpus, m, kc, iters, idCol, vecCol, oversample)
    pqAdcTopKFrozen(queries, cb, cd, topK, idCol, vecCol)
  }

  /** ADC shortlist + exact re-rank — how PQ is actually served (Jégou et
    * al. 2011 §VII "re-ranking"): the code-table scan retrieves
    * `candidates` approximate neighbors per query, then ONLY those rows'
    * raw vectors are fetched and exactly cosine-ranked for the final
    * top-k. The audit shows why the refinement step is not optional at
    * small code sizes: raw ADC at m=2/k=8 ties every same-code vector
    * and recall collapses to id order (measured 0.28 on the clustered
    * corpus), while the same codes + a 50-candidate exact re-rank
    * restore the true neighbors. [[pqTrain]] then [[pqRerankFrozen]].
    */
  def pqTopKRerank(queries: DataFrame, corpus: DataFrame, topK: Int,
      candidates: Int = 50, m: Int = 2, kc: Int = 4, iters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      oversample: Int = 4): DataFrame = {
    require(candidates >= topK,
      s"candidates ($candidates) must be >= topK ($topK)")
    require(candidates >= 1, s"candidates must be >= 1, got $candidates")
    val (cb, cd) = pqTrain(corpus, m, kc, iters, idCol, vecCol, oversample)
    pqRerankFrozen(queries, corpus, cb, cd, topK, candidates, idCol, vecCol)
  }

  /** The PQ model as DATA — the one PQ trainer: the per-subspace codebooks
    * `(subspace, cluster, centroid)` (m·k rows, metadata-scale) and the
    * corpus codes `(vec_id, subspace, cluster)` (m small ints per vector —
    * the compressed corpus representation). Every subspace follows
    * [[kmeans]]'s deterministic trajectory on its slice (same candidate
    * draw, greedy seeding, Lloyd rounds and argmin kernel), all of them
    * trained together from one spread table; [[pqEncode]], [[pqTopK]],
    * [[pqTopKRerank]] and [[ivfPqTrain]] train through it. At 100 TB this
    * split is the production shape: training is a bounded batch job whose
    * outputs are persisted (codebooks broadcastable, codes ~100× smaller
    * than vectors) and serving never retrains.
    */
  def pqTrain(corpus: DataFrame, m: Int, kc: Int, iters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      oversample: Int = 4): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (base, sub, books) = pqFit(corpus, m, kc, iters, idCol, vecCol,
      oversample)
    val cb = books.zipWithIndex.flatMap { case (b, j) =>
      b.map { case (cl, c) => (j, cl, c) } }.toDF("subspace", "cluster", "centroid")
    (cb, pqCodes(base, books, sub).drop("dist"))
  }

  /** [[pqTrain]]'s fit: the spread, truncated base table `(vec_id, v0)`,
    * the subspace width and each subspace's trained codebook
    * `(cluster, centroid)`, sorted by cluster.
    *
    * ONE spread + ONE materialization serves every subspace's candidate
    * draw, every Lloyd round and the final encode — one pipeline per
    * subspace would spread the corpus m times and re-scan it ~3·m times.
    * Training is the train-once half of train-once/serve-many, so the
    * corpus-sized checkpoint is a bounded training-job cost.
    */
  private def pqFit(corpus: DataFrame, m: Int, kc: Int, iters: Int,
      idCol: String, vecCol: String, oversample: Int):
      (DataFrame, Int, IndexedSeq[Seq[(Long, Seq[Double])]]) = {
    require(m >= 1, s"m must be >= 1, got $m")
    require(kc > 0, s"k must be positive, got $kc")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val dim = corpus.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dimension $dim must divide into $m subspaces")
    val sub = dim / m
    val base = graft.core.Lineage.truncate(
      spread(corpus, idCol).select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("v0")))
    // shared candidate draw: the CW-hash sample keys on vec_id alone, so
    // every subspace draws the SAME candidate rows a per-subspace kmeans
    // would, and slices its own view on the driver
    val cand = kmeansCandidates(
      base.select(col("vec_id"), col("v0").as("v")), kc * oversample)
    var books: IndexedSeq[Seq[(Long, Seq[Double])]] = (0 until m).map { j =>
      greedyFarthest(
        cand.map(a => java.util.Arrays.copyOfRange(a, j * sub, j * sub + sub)),
        kc).map { case (cl, c) => (cl, c.toSeq) }.toSeq
    }
    // one aggregate per Lloyd round for ALL subspaces: per vector, m
    // (subspace, argmin cluster, slice) rows — the same element volume as
    // the corpus — mean-reduced per (subspace, cluster) by the VecMeanAgg
    // kernel, the per-subspace update's own arithmetic
    for (_ <- 1 to iters) {
      val structs = pqAssign(books, sub).zipWithIndex.map { case (a, j) =>
        struct(lit(j).as("subspace"), a.getField("cluster").as("cluster"),
          slice(col("v0"), j * sub + 1, sub).as("v"))
      }
      val updated = base.select(explode(array(structs: _*)).as("e"))
        .groupBy(col("e.subspace").as("subspace"), col("e.cluster").as("cluster"))
        .agg(graft.functions.VecMeanAgg.vecMean(col("e.v")).as("centroid"))
        .collect()
      books = (0 until m).map { j =>
        updated.filter(_.getInt(0) == j).toSeq
          .map(r => (r.getLong(1), r.getSeq[Double](2).toSeq))
          .sortBy(_._1)
      }
    }
    (base, sub, books)
  }

  /** Each subspace's argmin struct `(cluster, dist)` of a base table's
    * `v0` against that subspace's codebook — [[assignStep]]'s kernel,
    * fold and (dist, cluster) tie-break on the slice, the centroids
    * entering as driver literals.
    */
  private def pqAssign(books: IndexedSeq[Seq[(Long, Seq[Double])]],
      sub: Int): IndexedSeq[Column] =
    books.indices.map(j => graft.functions.Signatures.argminSqDist(
      slice(col("v0"), j * sub + 1, sub), books(j).map(_._1), books(j).map(_._2)))

  /** One narrow pass over a base table emitting all m codes per vector:
    * `(vec_id, subspace, cluster, dist)`, dist the chosen centroid's
    * squared L2 (the per-subspace reconstruction error).
    */
  private def pqCodes(base: DataFrame,
      books: IndexedSeq[Seq[(Long, Seq[Double])]], sub: Int): DataFrame = {
    // the whole argmin struct rides the explode: a generator's input gets
    // no common-subexpression elimination, so reading two fields inside
    // it would run the kernel twice
    val structs = pqAssign(books, sub).zipWithIndex.map { case (a, j) =>
      struct(lit(j).as("subspace"), a.as("a"))
    }
    base.select(col("vec_id"), explode(array(structs: _*)).as("e"))
      .select(col("vec_id"), col("e.subspace").as("subspace"),
        col("e.a.cluster").as("cluster"), col("e.a.dist").as("dist"))
  }

  /** Write a MODEL-scale relation (codebooks, cell centroids, logreg
    * weights — tens to thousands of rows) into the frozen-model registry
    * layout: one file under its `model_id=` partition, dynamic overwrite
    * scoped per-write so re-freezing one model never clears its
    * neighbors.
    */
  private[graft] def freezeModelScale(df: DataFrame, modelId: String,
      path: String): Unit =
    df.withColumn("model_id", lit(modelId)).repartition(1)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("model_id")
      .parquet(path)

  /** Shard count for a frozen CORPUS-scale write: ~2M code rows per file
    * (code rows are a few tens of bytes — this lands files in the tens-of-
    * MB-to-low-hundreds range the output-sizing guidance targets), clamped
    * to [1, shuffle.partitions] so large corpora keep today's full
    * parallel width while a small freeze stops scattering its rows across
    * `shuffle.partitions` near-empty files. Every written file costs a
    * local-FS permission fork+exec on the committer path — file COUNT, not
    * bytes, dominated the freeze at fixture scale (stack-sampled:
    * ProcessImpl.forkAndExec was the hottest executor frame of
    * sim_ivfpq_prod). The count() is one cheap job per freeze — train-once
    * amortized like the freeze itself.
    */
  private[graft] def freezeShards(s: org.apache.spark.sql.SparkSession,
      rows: Long): Int = {
    val shuffleN = Sessions.partsOf(s)
    math.max(1, math.min(shuffleN, math.ceil(rows / 2e6).toInt))
  }

  /** Write a CORPUS-scale code table under `path`, partitioned by
    * `model_id` and then `keys`, sharded by an explicit-width
    * `repartition(freezeShards, keys…, vec_id)` (REPARTITION_BY_NUM —
    * AQE cannot coalesce it, so the write never funnels the corpus
    * through one task). The codes are materialized ONCE before sizing:
    * the count and the write would otherwise each run the whole encode —
    * the checkpoint is the codes themselves (n·m small ints).
    */
  private def freezeCodes(cd: DataFrame, modelId: String, path: String,
      keys: String*): Unit = {
    val cdM = graft.core.Lineage.truncate(cd)
    cdM.withColumn("model_id", lit(modelId))
      .repartition(freezeShards(cd.sparkSession, cdM.count()),
        (keys :+ "vec_id").map(col): _*)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("model_id" +: keys: _*)
      .parquet(path)
  }

  /** One frozen relation of model `modelId` under `path`. */
  private def readFrozen(spark: org.apache.spark.sql.SparkSession,
      path: String, modelId: String): DataFrame =
    spark.read.parquet(path).where(col("model_id") === modelId).drop("model_id")

  /** Freeze a trained PQ model ([[pqTrain]]'s `(codebooks, codes)`) to
    * parquet under `base`, keyed by an EXPLICIT `modelId` (caller-chosen —
    * a registry name, content hash, or corpus snapshot id) so distinct
    * models coexist under one base (`partitionBy(model_id)` + dynamic
    * partition overwrite, scoped per-write), and return the read-back
    * frames ([[pqReadFrozen]]) — the train-once half of
    * train-once/serve-many. An explicit identity is the registry contract
    * row-count keying cannot give: two same-size corpora (or two
    * snapshots of one corpus) freeze to DISTINCT partitions instead of
    * silently dynamic-overwriting each other (SimilaritySpec-pinned).
    *
    * Write shapes are deliberately different per relation: codebooks are
    * MODEL-scale (m·kc rows) — one file is the right layout; codes are
    * CORPUS-scale (n·m rows) and write sharded ([[freezeCodes]];
    * PlanSpec-pinned: no corpus-scale single-partition exchange).
    */
  def pqFreeze(cb: DataFrame, cd: DataFrame, modelId: String, base: String):
      (DataFrame, DataFrame) = {
    freezeModelScale(cb, modelId, s"$base/codebooks")
    freezeCodes(cd, modelId, s"$base/codes")
    pqReadFrozen(cb.sparkSession, base, modelId)
  }

  /** Read back a frozen PQ model previously written by [[pqFreeze]] —
    * the serve-many half of train-once/serve-many: a session that has
    * already frozen `modelId` under `base` serves from the persisted
    * relations without paying training again. Returns exactly the
    * frames pqFreeze returns (read-back, model_id-selected).
    */
  def pqReadFrozen(spark: org.apache.spark.sql.SparkSession, base: String,
      modelId: String): (DataFrame, DataFrame) =
    (readFrozen(spark, s"$base/codebooks", modelId),
      readFrozen(spark, s"$base/codes", modelId))

  /** Read back a frozen IVF-PQ index previously written by
    * [[ivfPqFreeze]] — cells, codebooks, and the cell-partitioned codes,
    * exactly the frames ivfPqFreeze returns.
    */
  def ivfPqReadFrozen(spark: org.apache.spark.sql.SparkSession,
      base: String, modelId: String): (DataFrame, DataFrame, DataFrame) =
    (readFrozen(spark, s"$base/cells", modelId),
      readFrozen(spark, s"$base/codebooks", modelId),
      readFrozen(spark, s"$base/codes", modelId))

  /** A PQ model's codebooks read ONCE on the driver (model-scale, m·k
    * rows): the geometry every frozen consumer checks — subspaces exactly
    * 0..m-1, one centroid width `sub` (slice j covers [j·sub+1,
    * j·sub+sub]) — each subspace's codebook sorted by cluster (the argmin
    * kernel's literals), and the same rows as a local relation for the
    * ADC lookup join.
    */
  private final case class PqBooks(m: Int, sub: Int,
      books: IndexedSeq[Seq[(Long, Seq[Double])]], local: DataFrame) {
    /** Serving-side dimension guard: a vector whose length != m·sub would
      * slice short and null its distances — which the ascending rank
      * window (NULLS FIRST) would silently rank to the top.
      */
    def requireDim(df: DataFrame, vecCol: String, what: String): Unit = {
      val d = df.select(size(col(vecCol))).head().getInt(0)
      require(d == m * sub,
        s"$what dimension $d must equal the frozen model's m*sub = ${m * sub}")
    }
  }

  private def readBooks(codebooks: DataFrame): PqBooks = {
    val cb = codebooks.select(col("subspace").cast("int").as("subspace"),
      col("cluster").cast("long").as("cluster"),
      col("centroid").cast("array<double>").as("centroid"))
    val rows = cb.collect()
    val byJ = rows.groupBy(_.getInt(0))
    val m = byJ.size
    require(m >= 1, "codebooks must be non-empty")
    require(byJ.keySet == (0 until m).toSet,
      s"codebooks must cover subspaces 0..${m - 1}, got ${byJ.keySet}")
    val widths = rows.map(_.getSeq[Double](2).size).toSet
    require(widths.size == 1,
      s"all subspaces must share one centroid width, got $widths")
    PqBooks(m, widths.head,
      (0 until m).map(j => byJ(j).toSeq
        .map(r => (r.getLong(1), r.getSeq[Double](2).toSeq)).sortBy(_._1)),
      cb.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*),
        cb.schema))
  }

  /** Encode NEW vectors against a FROZEN PQ model — index maintenance
    * without retraining, the ingest half of train-once/serve-many: each
    * arriving vector's subspace slices take the argmin cluster over the
    * persisted codebooks with EXACTLY the training assignment's kernel
    * (same sqDist fold, same (dist, cluster) tie-break), so codes
    * appended by this path are indistinguishable from codes the original
    * training would have produced (SimilaritySpec pins encode-frozen ==
    * pqTrain's own codes on the training corpus). Output: one row per
    * (vector, subspace) — `(vec_id, subspace, cluster, dist)` with dist
    * the chosen cell's squared L2 (the per-subspace reconstruction
    * error). Scale shape: one collect of the model-scale codebooks and
    * ONE narrow pass over the BATCH — cost proportional to the batch,
    * never the corpus. Serving-side geometry guard as
    * [[pqAdcTopKFrozen]].
    */
  def pqEncodeFrozen(vecs: DataFrame, codebooks: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val pq = readBooks(codebooks)
    pq.requireDim(vecs, vecCol, "vector")
    pqCodes(spread(vecs, idCol).select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v0")), pq.books, pq.sub)
  }

  /** ADC top-k over a FROZEN PQ model ([[pqTrain]]'s `(codebooks, codes)`
    * shape, typically read back from storage): each corpus vector is
    * scored through its m codes alone — `Σ_j d(q_j, centroid_{j, code_j})`,
    * summed in subspace order for cross-engine bit-equality. This is the
    * serving-tier half of PQ at 100 TB: no training, no raw corpus
    * vectors, one equi-join of the (compact) code table against a
    * broadcast lookup table ([[adcTopK]]). Output: (query_id,
    * neighbor_id, rank, adc_dist), top `topK` by (adc asc, id asc), self
    * excluded.
    */
  def pqAdcTopKFrozen(queries: DataFrame, codebooks: DataFrame,
      codes: DataFrame, topK: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    adcTopK(queries, codebooks, topK, idCol, vecCol) { dtab =>
      codes.select(col("vec_id").as("neighbor_id"), col("subspace"),
          col("cluster"))
        .join(dtab, Seq("subspace", "cluster"))
    }

  /** The frozen ADC scorer [[pqAdcTopKFrozen]] and [[ivfPqAdcTopKFrozen]]
    * share. The codebooks are read once on the driver ([[readBooks]]:
    * geometry guard + local lookup relation), the queries are scanned
    * once and exploded into their m slices, and each slice's squared L2
    * to every centroid of its subspace is the per-query distance table
    * `(query_id, subspace, cluster, d)` (|queries|·m·k rows —
    * metadata-scale, broadcast). `score` joins the code rows it keeps to
    * that table; the lookups then sum per (query, neighbor) in subspace
    * order over a sorted struct array and rank.
    */
  private def adcTopK(queries: DataFrame, codebooks: DataFrame, topK: Int,
      idCol: String, vecCol: String)(
      score: DataFrame => DataFrame): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val pq = readBooks(codebooks)
    pq.requireDim(queries, vecCol, "query vector")
    val slices = (0 until pq.m).map(j => struct(lit(j).as("subspace"),
      slice(col(vecCol), j * pq.sub + 1, pq.sub).cast("array<double>")
        .as("qv")))
    val dtab = queries
      .select(col(idCol).as("query_id"), explode(array(slices: _*)).as("e"))
      .select(col("query_id"), col("e.subspace").as("subspace"),
        col("e.qv").as("__qv"))
      .join(broadcast(pq.local), "subspace")
      .select(col("query_id"), col("subspace"), col("cluster"),
        sqDist(col("__qv"), col("centroid")).as("d"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    score(broadcast(dtab))
      .where(col("neighbor_id") =!= col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(array_sort(collect_list(struct(col("subspace"), col("d"))))
        .as("__sd"))
      .select(col("query_id"), col("neighbor_id"),
        aggregate(transform(col("__sd"), s => s.getField("d")),
          lit(0.0), (acc, x) => acc + x).as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select("query_id", "neighbor_id", "rank", "adc_dist")
  }

  /** Exact cosine re-rank of a `(query_id, neighbor_id)` shortlist: ONLY
    * the shortlisted ids' raw vectors are fetched (id equi-join against
    * the broadcast queries), ranked (cos desc, id asc), top `topK` kept —
    * the refine step every shortlist-then-refine search here shares.
    * Scale shape: the exact distance touches |queries|·shortlist rows,
    * never a corpus scan of vectors.
    */
  private def rerank(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, topK: Int, idCol: String,
      vecCol: String): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    shortlist
      .join(broadcast(qv), "query_id")
      .join(cv, "neighbor_id")
      .withColumn("cos_sim", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
  }

  /** Frozen-model ADC shortlist + exact cosine re-rank — [[pqTopKRerank]]
    * over a persisted [[pqTrain]] model: the `candidates`-deep
    * [[pqAdcTopKFrozen]] shortlist is the only code-table scan, then
    * [[rerank]].
    */
  def pqRerankFrozen(queries: DataFrame, corpus: DataFrame,
      codebooks: DataFrame, codes: DataFrame, topK: Int, candidates: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(candidates >= topK,
      s"candidates ($candidates) must be >= topK ($topK)")
    rerank(pqAdcTopKFrozen(queries, codebooks, codes, candidates, idCol,
        vecCol).select(col("query_id"), col("neighbor_id")),
      queries, corpus, topK, idCol, vecCol)
  }

  /** IVF-PQ top-k (Jégou et al. 2011 §V — the production ANN serving
    * shape): the coarse quantizer ([[ivfTopK]]'s cell-centroid probe)
    * prunes the search to each query's `nprobe` nearest cells, and
    * vectors INSIDE the probed cells are scored by asymmetric distance
    * through their m PQ codes ([[pqTopK]]'s table lookups) — never
    * touching a raw corpus vector after the (metadata-scale) codebooks
    * and centroids are trained. At 100 TB both levels matter: the probe
    * cuts the scanned fraction to ~nprobe/#cells, and ADC cuts the
    * per-row cost and the serving tier's memory by the PQ compression
    * factor. [[ivfPqTrain]] then [[ivfPqAdcTopKFrozen]].
    *
    * Output: (query_id, neighbor_id, rank, adc_dist) — top `k` by
    * (adc asc, id asc) within probed cells, self excluded. May return
    * < k rows per query (probed cells can be small): the ANN contract.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int, nprobe: Int,
      m: Int = 2, kc: Int = 4, iters: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding", cellCol: String = "label",
      oversample: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val (cells, cb, cd) = ivfPqTrain(corpus, m, kc, iters, idCol, vecCol,
      cellCol, oversample)
    ivfPqAdcTopKFrozen(queries, cells, cb, cd, k, nprobe, idCol, vecCol)
  }

  /** The IVF-PQ index as DATA — [[ivfPqTopK]]'s two levels in the
    * train-once face: the coarse cell centroids (one row per cell,
    * metadata-scale), the per-subspace PQ codebooks ([[pqTrain]]'s m·kc
    * rows), and the corpus codes CARRYING their cell id (n·m rows — the
    * whole serving-tier corpus representation). Cells come from `cellCol`
    * (the corpus' existing partition assignment — at 100 TB that is the
    * layout key the corpus is already clustered/partitioned by).
    */
  def ivfPqTrain(corpus: DataFrame, m: Int, kc: Int, iters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      cellCol: String = "label", oversample: Int = 4):
      (DataFrame, DataFrame, DataFrame) = {
    val cents = centroids(corpus, cellCol, vecCol)
    val (cb, cd) = pqTrain(corpus, m, kc, iters, idCol, vecCol, oversample)
    val cellOf = corpus.select(col(idCol).as("vec_id"),
      col(cellCol).as("cell"))
    (cents, cb, cd.join(cellOf, "vec_id"))
  }

  /** Freeze a trained IVF-PQ index ([[ivfPqTrain]]'s
    * `(cells, codebooks, codes)`) to parquet under `base`, keyed by an
    * explicit `modelId` like [[pqFreeze]]. The two model-scale relations
    * (cell centroids — one row per cell — and codebooks) take the
    * single-file layout; the corpus-scale codes write CELL-PARTITIONED —
    * `partitionBy(model_id, cell)`, sharded within each cell
    * ([[freezeCodes]]) — so the serving probe's cell restriction becomes
    * real PARTITION PRUNING on the codes scan: at 100 TB a
    * nprobe-of-#cells query reads only nprobe directories of the code
    * table instead of filtering after a full scan ([[ivfPqAdcTopKFrozen]]
    * pushes the probed-cell set as a static IN filter; PlanSpec pins the
    * pruned file set). Each shard task opens one file per cell directory
    * it holds, so the data-derived width ([[freezeShards]]) also bounds
    * the file count. Returns the read-back frames
    * ([[ivfPqReadFrozen]]).
    */
  def ivfPqFreeze(cells: DataFrame, cb: DataFrame, cd: DataFrame,
      modelId: String, base: String): (DataFrame, DataFrame, DataFrame) = {
    freezeModelScale(cells, modelId, s"$base/cells")
    freezeModelScale(cb, modelId, s"$base/codebooks")
    freezeCodes(cd, modelId, s"$base/codes", "cell")
    ivfPqReadFrozen(cells.sparkSession, base, modelId)
  }

  /** ADC top-k over a FROZEN IVF-PQ index — the full production serving
    * read path (Jégou et al. 2011 §V over persisted artifacts): the query
    * ranks the frozen cell centroids by cosine and keeps `nprobe` cells
    * (broadcast, metadata-scale), the code table is pruned to probed
    * cells BEFORE any scoring dataflow, and surviving codes are scored
    * exactly like [[pqAdcTopKFrozen]] (the shared [[adcTopK]]: same
    * geometry guard, same serving-side dimension guard, same
    * subspace-ordered sum). Nothing here trains and nothing touches a raw
    * corpus vector: at 100 TB the scan cost is ~nprobe/#cells of the code
    * table — REALIZED as partition pruning under [[ivfPqFreeze]]'s
    * `partitionBy(model_id, cell)` layout, via the static probed-cell IN
    * filter pushed onto the codes scan below — and the per-row cost is m
    * lookups.
    */
  def ivfPqAdcTopKFrozen(queries: DataFrame, cells: DataFrame,
      codebooks: DataFrame, codes: DataFrame, topK: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    adcTopK(queries, codebooks, topK, idCol, vecCol) { dtab =>
      // coarse probe against the cell centroids (csim desc, cell asc)
      val wq = Window.partitionBy("query_id")
        .orderBy(col("csim").desc, col("cell").asc)
      val probed = queries
        .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .crossJoin(broadcast(cells))
        .withColumn("csim", cosine(col("qv"), col("centroid")))
        .withColumn("prank", row_number().over(wq))
        .where(col("prank") <= nprobe)
        .select(col("query_id"), col("cell"))
      // ONE materialization of the probe for BOTH consumers below (the
      // static IN filter and the per-query probed join): the join is a
      // broadcast anyway, so collecting here costs exactly what the plan
      // would pay at execution — and it guarantees the collected IN set
      // and the joined probe set are the SAME cells even when `queries`
      // is a nondeterministic/re-evaluated source (two executions of the
      // probe plan could otherwise diverge and silently drop candidates).
      // The frame is #queries·nprobe rows — request-scale on a serve path.
      val probedRows = probed.collect()
      val probedLocal = broadcast(queries.sparkSession.createDataFrame(
        java.util.Arrays.asList(probedRows: _*), probed.schema))
      // Static partition pruning: the UNION of probed cells is bounded by
      // #cells, and pushing it as an IN filter onto the code-table scan
      // turns the nprobe/#cells saving into directory-level pruning under
      // the [[ivfPqFreeze]] `partitionBy(model_id, cell)` layout — unprobed
      // cells are never READ, not filtered post-scan (PlanSpec pins the
      // pruned file set). Semantically redundant with the per-query probed
      // join (same materialized probe — it can neither widen nor narrow
      // it), so the function stays correct over non-partitioned in-memory
      // code frames too.
      val probedCells = probedRows.map(_.get(1)).distinct.toSeq
      codes.where(col("cell").isin(probedCells: _*))
        .select(col("vec_id").as("neighbor_id"), col("cell"),
          col("subspace"), col("cluster"))
        // cell restriction FIRST: unprobed cells never enter scoring
        .join(probedLocal, Seq("cell"))
        .join(dtab, Seq("subspace", "cluster", "query_id"))
    }
  }

  /** Frozen IVF-PQ shortlist + exact cosine re-rank — the complete
    * production read path: [[ivfPqAdcTopKFrozen]] retrieves `candidates`
    * approximate neighbors per query from the frozen index (probe + code
    * scan only), then [[rerank]] — the [[pqRerankFrozen]] refinement with
    * cell pruning in front.
    */
  def ivfPqRerankFrozen(queries: DataFrame, corpus: DataFrame,
      cells: DataFrame, codebooks: DataFrame, codes: DataFrame, topK: Int,
      candidates: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(candidates >= topK,
      s"candidates ($candidates) must be >= topK ($topK)")
    rerank(ivfPqAdcTopKFrozen(queries, cells, codebooks, codes, candidates,
        nprobe, idCol, vecCol).select(col("query_id"), col("neighbor_id")),
      queries, corpus, topK, idCol, vecCol)
  }

  /** Top principal component of the embedding corpus by MATRIX-FREE power
    * iteration — the dimensionality diagnostic / whitening first step an
    * embedding pipeline runs before quantization or semantic dedup. The
    * d×d covariance never materializes: each iteration computes
    * `Cov·v = (1/n)·Σ_x ((x−μ)·v)·(x−μ)` as one pass — a per-row dot
    * against the broadcast v (array literal), then a d-element per-dim
    * sum — and normalizes on the driver. That is the only shape that
    * survives 100 TB: every iteration is a scan + metadata-scale (d-row)
    * aggregate; nothing quadratic in d touches an executor, nothing
    * row-scale touches the driver.
    *
    * Deterministic: v₀ = 1/√d (fixed, so the recovered sign is a pure
    * function of the data), iteration count fixed, every reduction a
    * plain sum. Returns one row per dimension: (dim, loading,
    * eigenvalue, var_explained) with λ = ‖Cov·v‖ at the last step and
    * var_explained = λ / Σ_j Var_j (population).
    */
  def pcaTop(corpus: DataFrame, iters: Int = 8,
      vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = corpus.sparkSession
    val pts = corpus.select(col(vecCol).cast("array<double>").as("v"))
    val muRows = pts.select(posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("dim").agg(avg("x").as("mu"), count(lit(1)).as("n"))
      .orderBy("dim").collect()
    require(muRows.nonEmpty, "pcaTop needs a non-empty corpus")
    val mu = muRows.map(_.getDouble(1))
    val n = muRows.head.getLong(2)
    val d = mu.length
    val muCol = array(mu.map(lit): _*)
    val centered = pts.withColumn("__c",
      zip_with(col("v"), muCol, (a, b) => a - b))
    // dot(c, c) is the same acc + x·x fold the HOF spelled out
    val totVar = centered.select(
      (sum(dot(col("__c"), col("__c"))) / lit(n.toDouble)).as("tv"))
      .head().getDouble(0)
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    var lambda = 0.0
    for (_ <- 0 until iters) {
      val vCol = array(v.map(lit): _*)
      val w = centered
        .withColumn("__s", dot(col("__c"), vCol))
        .select(col("__s"), posexplode(col("__c")).as(Seq("dim", "cj")))
        .groupBy("dim")
        .agg((sum(col("cj") * col("__s")) / lit(n.toDouble)).as("w"))
        .orderBy("dim").collect().map(_.getDouble(1))
      lambda = math.sqrt(w.map(x => x * x).sum)
      require(lambda > 0, "pcaTop: degenerate corpus (zero covariance)")
      v = w.map(_ / lambda)
    }
    import spark.implicits._
    v.zipWithIndex.map { case (l, j) => (j, l, lambda, lambda / totVar) }
      .toSeq.toDF("dim", "loading", "eigenvalue", "var_explained")
  }

  /** VecCosine's exact arithmetic on the driver (same index-order
    * accumulation, same final expression) — shared by [[mmrSelect]]'s
    * greedy stage so driver-computed pair similarities cannot drift from
    * plan-computed ones.
    */
  private[pipeline] def cosineLocal(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    var j = n
    while (j < a.length) { na += a(j) * a(j); j += 1 }
    j = n
    while (j < b.length) { nb += b(j) * b(j); j += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Embedding-distribution drift between two corpus slices: per-dimension
    * mean gap — the representation-space companion to
    * [[Profile.ksDrift]]/[[Profile.psiDrift]] on scalar values (an
    * embedding-model upgrade or a source-mix change moves the centroid
    * long before any scalar column notices). One scan, one
    * partial-combined aggregate on the (dim, slice) key; output is
    * d rows regardless of corpus size.
    */
  def embeddingDrift(df: DataFrame, sliceA: Column,
      vecCol: String = "embedding"): DataFrame = {
    val dims = df
      .select(sliceA.as("in_a"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy(col("dim"), col("in_a"))
      .agg(count(lit(1)).as("n"), avg(col("x").cast("double")).as("mean"))
    val a = dims.where(col("in_a")).select(col("dim"),
      col("n").as("n_a"), col("mean").as("mean_a"))
    val b = dims.where(!col("in_a")).select(col("dim"),
      col("n").as("n_b"), col("mean").as("mean_b"))
    a.join(b, Seq("dim"), "full_outer")
      .select(col("dim"), col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
        abs(col("mean_a") - col("mean_b")).as("mean_gap"))
  }

  /** Corpus-scaled coarse-cell count for the cell-blocked operators
    * ([[knnGraph]], [[semanticDedup]]): `max(8, ⌈√n⌉)`, capped at 2¹⁶ so
    * the centroid table stays broadcast-scale (2¹⁶ × 64 dims × 8 B =
    * 32 MiB). √n is the single-level balance point: with `kCells = √n`
    * and a fixed nprobe, BOTH the Lloyd assignment (n·kCells) and the
    * within-cell candidate space (nprobe·n·n/kCells) grow as n^1.5 —
    * sub-quadratic without caller tuning, where any FIXED cell count
    * leaves the candidate space Θ(n²/kCells). Past the cap (n > ~4·10⁹)
    * cells exceed √n in size; the two-level route (IVF-PQ / frozen
    * sampled-train centroids) is the production escape, not a larger
    * broadcast.
    */
  def cellsFor(n: Long): Int =
    math.min(math.max(8L, math.ceil(math.sqrt(math.max(0L, n).toDouble)).toLong),
      1L << 16).toInt

  /** Mutual k-NN graph over an embedding corpus: an edge (a, b) exists iff
    * b is in a's cosine top-k AND a is in b's — the standard graph
    * construction for density-based clustering and manifold methods
    * (mutuality prunes hub vertices that appear in everyone's top-k but
    * reciprocate none). Edges are emitted once (id_a < id_b) with their
    * cosine; ranks use the (cos desc, id asc) order.
    *
    * DEFAULT is the cell-blocked candidate path (this is the 100 TB
    * shape, not an opt-in): TRAINED k-means cells ([[kmeansCentroids]]'s
    * deterministic trajectory — the [[semanticDedupFrozen]]/IVF coarse
    * quantizer; NOT a metadata label column, which the fixture shows is
    * geometry-blind — top-3 same-label rate ≈ chance), every vector
    * probing its `nprobe` nearest cells by squared-L2 to the centroids
    * (the metric the cells were trained under, (dist asc, cell asc)
    * tie-break) and ranking ONLY vectors inside probed cells — the
    * per-query candidate count is Σ probed-cell sizes, not the corpus.
    * Because the cell key has few distinct values, candidates are
    * enumerated id-only on the cell key and repartitioned on the pair
    * ids before the vectors attach ([[embeddingNearDups]]'s spread
    * pattern) — the quadratic scoring parallelizes even though the
    * blocking key doesn't. Within probed cells the ranking is exact, so
    * with one cell (or nprobe ≥ kCells) the graph equals
    * [[knnGraphBrute]]'s; across cells it is the standard IVF
    * approximation (a neighbor hiding in an unprobed cell is unseen —
    * recall tunes via `nprobe`, and honestly depends on the corpus
    * having cluster structure at all; SimilaritySpec pins its edge
    * recall on a clustered corpus).
    *
    * `kCells` DEFAULTS to the corpus-scaled [[cellsFor]] policy (√n —
    * one count() to size it), so the no-tuning invocation is the 100 TB
    * shape: a fixed cell count leaves the candidate space Θ(n²/kCells)
    * no matter how the corpus grows. Pass an explicit kCells > 0 to pin
    * a configuration (oracle twins, recall audits).
    */
  def knnGraph(corpus: DataFrame, k: Int = 3, nprobe: Int = 3,
      kCells: Int = 0, iters: Int = 2, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"knnGraph needs k >= 1, got $k")
    require(nprobe >= 1, s"knnGraph needs nprobe >= 1, got $nprobe")
    require(kCells >= 0, s"knnGraph needs kCells >= 0 (0 = auto), got $kCells")
    val kc = if (kCells > 0) kCells else cellsFor(corpus.count())
    val cents = kmeansCentroids(corpus, kc, iters, idCol, vecCol)
    val pts = kmeansPts(corpus, idCol, vecCol)
    val v = pts.select(col("vec_id").as("id"), col("v"))
    val members = assignStep(pts, cents)
      .select(col("cluster").as("cell"), col("vec_id").as("neighbor_id"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("__d").asc, col("cell").asc)
    val probes = v.select(col("id").as("query_id"), col("v").as("__qv"))
      .crossJoin(broadcast(cents.select(col("cluster").as("cell"),
        col("centroid"))))
      .withColumn("__d", sqDist(col("__qv"), col("centroid")))
      .withColumn("__prank", row_number().over(wq))
      .where(col("__prank") <= nprobe)
      .select(col("query_id"), col("cell"))
    // each vector lives in exactly one cell, so (query, neighbor) appears
    // at most once — no candidate dedup needed
    val pairs = probes
      .join(members, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      // pinned width (AQE-proof), keyed on query_id ALONE: the ranking
      // window below requires ClusteredDistribution(query_id), so this
      // one exchange serves both the pair spread and the top-k ranking.
      // Keying on the full pair (the pre-r14 shape) forced a SECOND
      // corpus-scale exchange under the window — and that exchange
      // carried BOTH attached vectors per candidate row (~2.4 GB of
      // shuffle write at sf0.1, the dominant task time of the query).
      // Per-query candidate rows must co-locate for the ranking anyway;
      // hashing the query id spreads hot cells' queries uniformly.
      .repartition(Sessions.partsOf(corpus.sparkSession),
        col("query_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val top = pairs
      .join(v.select(col("id").as("neighbor_id"), col("v").as("__cv")),
        Seq("neighbor_id"))
      .join(v.select(col("id").as("query_id"), col("v").as("__qv")), Seq("query_id"))
      .withColumn("cos_sim", cosine(col("__qv"), col("__cv")))
      // project the vectors away BEFORE the ranking sort — row_number
      // needs only (query_id, cos_sim, neighbor_id), so the sort buffers
      // 24-byte rows instead of rows carrying two embedding arrays
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    mutualEdges(top)
  }

  /** The corpus × corpus exact form of [[knnGraph]] — the oracle twin and
    * recall baseline. Quadratic by construction: audit tool, not the
    * production path.
    */
  def knnGraphBrute(corpus: DataFrame, k: Int = 3, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"knnGraphBrute needs k >= 1, got $k")
    val top = bruteForceTopK(corpus, corpus, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"), col("cos_sim"))
    mutualEdges(top)
  }

  /** Keep only mutual (a ∈ top(b) AND b ∈ top(a)) edges, emitted once as
    * (id_a < id_b, cos_sim). Shared by both knn-graph faces.
    */
  private def mutualEdges(top: DataFrame): DataFrame = {
    // materialize the top-k table ONCE: the mutuality semi-join references
    // it twice (forward + reversed), and the two join sides project
    // differently, so neither exchange reuse nor AQE stage reuse can
    // deduplicate them — without this checkpoint the ENTIRE upstream
    // candidate-scoring pipeline (the expensive part of both knn-graph
    // faces) executed twice (visible as the duplicated subtree in
    // plans/r14/vec_knn_graph_before.txt). The table is n·k rows —
    // bounded, the cheap end of the pipeline.
    val t = graft.core.Lineage.truncate(top)
    val rev = t.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"))
    t.join(rev, Seq("query_id", "neighbor_id"), "left_semi")
      .where(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b"),
        col("cos_sim"))
  }

  /** Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein,
    * SIGIR'98): greedily pick `k` results maximizing λ·rel(d) −
    * (1−λ)·max_{s∈S} sim(d, s) — the retrieval diversification step that
    * stops five paraphrases of one passage from filling the context
    * window. Rank 1 is pure relevance (empty selected set ⇒ the
    * similarity term is 0, score λ·rel); ties break (score desc, id asc).
    *
    * Scale split (the standard serving shape): the corpus-scale work —
    * scoring every vector against the query — is the distributed
    * [[bruteForceTopK]] pass (swap in the ANN family for a sublinear
    * shortlist); the greedy stage then runs on the collected
    * `shortlist`-row candidate set per query (metadata scale: k·N pair
    * cosines on ≤ a few dozen rows), and the selection re-enters Spark as
    * a literal-backed DataFrame — the same driver-loop-bounded pattern as
    * [[pcaTop]]'s iteration weights.
    */
  def mmrSelect(queries: DataFrame, corpus: DataFrame, k: Int = 5,
      shortlist: Int = 20, lambda: Double = 0.7,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1 && shortlist >= k,
      s"need k >= 1 and shortlist >= k; got k=$k shortlist=$shortlist")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0,1], got $lambda")
    val spark = corpus.sparkSession
    // cast id to long and the vector to array<double> IN the frame (the
    // kCenters convention) so a corpus with int ids or double embeddings
    // doesn't ClassCastException at collect time
    val cands = bruteForceTopK(queries, corpus, shortlist, idCol, vecCol)
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__v")),
        "neighbor_id")
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("cos_sim"), col("__v").cast("array<double>").as("__v"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getSeq[Double](3).toArray))
    val rows = cands.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (qid, cs) =>
      var selected = Vector.empty[(Long, Double, Array[Double], Int, Double)]
      for (r <- 1 to math.min(k, cs.length)) {
        val scored = cs
          .filter(c => !selected.exists(_._1 == c._2))
          .map { case (_, id, rel, v) =>
            val maxSim =
              if (selected.isEmpty) 0.0
              else selected.map(s => cosineLocal(v, s._3)).max
            (id, rel, v, lambda * rel - (1.0 - lambda) * maxSim)
          }
        val pick = scored.minBy { case (id, _, _, sc) => (-sc, id) }
        selected :+= ((pick._1, pick._2, pick._3, r, pick._4))
      }
      selected.map { case (id, rel, _, rk, sc) => (qid, id, rk, rel, sc) }
    }
    import spark.implicits._
    rows.toDF("query_id", "vec_id", "mmr_rank", "rel", "mmr_score")
  }

  /** Greedy k-center coreset (Gonzalez 1985 farthest-point traversal):
    * seed with the smallest id, then `k−1` rounds of "add the point
    * farthest (cosine distance) from every selected center" — the
    * 2-approximation to the optimal k-center cover, and the standard
    * DIVERSITY selection for training data (pick prototypes spanning the
    * embedding space, where random sampling oversamples dense regions).
    * `sep_dist` is the selected point's distance to the prior set — the
    * covering radius of the set before the pick, so the column is
    * non-increasing and reads as the "diversity budget" curve.
    *
    * Scale shape (the [[pcaTop]] literal-reentry pattern): each round is
    * ONE distributed scan — the ≤ k selected centers re-enter the plan as
    * literal arrays, every row's min distance is a map-side
    * `1 − greatest(VecCosine…)`, and the argmax is a TakeOrdered(1). The
    * driver holds k vectors, never the corpus; k rounds = k scans.
    */
  def kCenters(corpus: DataFrame, k: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"kCenters needs k >= 1, got $k")
    val spark = corpus.sparkSession
    val pts = spread(corpus, idCol).select(col(idCol).cast("long").as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val seed = pts.orderBy("id").limit(1).collect().headOption
      .getOrElse(throw new IllegalArgumentException("kCenters on an empty corpus"))
    def vecOf(r: org.apache.spark.sql.Row): Array[Double] =
      r.getSeq[Double](1).toArray
    var centers = Vector[(Long, Array[Double])]((seed.getLong(0), vecOf(seed)))
    var out = Vector[(Long, Int, Option[Double])]((seed.getLong(0), 1, None))
    for (r <- 2 to k) {
      val sims = centers.map { case (_, c) =>
        cosine(col("v"), array(c.map(lit): _*))
      }
      val maxSim = if (sims.size == 1) sims.head else greatest(sims: _*)
      val picked = pts
        .where(!col("id").isin(centers.map(_._1): _*))
        .withColumn("d", lit(1.0) - maxSim)
        .orderBy(col("d").desc, col("id").asc)
        .limit(1).collect()
      picked.headOption.foreach { p =>
        centers :+= ((p.getLong(0), vecOf(p)))
        out :+= ((p.getLong(0), r, Some(p.getAs[Double]("d"))))
      }
    }
    import spark.implicits._
    out.map { case (id, r, d) => (r, id, d) }
      .toDF("round", "vec_id", "sep_dist")
  }
}
