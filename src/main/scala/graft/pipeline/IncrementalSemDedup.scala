package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Sessions

/** Incremental SEMANTIC dedup — the embedding-side twin of
  * [[IncrementalDedup]], completing the batch/incremental symmetry for the
  * dedup families: a continuously-ingesting corpus keeps its SemDeDup
  * state current without re-clustering 100 TB of embeddings per batch.
  *
  * The coarse k-means codebook is trained ONCE at [[bootstrap]] and then
  * FROZEN — the production policy for cell-blocked embedding indexes
  * (IVF, SemDeDup cells): retraining per batch would relabel every cell
  * and invalidate all prior prune decisions. A new batch therefore only
  * (1) routes its vectors to their nearest frozen centroid (broadcast
  * argmin — map-only over the batch) and (2) scores cosine pairs INSIDE
  * touched cells: new↔existing plus new↔new. Untouched cells are never
  * rescanned; the existing corpus is contacted only through the by-cell
  * pair join.
  *
  * State carried between batches ([[SemState]]):
  *  - `vectors` (vec_id, cluster, vec): the accumulated corpus with its
  *    frozen-cell assignment (at scale this is the corpus table itself,
  *    append-only, clustered by cell);
  *  - `centroids` (cluster, centroid): the frozen codebook — metadata;
  *  - `labels` (vec_id, cluster, is_kept, pruned_by): current verdicts.
  *
  * EXACTNESS CONTRACT: after any sequence of [[addBatch]] calls,
  * [[result]] equals [[Similarity.semanticDedupFrozen]] recomputed on the
  * union corpus against the bootstrap centroids, row for row. The pruning
  * rule (`pruned_by` = lowest-id cell-mate with cosine ≥ threshold,
  * kept or not) needs no transitive closure, so incremental maintenance
  * is one aggregation per batch: a batch vector's candidates are all
  * lower-id cell-mates (old or batch), and an EXISTING vector's verdict
  * can only tighten when a batch id lands BELOW it in its cell — the
  * min-fold `least(old pruned_by, new match)` preserves the global
  * minimum. Ids may interleave arbitrarily with the existing corpus; they
  * must only be globally unique. Pinned by IncrementalSemDedupSpec
  * against full recomputes across multi-batch and interleaved-id splits.
  *
  * Scale shape per batch: one broadcast of the k-row codebook, one
  * cell-keyed pair enumeration bounded by Σ_touched n_cell·n_batch_cell
  * (the SemDeDup cost model restricted to touched cells) with the pair
  * scoring repartitioned on the well-spread pair ids (the
  * [[Similarity.embeddingNearDups]] shape — the cell key alone has only k
  * values), and one id-scale label update.
  */
object IncrementalSemDedup {

  final case class SemState(
      vectors: DataFrame,
      centroids: DataFrame,
      labels: DataFrame,
      threshold: Double)

  /** Train the frozen codebook on the bootstrap corpus and compute its
    * initial verdicts — one full [[Similarity.semanticDedup]]-equivalent
    * pass. Run once; every later batch is incremental.
    */
  def bootstrap(corpus: DataFrame, threshold: Double, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): SemState = {
    val cents = graft.core.Lineage.truncate(
      Similarity.kmeansCentroids(corpus, k, iters, idCol, vecCol))
    val assigned = graft.core.Lineage.truncate(
      Similarity.assignToCentroids(corpus, cents, idCol, vecCol)
        .select("vec_id", "cluster"))
    val vectors = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
      .join(assigned, "vec_id")
      .select("vec_id", "cluster", "vec")
    val labels = graft.core.Lineage.truncate(
      Similarity.semanticDedupFrozen(corpus, cents, threshold, idCol, vecCol))
    SemState(graft.core.Lineage.truncate(vectors), cents, labels, threshold)
  }

  /** Ingest one batch of new vectors (globally-unique ids, any order
    * relative to existing ids). Returns the updated state; cost is
    * touched-cell-scale — the existing corpus enters only through the
    * cell-keyed pair join, and the frozen codebook is never retrained.
    */
  def addBatch(state: SemState, newVecs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): SemState = {
    val assigned = Similarity.assignToCentroids(newVecs, state.centroids,
      idCol, vecCol).select("vec_id", "cluster")
    val nb = graft.core.Lineage.truncate(newVecs
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
      .join(assigned, "vec_id")
      .select("vec_id", "cluster", "vec"))

    // candidate id pairs on the cell key (id-only rows — the cell key has
    // only k distinct values, so vectors attach AFTER repartitioning on
    // the well-spread pair ids): new↔old in both orientations, new↔new
    // ordered. Oriented to (id_a < id_b) so the min-fold below is over
    // the same pair population the batch face enumerates.
    val oldIds = state.vectors.select(col("cluster"), col("vec_id").as("old_id"))
    val newIds = nb.select(col("cluster"), col("vec_id").as("new_id"))
    val newOld = newIds.join(oldIds, Seq("cluster"))
      .select(col("cluster"),
        least(col("new_id"), col("old_id")).as("id_a"),
        greatest(col("new_id"), col("old_id")).as("id_b"))
    val newNew = newIds.join(
        nb.select(col("cluster"), col("vec_id").as("id_b")), Seq("cluster"))
      .where(col("new_id") < col("id_b"))
      .select(col("cluster"), col("new_id").as("id_a"), col("id_b"))
    val allVecs = state.vectors.unionByName(nb)
    val matches = graft.core.Lineage.truncate(newOld.unionByName(newNew)
      // pinned width (AQE-proof) — see Similarity.embeddingNearDups
      .repartition(Sessions.partsOf(nb.sparkSession),
        col("id_a"), col("id_b"))
      .join(allVecs.select(col("vec_id").as("id_a"), col("vec").as("va")), Seq("id_a"))
      .join(allVecs.select(col("vec_id").as("id_b"), col("vec").as("vb")), Seq("id_b"))
      .where(Similarity.cosine(col("va"), col("vb")) >= state.threshold)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min(col("id_a")).as("__cand")))

    // batch verdicts: lowest matching lower-id cell-mate, if any
    val newLabels = nb.select("vec_id", "cluster")
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("__cand").isNull.as("is_kept"), col("__cand").as("pruned_by"))
    // existing verdicts tighten only where a batch id landed below them in
    // their cell: min-fold against the incoming match (id-scale left join)
    val updated = state.labels
      .join(matches, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        least(coalesce(col("pruned_by"), col("__cand")),
          coalesce(col("__cand"), col("pruned_by"))).as("pruned_by"))
      .select(col("vec_id"), col("cluster"),
        col("pruned_by").isNull.as("is_kept"), col("pruned_by"))

    SemState(
      graft.core.Lineage.truncate(allVecs),
      state.centroids,
      graft.core.Lineage.truncate(updated.unionByName(newLabels)),
      state.threshold)
  }

  /** Current verdicts in [[Similarity.semanticDedup]]'s exact shape:
    * (vec_id, cluster, is_kept, pruned_by).
    */
  def result(state: SemState): DataFrame = state.labels
}
