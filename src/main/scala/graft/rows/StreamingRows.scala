package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Similarity, TextOps}

import Fixtures._
import QueryRow.{amortizedRow, face, row}

/** Streaming operators in batch mode. */
private[graft] object StreamingRows {
  val rows: Seq[QueryRow] = Seq(

    // ---- streaming dedup (T4) in batch mode: duplicated feed collapses ----
    row("stream_dedup", (s, dir) => {
      val p = pts(s, dir)
      graft.streaming.StreamOps.dedupStream(p.unionByName(p), "1 hour")
    },
      s"""WITH points AS ($PointsCte)
         |SELECT DISTINCT series_id, ts, value
         |FROM (SELECT * FROM points UNION ALL SELECT * FROM points)""".stripMargin),
    // streaming CCNet line dedup, batch face: first-occurrence-per-line-key
    // over the synthesized multi-line corpus — the kept slots must equal
    // the batch rule's rn=1 pick exactly (the twin recomputes it)
    row("stream_line_dedup", (s, dir) =>
      graft.streaming.StreamOps.lineDedupStream(
        lineSynthDocs(Tables(s, dir).documents)).toDF(),
      // Mirrors StreamOps.lineDedupStream's batch face: the pure
      // first-occurrence pick over the shared line CTEs — kept slot per key
      // is the (doc_id, line_no)-minimal one (rn = 1); no boilerplate
      // screen (corpus-global frequencies are deliberately out of the
      // bounded-state streaming operator).
      s"""WITH $LineDedupCtes
         |SELECT doc_id, line_no, line FROM ln WHERE rn = 1""".stripMargin),
    // streaming SEMANTIC near-dup detection, batch face: within-cell
    // cosine pairs against the frozen full-corpus codebook — the same
    // cells dedup_semantic prunes over (shared kmeans chain in the twin)
    row("stream_sem_dups", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val cents = Similarity.kmeansCentroids(e, k = 8, iters = 2).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq)).toSeq
      graft.streaming.StreamOps.semanticDupStream(e, cents, threshold = 0.4)
        .toDF()
    },
      // Mirrors StreamOps.semanticDupStream's batch face: the SAME kmeans
      // cells as dedup_semantic (shared KmeansCtes), emitting every
      // within-cell pair at cosine >= 0.4 — the pre-aggregation pair
      // population dedup_semantic's prune folds over.
      s"""WITH $KmeansCtes,
         |cells AS (SELECT e.vec_id, e.v, af.cluster FROM e JOIN af USING (vec_id))
         |SELECT cell, id_a, id_b, cos_sim FROM (
         |  SELECT a.cluster AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
         |      (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
         |       sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS cos_sim
         |  FROM cells a JOIN cells b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
         |WHERE cos_sim >= 0.4""".stripMargin),
    // streaming ANN serving over a FROZEN IVF-PQ index in batch mode:
    // the retrieval-at-ingest face — index trained+frozen once (its own
    // dir, self-contained), queries answered from the persisted cells/
    // codebooks/codes with the exact ivfPqAdcTopKFrozen arithmetic. The
    // twin recomputes probe + cell-pruned ADC + rank from the same
    // frozen parquet.
    amortizedRow("stream_ann_topk", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val n = e.count()
      val (ceF, cbF, cdF) = amortizedFreeze(StreamAnnFrozenDir, s"ivfpq-$n") {
        Similarity.ivfPqReadFrozen(s, StreamAnnFrozenDir, s"ivfpq-$n")
      } {
        val (cells, cb, cd) = Similarity.ivfPqTrain(e, m = 8, kc = 64,
          iters = 1)
        Similarity.ivfPqFreeze(cells, cb, cd, s"ivfpq-$n", StreamAnnFrozenDir)
      }
      graft.streaming.StreamOps.annServeStream(
        e.where(col("vec_id") < 5), ceF, cbF, cdF, topK = 3, nprobe = 3).toDF()
    },
      // Mirrors stream_ann_topk (m=8, kc=64, nprobe=3, topK=3): the frozen
      // ADC serving twin (no rerank tail — the streaming face serves raw
      // ADC ranks) reading the face's OWN frozen dir. The streaming group
      // function's arithmetic (probe fold, subspace-ordered ADC sum,
      // (adc asc, id asc) rank) must land on exactly these rows.
      annFrozenTwinSql(StreamAnnFrozenDir),
      // frozen ANN serving: the spliced plan IS ivfPqAdcTopKFrozen's, built
      // over temp views of the read-back frozen relations
      face("sql_ann_serve",
          oracle = annFrozenTwinSql(SqlAnnFrozenDir)) { (s, dir) =>
        val e = Tables(s, dir).embeddings
        val n = e.count()
        val (ceF, cbF, cdF) = amortizedFreeze(SqlAnnFrozenDir, s"ivfpq-$n") {
          Similarity.ivfPqReadFrozen(s, SqlAnnFrozenDir, s"ivfpq-$n")
        } {
          val (cells, cb, cd) = Similarity.ivfPqTrain(e, m = 8, kc = 64,
            iters = 1)
          Similarity.ivfPqFreeze(cells, cb, cd, s"ivfpq-$n", SqlAnnFrozenDir)
        }
        viaSql(s, "graft_sql_ann_queries" -> e.where(col("vec_id") < 5),
          "graft_sql_ann_cells" -> ceF, "graft_sql_ann_codebooks" -> cbF,
          "graft_sql_ann_codes" -> cdF)(
          "SELECT * FROM graft_ann_serve('graft_sql_ann_queries', " +
          "'graft_sql_ann_cells', 'graft_sql_ann_codebooks', " +
          "'graft_sql_ann_codes', 3, 3)") }),
    // streaming CMS cells in batch mode: equals cmsSketch exactly
    row("stream_cms", (s, dir) =>
      graft.streaming.StreamOps.cmsStream(
        Tables(s, dir).documents
          .select(explode(TextOps.tokens(col("text"))).as("term")), "term")
        .toDF(),
      s"""WITH tk AS (SELECT unnest($Toks) AS term FROM documents)
         |SELECT CAST(j AS INTEGER) AS j,
         |  (${phSql("term", "201 + j")}) % 1024 AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM tk CROSS JOIN range(0, 3) t(j) GROUP BY 1, 2""".stripMargin),

    // ---- streaming twin in batch mode (tumbling day windows) ----
    row("stream_window_stats", (s, dir) => {
      graft.streaming.StreamOps.windowedStats(pts(s, dir), "1 day", "1 hour")
        .select(col("series_id"),
          unix_micros(col("window.start")).as("win_start_us"),
          col("min_value"), col("max_value"), col("n_points"))
    },
      s"""WITH points AS ($PointsCte)
         |SELECT series_id,
         |  ((ts // 1000) // 86400000000) * 86400000000 AS win_start_us,
         |  min(value) AS min_value, max(value) AS max_value, count(*) AS n_points
         |FROM points GROUP BY 1, 2""".stripMargin)
  )
}
