package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Components, Sampling, Similarity, TextOps}

import Fixtures._
import QueryRow.{amortizedRow, face, row}

/** Embedding quantization and similarity search: exact and approximate top-k, product quantization, clustering. */
private[graft] object SimilarityRows {
  val rows: Seq[QueryRow] = Seq(
    // matrix-free top-PC power iteration over the embedding corpus
    row("vec_pca", (s, dir) =>
      Similarity.pcaTop(Tables(s, dir).embeddings, iters = 8),
      // Mirrors Similarity.pcaTop(embeddings, 8): the same matrix-free power
      // iteration — per-dim means, centered rows, v0 = 1/sqrt(d), each round
      // w_j = sum(((x-mu)*v)*(x-mu)_j)/n then normalize — unrolled with
      // MATERIALIZED per-round CTEs (self-referencing chain)
      {
        val iters = 8
        val rounds = (0 until iters).map { k =>
          s"""s$k AS MATERIALIZED (SELECT c, list_sum(list_transform(range(1, len(c) + 1),
           |  i -> c[CAST(i AS INTEGER)] * vv[CAST(i AS INTEGER)])) AS s
           |  FROM c CROSS JOIN v$k),
           |w$k AS MATERIALIZED (SELECT j, sum(s * c[j]) / (SELECT n FROM nn) AS w
           |  FROM s$k CROSS JOIN dims GROUP BY j),
           |l$k AS MATERIALIZED (SELECT sqrt(sum(w * w)) AS lam FROM w$k),
           |v${k + 1} AS MATERIALIZED (SELECT list(w / lam ORDER BY j) AS vv
           |  FROM w$k CROSS JOIN l$k GROUP BY lam)""".stripMargin
        }
        s"""WITH e AS MATERIALIZED (SELECT list_transform(embedding,
         |  x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
         |dims AS MATERIALIZED (SELECT CAST(unnest(range(1,
         |  (SELECT len(v) FROM e LIMIT 1) + 1)) AS INTEGER) AS j),
         |mu AS MATERIALIZED (SELECT list(m ORDER BY j) AS mu FROM (
         |  SELECT j, avg(v[j]) AS m FROM e CROSS JOIN dims GROUP BY j)),
         |c AS MATERIALIZED (SELECT list_transform(range(1, len(v) + 1),
         |  i -> v[CAST(i AS INTEGER)] - mu[CAST(i AS INTEGER)]) AS c
         |  FROM e CROSS JOIN mu),
         |dd AS MATERIALIZED (SELECT CAST(len(c) AS DOUBLE) AS d,
         |  len(c) AS di FROM c LIMIT 1),
         |tv AS MATERIALIZED (SELECT sum(list_sum(list_transform(c, x -> x * x)))
         |  / (SELECT n FROM nn) AS totvar FROM c),
         |v0 AS MATERIALIZED (SELECT list_transform(range(1, di + 1),
         |  i -> 1.0 / sqrt(d)) AS vv FROM dd),
         |${rounds.mkString(",\n")}
         |SELECT CAST(j - 1 AS INTEGER) AS dim, w / lam AS loading,
         |  lam AS eigenvalue, lam / totvar AS var_explained
         |FROM w${iters - 1} CROSS JOIN l${iters - 1} CROSS JOIN tv""".stripMargin
      }),
    // Matryoshka truncation-recall curve: top-3 from the first d dims
    // scored against the full-dim top-3
    row("vec_truncation_recall", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.truncationRecall(e.where(col("vec_id") < 5), e, k = 3,
        dims = Seq(8, 16, 32, 64))
    },
      // Mirrors Similarity.truncationRecall(k=3, dims=8/16/32/64): one
      // brute top-3 CTE per prefix length (cosine over the first d entries,
      // self excluded, (cos desc, id asc)), matched against the full-dim
      // reference t64; recall = matched / reference as one exact division.
      {
        def tk(d: Int) =
          s"""t$d AS (SELECT query_id, neighbor_id FROM (
           |  SELECT q.query_id, c.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY q.query_id ORDER BY
           |      list_sum(list_transform(range(1, ${d + 1}), i -> q.v[i] * c.v[i])) /
           |      (sqrt(list_sum(list_transform(range(1, ${d + 1}), i -> q.v[i] * q.v[i]))) *
           |       sqrt(list_sum(list_transform(range(1, ${d + 1}), i -> c.v[i] * c.v[i])))) DESC,
           |      c.vec_id ASC) AS rank
           |  FROM e c CROSS JOIN q WHERE c.vec_id <> q.query_id) WHERE rank <= 3)""".stripMargin
        val dims = Seq(8, 16, 32, 64)
        def matched(d: Int) =
          s"""(SELECT count(*) FROM t$d tr JOIN t64 rf
           |   ON tr.query_id = rf.query_id AND tr.neighbor_id = rf.neighbor_id)""".stripMargin
        val rows = dims.map(d =>
          s"""SELECT CAST($d AS INTEGER) AS dim_kept, nref.n AS n_ref,
           |  CAST(${matched(d)} AS BIGINT) AS n_matched,
           |  CAST(${matched(d)} AS DOUBLE) / nref.n AS recall
           |FROM nref""".stripMargin).mkString("\nUNION ALL\n")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
         |${dims.map(tk).mkString(",\n")},
         |nref AS (SELECT CAST(count(*) AS BIGINT) AS n FROM t64)
         |$rows""".stripMargin
      }),
    // product quantization: 2 subspaces x 4-centroid codebooks — codes +
    // exact reconstruction error per vector. Codes comma-joined (small
    // ints render identically in both engines): the driver's pandas
    // compare cannot sort/hash raw array cells.
    row("vec_pq", (s, dir) =>
      Similarity.pqEncode(Tables(s, dir).embeddings, m = 2, k = 4, iters = 1)
        .select(col("vec_id"),
          array_join(col("codes").cast("array<string>"), ",").as("codes"),
          col("sq_err")),
      // Mirrors Similarity.pqEncode(m=2, k=4, iters=1), which encodes with
      // pqTrain's codebooks: one kmeansChain per 32-dim subspace slice
      // (shared unrolled-kmeans builder — each pqTrain codebook follows
      // that subspace's kmeans trajectory), codes in subspace order,
      // sq_err the two squared distances summed.
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |e0 AS (SELECT vec_id, v[1:32] AS v FROM e),
         |e1 AS (SELECT vec_id, v[33:64] AS v FROM e),
         |${kmeansChain("q0_", "e0", k = 4, oversample = 4, iters = 1)},
         |${kmeansChain("q1_", "e1", k = 4, oversample = 4, iters = 1)}
         |SELECT a.vec_id,
         |  CAST(a.cluster AS VARCHAR) || ',' || CAST(b.cluster AS VARCHAR) AS codes,
         |  a.dist + b.dist AS sq_err
         |FROM q0_af a JOIN q1_af b USING (vec_id)""".stripMargin),
    // ADC search over the PQ codes: query-side distance tables, corpus
    // side touched only through its m codes
    row("sim_pq_topk", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.pqTopK(e.where(col("vec_id") < 5), e, topK = 3)
    },
      // Mirrors Similarity.pqTopK(topK=3, m=2, kc=4, iters=1): the same two
      // subspace chains; per-query ADC tables against the final centroids
      // (q{j}_c1), scored through the codes alone (q{j}_af.cluster), ranked
      // (adc asc, id asc) with self excluded.
      s"""WITH $PqAdcCtes
         |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, adc_dist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist ASC, neighbor_id ASC) AS rank FROM ad)
         |WHERE rank <= 3""".stripMargin),
    // IVF-PQ: coarse cell probe prunes the search, ADC scores the probed
    // cells through codes alone — the production ANN serving shape
    row("sim_ivfpq_topk", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.ivfPqTopK(e.where(col("vec_id") < 5), e, k = 3, nprobe = 3)
    },
      // Mirrors Similarity.ivfPqTopK(k=3, nprobe=3, m=2, kc=4, iters=1):
      // the sim_ivf_topk probe CTEs (label-cell centroids, cosine rank <=
      // nprobe) restrict the pair space; the sim_pq_topk ADC CTEs score it.
      s"""WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |pm AS (SELECT label, u.pos AS pos, u.x AS x FROM (
         |  SELECT label, unnest(list_transform(range(1, len(v) + 1), i -> struct_pack(pos := i, x := v[i]))) AS u FROM e)),
         |cc1 AS (SELECT label AS cell, pos, avg(x) AS m FROM pm GROUP BY 1, 2),
         |cent AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM cc1 GROUP BY 1),
         |qf AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |probe AS (SELECT query_id, cell FROM (
         |  SELECT qf.query_id, cent.cell,
         |    row_number() OVER (PARTITION BY qf.query_id ORDER BY
         |      list_sum(list_transform(range(1, len(qf.qv) + 1), i -> qf.qv[i] * cent.centroid[i])) /
         |      (sqrt(list_sum(list_transform(range(1, len(qf.qv) + 1), i -> qf.qv[i] * qf.qv[i]))) *
         |       sqrt(list_sum(list_transform(range(1, len(cent.centroid) + 1), i -> cent.centroid[i] * cent.centroid[i])))) DESC,
         |      cent.cell ASC) AS prank
         |  FROM qf CROSS JOIN cent) WHERE prank <= 3),
         |e0 AS (SELECT vec_id, v[1:32] AS v FROM e),
         |e1 AS (SELECT vec_id, v[33:64] AS v FROM e),
         |${kmeansChain("q0_", "e0", k = 4, oversample = 4, iters = 1)},
         |${kmeansChain("q1_", "e1", k = 4, oversample = 4, iters = 1)},
         |dt0 AS (SELECT q.vec_id AS query_id, c.cluster,
         |  list_sum(list_transform(range(1, len(q.v) + 1),
         |    i -> (q.v[i] - c.centroid[i]) * (q.v[i] - c.centroid[i]))) AS d
         |  FROM (SELECT vec_id, v FROM e0 WHERE vec_id < 5) q CROSS JOIN q0_c1 c),
         |dt1 AS (SELECT q.vec_id AS query_id, c.cluster,
         |  list_sum(list_transform(range(1, len(q.v) + 1),
         |    i -> (q.v[i] - c.centroid[i]) * (q.v[i] - c.centroid[i]))) AS d
         |  FROM (SELECT vec_id, v FROM e1 WHERE vec_id < 5) q CROSS JOIN q1_c1 c),
         |sc AS (SELECT a.vec_id AS neighbor_id, e.label AS cell,
         |  a.cluster AS c0, b.cluster AS c1
         |  FROM q0_af a JOIN q1_af b USING (vec_id) JOIN e ON e.vec_id = a.vec_id),
         |ad AS (SELECT dt0.query_id, sc.neighbor_id, dt0.d + dt1.d AS adc_dist
         |  FROM sc JOIN probe p ON p.cell = sc.cell
         |  JOIN dt0 ON dt0.cluster = sc.c0 AND dt0.query_id = p.query_id
         |  JOIN dt1 ON dt1.cluster = sc.c1 AND dt1.query_id = p.query_id
         |  WHERE sc.neighbor_id <> p.query_id)
         |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, adc_dist FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist ASC, neighbor_id ASC) AS rank FROM ad)
         |WHERE rank <= 3""".stripMargin),
    // ADC shortlist + exact cosine re-rank of the top-20 candidates: the
    // refinement step that restores recall at small code sizes
    row("sim_pq_rerank", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.pqTopKRerank(e.where(col("vec_id") < 5), e, topK = 3,
        candidates = 20)
    },
      // Mirrors Similarity.pqTopKRerank(topK=3, candidates=20): the shared
      // ADC chain shortlists 20 per query, then ONLY those rows' raw
      // vectors are exactly cosine-ranked.
      s"""WITH $PqAdcCtes,
         |sl AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist ASC, neighbor_id ASC) AS arank FROM ad)
         |  WHERE arank <= 20),
         |rr AS (SELECT sl.query_id, sl.neighbor_id,
         |  list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i])) /
         |    (sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i]))) *
         |     sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))) AS cos_sim
         |  FROM sl JOIN e q ON q.vec_id = sl.query_id
         |  JOIN e c ON c.vec_id = sl.neighbor_id)
         |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM rr)
         |WHERE rank <= 3""".stripMargin),
    // PQ at PRODUCTION code size (m=8 subspaces x 256-centroid codebooks,
    // 8 bytes/vector at dim 64) with the rerank path — the configuration
    // a real serving tier runs, in the production train-once/serve-many
    // shape: pqTrain persists the model (codebooks + codes) to parquet
    // and the query scores through the FROZEN files read back, never the
    // in-memory training lineage. That split is also what makes the
    // oracle tractable: 8 unrolled 256-centroid kmeans chains are not
    // SQL-expressible, but the serving arithmetic is — the DuckDB twin
    // reads the same frozen parquet and independently recomputes the
    // ADC distance tables, code-table scoring, shortlist, and exact
    // rerank. Training itself is oracle-covered at m=2: vec_pq and
    // sim_pq_topk run pqTrain (then pqAdcTopKFrozen for sim_pq_topk)
    // against unrolled per-subspace kmeans twins — the code path this row
    // trains through, with smaller constants.
    // The freeze is keyed by corpus size so sf0.01/sf0.1 runs coexist
    // and the twin picks its own SF's partition.
    amortizedRow("sim_pq_prod", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val n = e.count()
      val (cbF, cdF) = amortizedFreeze(PqFrozenDir, s"pqprod-$n") {
        Similarity.pqReadFrozen(s, PqFrozenDir, s"pqprod-$n")
      } {
        val (cb, cd) = Similarity.pqTrain(e, m = 8, kc = 256, iters = 1)
        Similarity.pqFreeze(cb, cd, s"pqprod-$n", PqFrozenDir)
      }
      Similarity.pqRerankFrozen(e.where(col("vec_id") < 5), e, cbF, cdF,
        topK = 3, candidates = 100)
    },
      // Mirrors sim_pq_prod (m=8, kc=256, candidates=100, topK=3) over the
      // FROZEN model the Spark side persisted during Verify: reads the same
      // codebooks/codes parquet (partition keyed by corpus size — matched
      // to this SF via count(*) FROM embeddings) and independently
      // recomputes the per-query ADC distance tables (squared L2 of each
      // 8-dim query slice to every centroid), the code-table scoring
      // (subspace-ordered sum of 8 lookups), the 100-deep shortlist
      // (adc asc, id asc), and the exact cosine rerank of the shortlisted
      // raw vectors. Training is deliberately out of the twin (not
      // SQL-expressible at kc=256) — it is oracle-covered at m=2 by
      // vec_pq/sim_pq_topk, which train through the same pqTrain.
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
         |mid AS (SELECT 'pqprod-' || CAST(count(*) AS VARCHAR) AS k FROM embeddings),
         |cb AS (SELECT subspace, cluster, centroid
         |  FROM read_parquet('$PqFrozenDir/codebooks/*/*.parquet', hive_partitioning = 1)
         |  WHERE CAST(model_id AS VARCHAR) = (SELECT k FROM mid)),
         |cd AS (SELECT vec_id AS neighbor_id, subspace, cluster
         |  FROM read_parquet('$PqFrozenDir/codes/*/*.parquet', hive_partitioning = 1)
         |  WHERE CAST(model_id AS VARCHAR) = (SELECT k FROM mid)),
         |dt AS (SELECT q.query_id, cb.subspace, cb.cluster,
         |  list_sum(list_transform(range(1, len(cb.centroid) + 1),
         |    i -> (q.v[cb.subspace * len(cb.centroid) + i] - cb.centroid[i])
         |       * (q.v[cb.subspace * len(cb.centroid) + i] - cb.centroid[i]))) AS d
         |  FROM q CROSS JOIN cb),
         |ad AS (SELECT dt.query_id, cd.neighbor_id,
         |  list_sum(list(dt.d ORDER BY dt.subspace)) AS adc_dist
         |  FROM cd JOIN dt USING (subspace, cluster)
         |  WHERE cd.neighbor_id <> dt.query_id GROUP BY 1, 2),
         |sl AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist ASC, neighbor_id ASC) AS arank FROM ad)
         |  WHERE arank <= 100),
         |rr AS (SELECT sl.query_id, sl.neighbor_id,
         |  ${vecCosSql("qe.v", "ce.v")} AS cos_sim
         |  FROM sl JOIN e qe ON qe.vec_id = sl.query_id
         |  JOIN e ce ON ce.vec_id = sl.neighbor_id)
         |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM rr)
         |WHERE rank <= 3""".stripMargin),
    // The COMPLETE production ANN read path, frozen end to end: IVF cell
    // pruning in front of PQ code scoring in front of exact rerank —
    // probe the frozen cell centroids (nprobe=3 of the corpus' label
    // cells), scan ONLY probed cells' codes through the frozen codebooks'
    // ADC tables, exact-cosine-rerank the 50-candidate shortlist. Same
    // train-once/serve-many shape as sim_pq_prod (model persisted keyed
    // by corpus size, query serves from the READ-BACK files) with the
    // coarse level persisted too; the DuckDB twin recomputes probe + ADC
    // + rerank from the same frozen parquet. m=8 keeps the production
    // 8-codes-per-vector layout; kc=64 books train 4x faster than
    // sim_pq_prod's 256 — the 256-codebook trajectory is already
    // oracle-covered there, while THIS row's new surface is the frozen
    // cell-pruned serving.
    // frozen-index MAINTENANCE: train+freeze PQ codebooks on the
    // bootstrap corpus (vec_id % 3 <> 0), then encode the HELD-OUT batch
    // against the frozen books — the ingest half of train-once/serve-many
    // (the dedup_sem_inc shape for the PQ family). The twin recomputes
    // the argmin assignment (same (dist, cluster) tie-break) from the
    // same frozen parquet.
    amortizedRow("sim_pq_addbatch", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val boot = e.where(col("vec_id") % 3 =!= 0)
      val batch = e.where(col("vec_id") % 3 === 0)
      val nBoot = boot.count()
      val cbF = amortizedFreeze(PqAddFrozenDir, s"pqadd-$nBoot") {
        Similarity.pqReadFrozen(s, PqAddFrozenDir, s"pqadd-$nBoot")._1
      } {
        val (cb, cd) = Similarity.pqTrain(boot, m = 4, kc = 16, iters = 1)
        Similarity.pqFreeze(cb, cd, s"pqadd-$nBoot", PqAddFrozenDir)._1
      }
      Similarity.pqEncodeFrozen(batch, cbF)
    },
      // Mirrors sim_pq_addbatch: encode the held-out batch (vec_id % 3 = 0)
      // against the bootstrap-frozen codebooks — per (vector, subspace) the
      // argmin cluster by squared L2 with the training assignment's exact
      // (dist, cluster) tie-break, recomputed from the same frozen parquet.
      pqAddTwinSql(PqAddFrozenDir)),
    // the same frozen-index maintenance AT INGEST: arriving vectors are
    // encoded against the frozen codebooks by a stateless narrow map —
    // pqEncodeFrozen's argmin kernel with a per-row width guard, so the
    // op also runs on a stream; this row runs it in batch mode, and
    // StreamOpsSpec drives it as a real two-batch MemoryStream plus the
    // foreachBatch append sink into the frozen codes relation
    amortizedRow("stream_pq_addbatch", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val boot = e.where(col("vec_id") % 3 =!= 0)
      val batch = e.where(col("vec_id") % 3 === 0)
      val nBoot = boot.count()
      val cbF = amortizedFreeze(StreamPqAddFrozenDir, s"pqadd-$nBoot") {
        Similarity.pqReadFrozen(s, StreamPqAddFrozenDir, s"pqadd-$nBoot")._1
      } {
        val (cb, cd) = Similarity.pqTrain(boot, m = 4, kc = 16, iters = 1)
        Similarity.pqFreeze(cb, cd, s"pqadd-$nBoot", StreamPqAddFrozenDir)._1
      }
      graft.streaming.StreamOps.pqEncodeStream(batch, cbF)
    },
      // Mirrors stream_pq_addbatch: the SAME maintenance arithmetic (the
      // streaming encode runs assignStep's argmin kernel), reading the
      // stream face's own frozen dir.
      pqAddTwinSql(StreamPqAddFrozenDir)),
    row("sim_ivfpq_prod", (s, dir) => {
      val e = Tables(s, dir).embeddings
      val n = e.count()
      val (cells, cb, cd) = Similarity.ivfPqTrain(e, m = 8, kc = 64,
        iters = 1)
      val (ceF, cbF, cdF) = Similarity.ivfPqFreeze(cells, cb, cd,
        s"ivfpq-$n", IvfPqFrozenDir)
      Similarity.ivfPqRerankFrozen(e.where(col("vec_id") < 5), e, ceF, cbF,
        cdF, topK = 3, candidates = 50, nprobe = 3)
    },
      // Mirrors sim_ivfpq_prod (m=8, kc=64, nprobe=3, candidates=50,
      // topK=3) over the FROZEN index the Spark side persisted during
      // Verify: reads the same cells/codebooks/codes parquet (partition
      // keyed by corpus size) and independently recomputes the coarse
      // probe (cosine of each query to every frozen cell centroid, top
      // nprobe by csim desc / cell asc), the ADC distance tables, the
      // cell-restricted code scoring, the 50-deep shortlist, and the exact
      // cosine rerank. Training stays out of the twin like sim_pq_prod's.
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 5),
         |mid AS (SELECT 'ivfpq-' || CAST(count(*) AS VARCHAR) AS k FROM embeddings),
         |ce AS (SELECT cell, centroid
         |  FROM read_parquet('$IvfPqFrozenDir/cells/*/*.parquet', hive_partitioning = 1)
         |  WHERE CAST(model_id AS VARCHAR) = (SELECT k FROM mid)),
         |cb AS (SELECT subspace, cluster, centroid
         |  FROM read_parquet('$IvfPqFrozenDir/codebooks/*/*.parquet', hive_partitioning = 1)
         |  WHERE CAST(model_id AS VARCHAR) = (SELECT k FROM mid)),
         |cd AS (SELECT vec_id AS neighbor_id, CAST(cell AS INTEGER) AS cell,
         |    subspace, cluster
         |  FROM read_parquet('$IvfPqFrozenDir/codes/*/*/*.parquet', hive_partitioning = 1)
         |  WHERE CAST(model_id AS VARCHAR) = (SELECT k FROM mid)),
         |probe AS (SELECT query_id, cell FROM (
         |  SELECT q.query_id, ce.cell,
         |    row_number() OVER (PARTITION BY q.query_id ORDER BY
         |      ${vecCosSql("q.v", "ce.centroid")} DESC, ce.cell ASC) AS prank
         |  FROM q CROSS JOIN ce) WHERE prank <= 3),
         |dt AS (SELECT q.query_id, cb.subspace, cb.cluster,
         |  list_sum(list_transform(range(1, len(cb.centroid) + 1),
         |    i -> (q.v[cb.subspace * len(cb.centroid) + i] - cb.centroid[i])
         |       * (q.v[cb.subspace * len(cb.centroid) + i] - cb.centroid[i]))) AS d
         |  FROM q CROSS JOIN cb),
         |ad AS (SELECT dt.query_id, cd.neighbor_id,
         |  list_sum(list(dt.d ORDER BY dt.subspace)) AS adc_dist
         |  FROM cd JOIN probe p ON p.cell = cd.cell
         |  JOIN dt ON dt.subspace = cd.subspace AND dt.cluster = cd.cluster
         |    AND dt.query_id = p.query_id
         |  WHERE cd.neighbor_id <> dt.query_id GROUP BY 1, 2),
         |sl AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_dist ASC, neighbor_id ASC) AS arank FROM ad)
         |  WHERE arank <= 50),
         |rr AS (SELECT sl.query_id, sl.neighbor_id,
         |  ${vecCosSql("qe.v", "ce2.v")} AS cos_sim
         |  FROM sl JOIN e qe ON qe.vec_id = sl.query_id
         |  JOIN e ce2 ON ce2.vec_id = sl.neighbor_id)
         |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM rr)
         |WHERE rank <= 3""".stripMargin),

    // ---- int8 embedding quantization ----
    row("vec_quantize", (s, dir) =>
      Similarity.quantizeInt8(Tables(s, dir).embeddings)
        .select(col("vec_id"), col("scale"),
          array_join(col("qvec").cast("array<string>"), ",").as("qvec")),
      // Mirrors Similarity.quantizeInt8 — same op order (scale first, then
      // one division per element) so the doubles agree bit-for-bit.
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |s AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale, v FROM e)
        |SELECT vec_id, scale, array_to_string(
        |  CASE WHEN scale > 0 THEN list_transform(v, x -> CAST(round(x / scale) AS INTEGER))
        |       ELSE list_transform(v, x -> 0) END, ',') AS qvec
        |FROM s""".stripMargin),
    // per-dimension drift/collapse profile
    row("vec_dim_stats", (s, dir) => Similarity.dimStats(Tables(s, dir).embeddings),
      // Mirrors Similarity.dimStats: parallel unnest zips (index, element);
      // the 0-based range matches posexplode's pos.
      """WITH u AS (SELECT CAST(unnest(range(0, len(embedding))) AS INTEGER) AS dim,
        |  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)
        |SELECT dim, CAST(count(*) AS BIGINT) AS n, avg(v) AS mean,
        |  stddev_samp(v) AS std, min(v) AS min_v, max(v) AS max_v
        |FROM u GROUP BY 1""".stripMargin),
    // per-dimension whitening against the corpus moments: the
    // preprocessing before clustering/ANN when dimension scales differ.
    // Emitted long-form (vec_id, dim, z): the driver's pandas compare
    // cannot sort/hash raw array cells (same reason text_inverted_index
    // joins its postings), and a double→string render would have to match
    // bit-for-bit across engines — exploding keeps z a plain double.
    // (outer explode: InferFiltersFromGenerate would otherwise push the
    // whole projection expression into a `size(...) > 0` scan filter and
    // evaluate the kernel twice per row — the r9 signature-kernel trap)
    row("vec_standardize", (s, dir) =>
      Similarity.standardize(Tables(s, dir).embeddings)
        .select(col("vec_id"),
          posexplode_outer(col("zvec")).as(Seq("dim", "z"))),
      // Mirrors Similarity.standardize: the vec_dim_stats moments joined
      // back per (vector, dim), dead dims to 0, long-form (the driver's
      // pandas compare cannot sort/hash raw array cells). Null/empty
      // embeddings produce zero rows on BOTH sides: standardize's inner
      // posexplode drops them before zvec is assembled (the entry's outer
      // explode is a perf guard, never reached by a null), and here
      // unnest(range(0, len(NULL/[]))) emits nothing.
      """WITH u AS (SELECT vec_id,
        |  CAST(unnest(range(0, len(embedding))) AS INTEGER) AS dim,
        |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |st AS (SELECT dim, avg(x) AS mean, stddev_samp(x) AS std FROM u GROUP BY 1)
        |SELECT u.vec_id, u.dim, CASE WHEN st.std > 0
        |    THEN (u.x - st.mean) / st.std ELSE 0.0 END AS z
        |FROM u JOIN st USING (dim)""".stripMargin),
    // JL sign random projection 64 -> 16: data-independent dimensionality
    // reduction (Achlioptas signs), unrolled pinned-order expression.
    // Long-form (vec_id, dim, rp_v) for the same array-cell reason as
    // vec_standardize.
    row("vec_rp", (s, dir) =>
      Similarity.randomProject(Tables(s, dir).embeddings)
        .select(col("vec_id"),
          posexplode_outer(col("rp")).as(Seq("dim", "rp_v"))),
      // Mirrors Similarity.randomProject(16, 64): the sign literals come
      // from the SAME rpSign function the projection kernel reads, and each
      // output dim is the same left-to-right signed chain over v[1..64] —
      // bit-identical accumulation in both engines.
      // Null vectors are dropped on BOTH sides (randomProject filters
      // them; without the WHERE this twin would emit 16 null rows per
      // null vector). A wrong-dim vector raises on the Spark side — the
      // contract, not expressible here.
      s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL),
         |r AS (SELECT vec_id, [${rpListSql("v")}] AS rp FROM e)
         |SELECT vec_id, CAST(unnest(range(0, len(rp))) AS INTEGER) AS dim,
         |  unnest(rp) AS rp_v FROM r""".stripMargin,
      // long-form like vec_rp: the oracle compare (tools/compare.py) cannot
      // sort/hash raw array cells
      face("sql_rp") { (s, dir) =>
        viaSql(s, "graft_sql_emb_rp" -> Tables(s, dir).embeddings)(
          "SELECT vec_id, dim, rp_v FROM " +
          "graft_random_project('graft_sql_emb_rp', 16, 64) " +
          "LATERAL VIEW OUTER posexplode(rp) pe AS dim, rp_v") }),
    // one-row isotropy audit: hash-paired sample cosine moments + the
    // centroid-offset ratio — decides whether cosine geometry is healthy
    // (and whether vec_standardize is needed) before any ANN serving
    row("vec_isotropy", (s, dir) =>
      Similarity.isotropy(Tables(s, dir).embeddings),
      // Mirrors Similarity.isotropy(nBuckets=256, salt="isotropy"): same
      // CW-hash bucket pairing ((hv, id) lexicographic min/max per bucket,
      // singleton buckets skipped), same VecCosine arithmetic, same
      // co-moment sample-sd and centroid-norm formulas.
      {
        val a = Sampling.saltMult("isotropy")
        val b = Sampling.saltAdd("isotropy")
        s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |h AS (SELECT vec_id, v,
         |  ((${phSql("CAST(vec_id AS VARCHAR)", "0")}) * $a + $b) % 1000000007 AS hv FROM e),
         |bk AS (SELECT vec_id, hv, hv % 256 AS bucket FROM h),
         |rk AS (SELECT bucket, vec_id,
         |  row_number() OVER (PARTITION BY bucket ORDER BY hv, vec_id) AS rn,
         |  row_number() OVER (PARTITION BY bucket ORDER BY hv DESC, vec_id DESC) AS rd
         |  FROM bk),
         |sel AS (SELECT lo.vec_id AS id_a, hi.vec_id AS id_b FROM rk lo JOIN rk hi
         |  ON lo.bucket = hi.bucket AND lo.rn = 1 AND hi.rd = 1
         |  AND lo.vec_id <> hi.vec_id),
         |pc AS (SELECT
         |  list_sum(list_transform(range(1, len(ea.v) + 1), i -> ea.v[i] * eb.v[i])) /
         |    (sqrt(list_sum(list_transform(range(1, len(ea.v) + 1), i -> ea.v[i] * ea.v[i]))) *
         |     sqrt(list_sum(list_transform(range(1, len(eb.v) + 1), i -> eb.v[i] * eb.v[i])))) AS c
         |  FROM sel JOIN e ea ON ea.vec_id = sel.id_a JOIN e eb ON eb.vec_id = sel.id_b),
         |pa AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs, sum(c) AS sc,
         |  sum(c * c) AS scc FROM pc),
         |no AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors,
         |  avg(sqrt(list_sum(list_transform(v, x -> x * x)))) AS mean_norm FROM e),
         |dm AS (SELECT CAST(unnest(range(0, len(embedding))) AS INTEGER) AS dim,
         |  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
         |ce AS (SELECT sqrt(sum(m * m)) AS center_norm FROM
         |  (SELECT avg(x) AS m FROM dm GROUP BY dim))
         |SELECT no.n_vectors, pa.n_pairs,
         |  pa.sc / CAST(pa.n_pairs AS DOUBLE) AS mean_pair_cos,
         |  CASE WHEN pa.n_pairs > 1 THEN
         |    sqrt((CAST(pa.n_pairs AS DOUBLE) * pa.scc - pa.sc * pa.sc)
         |      / (CAST(pa.n_pairs AS DOUBLE) * (CAST(pa.n_pairs AS DOUBLE) - 1.0)))
         |  END AS sd_pair_cos,
         |  no.mean_norm, ce.center_norm,
         |  ce.center_norm / no.mean_norm AS anisotropy
         |FROM pa CROSS JOIN no CROSS JOIN ce""".stripMargin
      },
      face("sql_isotropy") { (s, dir) =>
        viaSql(s, "graft_sql_emb_iso" -> Tables(s, dir).embeddings)(
          "SELECT * FROM graft_isotropy('graft_sql_emb_iso')") }),
    // centroid-distance outliers within each label: embedding-space
    // mislabel/noise screening
    row("vec_outliers", (s, dir) =>
      Similarity.labelOutliers(Tables(s, dir).embeddings),
      // Mirrors Similarity.labelOutliers: per-(label, dim) centroid means,
      // L2 distance per vector, z from the explicit (n, Σd, Σd²) sample
      // variance — the same guarded formula term-for-term.
      """WITH e AS (SELECT vec_id, label,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |dx AS (SELECT vec_id, label,
        |  CAST(unnest(range(1, len(v) + 1)) AS INTEGER) AS i, v FROM e),
        |d AS (SELECT vec_id, label, i - 1 AS dim, v[i] AS x FROM dx),
        |c AS (SELECT label, dim, avg(x) AS mu FROM d GROUP BY 1, 2),
        |dd AS (SELECT d.vec_id, d.label,
        |  sqrt(sum((d.x - c.mu) * (d.x - c.mu))) AS dist
        |  FROM d JOIN c ON c.label = d.label AND c.dim = d.dim GROUP BY 1, 2),
        |m AS (SELECT label, CAST(count(*) AS BIGINT) AS n, sum(dist) AS s,
        |  sum(dist * dist) AS ss FROM dd GROUP BY 1),
        |f AS (SELECT dd.vec_id, dd.label, dd.dist,
        |  CASE WHEN m.n >= 2 AND
        |    (CAST(m.n AS DOUBLE) * m.ss - m.s * m.s)
        |      / (CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) - 1)) > 0
        |  THEN (dd.dist - m.s / CAST(m.n AS DOUBLE))
        |    / sqrt(greatest((CAST(m.n AS DOUBLE) * m.ss - m.s * m.s)
        |      / (CAST(m.n AS DOUBLE) * (CAST(m.n AS DOUBLE) - 1)), CAST(0 AS DOUBLE)))
        |  END AS z_score
        |  FROM dd JOIN m USING (label))
        |SELECT vec_id, label, round(dist, 6) AS dist,
        |  round(z_score, 6) AS z_score,
        |  coalesce(z_score > 2.5, false) AS is_outlier FROM f""".stripMargin,
      face("sql_outliers") { (s, dir) =>
        viaSql(s, "graft_sql_embeddings" -> Tables(s, dir).embeddings)(
          "SELECT * FROM graft_label_outliers('graft_sql_embeddings')") }),

    // ---- similarity search ----
    row("sim_topk", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.bruteForceTopK(e.where(col("vec_id") < 5), e, k = 3)
    },
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i]))) *
        |     sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))) AS cos_sim
        |FROM e c CROSS JOIN q WHERE c.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        |  FROM s) WHERE rank <= 3""".stripMargin),
    // RP-shortlisted exact top-k: JL-projected 16-dim cosine shortlist of
    // 50, exact cosine re-rank on those rows only — the zero-training
    // shortlist-then-refine serving shape beside the PQ family
    row("sim_rp_topk", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.rpTopK(e.where(col("vec_id") < 5), e, k = 3, shortlist = 50)
    },
      // Mirrors Similarity.rpTopK(k=3, shortlist=50): shared rpListSql
      // projection, rp-space cosine shortlist with the (sim desc, id asc)
      // cut, exact cosine re-rank on the shortlist rows only.
      {
        def cosSql(a: String, b: String) =
          s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])) / " +
            s"(sqrt(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $a[i]))) * " +
            s"sqrt(list_sum(list_transform(range(1, len($b) + 1), i -> $b[i] * $b[i]))))"
        s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |r AS (SELECT vec_id, [${rpListSql("v")}] AS rp FROM e),
         |q AS (SELECT vec_id AS query_id, rp AS qrp FROM r WHERE vec_id < 5),
         |s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
         |  ${cosSql("c.rp", "q.qrp")} AS rp_sim
         |  FROM r c CROSS JOIN q WHERE c.vec_id <> q.query_id),
         |sl AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY rp_sim DESC, neighbor_id ASC) AS rr FROM s) WHERE rr <= 50),
         |x AS (SELECT sl.query_id, sl.neighbor_id,
         |  ${cosSql("ea.v", "eb.v")} AS cos_sim
         |  FROM sl JOIN e ea ON ea.vec_id = sl.query_id
         |  JOIN e eb ON eb.vec_id = sl.neighbor_id)
         |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM x) WHERE rank <= 3""".stripMargin
      }),
    // int8 scalar-quantized shortlist (integer-exact quantized cosine —
    // the per-vector scales cancel) + exact re-rank: the zero-training
    // serving sibling of the PQ family
    row("sim_sq_topk", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.sqTopK(e.where(col("vec_id") < 5), e, k = 3, shortlist = 50)
    },
      // Mirrors Similarity.sqTopK(k=3, shortlist=50): same per-vector
      // symmetric int8 quantization as vec_quantize, quantized cosine over
      // the integer components (exact in doubles), exact-cosine re-rank.
      {
        def cosSql(a: String, b: String) =
          s"list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $b[i])) / " +
            s"(sqrt(list_sum(list_transform(range(1, len($a) + 1), i -> $a[i] * $a[i]))) * " +
            s"sqrt(list_sum(list_transform(range(1, len($b) + 1), i -> $b[i] * $b[i]))))"
        s"""WITH e AS (SELECT vec_id,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |s0 AS (SELECT vec_id, list_max(list_transform(v, x -> abs(x))) / 127.0
         |  AS scale, v FROM e),
         |qz AS (SELECT vec_id, CASE WHEN scale > 0
         |    THEN list_transform(v, x ->
         |      CAST(CAST(round(x / scale) AS INTEGER) AS DOUBLE))
         |    ELSE list_transform(v, x -> CAST(0 AS DOUBLE)) END AS q FROM s0),
         |qq AS (SELECT vec_id AS query_id, q AS qv FROM qz WHERE vec_id < 5),
         |sc AS (SELECT qq.query_id, c.vec_id AS neighbor_id,
         |  ${cosSql("c.q", "qq.qv")} AS sq_sim
         |  FROM qz c CROSS JOIN qq WHERE c.vec_id <> qq.query_id),
         |sl AS (SELECT query_id, neighbor_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sq_sim DESC, neighbor_id ASC) AS rr FROM sc) WHERE rr <= 50),
         |x AS (SELECT sl.query_id, sl.neighbor_id,
         |  ${cosSql("ea.v", "eb.v")} AS cos_sim
         |  FROM sl JOIN e ea ON ea.vec_id = sl.query_id
         |  JOIN e eb ON eb.vec_id = sl.neighbor_id)
         |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id ASC) AS rank FROM x) WHERE rank <= 3""".stripMargin
      }),
    // hybrid retrieval: BM25 top-20 fused with cosine top-20 for vector 0
    // by reciprocal-rank fusion (k_rrf = 60)
    row("retrieve_rrf", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val lex = TextOps.bm25(t.documents, "table scan sort key", k = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)))
      val vec = Similarity.bruteForceTopK(
        t.embeddings.where(col("vec_id") === 0), t.embeddings, k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      Similarity.rrfFuse(lex, vec, "doc_id", "rank", k = 10)
    },
      // Mirrors Similarity.rrfFuse over bm25 top-20 + cosine top-20 for
      // vector 0: the shared bm25 CTEs, the sim_topk cosine body at
      // query_id = 0, both ranked (score desc, id asc), fused with the
      // pinned coalesce(1/(60+ra),0) + coalesce(1/(60+rb),0) term order.
      s"""WITH $Bm25Ctes,
         |lex0 AS (SELECT doc_id, score FROM bm25
         |  ORDER BY score DESC, doc_id ASC LIMIT 20),
         |lex AS (SELECT doc_id, CAST(row_number() OVER (
         |  ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rank_a FROM lex0),
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id = 0),
         |s AS (SELECT c.vec_id AS doc_id,
         |  list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.v[i])) /
         |    (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i]))) *
         |     sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))) AS cos_sim
         |FROM e c CROSS JOIN q WHERE c.vec_id <> q.query_id),
         |vec AS (SELECT doc_id, CAST(rank AS BIGINT) AS rank_b FROM (
         |  SELECT doc_id, row_number() OVER (ORDER BY cos_sim DESC, doc_id ASC) AS rank
         |  FROM s) WHERE rank <= 20),
         |f AS (SELECT doc_id, rank_a, rank_b,
         |  coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + rank_a), CAST(0 AS DOUBLE))
         |    + coalesce(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + rank_b), CAST(0 AS DOUBLE))
         |    AS rrf_score
         |  FROM lex FULL OUTER JOIN vec USING (doc_id))
         |SELECT doc_id, rank_a, rank_b, rrf_score FROM f
         |ORDER BY rrf_score DESC, doc_id ASC LIMIT 10""".stripMargin),
    // embedding-space drift between the even/odd id slices: per-dimension
    // centroid gap — the representation-space drift check
    row("vec_drift", (s, dir) =>
      Similarity.embeddingDrift(Tables(s, dir).embeddings,
        col("vec_id") % 2 === 0),
      // Mirrors Similarity.embeddingDrift over the even/odd slices: same
      // 0-based dims, same per-(dim, slice) mean.
      """WITH e AS (SELECT vec_id % 2 = 0 AS in_a,
        |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |x AS (SELECT in_a, CAST(unnest(range(1, len(v) + 1)) - 1 AS INTEGER) AS dim,
        |  unnest(v) AS xv FROM e),
        |m AS (SELECT dim, in_a, CAST(count(*) AS BIGINT) AS n, avg(xv) AS mean
        |  FROM x GROUP BY 1, 2)
        |SELECT coalesce(a.dim, b.dim) AS dim,
        |  a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
        |  abs(a.mean - b.mean) AS mean_gap
        |FROM (SELECT * FROM m WHERE in_a) a
        |FULL OUTER JOIN (SELECT * FROM m WHERE NOT in_a) b ON a.dim = b.dim""".stripMargin),
    // mutual k-NN graph over the embedding corpus (k = 3): edges only
    // where BOTH endpoints rank each other — the clustering/manifold
    // graph construction, hub vertices pruned by mutuality. Cell-blocked
    // candidates (nprobe=3 over trained kmeans cells) — the 100 TB shape;
    // vec_knn_brute is the corpus x corpus exact twin kept as the audit.
    // kCells pinned to 8 = the oracle twin's unrolled chain (the library
    // DEFAULT is the corpus-scaled cellsFor(n) policy)
    row("vec_knn_graph", (s, dir) =>
      Similarity.knnGraph(Tables(s, dir).embeddings, k = 3, nprobe = 3,
        kCells = 8),
      // Mirrors Similarity.knnGraph(k=3): all-pairs cosine, per-query
      // (cos desc, id asc) top-3, mutuality via self-join, a < b edges.
      // Mirrors the cell-blocked default (k=3, nprobe=3 over trained kmeans cells).
      s"""WITH $KnnCellCtes
         |SELECT id_a, id_b, cos_sim FROM knn_edges""".stripMargin),
    // the exact quadratic baseline the cell-blocked default is audited
    // against (SimilaritySpec pins the recall floor and the equality when
    // every cell is probed)
    row("vec_knn_brute", (s, dir) =>
      Similarity.knnGraphBrute(Tables(s, dir).embeddings, k = 3),
      // Mirrors Similarity.knnGraphBrute — the exact corpus x corpus
      // baseline the cell-blocked default is audited against.
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |s AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
         |  ${vecCosSql("a.v", "b.v")} AS c
         |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
         |r AS (SELECT qa, qb, c, row_number() OVER (
         |  PARTITION BY qa ORDER BY c DESC, qb ASC) AS rk FROM s),
         |t AS (SELECT qa, qb, c FROM r WHERE rk <= 3)
         |SELECT t.qa AS id_a, t.qb AS id_b, t.c AS cos_sim
         |FROM t JOIN t t2 ON t.qa = t2.qb AND t.qb = t2.qa
         |WHERE t.qa < t.qb""".stripMargin),
    // greedy k-center coreset (farthest-point traversal, k = 8): the
    // diversity selection over the embedding space — prototypes spanning
    // the corpus where random sampling oversamples dense regions
    row("vec_kcenter", (s, dir) =>
      Similarity.kCenters(Tables(s, dir).embeddings, k = 8),
      KCenterOracle,
      face("sql_kcenter") { (s, dir) =>
        viaSql(s, "graft_sql_emb_kc" -> Tables(s, dir).embeddings)(
          "SELECT * FROM graft_kcenter('graft_sql_emb_kc', 8)") }),
    // graph-based embedding clustering: connected components of the
    // mutual k-NN graph — density-adaptive communities with no k to
    // choose and hubs already pruned by mutuality (pure composition of
    // two verified operators, on the cell-blocked graph like production)
    row("vec_clusters", (s, dir) =>
      Components.clustersFromPairs(
        Similarity.knnGraph(Tables(s, dir).embeddings, k = 3, nprobe = 3,
          kCells = 8),
        "id_a", "id_b")
        .withColumnRenamed("doc_id", "vec_id"),
      // Mirrors the knn-graph clustering composition: the shared
      // cell-blocked KnnCellCtes rebadged to `mh_pairs(id_a, id_b)` so the
      // shared ClosureCtes (which closes over that name) resolves the
      // components.
      s"""WITH RECURSIVE $KnnCellCtes,
         |mh_pairs AS (SELECT id_a, id_b FROM knn_edges),
         |$ClosureCtes
         |SELECT c.doc_id AS vec_id, c.cluster_id, sz.cluster_size,
         |  c.doc_id = c.cluster_id AS is_canonical
         |FROM comps c JOIN sizes sz USING (cluster_id)""".stripMargin),
    // MMR diversified retrieval for vector 0: greedy λ·rel − (1−λ)·maxsim
    // over the cosine top-20 shortlist (λ = 0.7, k = 5)
    row("retrieve_mmr", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.mmrSelect(e.where(col("vec_id") === 0), e, k = 5, shortlist = 20)
    },
      MmrOracle),
    row("sim_ivf_topk", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.ivfTopK(e.where(col("vec_id") < 5), e, k = 3, nprobe = 3)
    },
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |pm AS (SELECT label, u.pos AS pos, u.x AS x FROM (
        |  SELECT label, unnest(list_transform(range(1, len(v) + 1), i -> struct_pack(pos := i, x := v[i]))) AS u FROM e)),
        |c1 AS (SELECT label AS cell, pos, avg(x) AS m FROM pm GROUP BY 1, 2),
        |cent AS (SELECT cell, list(m ORDER BY pos) AS centroid FROM c1 GROUP BY 1),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
        |probe AS (SELECT query_id, qv, cell FROM (
        |  SELECT q.query_id, q.qv, cent.cell,
        |    row_number() OVER (PARTITION BY q.query_id ORDER BY
        |      list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * cent.centroid[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(cent.centroid) + 1), i -> cent.centroid[i] * cent.centroid[i])))) DESC,
        |      cent.cell ASC) AS prank
        |  FROM q CROSS JOIN cent) WHERE prank <= 3),
        |s AS (SELECT p.query_id, c.vec_id AS neighbor_id,
        |  list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * c.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * p.qv[i]))) *
        |     sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))) AS cos_sim
        |FROM e c JOIN probe p ON c.label = p.cell WHERE c.vec_id <> p.query_id)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        |  FROM s) WHERE rank <= 3""".stripMargin),
    row("sim_srp_topk", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.srpTopK(e.where(col("vec_id") < 5), e, k = 3, planes = 6)
    },
      // SRP-LSH twin: the ±1 hyperplane component for (plane k, element i,
      // 1-based here vs 0-based in Scala — the +1 aligns them) is the same
      // LCG mix; bucket = OR of sign bits; exact cosine rerank within bucket.
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |b AS (SELECT vec_id, v, ${srpBucketSql("v")} AS bucket
        |  FROM e),
        |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
        |s AS (SELECT q.query_id, c.vec_id AS neighbor_id,
        |  list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i]))) *
        |     sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))) AS cos_sim
        |FROM b c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        |  FROM s) WHERE rank <= 3""".stripMargin),
    row("sim_srp_multiprobe", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.srpTopKMultiprobe(e.where(col("vec_id") < 5), e, k = 3,
        planes = 6, nprobe = 3)
    },
      // Multiprobe twin: per-plane dot list once, bucket from its signs, the
      // nprobe-1 lowest-|dot| planes (struct sort = (m asc, k asc)) flipped.
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |b AS (SELECT vec_id, v, ${srpDotsSql("v")} AS dots
        |  FROM e),
        |bb AS (SELECT vec_id, v, dots,
        |  list_sum(list_transform(range(0, 6), k ->
        |    CASE WHEN dots[CAST(k + 1 AS INTEGER)] >= 0 THEN CAST(1 AS BIGINT) << k ELSE 0 END)) AS bucket
        |  FROM b),
        |q AS (SELECT vec_id AS query_id, v AS qv, bucket AS bucket0,
        |  list_sort(list_transform(range(0, 6), k ->
        |    struct_pack(m := abs(dots[CAST(k + 1 AS INTEGER)]), k := k))) AS flips
        |  FROM bb WHERE vec_id < 5),
        |probes AS (SELECT query_id, qv,
        |  unnest(list_concat([bucket0], list_transform(flips[1:2], f ->
        |    xor(bucket0, CAST(1 AS BIGINT) << CAST(f.k AS INTEGER))))) AS bucket FROM q),
        |s AS (SELECT p.query_id, c.vec_id AS neighbor_id,
        |  list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * c.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * p.qv[i]))) *
        |     sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))) AS cos_sim
        |FROM bb c JOIN probes p ON c.bucket = p.bucket AND c.vec_id <> p.query_id)
        |SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        |  FROM s) WHERE rank <= 3""".stripMargin),
    row("sim_near_dups", (s, dir) =>
      Similarity.embeddingNearDups(Tables(s, dir).embeddings, threshold = 0.4),
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
        |SELECT cell, id_a, id_b, cos_sim FROM (
        |  SELECT a.label AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS cos_sim
        |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cos_sim >= 0.4""".stripMargin),
    // contrastive-training mining: per anchor, the top-5 most-similar
    // WRONG-label vectors — the negatives that define the decision boundary
    row("vec_hard_negatives", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.hardNegatives(e.where(col("vec_id") < 5), e, k = 5)
    },
      // Mirrors Similarity.hardNegatives(k=5): the sim_topk body with the
      // label carried through and a label-mismatch filter before ranking.
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv FROM e WHERE vec_id < 5),
        |s AS (SELECT q.query_id, q.query_label, c.vec_id AS neighbor_id, c.label AS neighbor_label,
        |  list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i]))) *
        |     sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))) AS cos_sim
        |FROM e c CROSS JOIN q WHERE c.vec_id <> q.query_id AND c.label <> q.query_label)
        |SELECT query_id, query_label, neighbor_id, neighbor_label, CAST(rank AS INTEGER) AS rank, cos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
        |  FROM s) WHERE rank <= 5""".stripMargin),
    // triplet assembly: hardest positive + hardest negative per anchor,
    // margin = pos_sim - neg_sim (what a triplet loss keeps positive)
    row("vec_triplets", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.miningTriplets(e.where(col("vec_id") < 20), e)
    },
      // Mirrors Similarity.miningTriplets: hardest same-label and hardest
      // different-label neighbor per anchor, inner-joined (both legs
      // required), margin as the same two-term difference.
      """WITH e AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS query_label, v AS qv FROM e WHERE vec_id < 20),
        |s AS (SELECT q.query_id, q.query_label, c.vec_id AS neighbor_id, c.label AS neighbor_label,
        |  list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * c.v[i])) /
        |    (sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i]))) *
        |     sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i])))) AS cos_sim
        |FROM e c CROSS JOIN q WHERE c.vec_id <> q.query_id),
        |pos AS (SELECT query_id AS anchor_id, query_label AS label, neighbor_id AS pos_id, cos_sim AS pos_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
        |  FROM s WHERE neighbor_label = query_label) WHERE rn = 1),
        |neg AS (SELECT query_id AS anchor_id, neighbor_id AS neg_id, cos_sim AS neg_sim FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rn
        |  FROM s WHERE neighbor_label <> query_label) WHERE rn = 1)
        |SELECT anchor_id, label, pos_id, pos_sim, neg_id, neg_sim,
        |  pos_sim - neg_sim AS margin
        |FROM pos JOIN neg USING (anchor_id)""".stripMargin),
    row("vec_kmeans", (s, dir) =>
      Similarity.kmeans(Tables(s, dir).embeddings, k = 8, iters = 2),
      // Mirrors Similarity.kmeans (k=8, iters=2), unrolled: same deterministic
      // lowest-id init, same squared-L2 argmin with (dist, cluster) tie-break,
      // same per-dimension mean update — assignment checked against the FINAL
      // centroids, so any divergence at any round changes integral cluster
      // ids and fails the hash, not just a float in the 9th digit.
      s"""WITH $KmeansCtes
         |SELECT vec_id, cluster, dist FROM af""".stripMargin),
    // simplified (centroid) silhouette over the SAME Lloyd trajectory:
    // the "did k make sense" clustering-quality readout at O(n·k)
    row("vec_silhouette", (s, dir) =>
      Similarity.silhouette(Tables(s, dir).embeddings, k = 8, iters = 2),
      // Mirrors Similarity.silhouette: the shared kmeans chain's corpus (e)
      // and FINAL centroids (c2), every (vector, centroid) squared distance,
      // slots picked by the same (dist, cluster) order; sqrt and the final
      // division are identical IEEE ops.
      s"""WITH $KmeansCtes,
         |dall AS (SELECT e.vec_id, c2.cluster,
         |  list_sum(list_transform(range(1, len(e.v) + 1),
         |    i -> (e.v[i] - c2.centroid[i]) * (e.v[i] - c2.centroid[i]))) AS dist
         |  FROM e CROSS JOIN c2),
         |sl AS (SELECT vec_id, list(dist ORDER BY dist, cluster) AS ds,
         |  list(cluster ORDER BY dist, cluster) AS cs FROM dall GROUP BY 1),
         |x AS (SELECT vec_id, cs[1] AS cluster, sqrt(ds[1]) AS a, sqrt(ds[2]) AS b FROM sl)
         |SELECT vec_id, cluster, a, b,
         |  CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
         |    ELSE CAST(0.0 AS DOUBLE) END AS sil
         |FROM x""".stripMargin,
      face("sql_silhouette") { (s, dir) =>
        viaSql(s, "graft_sql_embeddings" -> Tables(s, dir).embeddings)(
          "SELECT * FROM graft_silhouette('graft_sql_embeddings', 8, 2)") }),
    // cross-corpus SEMANTIC contamination (the embedding twin of
    // dedup_cross): the 10% vec_id-slice "benchmark" probed against the
    // rest, cells trained on the left corpus and frozen
    row("dedup_sem_cross", (s, dir) => {
      val e = Tables(s, dir).embeddings
      Similarity.semanticJoin(e.where(col("vec_id") % 10 =!= 0),
        e.where(col("vec_id") % 10 === 0), threshold = 0.4, k = 8, iters = 2)
    },
      // Mirrors Similarity.semanticJoin: the kmeans chain REBASED onto the
      // left slice (el) — af is then exactly the left side's frozen-cell
      // assignment — plus the same argmin expression applied to the right
      // slice (raf), cross pairs within shared cells at the shared cosine.
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |el AS (SELECT vec_id, v FROM e WHERE vec_id % 10 <> 0),
         |er AS (SELECT vec_id, v FROM e WHERE vec_id % 10 = 0),
         |${kmeansChain("", "el", k = 8, oversample = 4, iters = 2)},
         |raf AS (SELECT vec_id, v, cluster FROM (
         |  SELECT e.vec_id, e.v, c2.cluster,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY list_sum(list_transform(range(1, len(e.v) + 1),
         |        i -> (e.v[i] - c2.centroid[i]) * (e.v[i] - c2.centroid[i]))) ASC,
         |      c2.cluster ASC) AS rn
         |  FROM er e CROSS JOIN c2) WHERE rn = 1)
         |SELECT cell, id_a, id_b, cos_sim FROM (
         |  SELECT a.cluster AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
         |      (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
         |       sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS cos_sim
         |  FROM af a JOIN raf b ON a.cluster = b.cluster)
         |WHERE cos_sim >= 0.4""".stripMargin,
      face("sql_semantic_join") { (s, dir) =>
        val e = Tables(s, dir).embeddings
        viaSql(s, "graft_sql_sj_left" -> e.where(col("vec_id") % 10 =!= 0),
          "graft_sql_sj_right" -> e.where(col("vec_id") % 10 === 0))(
          "SELECT * FROM graft_semantic_join('graft_sql_sj_left', 'graft_sql_sj_right', 0.4, 8, 2)") }),
    // SemDeDup: the kmeans cells bound the pair space, within-cell cosine
    // >= 0.4 prunes to the lowest id — semantic (paraphrase-level) dedup
    row("dedup_semantic", (s, dir) =>
      Similarity.semanticDedup(Tables(s, dir).embeddings, threshold = 0.4,
        k = 8, iters = 2),
      // Mirrors Similarity.semanticDedup(threshold=0.4, k=8, iters=2): the
      // SAME unrolled kmeans chain (shared KmeansCtes — the clustering
      // cannot drift from vec_kmeans), then within-cluster cosine pairs and
      // the lowest-id pruning rule.
      s"""WITH $KmeansCtes,
         |cells AS (SELECT e.vec_id, e.v, af.cluster FROM e JOIN af USING (vec_id)),
         |pr AS (SELECT vec_id, min(id_a) AS pruned_by FROM (
         |  SELECT b.vec_id, a.vec_id AS id_a,
         |    list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
         |      (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
         |       sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS cos_sim
         |  FROM cells a JOIN cells b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
         |WHERE cos_sim >= 0.4 GROUP BY 1)
         |SELECT c.vec_id, c.cluster, pr.pruned_by IS NULL AS is_kept, pr.pruned_by
         |FROM cells c LEFT JOIN pr ON pr.vec_id = c.vec_id""".stripMargin,
      face("sql_semantic_dedup") { (s, dir) =>
        viaSql(s, "graft_sql_embeddings" -> Tables(s, dir).embeddings)(
          "SELECT * FROM graft_semantic_dedup('graft_sql_embeddings', 0.4, 8, 2)") }),
    // same near-dup contract with DATA-DERIVED blocking: SRP-LSH buckets
    // instead of the pre-assigned label cells
    row("sim_srp_near_dups", (s, dir) => {
      val e = Tables(s, dir).embeddings
        .withColumn("srp_cell",
          graft.functions.Signatures.srpBucket(col("embedding"), 6))
      Similarity.embeddingNearDups(e, threshold = 0.4, cellCol = "srp_cell")
        .withColumnRenamed("cell", "srp_cell")
    },
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |bb AS (SELECT vec_id, v, ${srpBucketSql("v")} AS srp_cell
        |  FROM e)
        |SELECT srp_cell, id_a, id_b, cos_sim FROM (
        |  SELECT a.srp_cell AS srp_cell, a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
        |      (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
        |       sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS cos_sim
        |  FROM bb a JOIN bb b ON a.srp_cell = b.srp_cell AND a.vec_id < b.vec_id)
        |WHERE cos_sim >= 0.4""".stripMargin)
  )
}
