package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Components, Dedup, IncrementalDedup, IncrementalSemDedup, TextOps}

import Fixtures._
import QueryRow.{face, row}

/** Deduplication (exact, MinHash, containment, SimHash, clusters, incremental) and the near-dup graph. */
private[graft] object DedupRows {
  val rows: Seq[QueryRow] = Seq(
    // modularity of the source partition against the near-dup graph: does
    // near-duplication concentrate within sources, or syndicate across?
    row("graph_modularity", (s, dir) => {
      val docs = Tables(s, dir).documents
      Components.modularity(Dedup.minhashNearDups(docs),
        docs.select("doc_id", "source"))
    },
      // Mirrors Components.modularity over the minhash pair graph with
      // source labels: intra/deg/m are exact integers off the shared
      // mh_pairs; each q_part is the same three-op double expression.
      s"""WITH $MinhashPairsCtes,
         |edn AS (SELECT least(id_a, id_b) AS u, greatest(id_a, id_b) AS w
         |  FROM mh_pairs WHERE id_a <> id_b GROUP BY 1, 2),
         |elm AS (SELECT d1.source AS lu, d2.source AS lw FROM edn
         |  JOIN documents d1 ON d1.doc_id = edn.u
         |  JOIN documents d2 ON d2.doc_id = edn.w),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM elm),
         |dgm AS (SELECT label, CAST(count(*) AS BIGINT) AS degree FROM
         |  (SELECT unnest([lu, lw]) AS label FROM elm) GROUP BY 1),
         |iam AS (SELECT lu AS label, CAST(count(*) AS BIGINT) AS intra
         |  FROM elm WHERE lu = lw GROUP BY 1)
         |SELECT dgm.label AS label, COALESCE(iam.intra, 0) AS intra_edges,
         |  dgm.degree AS degree,
         |  CAST(COALESCE(iam.intra, 0) AS DOUBLE) / m
         |    - (CAST(dgm.degree AS DOUBLE) / (2 * m))
         |    * (CAST(dgm.degree AS DOUBLE) / (2 * m)) AS q_part
         |FROM dgm LEFT JOIN iam USING (label) CROSS JOIN mm""".stripMargin,
      face("sql_modularity") { (s, dir) =>
        val docs = Tables(s, dir).documents
        viaSql(s, "graft_sql_mh_pairs" -> Dedup.minhashNearDups(docs),
          "graft_sql_doc_labels" -> docs.select("doc_id", "source"))(
          "SELECT * FROM graft_modularity('graft_sql_mh_pairs', 'graft_sql_doc_labels')") }),
    // degree distribution of the MinHash near-dup graph — the fat-tail
    // boilerplate-hub diagnostic
    row("graph_degrees", (s, dir) =>
      graft.pipeline.Components.degreeDistribution(
        Dedup.minhashNearDups(Tables(s, dir).documents)),
      s"""WITH $MinhashPairsCtes,
         |ids AS (SELECT id_a AS id FROM mh_pairs
         |  UNION ALL SELECT id_b FROM mh_pairs),
         |dg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM ids GROUP BY 1)
         |SELECT degree, CAST(count(*) AS BIGINT) AS n_nodes
         |FROM dg GROUP BY 1""".stripMargin),
    // near-dup pairs from shared winnow fingerprints: the position-robust
    // LOCAL-overlap detector (shared passages light up where whole-doc
    // MinHash dilutes); posting lists capped, inverted-index join
    row("dedup_winnow", (s, dir) =>
      TextOps.winnowNearDups(Tables(s, dir).documents),
      // Mirrors TextOps.winnowNearDups(minShared=5, maxDf=50): distinct
      // (doc, fp) postings, lists over 50 docs cut, fp-keyed self-join.
      s"""WITH $WinnowCtes,
         |dfp AS (SELECT DISTINCT doc_id, fp FROM wfp),
         |wkeep AS (SELECT fp FROM dfp GROUP BY fp HAVING count(*) <= 50),
         |wind AS (SELECT doc_id, fp FROM dfp JOIN wkeep USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM wind a JOIN wind b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,
      face("sql_winnow_dups") { (s, dir) =>
        viaSql(s, "graft_sql_docs_w" -> Tables(s, dir).documents)(
          "SELECT * FROM graft_winnow_dups('graft_sql_docs_w', 5, 4, 5, 50)") }),

    // ---- deduplication ----
    row("dedup_exact", (s, dir) => Dedup.exact(Tables(s, dir).documents),
      """WITH k AS (SELECT doc_id, md5(text) AS text_md5 FROM documents),
        |g AS (SELECT text_md5, min(doc_id) AS keeper_id, count(*) AS group_size FROM k GROUP BY 1)
        |SELECT k.doc_id, k.text_md5, g.keeper_id, k.doc_id <> g.keeper_id AS is_dup, g.group_size
        |FROM k JOIN g USING (text_md5)""".stripMargin,
      face("sql_dedup_exact") { (s, dir) =>
        viaSql(s, "graft_sql_documents" -> Tables(s, dir).documents)(
          "SELECT * FROM graft_exact_dedup('graft_sql_documents')") }),
    // one-row honesty report for the flagship dedup: brute-force exact
    // shingle-Jaccard ground truth on a bounded slice of the edit-augmented
    // corpus (base-id % 10, so planted twins stay together) vs the LSH path
    // at identical parameters — realized recall of the banding S-curve;
    // fp is 0 by construction (candidates verify with the same Jaccard)
    row("dedup_eval", (s, dir) =>
      Dedup.minhashEval(nearDupCorpus(s, dir)
        .where(col("doc_id") % CopyIdTag % 10 === 0)),
      // Mirrors Dedup.minhashEval on the sliced edit-augmented corpus: the
      // shared pipeline CTEs rebased onto the slice (minhashPairsCtesFrom),
      // the truth side as the all-pairs exact Jaccard, identical counts.
      s"""WITH $NearDupCorpusCte,
         |eval_docs AS (SELECT doc_id, text FROM corpus
         |  WHERE (doc_id % $CopyIdTag) % 10 = 0),
         |${minhashPairsCtesFrom("eval_docs")},
         |truth AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
         |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |  AND CAST(least(len(a.sh), len(b.sh)) AS DOUBLE)
         |    >= 0.5 * CAST(greatest(len(a.sh), len(b.sh)) AS DOUBLE)
         |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |    len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5),
         |j AS (SELECT coalesce(t.id_a, p.id_a) AS id_a,
         |  t.id_a IS NOT NULL AS in_t, p.id_a IS NOT NULL AS in_p
         |  FROM truth t FULL OUTER JOIN (SELECT id_a, id_b FROM mh_pairs) p
         |  ON t.id_a = p.id_a AND t.id_b = p.id_b)
         |SELECT CAST(count(CASE WHEN in_t THEN 1 END) AS BIGINT) AS n_true,
         |  CAST(count(CASE WHEN in_p THEN 1 END) AS BIGINT) AS n_pred,
         |  CAST(count(CASE WHEN in_t AND in_p THEN 1 END) AS BIGINT) AS tp,
         |  CAST(count(CASE WHEN NOT in_t THEN 1 END) AS BIGINT) AS fp,
         |  CAST(count(CASE WHEN NOT in_p THEN 1 END) AS BIGINT) AS fn,
         |  CASE WHEN count(CASE WHEN in_p THEN 1 END) > 0 THEN
         |    CAST(count(CASE WHEN in_t AND in_p THEN 1 END) AS DOUBLE)
         |      / count(CASE WHEN in_p THEN 1 END) END AS precision,
         |  CASE WHEN count(CASE WHEN in_t THEN 1 END) > 0 THEN
         |    CAST(count(CASE WHEN in_t AND in_p THEN 1 END) AS DOUBLE)
         |      / count(CASE WHEN in_t THEN 1 END) END AS recall
         |FROM j""".stripMargin,
      face("sql_minhash_eval") { (s, dir) =>
        viaSql(s, "graft_sql_docs_me" ->
            nearDupCorpus(s, dir).where(col("doc_id") % CopyIdTag % 10 === 0))(
          "SELECT * FROM graft_minhash_eval('graft_sql_docs_me')") }),
    // LSH banding planner over the repo's own 32-hash signature: the
    // 1-(1-s^r)^b S-curve at target 0.8 / noise 0.3 per factorization,
    // chain-multiplied powers (no libm pow), sharpest qualifying config
    // flagged — how the banding for a 100 TB dedup run gets picked
    row("dedup_lsh_plan", (s, dir) =>
      Dedup.lshPlan(s, nHashes = 32, targetJaccard = 0.8),
      // Mirrors Dedup.lshPlan(32, 0.8): the same seeded-1.0 chain folds for
      // every power (never libm pow) and the same max-r-qualifying choice.
      {
        def chain(base: String, exp: String) =
          s"list_reduce(list_prepend(CAST(1.0 AS DOUBLE), " +
            s"list_transform(range(0, $exp), x -> CAST($base AS DOUBLE))), (a, c) -> a * c)"
        def pDetect(s: String) =
          s"1.0 - ${chain(s"1.0 - ${chain(s, "rows_per_band")}", "bands")}"
        s"""WITH g AS (SELECT CAST(b AS INTEGER) AS bands,
         |  CAST(32 / b AS INTEGER) AS rows_per_band
         |  FROM range(1, 33) t(b) WHERE 32 % b = 0),
         |p AS (SELECT CAST(32 AS INTEGER) AS n_hashes, bands, rows_per_band,
         |  ${pDetect("0.8")} AS p_target,
         |  ${pDetect("0.3")} AS p_noise FROM g),
         |q AS (SELECT *, p_target >= 0.9 AS qualifies FROM p),
         |bst AS (SELECT max(CASE WHEN qualifies THEN rows_per_band END) AS best_r FROM q)
         |SELECT n_hashes, bands, rows_per_band, p_target, p_noise, qualifies,
         |  qualifies AND rows_per_band = bst.best_r AS chosen
         |FROM q CROSS JOIN bst""".stripMargin
      },
      face("sql_lsh_plan") { (s, _) =>
        viaSql(s)("SELECT * FROM graft_lsh_plan(32, 0.8)") }),
    row("dedup_minhash", (s, dir) => Dedup.minhashNearDups(Tables(s, dir).documents),
      s"""WITH $MinhashPairsCtes
         |SELECT id_a, id_b, jaccard FROM mh_pairs""".stripMargin,
      // streaming near-dup detection, batch face: must equal dedup_minhash
      // exactly (same banding expression, same Jaccard arithmetic)
      face("stream_near_dups") { (s, dir) =>
        graft.streaming.StreamOps.nearDupStream(
          Tables(s, dir).documents.select("doc_id", "text")).toDF() }),
    // cross-corpus doc-level fuzzy contamination: the raw corpus probed
    // against the edit-augmented copies (the "benchmark" side) — the
    // whole-document complement of the n-gram decontaminators; every
    // planted copy must come back as a cross-pair of its original
    row("dedup_cross", (s, dir) => {
      val corpus = nearDupCorpus(s, dir)
      Dedup.minhashJoin(corpus.where(col("doc_id") < CopyIdTag),
        corpus.where(col("doc_id") >= CopyIdTag))
    },
      // Mirrors Dedup.minhashJoin over the edit-augmented corpus: the shared
      // minhash band CTEs (bnd/sets) rebased onto `corpus`, then bucketed
      // per side by the copy-id tag — equivalent to banding each slice
      // separately because the signature is per-document. No a<b dedup: the
      // sides are distinct relations.
      s"""WITH $NearDupCorpusCte,
         |${minhashPairsCtesFrom("corpus")},
         |bl AS (SELECT bnd.doc_id AS id_a, b, band_hash FROM bnd
         |  WHERE bnd.doc_id < $CopyIdTag),
         |br AS (SELECT bnd.doc_id AS id_b, b, band_hash FROM bnd
         |  WHERE bnd.doc_id >= $CopyIdTag),
         |cx AS (SELECT DISTINCT id_a, id_b FROM bl JOIN br USING (b, band_hash))
         |SELECT id_a, id_b, jaccard FROM (
         |  SELECT c.id_a, c.id_b,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
         |  FROM cx c JOIN sets a ON a.doc_id = c.id_a JOIN sets b ON b.doc_id = c.id_b)
         |WHERE jaccard >= 0.5""".stripMargin,
      face("sql_minhash_join") { (s, dir) =>
        val corpus = nearDupCorpus(s, dir)
        viaSql(s, "graft_sql_mj_left" -> corpus.where(col("doc_id") < CopyIdTag),
          "graft_sql_mj_right" -> corpus.where(col("doc_id") >= CopyIdTag))(
          "SELECT * FROM graft_minhash_join('graft_sql_mj_left', 'graft_sql_mj_right')") }),
    row("dedup_containment", (s, dir) =>
      Dedup.containmentDups(Tables(s, dir).documents, threshold = 0.8),
      // Mirrors Dedup.containmentDups: the shared LSH candidate CTEs, scored
      // by |∩| / min(|A|,|B|) with the same smaller-set/tie-to-smaller-id
      // contained_id rule.
      s"""WITH $MinhashPairsCtes,
         |cont AS (SELECT c.id_a, c.id_b,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / least(len(a.sh), len(b.sh)) AS containment,
         |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard,
         |  CASE WHEN len(a.sh) < len(b.sh) THEN c.id_a
         |       WHEN len(b.sh) < len(a.sh) THEN c.id_b
         |       ELSE least(c.id_a, c.id_b) END AS contained_id
         |FROM cand c JOIN sets a ON a.doc_id = c.id_a JOIN sets b ON b.doc_id = c.id_b)
         |SELECT id_a, id_b, containment, jaccard, contained_id FROM cont
         |WHERE containment >= CAST(0.8 AS DOUBLE)""".stripMargin),
    // exact asymmetric containment of a small "benchmark": token-aligned
    // fragments (tokens 5..44 of every 17th doc) probed against the corpus
    // — each fragment must read containment 1.0 in its source document,
    // the quoted-benchmark case Jaccard banding structurally misses
    row("dedup_containment_cross", (s, dir) => {
      val docs = Tables(s, dir).documents.select("doc_id", "text")
      val frags = docs
        .where(col("doc_id") % 17 === 0
          && size(TextOps.tokens(col("text"))) >= 46)
        .select((col("doc_id") + lit(1L << 41)).as("doc_id"),
          array_join(slice(TextOps.tokens(col("text")), 5, 40), " ").as("text"))
      Dedup.containmentJoin(docs, frags)
    },
      // Mirrors Dedup.containmentJoin over the token-aligned fragment bench:
      // same 3-token shingles, right-side distinct-gram index, exact
      // |inter|/|sh_b| — fragments rebuilt from the SAME token slice, so a
      // fragment's shingles are a subset of its source's (containment 1.0)
      {
        val sh3 = (tk: String) => s"CASE WHEN len($tk) >= 3 THEN " +
          s"list_transform(range(1, len($tk) - 1), i -> array_to_string($tk[i:i+2], ' ')) " +
          s"ELSE [] END"
        s"""WITH fr AS (SELECT doc_id + ${1L << 41} AS doc_id,
         |  array_to_string(($Toks)[5:44], ' ') AS text
         |  FROM documents WHERE doc_id % 17 = 0 AND len($Toks) >= 46),
         |lg AS (SELECT doc_id AS id_a, unnest(list_distinct(${sh3("tk")})) AS sh
         |  FROM (SELECT doc_id, $Toks AS tk FROM documents)),
         |rgx AS (SELECT doc_id AS id_b, unnest(list_distinct(${sh3("tk")})) AS sh
         |  FROM (SELECT doc_id, $Toks AS tk FROM fr)),
         |rsx AS (SELECT id_b, CAST(count(*) AS BIGINT) AS nb FROM rgx GROUP BY 1),
         |shx AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS inter
         |  FROM lg JOIN rgx USING (sh) GROUP BY 1, 2)
         |SELECT id_a, id_b, CAST(inter AS DOUBLE) / nb AS containment_b
         |FROM shx JOIN rsx USING (id_b)
         |WHERE CAST(inter AS DOUBLE) / nb >= 0.8""".stripMargin
      },
      face("sql_containment_join") { (s, dir) =>
        val docs = Tables(s, dir).documents.select("doc_id", "text")
        viaSql(s, "graft_sql_cj_left" -> docs,
          "graft_sql_cj_right" -> docs.where(col("doc_id") % 17 === 0
              && size(TextOps.tokens(col("text"))) >= 46)
            .select((col("doc_id") + lit(1L << 41)).as("doc_id"),
              array_join(slice(TextOps.tokens(col("text")), 5, 40), " ").as("text")))(
          "SELECT * FROM graft_containment_join('graft_sql_cj_left', 'graft_sql_cj_right', 0.8)") }),
    // cluster resolution + quality argmax: the "drop THESE rows" policy
    row("dedup_keepers", (s, dir) => Components.dedupKeepers(Tables(s, dir).documents),
      // Mirrors Components.dedupKeepers: the dedup_clusters closure CTEs
      // plus the text_quality score expression, ranked per cluster with the
      // same (quality desc, id asc) tie-break — the score is exact double
      // arithmetic over integer counts, so the argmax cannot drift.
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |$ClosureCtes,
         |q AS (SELECT d.doc_id,
         |  ${qualityScoreSql("t.tk", "d.text")} AS quality_score
         |  FROM documents d JOIN toks t USING (doc_id)),
         |r AS (SELECT c.doc_id, c.cluster_id, s.cluster_size, q.quality_score,
         |  row_number() OVER (PARTITION BY c.cluster_id
         |    ORDER BY q.quality_score DESC, c.doc_id ASC) AS rk
         |  FROM comps c JOIN sizes s USING (cluster_id) JOIN q USING (doc_id))
         |SELECT doc_id, cluster_id, cluster_size, quality_score, rk = 1 AS is_keeper
         |FROM r""".stripMargin),
    row("dedup_simhash", (s, dir) => Dedup.simhashNearDups(Tables(s, dir).documents),
      // Mirrors the WIDE multi-seed SimHash (Dedup.simhashWide): per seed j,
      // h_j = (h_0 + j·31^len) mod p per shingle (the same algebraic seed
      // derivation as minhash), a 30-bit bit-balance signature per seed, the
      // eight signatures packed little-endian into 4 BIGINT words (HUGEINT
      // accumulation + two's-complement fold, as in wideWordCtes), then the
      // all-pairs wide-Hamming brute force the pigeonhole must equal.
      {
        val seeds = graft.pipeline.Dedup.SimhashWideSeeds
        val maxDist = graft.pipeline.Dedup.SimhashWideMaxDist
        val powSql = // 31^bytelen(s) mod p: multiply once per char, seed 1
          "list_reduce(list_prepend(CAST(1 AS BIGINT), " +
            "list_transform(string_split(s, ''), c -> CAST(0 AS BIGINT))), " +
            "(a, c) -> (a * 31) % 1000000007)"
        val wordExprs = (0 until 4).map { w =>
          val terms = (0 until seeds).flatMap { j =>
            val lo = math.max(30 * j, 64 * w)
            val hi = math.min(30 * j + 30, 64 * w + 64)
            if (lo >= hi) None
            else {
              val mask = (1L << (hi - lo)) - 1
              Some(s"WHEN j = $j THEN CAST(((sig >> ${lo - 30 * j}) & $mask) " +
                s"AS HUGEINT) * ${BigInt(2).pow(lo - 64 * w)}")
            }
          }.mkString(" ")
          s"""CAST(CASE WHEN hw$w >= 9223372036854775808
           |    THEN hw$w - 18446744073709551616 ELSE hw$w END AS BIGINT) AS w$w""".stripMargin ->
            s"sum(CASE $terms ELSE 0 END) AS hw$w"
        }
        s"""WITH toks AS (SELECT doc_id, $Toks AS tk FROM documents),
         |shg AS (SELECT doc_id, CASE WHEN len(tk) >= 3
         |  THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
         |  ELSE [] END AS sh FROM toks),
         |hs AS (SELECT doc_id, list_transform(sh, s -> ${phSql("s", "0")}) AS h0s,
         |  list_transform(sh, s -> $powSql) AS pws FROM shg WHERE len(sh) > 0),
         |hseeds AS (SELECT doc_id, j,
         |  list_transform(range(1, len(h0s) + 1), t -> (h0s[t] + j * pws[t]) % 1000000007) AS hj
         |  FROM hs CROSS JOIN (SELECT unnest(range(0, $seeds)) AS j)),
         |sigj AS (SELECT doc_id, j, CAST(list_sum(list_transform(range(0, 30), i ->
         |  CASE WHEN list_sum(list_transform(hj, h -> CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |  THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT) AS sig FROM hseeds),
         |hw AS (SELECT doc_id, ${wordExprs.map(_._2).mkString(",\n  ")}
         |  FROM sigj GROUP BY doc_id),
         |wfpt AS (SELECT doc_id, ${wordExprs.map(_._1).mkString(",\n  ")}
         |  FROM hw)
         |${wideDupsSelect(maxDist)}""".stripMargin
      }),
    row("dedup_ngram", (s, dir) => Dedup.ngramJaccard(Tables(s, dir).documents),
      s"""WITH toks AS (SELECT lang, doc_id, array_to_string($Toks, ' ') AS norm FROM documents),
         |g AS (SELECT * FROM (SELECT lang AS block, doc_id, list_distinct(CASE WHEN length(norm) >= 3
         |  THEN list_transform(range(1, length(norm) - 1), i -> norm[i:i+2])
         |  ELSE [] END) AS g FROM toks) WHERE len(g) > 0)
         |SELECT block, id_a, id_b, jaccard FROM (
         |  SELECT a.block, a.doc_id AS id_a, b.doc_id AS id_b,
         |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE) /
         |      len(list_distinct(list_concat(a.g, b.g))) AS jaccard
         |  FROM g a JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.3""".stripMargin),
    // near-dup PAIRS -> transitive clusters + canonical keeper (alternating
    // star connected components over the minhash pair graph)
    row("dedup_clusters", (s, dir) => Components.dedupClusters(Tables(s, dir).documents),
      // Transitive closure of the minhash pair graph: min reachable id per
      // node via recursive fan-out (fine at oracle scale; the Spark side uses
      // the O(log n)-round star algorithm instead).
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |$ClosureCtes
         |SELECT c.doc_id, c.cluster_id, s.cluster_size,
         |  c.doc_id = c.cluster_id AS is_canonical
         |FROM comps c JOIN sizes s USING (cluster_id)""".stripMargin,
      // incremental cluster maintenance: bootstrap on a third of the corpus,
      // ingest the rest in two batches — the EXACTNESS contract says the
      // result equals a full dedup_clusters recompute
      face("dedup_incremental") { (s, dir) =>
        val docs = Tables(s, dir).documents.select("doc_id", "text")
        var st = IncrementalDedup.bootstrap(docs.where(col("doc_id") % 3 === 0))
        st = IncrementalDedup.addBatch(st, docs.where(col("doc_id") % 3 === 1))
        st = IncrementalDedup.addBatch(st, docs.where(col("doc_id") % 3 === 2))
        IncrementalDedup.clusters(st) },
      face("sql_dedup_clusters") { (s, dir) =>
        viaSql(s, "graft_sql_documents" -> Tables(s, dir).documents)(
          "SELECT * FROM graft_dedup_clusters('graft_sql_documents')") }),
    // PageRank over the same minhash near-dup graph the clusters use:
    // centrality as a keeper-selection signal
    row("graph_pagerank", (s, dir) =>
      Components.pageRank(Dedup.minhashNearDups(Tables(s, dir).documents), iters = 3),
      // Mirrors Components.pageRank (3 rounds unrolled): same symmetrized
      // edges, same (1-d)/N + d·Σ r/deg update. The damping terms are
      // CAST to DOUBLE first — bare `1 - 0.85` would be DuckDB DECIMAL
      // arithmetic (exactly 0.15), not the Scala double 0.15000000000000002
      // the Spark side folds.
      {
        def round(r: String, prev: String) =
          s"""c$r AS (SELECT s.dst AS id, sum(p.rank / d.deg) AS c FROM sym s
           |  JOIN $prev p ON p.id = s.src JOIN deg d ON d.src = s.src GROUP BY 1),
           |r$r AS (SELECT deg.src AS id,
           |  (1 - CAST(0.85 AS DOUBLE)) / nn.n
           |    + CAST(0.85 AS DOUBLE) * coalesce(c$r.c, 0.0) AS rank
           |  FROM deg CROSS JOIN nn LEFT JOIN c$r ON c$r.id = deg.src)""".stripMargin
        s"""WITH $MinhashPairsCtes,
         |sym AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |  UNION SELECT id_b, id_a FROM mh_pairs),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
         |r0 AS (SELECT src AS id, 1.0 / nn.n AS rank FROM deg CROSS JOIN nn),
         |${round("1", "r0")},
         |${round("2", "r1")},
         |${round("3", "r2")}
         |SELECT deg.src AS doc_id, deg.deg, r3.rank
         |FROM deg JOIN r3 ON r3.id = deg.src""".stripMargin
      }),
    // per-node triangles + local clustering coefficient over the same graph:
    // separates genuine duplicate families (dense, high lcc) from
    // boilerplate hubs (high degree, low lcc) for keeper policies
    row("graph_triangles", (s, dir) =>
      Components.triangleCounts(Dedup.minhashNearDups(Tables(s, dir).documents)),
      // Mirrors Components.triangleCounts over the minhash near-dup graph:
      // same degree-ordered orientation (lower (deg, id) endpoint first),
      // wedges at the lower-rank endpoint with v < w by id, closed against
      // the canonical undirected edge set.
      s"""WITH $MinhashPairsCtes,
         |und AS (SELECT DISTINCT id_a AS a, id_b AS b FROM mh_pairs),
         |nd AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT a AS node FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
         |dir AS (SELECT
         |  CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
         |       THEN u.a ELSE u.b END AS u,
         |  CASE WHEN (da.deg < db.deg) OR (da.deg = db.deg AND u.a < u.b)
         |       THEN u.b ELSE u.a END AS v
         |  FROM und u JOIN nd da ON da.node = u.a JOIN nd db ON db.node = u.b),
         |tri AS (SELECT d1.u, d1.v, d2.v AS w FROM dir d1
         |  JOIN dir d2 ON d1.u = d2.u AND d1.v < d2.v
         |  JOIN und ON und.a = d1.v AND und.b = d2.v),
         |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles FROM (
         |  SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
         |  UNION ALL SELECT w FROM tri) GROUP BY 1)
         |SELECT nd.node AS doc_id, nd.deg,
         |  coalesce(pn.triangles, CAST(0 AS BIGINT)) AS triangles,
         |  CASE WHEN nd.deg >= 2 THEN round(
         |    2.0 * coalesce(pn.triangles, CAST(0 AS BIGINT)) /
         |      (CAST(nd.deg AS DOUBLE) * CAST(nd.deg - 1 AS DOUBLE)), 6)
         |  ELSE 0.0 END AS lcc
         |FROM nd LEFT JOIN pn ON pn.node = nd.node""".stripMargin),
    // 2-core of the near-dup graph: dense duplicate families survive the
    // peel, leaf attachments and chains fall away (8 idempotent rounds)
    row("graph_kcore", (s, dir) =>
      Components.kCore(Dedup.minhashNearDups(Tables(s, dir).documents), k = 2),
      // Mirrors Components.kCore(k=2, rounds=8): same canonical edge set,
      // round-1 peel on full degrees, then 7 synchronous subgraph peels —
      // every round MATERIALIZED (each alive set is referenced twice by the
      // next round's edge filter and would re-expand exponentially).
      {
        def round(r: Int, prev: String) =
          s"""e$r AS MATERIALIZED (SELECT u.a, u.b FROM und u
           |  JOIN $prev x ON x.node = u.a JOIN $prev y ON y.node = u.b),
           |a$r AS MATERIALIZED (SELECT id AS node FROM
           |  (SELECT a AS id FROM e$r UNION ALL SELECT b FROM e$r)
           |  GROUP BY id HAVING count(*) >= 2)""".stripMargin
        s"""WITH $MinhashPairsCtes,
         |und AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS a,
         |  greatest(id_a, id_b) AS b FROM mh_pairs WHERE id_a <> id_b),
         |deg0 AS MATERIALIZED (SELECT id AS node,
         |  CAST(count(*) AS BIGINT) AS deg FROM
         |  (SELECT a AS id FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
         |a1 AS MATERIALIZED (SELECT node FROM deg0 WHERE deg >= 2),
         |${(2 to 8).map(r => round(r, s"a${r - 1}")).mkString(",\n")},
         |ef AS (SELECT u.a, u.b FROM und u
         |  JOIN a8 x ON x.node = u.a JOIN a8 y ON y.node = u.b),
         |cd AS (SELECT id AS node, CAST(count(*) AS BIGINT) AS core_deg FROM
         |  (SELECT a AS id FROM ef UNION ALL SELECT b FROM ef) GROUP BY 1)
         |SELECT deg0.node AS doc_id, deg0.deg, cd.core_deg,
         |  a8.node IS NOT NULL AS in_core
         |FROM deg0 LEFT JOIN a8 ON a8.node = deg0.node
         |LEFT JOIN cd ON cd.node = deg0.node""".stripMargin
      },
      face("sql_kcore") { (s, dir) =>
        viaSql(s, "graft_sql_pairs_kc" -> Dedup.minhashNearDups(Tables(s, dir).documents))(
          "SELECT * FROM graft_kcore('graft_sql_pairs_kc', 2)") }),
    // Adamic-Adar 2-hop link prediction over the same graph: the pairs
    // LSH almost connected, weighted against promiscuous shared neighbors
    row("graph_adamic_adar", (s, dir) =>
      Components.adamicAdar(Dedup.minhashNearDups(Tables(s, dir).documents)),
      // Mirrors Components.adamicAdar(maxDeg=64): wedge enumeration at the
      // shared neighbor with the same degree cap, 1/ln(deg) scored.
      s"""WITH $MinhashPairsCtes,
         |und AS MATERIALIZED (SELECT DISTINCT least(id_a, id_b) AS a,
         |  greatest(id_a, id_b) AS b FROM mh_pairs WHERE id_a <> id_b),
         |sym AS (SELECT a AS src, b AS dst FROM und
         |  UNION ALL SELECT b, a FROM und),
         |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM sym
         |  GROUP BY 1),
         |nb AS MATERIALIZED (SELECT s.src, s.dst, d.deg AS cdeg
         |  FROM sym s JOIN deg d ON d.src = s.src
         |  WHERE d.deg >= 2 AND d.deg <= 64),
         |w AS (SELECT n1.dst AS id_a, n2.dst AS id_b, n1.cdeg
         |  FROM nb n1 JOIN nb n2 ON n1.src = n2.src WHERE n1.dst < n2.dst),
         |sc AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT)
         |    AS common_neighbors,
         |  sum(CAST(1 AS DOUBLE) / ln(CAST(cdeg AS DOUBLE))) AS aa_score
         |  FROM w GROUP BY 1, 2)
         |SELECT sc.id_a, sc.id_b, sc.common_neighbors, sc.aa_score,
         |  u.a IS NOT NULL AS is_edge
         |FROM sc LEFT JOIN und u ON u.a = sc.id_a AND u.b = sc.id_b""".stripMargin,
      face("sql_adamic_adar") { (s, dir) =>
        viaSql(s, "graft_sql_pairs_aa" -> Dedup.minhashNearDups(Tables(s, dir).documents))(
          "SELECT * FROM graft_adamic_adar('graft_sql_pairs_aa', 64)") }),
    // semi-supervised label propagation over the near-dup graph: the
    // doc_id % 5 = 0 minority carries its lang label, 3 synchronous
    // re-voting rounds spread it across duplicate families (seeds
    // clamped, ties to the smallest label)
    row("graph_labelprop", (s, dir) => {
      val d = Tables(s, dir).documents
      Components.labelPropagation(
        Dedup.minhashNearDups(d),
        d.where(col("doc_id") % 5 === 0).select("doc_id", "lang"),
        rounds = 3, labelCol = "lang")
    },
      // Mirrors Components.labelPropagation(rounds=3) over the minhash
      // near-dup graph with lang seeds on doc_id % 5 = 0: per round, a
      // (node, label) vote count, the (n desc, label asc) argmax, and the
      // clamp/adopt/keep coalesce; rounds MATERIALIZED (the chain is
      // referenced twice per round and would re-expand exponentially).
      {
        def round(r: Int, prev: String) =
          s"""v$r AS MATERIALIZED (SELECT s.dst AS id, l.label, count(*) AS n
           |  FROM sym s JOIN $prev l ON l.id = s.src
           |  WHERE l.label IS NOT NULL GROUP BY 1, 2),
           |b$r AS (SELECT id, label AS vote FROM (
           |  SELECT id, label, row_number() OVER (
           |    PARTITION BY id ORDER BY n DESC, label ASC) AS rk FROM v$r)
           |  WHERE rk = 1),
           |l$r AS MATERIALIZED (SELECT p.id,
           |  coalesce(s.seed_label, b$r.vote, p.label) AS label
           |  FROM $prev p LEFT JOIN b$r ON b$r.id = p.id
           |  LEFT JOIN seed s ON s.id = p.id)""".stripMargin
        s"""WITH $MinhashPairsCtes,
         |sym AS (SELECT id_a AS src, id_b AS dst FROM mh_pairs
         |  UNION SELECT id_b, id_a FROM mh_pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM sym),
         |seed AS (SELECT doc_id AS id, lang AS seed_label
         |  FROM documents WHERE doc_id % 5 = 0),
         |l0 AS (SELECT n.id, s.seed_label AS label
         |  FROM nodes n LEFT JOIN seed s ON s.id = n.id),
         |${round(1, "l0")},
         |${round(2, "l1")},
         |${round(3, "l2")}
         |SELECT l3.id AS doc_id, l3.label, s.id IS NOT NULL AS is_seed
         |FROM l3 LEFT JOIN seed s ON s.id = l3.id""".stripMargin
      }),

    // incremental SEMANTIC dedup: codebook trained on the bootstrap 2/3
    // and frozen; the batch ids interleave below existing ids, so both
    // the batch-verdict and tighten-existing paths execute. EXACTNESS
    // contract: equals semanticDedupFrozen on the union vs the bootstrap
    // centroids — the oracle retrains the kmeans chain on the SAME
    // bootstrap subset and assigns the full corpus against it.
    row("dedup_sem_inc", (s, dir) => {
      val e = Tables(s, dir).embeddings.select("vec_id", "embedding")
      var st = IncrementalSemDedup.bootstrap(
        e.where(col("vec_id") % 3 =!= 0), threshold = 0.4, k = 8, iters = 2)
      st = IncrementalSemDedup.addBatch(st, e.where(col("vec_id") % 3 === 0))
      IncrementalSemDedup.result(st)
    },
      // Mirrors the incremental semantic-dedup chain: the kmeans chain
      // trains on the BOOTSTRAP subset only (vec_id % 3 <> 0), the FULL
      // corpus assigns against the frozen final centroids (same argmin +
      // (dist, cluster) tie-break), then the identical within-cluster
      // lowest-id prune as dedup_semantic — exactly the exactness contract
      // IncrementalSemDedup maintains batch by batch.
      s"""WITH ea AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |e AS (SELECT * FROM ea WHERE vec_id % 3 <> 0),
         |${kmeansChain("", "e", k = 8, oversample = 4, iters = 2)},
         |aall AS (SELECT vec_id, v, cluster FROM (
         |  SELECT ea.vec_id, ea.v, c.cluster,
         |    row_number() OVER (PARTITION BY ea.vec_id ORDER BY
         |      list_sum(list_transform(range(1, len(ea.v) + 1), i -> (ea.v[i] - c.centroid[i]) * (ea.v[i] - c.centroid[i]))) ASC,
         |      c.cluster ASC) AS rn
         |  FROM ea CROSS JOIN c2 c) WHERE rn = 1),
         |pr AS (SELECT vec_id, min(id_a) AS pruned_by FROM (
         |  SELECT b.vec_id, a.vec_id AS id_a,
         |    list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) /
         |      (sqrt(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * a.v[i]))) *
         |       sqrt(list_sum(list_transform(range(1, len(b.v) + 1), i -> b.v[i] * b.v[i])))) AS cos_sim
         |  FROM aall a JOIN aall b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
         |WHERE cos_sim >= 0.4 GROUP BY 1)
         |SELECT c.vec_id, c.cluster, pr.pruned_by IS NULL AS is_kept, pr.pruned_by
         |FROM aall c LEFT JOIN pr ON pr.vec_id = c.vec_id""".stripMargin)
  )
}
