package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Components, Curation, Packing, Sampling, TextOps}

import Fixtures._
import QueryRow.{face, row}

/** Deterministic sampling, dataset splitting, decontamination and packing. */
private[graft] object SamplingRows {
  val rows: Seq[QueryRow] = Seq(
    // ---- deterministic sampling / dataset splitting ----
    row("sample_split", (s, dir) => {
      Sampling.assignSplit(Tables(s, dir).documents, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split")
    },
      // Mirrors Sampling.bucketOf: the salt-keyed Carter–Wegman map
      // (a·PolyHash(id) + b) mod p over the id hash, % 10000; boundaries from
      // cumulative split weights (0.8/0.1/0.1 -> 8000/9000). a/b are the same
      // driver-computed literals the Spark plan embeds.
      s"""WITH b AS (SELECT doc_id,
         |  ((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("split")}
         |    + ${Sampling.saltAdd("split")}) % 1000000007 % 10000 AS bkt FROM documents)
         |SELECT doc_id, CASE WHEN bkt < 8000 THEN 'train'
         |  WHEN bkt < 9000 THEN 'val' ELSE 'test' END AS split FROM b""".stripMargin),
    row("sample_fraction", (s, dir) => {
      Sampling.deterministicSample(Tables(s, dir).documents, "doc_id", 0.1)
        .select("doc_id", "lang")
    },
      s"""SELECT doc_id, lang FROM documents
         |WHERE ((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("sample")}
         |  + ${Sampling.saltAdd("sample")}) % 1000000007 % 10000 < 1000""".stripMargin,
      face("sql_sample") { (s, dir) =>
        viaSql(s, "graft_sql_documents" -> Tables(s, dir).documents)(
          "SELECT doc_id, lang FROM graft_sample('graft_sql_documents', " +
          "'doc_id', 0.1)") }),
    // leakage-safe split: near-dup clusters move between splits as one unit
    row("split_leakage_safe", (s, dir) => {
      val docs = Tables(s, dir).documents
      Sampling.leakageSafeSplit(docs,
        Components.dedupClusters(docs).select("doc_id", "cluster_id"),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split_key", "split")
    },
      // Mirrors Sampling.leakageSafeSplit: the dedup_clusters closure CTEs
      // resolve each doc's cluster id; the split key is
      // coalesce(cluster_id, doc_id) pushed through the SAME bucket formula
      // as sample_split — so cluster members provably share a split.
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |$ClosureCtes,
         |keyed AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_key
         |  FROM documents d LEFT JOIN comps c USING (doc_id)),
         |b AS (SELECT doc_id, split_key,
         |  ((${phSql("CAST(split_key AS VARCHAR)", "0")}) * ${Sampling.saltMult("split")}
         |    + ${Sampling.saltAdd("split")}) % 1000000007 % 10000 AS bkt FROM keyed)
         |SELECT doc_id, split_key, CASE WHEN bkt < 8000 THEN 'train'
         |  WHEN bkt < 9000 THEN 'val' ELSE 'test' END AS split FROM b""".stripMargin),
    row("sample_stratified", (s, dir) => {
      Sampling.stratifiedSample(Tables(s, dir).documents, "doc_id", "lang", 20)
        .select("doc_id", "lang")
    },
      // Mirrors Sampling.stratifiedSample: rank by the same Carter–Wegman
      // hash within each lang stratum, keep the 20 smallest.
      s"""SELECT doc_id, lang FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("strat")}
         |      + ${Sampling.saltAdd("strat")}) % 1000000007 ASC, doc_id ASC) AS rn
         |  FROM documents) WHERE rn <= 20""".stripMargin),
    // temperature-2 language rebalance: exact √n-proportional quotas
    row("sample_mixture", (s, dir) =>
      Sampling.temperatureSample(Tables(s, dir).documents, "doc_id", "lang", 250)
        .select("doc_id", "lang"),
      // Mirrors Sampling.temperatureSample: same √n weights (sqrt is
      // correctly rounded in both engines, unlike pow), the weight total
      // folded in lang order via the seeded list_reduce (matching Spark's
      // sorted-array fold — float addition is order-sensitive), same
      // half-up round, cap, and Carter–Wegman rank fill.
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
         |t AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(sqrt(CAST(n AS DOUBLE)) ORDER BY lang)), (a, b) -> a + b) AS tot FROM c),
         |q AS (SELECT lang, least(n,
         |    CAST(round(CAST(250 AS DOUBLE) * sqrt(CAST(n AS DOUBLE)) / tot) AS BIGINT)) AS quota
         |  FROM c, t),
         |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
         |    ORDER BY ((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("mix")}
         |      + ${Sampling.saltAdd("mix")}) % 1000000007 ASC, doc_id ASC) AS rn
         |  FROM documents)
         |SELECT doc_id, lang FROM r JOIN q USING (lang) WHERE rn <= quota""".stripMargin),
    // token-budgeted mixture: fill each source's TOKEN quota in id order
    row("sample_token_budget", (s, dir) =>
      Sampling.tokenBudgetSample(Tables(s, dir).documents,
        TokenBudgets.toMap),
      // Mirrors Sampling.tokenBudgetSample: per-source running token total in
      // doc_id order, keep while the exclusive prefix is under the budget
      {
        val budgetRows = TokenBudgets
          .map { case (s, b) => s"('$s', CAST($b AS BIGINT))" }.mkString(", ")
        s"""WITH lens AS (SELECT doc_id, source,
         |  CAST(len($Toks) AS BIGINT) AS n_toks FROM documents),
         |cum AS (SELECT doc_id, source, n_toks,
         |  CAST(sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cum_toks
         |  FROM lens),
         |bud AS (SELECT * FROM (VALUES $budgetRows) t(source, budget))
         |SELECT doc_id, source, n_toks, cum_toks
         |FROM cum JOIN bud USING (source)
         |WHERE cum_toks - n_toks < budget""".stripMargin
      }),

    // ---- benchmark decontamination: the held-out test split is the
    // benchmark; any 5-token-gram overlap flags a training doc ----
    row("decontaminate", (s, dir) => {
      val docs = Tables(s, dir).documents
      val bench = Sampling.assignSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .where(col("split") === "test")
      TextOps.decontaminate(docs, bench, n = 5)
    },
      // Mirrors TextOps.decontaminate over the test-split benchmark: same
      // 5-token grams (the MinhashPairsCtes slice algebra at k=5), same
      // split boundary literal (bucket >= 9000) as the sample_split twin.
      s"""WITH toks AS (SELECT doc_id, $Toks AS tk FROM documents),
         |g AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 5
         |  THEN list_transform(range(1, len(tk) - 3), i -> array_to_string(tk[i:i+4], ' '))
         |  ELSE [] END) AS g FROM toks),
         |bench AS (SELECT doc_id FROM documents
         |  WHERE ((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("split")}
         |    + ${Sampling.saltAdd("split")}) % 1000000007 % 10000 >= 9000),
         |bg AS (SELECT DISTINCT unnest(g.g) AS gram FROM g JOIN bench USING (doc_id)),
         |dg AS (SELECT doc_id, unnest(g) AS gram FROM g),
         |sh AS (SELECT dg.doc_id, count(*) AS n_shared_ngrams FROM dg JOIN bg USING (gram) GROUP BY 1)
         |SELECT d.doc_id, coalesce(sh.n_shared_ngrams, 0) AS n_shared_ngrams,
         |  coalesce(sh.n_shared_ngrams, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN sh USING (doc_id)""".stripMargin),
    // Bloom-filter face of decontamination: same bench slice reduced to a
    // 2^18-bit filter; deterministic including false positives
    row("bloom_decontaminate", (s, dir) => {
      val docs = Tables(s, dir).documents
      val bench = Sampling.assignSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .where(col("split") === "test")
      TextOps.bloomDecontaminate(docs, bench, n = 5)
    },
      // Mirrors TextOps.bloomDecontaminate: identical bench slice and grams
      // as the decontaminate twin, bit positions PolyHash(gram, 101+j) mod
      // 2^18 for j in 0..2, sparse 32-bit word map via bit_or, membership
      // via mask & (1 << bit) with bit < 32 — no shift ever reaches the
      // BIGINT sign bit (DuckDB raises on the checked 1::BIGINT << 63).
      s"""WITH toks AS (SELECT doc_id, $Toks AS tk FROM documents),
         |g AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 5
         |  THEN list_transform(range(1, len(tk) - 3), i -> array_to_string(tk[i:i+4], ' '))
         |  ELSE [] END) AS g FROM toks),
         |bench AS (SELECT doc_id FROM documents
         |  WHERE ((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("split")}
         |    + ${Sampling.saltAdd("split")}) % 1000000007 % 10000 >= 9000),
         |bg AS (SELECT DISTINCT unnest(g.g) AS gram FROM g JOIN bench USING (doc_id)),
         |bpos AS (SELECT DISTINCT (${phSql("gram", "101 + j")}) % 262144 AS p
         |  FROM bg CROSS JOIN range(0, 3) t(j)),
         |words AS (SELECT p // 32 AS word_idx,
         |  bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS mask
         |  FROM bpos GROUP BY 1),
         |dg AS (SELECT doc_id, unnest(g) AS gram FROM g),
         |dp AS (SELECT doc_id, gram, (${phSql("gram", "101 + j")}) % 262144 AS p
         |  FROM dg CROSS JOIN range(0, 3) t(j)),
         |hit AS (SELECT dp.doc_id, dp.gram,
         |  min(CASE WHEN w.mask IS NOT NULL AND
         |    (w.mask & (CAST(1 AS BIGINT) << CAST(dp.p % 32 AS INTEGER))) <> 0
         |    THEN 1 ELSE 0 END) AS all_set
         |  FROM dp LEFT JOIN words w ON w.word_idx = dp.p // 32 GROUP BY 1, 2),
         |per AS (SELECT doc_id, CAST(sum(all_set) AS BIGINT) AS n_bloom_hits
         |  FROM hit GROUP BY 1)
         |SELECT d.doc_id, coalesce(per.n_bloom_hits, 0) AS n_bloom_hits,
         |  coalesce(per.n_bloom_hits, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin),
    // shardWidth 100 forces multiple shards at sf0.01 so the distributed
    // prefix sum is exercised, not just the single-shard degenerate case
    row("pack_sequences", (s, dir) =>
      Packing.packSequences(Tables(s, dir).documents, 512, shardWidth = 100),
      // Mirrors Packing.packSequences: a plain global running sum here — the
      // Spark side's sharded prefix sum must land on byte-identical offsets.
      // sum() OVER is HUGEINT in DuckDB, hence the CAST (see sim_srp note).
      s"""WITH lens AS (SELECT doc_id, CAST(len($Toks) AS BIGINT) AS n_toks FROM documents),
         |nz AS (SELECT * FROM lens WHERE n_toks > 0),
         |c AS (SELECT doc_id, n_toks,
         |  CAST(sum(n_toks) OVER (ORDER BY doc_id) AS BIGINT) AS e FROM nz),
         |s AS (SELECT doc_id, n_toks, e - n_toks AS st, e FROM c),
         |x AS (SELECT doc_id, n_toks, st, e,
         |  unnest(range(st // 512, ((e - 1) // 512) + 1)) AS chunk_id FROM s)
         |SELECT doc_id, n_toks, chunk_id,
         |  greatest(chunk_id * 512, st) - st AS tok_start,
         |  least((chunk_id + 1) * 512, e) - st AS tok_end
         |FROM x""".stripMargin),
    // quality-weighted Bernoulli thinning: acceptance probability = the
    // quality score, decided by a deterministic per-row draw (soft filter)
    row("sample_importance", (s, dir) =>
      Sampling.bernoulliByProb(Tables(s, dir).documents, "doc_id",
          TextOps.qualityScoreCol(col("text")))
        .select("doc_id", "u", "accept_prob", "is_kept"),
      // Mirrors Sampling.bernoulliByProb(quality score): same CW draw as the
      // other sampling twins, same NaN-null clamp, decision u < p.
      {
        val u = s"((((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("importance")}" +
          s" + ${Sampling.saltAdd("importance")}) % 1000000007 + 0.5) / 1000000007)"
        s"""WITH q AS (SELECT doc_id, $Toks AS tk, text FROM documents),
         |s AS (SELECT doc_id, $u AS u, (${qualityScoreSql("tk", "text")}) AS score FROM q),
         |c AS (SELECT doc_id, u,
         |  CASE WHEN score IS NULL OR isnan(score) THEN NULL
         |       ELSE least(greatest(score, CAST(0 AS DOUBLE)), CAST(1 AS DOUBLE)) END AS accept_prob
         |  FROM s)
         |SELECT doc_id, u, accept_prob,
         |  coalesce(u < accept_prob, false) AS is_kept FROM c""".stripMargin
      }),
    row("sample_weighted", (s, dir) =>
      Sampling.weightedSample(Tables(s, dir).documents.select("doc_id", "n_chars"),
        "doc_id", "n_chars", n = 50),
      // Mirrors Sampling.weightedSample: identical Efraimidis–Spirakis key
      // (same Carter–Wegman u, same -ln(u)/w), same (key, id) order + limit.
      s"""SELECT doc_id, n_chars FROM (
         |  SELECT doc_id, n_chars,
         |    -ln((((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("wsample")}
         |      + ${Sampling.saltAdd("wsample")}) % 1000000007 + 0.5) / 1000000007)
         |      / n_chars AS key
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
         |ORDER BY key, doc_id LIMIT 50""".stripMargin),
    // DSIR importance resampling: the 100 raw docs whose hashed-gram
    // distribution looks most like the English slice (Gumbel top-k over
    // deterministic importance weights)
    row("sample_dsir", (s, dir) =>
      Sampling.dsirResample(Tables(s, dir).documents, col("lang") === "en",
        k = 100),
      // Mirrors Sampling.dsirResample(lang='en', k=100, dims=2048): same
      // PolyHash gram buckets (unigrams + adjacent bigrams), same add-1
      // smoothed four-ln-term bucket ratio over exact integer counts, the
      // per-doc sum folded over the bucket-SORTED term list (pinned
      // accumulation order), and the same CW Gumbel draw per id. sum(c) is
      // CAST back to BIGINT (DuckDB sums BIGINT into HUGEINT, whose +dims
      // arithmetic would be exact but whose ln() cast path must match
      // Spark's long->double).
      {
        val mult = Sampling.saltMult("dsir")
        val add = Sampling.saltAdd("dsir")
        val u = s"((((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * $mult" +
          s" + $add) % 1000000007 + 0.5) / 1000000007)"
        s"""WITH tkd AS (SELECT doc_id, lang = 'en' AS tgt, $Toks AS tk FROM documents),
         |grd AS (
         |  SELECT doc_id, tgt, unnest(tk) AS g FROM tkd
         |  UNION ALL
         |  SELECT doc_id, tgt,
         |    unnest(list_transform(range(1, len(tk)), i -> concat(tk[i], ' ', tk[i + 1]))) AS g
         |  FROM tkd WHERE len(tk) >= 2),
         |occd AS (SELECT doc_id, tgt, ${phSql("g", "0")} % 2048 AS b FROM grd),
         |dcd AS (SELECT doc_id, b, max(tgt) AS tgt, CAST(count(*) AS BIGINT) AS c
         |  FROM occd GROUP BY 1, 2),
         |qbd AS (SELECT b, CAST(sum(c) AS BIGINT) AS qc FROM dcd GROUP BY 1),
         |tbd AS (SELECT b, CAST(sum(c) AS BIGINT) AS tc FROM dcd WHERE tgt GROUP BY 1),
         |totd AS (SELECT CAST(sum(c) AS BIGINT) AS qn,
         |  CAST(sum(CASE WHEN tgt THEN c ELSE 0 END) AS BIGINT) AS tn FROM dcd),
         |lrd AS (SELECT b,
         |  ln(CAST(COALESCE(tc, 0) + 1 AS DOUBLE)) - ln(CAST(tn + 2048 AS DOUBLE))
         |    - ln(CAST(qc + 1 AS DOUBLE)) + ln(CAST(qn + 2048 AS DOUBLE)) AS lnr
         |  FROM qbd LEFT JOIN tbd USING (b) CROSS JOIN totd),
         |dwd AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list(CAST(c AS DOUBLE) * lnr ORDER BY b)), (a, x) -> a + x) AS logw
         |  FROM dcd JOIN lrd USING (b) GROUP BY 1)
         |SELECT doc_id, n_grams, logw, logw + (- ln(- ln($u))) AS score
         |FROM dwd ORDER BY score DESC, doc_id ASC LIMIT 100""".stripMargin
      },
      face("sql_dsir") { (s, dir) =>
        viaSql(s, "graft_sql_docs_dsir" ->
            Tables(s, dir).documents.withColumn("is_en", col("lang") === "en"))(
          "SELECT * FROM graft_dsir('graft_sql_docs_dsir', 'is_en', 100)") }),
    // the end-to-end curation pipeline composed from the verified stage
    // operators: gopher quality gate + exact-dedup keeper + near-dup
    // quality-argmax keeper + 5-gram decontamination against the held-out
    // test split (the same bench slice as the decontaminate gate)
    row("pipeline_curate", (s, dir) => {
      val docs = Tables(s, dir).documents
      val bench = Sampling.assignSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .where(col("split") === "test")
      Curation.curate(docs, bench)
    },
      // Mirrors Curation.curate: the composite reuses the SHARED oracle
      // bodies of its stages verbatim — GopherCtes (quality gate),
      // MinhashPairsCtes + ClosureCtes + the dedup_keepers ranking (near-dup
      // keeper), the dedup_exact md5 groups, and the decontaminate 5-gram
      // bench probe (CTEs renamed: the shared minhash chain owns `toks`/`sh`)
      // — so the pipeline verdicts cannot drift from the per-stage gates.
      s"""WITH RECURSIVE $MinhashPairsCtes,
         |$ClosureCtes,
         |$GopherCtes,
         |q AS (SELECT d.doc_id,
         |  ${qualityScoreSql("t.tk", "d.text")} AS quality_score
         |  FROM documents d JOIN toks t USING (doc_id)),
         |r AS (SELECT c.doc_id, c.cluster_id, q.quality_score,
         |  row_number() OVER (PARTITION BY c.cluster_id
         |    ORDER BY q.quality_score DESC, c.doc_id ASC) AS rk
         |  FROM comps c JOIN q USING (doc_id)),
         |nk AS (SELECT doc_id, rk = 1 AS is_keeper FROM r),
         |exd AS (SELECT doc_id, md5(text) AS text_md5 FROM documents),
         |exg AS (SELECT text_md5, min(doc_id) AS keeper_id FROM exd GROUP BY 1),
         |exk AS (SELECT exd.doc_id, exd.doc_id = exg.keeper_id AS is_exact_keeper
         |  FROM exd JOIN exg USING (text_md5)),
         |dgr AS (SELECT doc_id, list_distinct(CASE WHEN len(tk) >= 5
         |  THEN list_transform(range(1, len(tk) - 3), i -> array_to_string(tk[i:i+4], ' '))
         |  ELSE [] END) AS g FROM toks),
         |bsel AS (SELECT doc_id FROM documents
         |  WHERE ((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("split")}
         |    + ${Sampling.saltAdd("split")}) % 1000000007 % 10000 >= 9000),
         |bgr AS (SELECT DISTINCT unnest(dgr.g) AS gram FROM dgr JOIN bsel USING (doc_id)),
         |dgo AS (SELECT doc_id, unnest(g) AS gram FROM dgr),
         |shd AS (SELECT dgo.doc_id, count(*) AS n_shared FROM dgo JOIN bgr USING (gram) GROUP BY 1)
         |SELECT d.doc_id, gr.pass_gopher, exk.is_exact_keeper,
         |  coalesce(nk.is_keeper, true) AS is_near_keeper,
         |  coalesce(shd.n_shared, 0) = 0 AS is_clean,
         |  gr.pass_gopher AND exk.is_exact_keeper AND coalesce(nk.is_keeper, true)
         |    AND (coalesce(shd.n_shared, 0) = 0) AS kept
         |FROM documents d
         |JOIN gr USING (doc_id)
         |JOIN exk USING (doc_id)
         |LEFT JOIN nk USING (doc_id)
         |LEFT JOIN shd USING (doc_id)""".stripMargin,
      face("sql_curate") { (s, dir) =>
        val docs = Tables(s, dir).documents
        viaSql(s, "graft_sql_documents" -> docs,
          "graft_sql_bench_curate" -> Sampling.assignSplit(docs, "doc_id",
              Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
            .where(col("split") === "test"))(
          "SELECT * FROM graft_curate('graft_sql_documents', 'graft_sql_bench_curate')") }),
    // soft dedup: keep each doc with probability 1/cluster_size over the
    // minhash near-dup clusters — in expectation each duplicate FAMILY
    // contributes one copy, without the hard drop (SoftDeDup-style
    // reweighting); singletons keep probability 1
    row("sample_soft_dedup", (s, dir) => {
      val d = Tables(s, dir).documents
      val cl = Components.dedupClusters(d).select("doc_id", "cluster_size")
      val sized = d.select("doc_id").join(cl, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      Sampling.bernoulliByProb(sized, "doc_id",
          lit(1.0) / col("cluster_size").cast("double"), salt = "softdedup")
        .select("doc_id", "cluster_size", "u", "accept_prob", "is_kept")
    },
      // Mirrors the soft-dedup gate: the shared cluster-closure CTEs give
      // cluster sizes, p = 1/size needs no clamp branch (it is always in
      // (0, 1], and least/greatest are float no-ops there), same CW draw
      // under the 'softdedup' salt.
      {
        val u = s"((((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("softdedup")}" +
          s" + ${Sampling.saltAdd("softdedup")}) % 1000000007 + 0.5) / 1000000007)"
        s"""WITH RECURSIVE $MinhashPairsCtes,
         |$ClosureCtes,
         |cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS csize
         |  FROM comps GROUP BY 1),
         |sized AS (SELECT d.doc_id, coalesce(cs.csize, 1) AS cluster_size
         |  FROM documents d LEFT JOIN comps c USING (doc_id)
         |  LEFT JOIN cs ON cs.cluster_id = c.cluster_id)
         |SELECT doc_id, cluster_size, $u AS u,
         |  CAST(1 AS DOUBLE) / CAST(cluster_size AS DOUBLE) AS accept_prob,
         |  $u < (CAST(1 AS DOUBLE) / CAST(cluster_size AS DOUBLE)) AS is_kept
         |FROM sized""".stripMargin
      }),
    row("corpus_divergence", (s, dir) =>
      TextOps.unigramDivergence(Tables(s, dir).documents, col("lang") === "en"),
      // Mirrors TextOps.unigramDivergence: identical smoothing and p/q/m
      // algebra; counts CAST out of HUGEINT before pandas sees them.
      s"""WITH toks AS (SELECT lang = 'en' AS a, unnest($Toks) AS term FROM documents),
         |counts AS (SELECT term,
         |  CAST(sum(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |  CAST(sum(CASE WHEN a THEN 0 ELSE 1 END) AS BIGINT) AS cb
         |  FROM toks GROUP BY 1),
         |tot AS (SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb,
         |  count(*) AS v FROM counts),
         |pq AS (SELECT (ca + 1.0) / (ta + v) AS p, (cb + 1.0) / (tb + v) AS q,
         |  ((ca + 1.0) / (ta + v) + (cb + 1.0) / (tb + v)) / 2 AS m, ta, tb, v
         |  FROM counts, tot)
         |SELECT sum(0.5 * p * ln(p / m) + 0.5 * q * ln(q / m)) AS js_divergence,
         |  max(v) AS n_vocab, max(ta) AS n_tokens_a, max(tb) AS n_tokens_b
         |FROM pq""".stripMargin)
  )
}
