package graft
package rows

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.pipeline.{Profile, Sampling, TextCdc, TextOps}

import Fixtures._
import QueryRow.{amortizedRow, face, row}

/** Text analysis: token statistics, quality scores and classifiers, language models, chunking, line and substring dedup signals. */
private[graft] object TextRows {
  val rows: Seq[QueryRow] = Seq(

    // ---- text analysis ----
    row("text_token_count", (s, dir) => {
      Tables(s, dir).documents
        // cast: size() is int32 but the DuckDB twin's len() is BIGINT —
        // keep the dtypes identical so value hashing can't see a width gap
        .select(col("doc_id"), TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
    },
      s"SELECT doc_id, len($Toks) AS n_tokens FROM documents"),
    row("text_bpe_tokens", (s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), TextOps.bpeTokenCount(col("text")).as("n_bpe_tokens"))
    },
      """SELECT doc_id, CAST(len(regexp_extract_all(lower(text),
        |  ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS INTEGER) AS n_bpe_tokens
        |FROM documents""".stripMargin),
    row("text_quality", (s, dir) => {
      TextOps.qualityScore(Tables(s, dir).documents)
        .select("doc_id", "n_chars_m", "n_tokens", "mean_token_len",
          "alnum_ratio", "space_ratio", "stopword_ratio", "quality_score")
    },
      s"""WITH f AS (SELECT doc_id, text, $Toks AS toks,
         |  length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS alnum FROM documents),
         |g AS (SELECT doc_id, text, toks, alnum,
         |  len(list_filter(toks, t -> list_contains($EnStopSql, t))) AS stop
         |FROM f)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars_m,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(toks) > 0 THEN CAST(alnum AS DOUBLE) / len(toks) ELSE 0.0 END AS mean_token_len,
         |  CASE WHEN length(text) > 0 THEN CAST(alnum AS DOUBLE) / length(text) ELSE 0.0 END AS alnum_ratio,
         |  CASE WHEN length(text) > 0 THEN CAST(length(text) - length(replace(text, ' ', '')) AS DOUBLE) / length(text) ELSE 0.0 END AS space_ratio,
         |  CASE WHEN len(toks) > 0 THEN CAST(stop AS DOUBLE) / len(toks) ELSE 0.0 END AS stopword_ratio,
         |  ${qualityScoreSql("toks", "text")} AS quality_score
         |FROM g""".stripMargin,
      face("sql_quality") { (s, dir) =>
        viaSql(s, "graft_sql_documents" -> Tables(s, dir).documents)(
          "SELECT doc_id, n_chars_m, n_tokens, mean_token_len, " +
          "alnum_ratio, space_ratio, stopword_ratio, quality_score " +
          "FROM graft_quality('graft_sql_documents')") }),
    row("text_gopher_rules", (s, dir) =>
      TextOps.gopherRules(Tables(s, dir).documents, minWords = 25)
        .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
          "alpha_word_ratio", "n_stopword_hits", "pass_gopher"),
      // Mirrors TextOps.gopherRules: same whitespace word split, '#'/'...'
      // symbol counts, alpha-word and stopword-union rules; ratio CASEs
      // mirror the when(nWords > 0, …) null semantics and the pass flag's
      // false && null = false short-circuit.
      s"""WITH $GopherCtes
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_ratio,
         |  n_stopword_hits, pass_gopher FROM gr""".stripMargin),
    // Flesch reading ease + Flesch-Kincaid grade: vowel-group syllables
    // (floor 1/word), [.!?]+ sentences (floor 1) — the surface-form
    // difficulty feature for curation and curriculum ordering
    row("text_readability", (s, dir) =>
      TextOps.readability(Tables(s, dir).documents),
      // Mirrors TextOps.readability: same vowel-group syllable heuristic
      // (regex runs + vowel-less token floor), same [.!?]+ sentence count,
      // literals cast to DOUBLE so the scoring arithmetic lands on the same
      // doubles.
      s"""WITH b AS (SELECT doc_id,
         |  CAST(len($Toks) AS BIGINT) AS n_words,
         |  greatest(CAST(1 AS BIGINT),
         |    CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sentences,
         |  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
         |    + CAST(len(list_filter($Toks,
         |        w -> NOT regexp_matches(w, '[aeiouy]'))) AS BIGINT) AS n_syllables
         |  FROM documents WHERE text IS NOT NULL),
         |r AS (SELECT doc_id, n_words, n_sentences, n_syllables,
         |  CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS wps,
         |  CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) AS spw
         |  FROM b WHERE n_words >= 1)
         |SELECT doc_id, n_words, n_sentences, n_syllables,
         |  CAST(206.835 AS DOUBLE) - CAST(1.015 AS DOUBLE) * wps
         |    - CAST(84.6 AS DOUBLE) * spw AS flesch_ease,
         |  CAST(0.39 AS DOUBLE) * wps + CAST(11.8 AS DOUBLE) * spw
         |    - CAST(15.59 AS DOUBLE) AS fk_grade
         |FROM r""".stripMargin,
      face("sql_readability") { (s, dir) =>
        viaSql(s, "graft_sql_docs_rd" -> Tables(s, dir).documents)(
          "SELECT * FROM graft_readability('graft_sql_docs_rd')") }),
    // RAKE keyphrases: stopword-delimited candidate runs, deg/freq word
    // scores, corpus top-50 — the unsupervised "what is this corpus about"
    row("text_rake", (s, dir) =>
      TextOps.rakePhrases(Tables(s, dir).documents),
      // Mirrors TextOps.rakePhrases(topN=50, maxLen=4): same gaps-and-islands
      // phrase runs, integer-quotient word scores, position-ordered seeded
      // fold per phrase, (score desc, phrase asc) top-50.
      {
        val stop = graft.pipeline.Stopwords.all.map(w => s"'$w'").mkString(", ")
        s"""WITH d AS (SELECT doc_id, $Toks AS toks FROM documents),
         |t2 AS (SELECT doc_id,
         |  unnest(list_transform(toks, (x, k) -> {'pos': k - 1, 'w': x})) AS t
         |  FROM d),
         |tok AS (SELECT doc_id, t.pos AS pos, t.w AS w FROM t2),
         |ns AS (SELECT doc_id, pos, w,
         |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS seg
         |  FROM tok WHERE w NOT IN ($stop)),
         |occ AS (SELECT list(w ORDER BY pos) AS words FROM ns
         |  GROUP BY doc_id, seg),
         |oc2 AS (SELECT words FROM occ WHERE len(words) <= 4),
         |ws AS (SELECT w, CAST(count(*) AS BIGINT) AS freq,
         |  CAST(sum(l) AS BIGINT) AS deg FROM
         |  (SELECT unnest(words) AS w, len(words) AS l FROM oc2) GROUP BY 1),
         |ws2 AS (SELECT w, CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
         |  AS wscore FROM ws),
         |phr AS (SELECT array_to_string(words, ' ') AS phrase,
         |  CAST(count(*) AS BIGINT) AS n_occurrences, first(words) AS words
         |  FROM oc2 GROUP BY 1),
         |pw AS (SELECT phrase, n_occurrences,
         |  unnest(list_transform(words, (x, k) -> {'p': k, 'w': x})) AS t
         |  FROM phr),
         |pj AS (SELECT phrase, n_occurrences, t.p AS p, ws2.wscore
         |  FROM pw JOIN ws2 ON ws2.w = t.w),
         |sc AS (SELECT phrase, n_occurrences,
         |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |    list(wscore ORDER BY p)), (a, x) -> a + x) AS score
         |  FROM pj GROUP BY 1, 2)
         |SELECT phrase, n_occurrences, score FROM sc
         |ORDER BY score DESC, phrase ASC LIMIT 50""".stripMargin
      },
      face("sql_rake") { (s, dir) =>
        viaSql(s, "graft_sql_docs_rk" -> Tables(s, dir).documents)(
          "SELECT * FROM graft_rake('graft_sql_docs_rk', 50, 4)") }),
    // n-gram novelty vs everything earlier in id order: the redundancy
    // curve behind "is the crawl tail still adding anything"
    row("text_novelty", (s, dir) =>
      TextOps.ngramNovelty(Tables(s, dir).documents),
      // Mirrors TextOps.ngramNovelty(k=3): same word 3-shingles, same
      // distinct-per-doc postings, gram-min first owner, per-doc fraction.
      s"""WITH tk AS (SELECT doc_id AS id, $Toks AS t FROM documents),
         |g0 AS (SELECT id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
         |  i -> t[i] || ' ' || t[CAST(i + 1 AS INTEGER)] || ' ' || t[CAST(i + 2 AS INTEGER)])))
         |    AS g
         |  FROM tk WHERE len(t) >= 3),
         |fo AS (SELECT g, min(id) AS first_id FROM g0 GROUP BY 1)
         |SELECT g0.id AS doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN fo.first_id = g0.id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(sum(CASE WHEN fo.first_id = g0.id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) AS novelty_frac
         |FROM g0 JOIN fo USING (g) GROUP BY 1""".stripMargin,
      face("sql_novelty") { (s, dir) =>
        viaSql(s, "graft_sql_docs_nv" -> Tables(s, dir).documents)(
          "SELECT * FROM graft_novelty('graft_sql_docs_nv', 3)") }),
    row("text_fertility", (s, dir) => TextOps.fertility(Tables(s, dir).documents),
      // Mirrors TextOps.fertility: exact integer sums, one double division.
      s"""WITH s AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len($Toks)) AS BIGINT) AS n_words,
         |  CAST(sum(len(regexp_extract_all(lower(text),
         |    ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))) AS BIGINT) AS n_bpe_tokens
         |FROM documents GROUP BY 1)
         |SELECT lang, n_docs, n_words, n_bpe_tokens,
         |  CASE WHEN n_words > 0
         |    THEN CAST(n_bpe_tokens AS DOUBLE) / n_words END AS fertility
         |FROM s""".stripMargin),
    // model-free perplexity proxy: corpus-unigram cross-entropy per doc
    row("text_unigram_logprob", (s, dir) =>
      TextOps.unigramLogprob(Tables(s, dir).documents),
      // Mirrors TextOps.unigramLogprob: same add-1-smoothed corpus unigram
      // LM, same (c+1)/(N+V) → ln → sum → negate → per-token mean order.
      s"""WITH occ AS (SELECT doc_id, unnest($Toks) AS t FROM documents),
         |c AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM c)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  -sum(ln(CAST(c.c + 1 AS DOUBLE) / CAST(tot.n + tot.v AS DOUBLE)))
         |    / count(*) AS cross_entropy
         |FROM occ JOIN c USING (t) CROSS JOIN tot GROUP BY 1""".stripMargin),
    // one Markov order up: add-1 bigram LM cross-entropy
    row("text_bigram_logprob", (s, dir) =>
      TextOps.bigramLogprob(Tables(s, dir).documents),
      // Mirrors TextOps.bigramLogprob: add-1 bigram LM, context count =
      // bigrams opening with w1, V = corpus unigram vocabulary
      s"""WITH tk AS (SELECT doc_id, $Toks AS t FROM documents),
         |occ AS (SELECT doc_id, t[CAST(k AS INTEGER)] AS w1,
         |  t[CAST(k + 1 AS INTEGER)] AS w2
         |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS k
         |    FROM tk WHERE len(t) >= 2)),
         |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb FROM occ GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu FROM occ GROUP BY 1),
         |voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
         |  FROM (SELECT unnest(t) AS tok FROM tk))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  -sum(ln(CAST(cb + 1 AS DOUBLE) / CAST(cu + v AS DOUBLE)))
         |    / count(*) AS cross_entropy
         |FROM occ JOIN big USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN voc
         |GROUP BY 1""".stripMargin),
    // held-out scoring: LM counts from the 80% train split only, every
    // doc scored against it — the memorization-free perplexity filter
    row("text_bigram_holdout", (s, dir) =>
      TextOps.bigramLogprobHoldout(Tables(s, dir).documents,
        Sampling.bucketOf(col("doc_id"), "split") < 8000),
      // Mirrors TextOps.bigramLogprobHoldout over the sample_split train
      // bucket: counts from the train slice only, left-join scoring with
      // the add-1 unseen floor, is_train carried through.
      s"""WITH tk AS (SELECT doc_id, $Toks AS t,
         |  ((${phSql("CAST(doc_id AS VARCHAR)", "0")}) * ${Sampling.saltMult("split")}
         |    + ${Sampling.saltAdd("split")}) % 1000000007 % 10000 < 8000 AS is_train
         |  FROM documents),
         |occ AS (SELECT doc_id, is_train, t[CAST(k AS INTEGER)] AS w1,
         |  t[CAST(k + 1 AS INTEGER)] AS w2
         |  FROM (SELECT doc_id, is_train, t, unnest(range(1, len(t))) AS k
         |    FROM tk WHERE len(t) >= 2)),
         |big AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
         |  FROM occ WHERE is_train GROUP BY 1, 2),
         |ctx AS (SELECT w1, CAST(count(*) AS BIGINT) AS cu
         |  FROM occ WHERE is_train GROUP BY 1),
         |voc AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
         |  FROM (SELECT unnest(t) AS tok FROM tk WHERE is_train))
         |SELECT doc_id, is_train, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  -sum(ln(CAST(coalesce(cb, 0) + 1 AS DOUBLE)
         |    / CAST(coalesce(cu, 0) + v AS DOUBLE))) / count(*) AS cross_entropy
         |FROM occ LEFT JOIN big USING (w1, w2) LEFT JOIN ctx USING (w1) CROSS JOIN voc
         |GROUP BY 1, 2""".stripMargin),
    row("text_top_terms", (s, dir) =>
      TextOps.topTerms(Tables(s, dir).documents, k = 10),
      // Mirrors TextOps.topTerms: same (count desc, term asc) rank.
      s"""WITH occ AS (SELECT lang, unnest($Toks) AS term FROM documents),
         |c AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS n FROM occ GROUP BY 1, 2),
         |r AS (SELECT *, row_number() OVER (PARTITION BY lang
         |  ORDER BY n DESC, term ASC) AS rank FROM c)
         |SELECT lang, term, n, CAST(rank AS INTEGER) AS rank FROM r WHERE rank <= 10""".stripMargin),
    // hashing-trick featurization: fixed-width sparse count vectors
    // model-in-the-loop filtering: full-batch logistic regression over
    // standardized hashed features, distilling the quality-rule label
    // (the CCNet/fastText filter-training shape)
    row("text_quality_clf", (s, dir) =>
      TextOps.logregClassifier(Tables(s, dir).documents,
        TextOps.qualityScoreCol(col("text")) >= 0.6),
      // Mirrors TextOps.logregClassifier(quality >= 0.6, dims=64, iters=8,
      // lr=0.5): the hashed-feature buckets DENSIFIED and standardized per
      // bucket (absent counts 0, zero-variance sd 1 — the label itself is
      // per-row deterministic arithmetic via the shared qualityScoreSql, so
      // no cross-engine boundary risk at the threshold), then the
      // full-batch GD rounds unrolled as MATERIALIZED CTEs (each weight CTE
      // is referenced by the next round's logit AND gradient — plain
      // inlining would re-expand the chain exponentially, the BPE/PCA
      // lesson). The bias gradient rides the prepended constant-1 feature
      // at pos 0, exactly like the Spark side's single aggregation.
      {
        val dims = 64; val iters = 8; val lr = "CAST(0.5 AS DOUBLE)"
        def logit(w: String) =
          s"($w.wb + list_sum(list_transform(range(1, ${dims + 1}), i -> f.x[i] * $w.w[i])))"
        def sigma(z: String) =
          s"CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + exp(-$z))"
        def round(t: Int) =
          s"""er$t AS MATERIALIZED (SELECT f.doc_id, f.y, f.x,
           |  list_prepend(CAST(1 AS DOUBLE), f.x) AS lx,
           |  ${sigma(logit(s"w${t - 1}"))} - f.y AS e
           |  FROM fx f CROSS JOIN w${t - 1}),
           |gr$t AS MATERIALIZED (SELECT u.pos AS pos, sum(e * u.xv) / nn.n AS g FROM (
           |  SELECT e, unnest(list_transform(range(0, ${dims + 1}), i ->
           |    struct_pack(pos := i, xv := lx[i + 1]))) AS u FROM er$t) CROSS JOIN nn
           |  GROUP BY u.pos, nn.n),
           |w$t AS MATERIALIZED (SELECT
           |  (SELECT list(wn ORDER BY b) FROM (
           |    SELECT r.b, w.w[r.b + 1] - $lr * coalesce(gr.g, CAST(0 AS DOUBLE)) AS wn
           |    FROM range(0, $dims) r(b) LEFT JOIN gr$t gr ON gr.pos = r.b + 1
           |    CROSS JOIN w${t - 1} w)) AS w,
           |  (SELECT w.wb - $lr * coalesce(
           |    (SELECT g FROM gr$t WHERE pos = 0), CAST(0 AS DOUBLE))
           |   FROM w${t - 1} w) AS wb)""".stripMargin
        s"""WITH toksq AS (SELECT doc_id, $Toks AS tk, text FROM documents),
         |lab AS (SELECT doc_id, CASE WHEN (${qualityScoreSql("tk", "text")})
         |    >= CAST(0.6 AS DOUBLE) THEN 1 ELSE 0 END AS y, tk
         |  FROM toksq WHERE len(tk) > 0),
         |occ AS (SELECT doc_id, y, ${phSql("t", "0")} % $dims AS b
         |  FROM (SELECT doc_id, y, unnest(tk) AS t FROM lab)),
         |cc AS MATERIALIZED (SELECT doc_id, y, b, CAST(count(*) AS DOUBLE) AS c
         |  FROM occ GROUP BY 1, 2, 3),
         |nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM cc),
         |msd AS MATERIALIZED (SELECT b, s / nn.n AS mu,
         |  CASE WHEN ss / nn.n - (s / nn.n) * (s / nn.n) > 0
         |       THEN sqrt(ss / nn.n - (s / nn.n) * (s / nn.n))
         |       ELSE CAST(1 AS DOUBLE) END AS sd
         |  FROM (SELECT b, sum(c) AS s, sum(c * c) AS ss FROM cc GROUP BY 1)
         |  CROSS JOIN nn),
         |dl AS (SELECT DISTINCT doc_id, y FROM cc),
         |fx AS MATERIALIZED (SELECT d.doc_id, d.y,
         |  list((coalesce(cc.c, CAST(0 AS DOUBLE)) - coalesce(msd.mu, CAST(0 AS DOUBLE)))
         |       / coalesce(msd.sd, CAST(1 AS DOUBLE)) ORDER BY r.b) AS x
         |  FROM dl d CROSS JOIN range(0, $dims) r(b)
         |  LEFT JOIN cc ON cc.doc_id = d.doc_id AND cc.b = r.b
         |  LEFT JOIN msd ON msd.b = r.b
         |  GROUP BY d.doc_id, d.y),
         |w0 AS (SELECT list_transform(range(0, $dims), x -> CAST(0 AS DOUBLE)) AS w,
         |  CAST(0 AS DOUBLE) AS wb),
         |${(1 to iters).map(round).mkString(",\n")}
         |SELECT doc_id, y, p, p >= CAST(0.5 AS DOUBLE) AS pred FROM (
         |  SELECT f.doc_id, f.y, ${sigma(logit(s"w$iters"))} AS p
         |  FROM fx f CROSS JOIN w$iters)""".stripMargin
      }),
    // the same classifier in the PRODUCTION serving shape (the sim_pq_prod
    // pattern): logregTrain persists weights + standardization moments to
    // parquet keyed by corpus size, and scoring runs from the FROZEN file
    // read back — one corpus scan against driver-literal weights, no
    // training, no label, no moment pass. The DuckDB twin reads the same
    // frozen parquet and independently recomputes the serving arithmetic
    // (hashed counts -> frozen-mu/sd standardization -> dot -> sigmoid);
    // training stays oracle-covered by text_quality_clf (same GD path).
    // Amortized, with stream_clf_score: the GD training is driver-sequential
    // (measured par ≈ 0.8 over ~30 tiny jobs) and identical across the
    // three faces; text_quality_clf keeps timing the full training path
    // every run as the control.
    amortizedRow("clf_quality_frozen", (s, dir) =>
      frozenClfScore(s, dir, ClfFrozenDir)(
        TextOps.logregScoreFrozen(_, _)),
      // Mirrors TextOps.logregScoreFrozen against the FROZEN model parquet
      // each face wrote (weights + standardization moments, bias at the
      // b = -1 sentinel): the serving arithmetic — hashed counts, frozen-
      // mu/sd standardization over ALL dims buckets (the model covers every
      // bucket, unlike the training twin's data-present msd), index-ordered
      // dot, sigmoid — recomputed independently from the same file.
      // Training is deliberately out of this twin (it is text_quality_clf's
      // oracle, same GD path); the model partition is picked by deriving the
      // same `clf-<n>` model id from this SF's document count, like the
      // sim_pq_prod twin.
      // One twin per face, pointed at THAT face's freeze dir (trainings can
      // differ in the last ulp, so faces never share a model).
      clfFrozenTwinSql(ClfFrozenDir),
      // frozen serving: the spliced plan IS logregScoreFrozen's (kernel map)
      face("sql_clf_score",
          oracle = clfFrozenTwinSql(ClfSqlFrozenDir)) { (s, dir) =>
        frozenClfScore(s, dir, ClfSqlFrozenDir) { (docs, mF) =>
          viaSql(s, "graft_sql_docs_clf" -> docs, "graft_sql_clf_model" -> mF)(
            "SELECT * FROM graft_clf_score('graft_sql_docs_clf', 'graft_sql_clf_model')")
        } }),
    // model-in-the-loop curation AT INGEST: the scoring kernel is a
    // narrow stateless map against a model read once at plan time, so the
    // operator runs on a stream as it is (StreamOpsSpec drives it as a
    // real MemoryStream)
    amortizedRow("stream_clf_score", (s, dir) =>
      frozenClfScore(s, dir, ClfStreamFrozenDir)(
        TextOps.logregScoreFrozen(_, _)),
      clfFrozenTwinSql(ClfStreamFrozenDir)),
    row("text_hashed_features", (s, dir) =>
      TextOps.hashedFeatures(Tables(s, dir).documents, dims = 64),
      // Mirrors TextOps.hashedFeatures: same PolyHash % dims buckets, same
      // ascending-index sparse assembly (DuckDB's ordered list aggregate).
      s"""WITH occ AS (SELECT doc_id, ${phSql("t", "0")} % 64 AS b
         |  FROM (SELECT doc_id, unnest($Toks) AS t FROM documents)),
         |c AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS c FROM occ GROUP BY 1, 2)
         |SELECT doc_id,
         |  array_to_string(list(b ORDER BY b), ',') AS indices,
         |  array_to_string(list(c ORDER BY b), ',') AS counts
         |FROM c GROUP BY 1""".stripMargin),
    // lexical retrieval: Okapi BM25 top-20 for a fixed query
    row("text_bm25", (s, dir) =>
      TextOps.bm25(Tables(s, dir).documents, "table scan sort key", k = 20),
      // Mirrors TextOps.bm25: the float expression is mirrored term for
      // term, constants entering through the same ops (k1+1 as 1.2 + 1 —
      // never a pre-folded 2.2, which DuckDB would take through DECIMAL).
      s"""WITH $Bm25Ctes
         |SELECT doc_id, n_matched_terms, score FROM bm25
         |ORDER BY score DESC, doc_id ASC LIMIT 20""".stripMargin,
      face("sql_bm25") { (s, dir) =>
        viaSql(s, "graft_sql_documents" -> Tables(s, dir).documents)(
          "SELECT * FROM graft_bm25('graft_sql_documents', 'table scan sort key', 20)") }),

    // ---- per-doc top TF-IDF terms ----
    row("text_tfidf", (s, dir) =>
      TextOps.tfIdfTopK(Tables(s, dir).documents, k = 5),
      s"""WITH t AS (SELECT doc_id, unnest($Toks) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (SELECT tf.doc_id, tf.term, tf.tf,
         |  tf.tf * (ln(CAST(n.n_docs + 1 AS DOUBLE) / (dfreq.df + 1)) + 1) AS tfidf
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n)
         |SELECT doc_id, term, tf, CAST(rank AS INTEGER) AS rank, tfidf FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank FROM s)
         |WHERE rank <= 5""".stripMargin),

    // ---- chunking / index / repetition / scrubbing ----
    row("text_chunks", (s, dir) =>
      TextOps.chunk(Tables(s, dir).documents, size = 200, overlap = 50),
      """SELECT doc_id, CAST(start // 150 AS INTEGER) AS chunk_idx,
        |  CAST(start AS INTEGER) AS chunk_start,
        |  substr(text, CAST(start + 1 AS INTEGER), 200) AS chunk_text
        |FROM (SELECT doc_id, text, unnest(range(0, length(text), 150)) AS start
        |      FROM documents)""".stripMargin),
    // postings emitted comma-joined: the driver's pandas compare cannot
    // sort/hash raw array cells
    row("text_inverted_index", (s, dir) =>
      TextOps.invertedIndex(Tables(s, dir).documents, maxPostings = 20)
        .select(col("term"), col("df"),
          array_join(col("postings").cast("array<string>"), ",").as("postings")),
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct($Toks)) AS term FROM documents),
         |r AS (SELECT term, doc_id, count(*) OVER (PARTITION BY term) AS df,
         |  row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM t)
         |SELECT term, max(df) AS df,
         |  array_to_string(list_sort(list(doc_id)), ',') AS postings
         |FROM r WHERE rn <= 20 GROUP BY term""".stripMargin),
    row("text_repetition", (s, dir) =>
      TextOps.repetitionStats(Tables(s, dir).documents),
      s"""WITH b AS (SELECT doc_id, $Toks AS tk FROM documents),
         |n AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(tk) > 0
         |    THEN CAST(len(tk) - len(list_distinct(tk)) AS DOUBLE) / len(tk)
         |    ELSE 0.0 END AS dup_token_ratio FROM b),
         |sh AS (SELECT doc_id, unnest(CASE WHEN len(tk) >= 3
         |  THEN list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))
         |  ELSE [] END) AS g FROM b),
         |gc AS (SELECT doc_id, g, count(*) AS c FROM sh GROUP BY 1, 2),
         |tg AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_trigram_share
         |  FROM gc GROUP BY 1)
         |SELECT n.doc_id, n.n_tokens, n.dup_token_ratio,
         |  coalesce(tg.top_trigram_share, 0.0) AS top_trigram_share
         |FROM n LEFT JOIN tg USING (doc_id)""".stripMargin),
    row("text_scrub", (s, dir) =>
      TextOps.scrubPii(Tables(s, dir).documents),
      // digit runs counted on the EMAIL-SCRUBBED text (mirrors scrubPii: a
      // digit run inside an email is redacted by the email pass, not twice)
      """WITH e AS (SELECT doc_id, text, regexp_replace(text,
        |  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS after_email
        |FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |     + len(regexp_extract_all(after_email, '[0-9]{7,}')) AS BIGINT) AS n_redactions,
        |  regexp_replace(after_email, '[0-9]{7,}', '<NUM>', 'g') AS scrubbed
        |FROM e""".stripMargin),

    // ---- CCNet line-level dedup + boilerplate screen ----
    // the flat fixture has no newlines, so line structure is synthesized
    // INSIDE each doc: a newline every 12 space-split words. Near-dup
    // docs share long unedited token runs, so their aligned chunks become
    // IDENTICAL lines across docs — exercising the first-occurrence-wins
    // dedup and (for clusters of 3+) the line-frequency boilerplate
    // screen on real corpus duplication, not planted rows
    row("text_line_dedup", (s, dir) =>
      TextOps.lineDedup(lineSynthDocs(Tables(s, dir).documents)),
      // Mirrors TextOps.lineDedup over the same synthesized line structure
      // (lineSynthDocs — a newline every 12 space-split words of each doc):
      // lines keyed by lower(trim(line)), empty keys dropped,
      // distinct-doc/occurrence counts per key, first occurrence under
      // (doc, line_no) wins, and keys in >= 3 docs are boilerplate —
      // is_kept mirrors the Spark min-struct + df conjunction exactly.
      s"""WITH $LineDedupCtes
         |SELECT ln.doc_id, ln.line_no, ln.line, st.n_docs, st.n_occurrences,
         |  (ln.rn = 1 AND st.n_docs < 3) AS is_kept
         |FROM ln JOIN st USING (k)""".stripMargin,
      // the line-dedup family: same synthesized multi-line corpus, same
      // default boilerplate threshold as text_line_dedup / text_line_clean
      face("sql_line_dedup") { (s, dir) =>
        viaSql(s, "graft_sql_docs_ld" -> lineSynthDocs(Tables(s, dir).documents))(
          "SELECT * FROM graft_line_dedup('graft_sql_docs_ld', 3)") }),
    // the document face: the cleaned corpus rebuilt from kept lines plus
    // per-doc removal accounting — CCNet's actual output
    row("text_line_clean", (s, dir) =>
      TextOps.lineClean(lineSynthDocs(Tables(s, dir).documents)),
      // Mirrors TextOps.lineClean over the shared line CTEs: kept lines
      // newline-joined in line order (string_agg skips the NULLed dropped
      // slots), per-doc removal accounting, all-removed and no-line docs
      // emitted with empty clean_text via the left join against sdoc.
      s"""WITH $LineDedupCtes,
         |v AS (SELECT ln.doc_id, ln.line_no, ln.line,
         |  (ln.rn = 1 AND st.n_docs < 3) AS is_kept
         |  FROM ln JOIN st USING (k)),
         |ag AS (SELECT doc_id,
         |  string_agg(CASE WHEN is_kept THEN line END, chr(10)
         |    ORDER BY line_no ASC) AS clean_text,
         |  CAST(count(*) AS BIGINT) AS n_lines,
         |  CAST(sum(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |  FROM v GROUP BY 1)
         |SELECT d.doc_id, coalesce(ag.clean_text, '') AS clean_text,
         |  coalesce(ag.n_lines, 0) AS n_lines,
         |  coalesce(ag.n_kept, 0) AS n_kept,
         |  CASE WHEN coalesce(ag.n_lines, 0) > 0
         |    THEN CAST(ag.n_lines - ag.n_kept AS DOUBLE) / ag.n_lines
         |    ELSE CAST(0.0 AS DOUBLE) END AS removed_ratio
         |FROM (SELECT DISTINCT doc_id FROM sdoc) d
         |LEFT JOIN ag USING (doc_id)""".stripMargin,
      face("sql_line_clean") { (s, dir) =>
        viaSql(s, "graft_sql_docs_lc" -> lineSynthDocs(Tables(s, dir).documents))(
          "SELECT * FROM graft_line_clean('graft_sql_docs_lc', 3)") }),

    // ---- exact duplicated-substring signal (8-gram granularity):
    // maximal duplicated-run spans + per-doc duplicated-token coverage ----
    row("text_dup_spans", (s, dir) =>
      TextOps.dupNgramSpans(Tables(s, dir).documents, n = 8, minDocs = 2),
      // Mirrors TextOps.dupNgramSpans / dupNgramCoverage over the shared
      // duplicated-8-gram start positions (DupGramCtes): spans are
      // gaps-and-islands over consecutive duplicated starts; coverage counts
      // DISTINCT covered positions so overlapping spans are not double-counted.
      s"""WITH $DupGramCtes,
         |isl AS (SELECT doc_id, pos,
         |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
         |  FROM dst)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |  CAST(max(pos) + 7 AS BIGINT) AS span_end,
         |  CAST(count(*) AS BIGINT) AS n_grams
         |FROM isl GROUP BY doc_id, isl""".stripMargin),
    row("text_dup_coverage", (s, dir) =>
      TextOps.dupNgramCoverage(Tables(s, dir).documents, n = 8, minDocs = 2),
      s"""WITH $DupGramCtes,
         |cv AS (SELECT doc_id, unnest(range(pos, pos + 8)) AS tp FROM dst),
         |cva AS (SELECT doc_id, CAST(count(DISTINCT tp) AS BIGINT) AS dup_tokens
         |  FROM cv GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
         |  CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / greatest(len(tk), 1) AS dup_frac
         |FROM dtk t LEFT JOIN cva c USING (doc_id)""".stripMargin),
    // reliability diagram + ECE of the quality score against the Gopher
    // verdict: does "0.8" actually mean 80%? (the threshold-shift audit)
    row("clf_calibration", (s, dir) => {
      val docs = Tables(s, dir).documents
      val scored = TextOps.qualityScore(docs)
        .select(col("doc_id"), col("quality_score"))
        .join(TextOps.gopherRules(docs, minWords = 25)
          .select("doc_id", "pass_gopher"), "doc_id")
      graft.ops.Experiment.calibrationBins(scored, "quality_score",
        "pass_gopher", nBins = 10)
    },
      // Mirrors Experiment.calibrationBins over (qualityScoreSql score,
      // GopherCtes verdict): equal-width bins with edge clamping, exact
      // integer-quotient positive rate, count-weighted ECE.
      s"""WITH $GopherCtes,
         |q AS (SELECT doc_id, (${qualityScoreSql("tk", "text")}) AS p FROM b),
         |j AS (SELECT q.p, gr.pass_gopher AS y FROM q JOIN gr USING (doc_id)),
         |binned AS (SELECT least(greatest(CAST(floor(p * 10) AS BIGINT), 0), 9) AS bin_id, p, y
         |  FROM j WHERE p IS NOT NULL AND NOT isnan(p) AND y IS NOT NULL),
         |bins AS (SELECT bin_id, count(*) AS n, avg(p) AS mean_conf,
         |  CAST(count(*) FILTER (WHERE y) AS BIGINT) / count(*) AS pos_rate
         |  FROM binned GROUP BY 1),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM bins),
         |e AS (SELECT sum((n / t) * abs(pos_rate - mean_conf)) AS ece FROM bins, tot)
         |SELECT bin_id, n, mean_conf, pos_rate, pos_rate - mean_conf AS gap, ece
         |FROM bins, e""".stripMargin),
    row("text_collocations", (s, dir) =>
      TextOps.collocations(Tables(s, dir).documents, k = 100, minCount = 5),
      // Mirrors TextOps.collocations: same bigram/unigram counts, same PMI
      // expression tree, same (pmi desc, bigram asc) order + limit.
      s"""WITH tk AS (SELECT $Toks AS tk FROM documents),
         |uni AS (SELECT unnest(tk) AS term FROM tk),
         |uc AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
         |bg AS (SELECT unnest(list_transform(range(1, len(tk)),
         |  i -> array_to_string(tk[i:i+1], ' '))) AS bigram FROM tk),
         |bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy FROM bg
         |  GROUP BY 1 HAVING count(*) >= 5),
         |tot AS (SELECT CAST((SELECT count(*) FROM uni) AS BIGINT) AS n_tok,
         |  CAST((SELECT count(*) FROM bg) AS BIGINT) AS n_big)
         |SELECT bigram, c_xy, cx.c AS c_x, cy.c AS c_y,
         |  ln((CAST(c_xy AS DOUBLE) / n_big)
         |    / ((CAST(cx.c AS DOUBLE) / n_tok) * (CAST(cy.c AS DOUBLE) / n_tok))) AS pmi
         |FROM bc
         |JOIN uc cx ON cx.term = split_part(bigram, ' ', 1)
         |JOIN uc cy ON cy.term = split_part(bigram, ' ', 2), tot
         |ORDER BY pmi DESC, bigram ASC LIMIT 100""".stripMargin),

    row("text_lang_id", (s, dir) => {
      TextOps.languageId(Tables(s, dir).documents).select("doc_id", "lang_pred")
    },
      s"""WITH toks AS (SELECT doc_id, list_distinct($Toks) AS tk FROM documents),
         |langs(lang, words) AS (VALUES
         |  ('de', ['der','die','das','und','ist','ein','zu','mit','von','nicht']),
         |  ('en', ['the','a','of','and','to','in','is','that','it','for']),
         |  ('es', ['el','la','de','que','y','en','un','es','por','con']),
         |  ('fr', ['le','la','de','et','un','est','que','pour','dans','sur']),
         |  ('it', ['il','la','di','che','e','un','per','con','del','non'])),
         |s AS (SELECT doc_id, lang, len(list_filter(tk, t -> list_contains(words, t))) AS hits
         |      FROM toks CROSS JOIN langs)
         |SELECT doc_id, lang AS lang_pred FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
         |  FROM s) WHERE rn = 1""".stripMargin),
    // classifier evaluation: truth lang × predicted lang confusion matrix.
    // On this synthetic fixture the matrix exposes a DATA fact, not a
    // classifier bug: every language's text is built from the same
    // English-ish vocabulary, so predictions lean 'en' across all truth
    // rows — exactly the label/content disconnect this audit exists to
    // catch before anyone trains on the lang column.
    row("text_langid_confusion", (s, dir) =>
      Profile.crosstab(
        TextOps.languageId(Tables(s, dir).documents)
          .select(col("lang"), col("lang_pred")),
        "lang", "lang_pred", Seq("de", "en", "es", "fr", "it")),
      // Mirrors the langid confusion matrix: the text_lang_id prediction
      // chain re-joined to truth labels, one conditional count per predicted
      // language (sum(CASE) cast to BIGINT to match pivot-count longs)
      s"""WITH toks AS (SELECT doc_id, list_distinct($Toks) AS tk FROM documents),
         |langs(lang, words) AS (VALUES
         |  ('de', ['der','die','das','und','ist','ein','zu','mit','von','nicht']),
         |  ('en', ['the','a','of','and','to','in','is','that','it','for']),
         |  ('es', ['el','la','de','que','y','en','un','es','por','con']),
         |  ('fr', ['le','la','de','et','un','est','que','pour','dans','sur']),
         |  ('it', ['il','la','di','che','e','un','per','con','del','non'])),
         |s AS (SELECT doc_id, lang, len(list_filter(tk, t -> list_contains(words, t))) AS hits
         |      FROM toks CROSS JOIN langs),
         |p AS (SELECT doc_id, lang AS lang_pred FROM (
         |  SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
         |  FROM s) WHERE rn = 1)
         |SELECT d.lang AS lang, ${Seq("de", "en", "es", "fr", "it").map(l =>
              s"CAST(sum(CASE WHEN p.lang_pred = '$l' THEN 1 ELSE 0 END) AS BIGINT) AS $l")
              .mkString(", ")}
         |FROM documents d JOIN p USING (doc_id) GROUP BY d.lang""".stripMargin),
    row("text_fingerprint", (s, dir) => {
      Tables(s, dir).documents
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    },
      s"""WITH t AS (SELECT doc_id, array_to_string($Toks, ' ') AS s FROM documents)
         |SELECT doc_id, CASE WHEN s = '' THEN 0 ELSE ${phSql("s", "0")} END AS fp FROM t""".stripMargin),
    // skip-gram (center, context) pair counts at window 2 — the
    // word2vec/GloVe training-data extraction
    row("text_skipgrams", (s, dir) =>
      TextOps.skipgrams(Tables(s, dir).documents, window = 2),
      // Mirrors TextOps.skipgrams(window=2): same directed offset fan-out
      // (d = 1, 2), same 1-based index walk.
      s"""WITH tk AS (SELECT $Toks AS tk FROM documents),
         |dd AS (SELECT tk, unnest([1, 2]) AS d FROM tk),
         |pr AS (SELECT tk, d, CAST(unnest(range(1, len(tk) - d + 1)) AS INTEGER) AS i
         |  FROM dd WHERE len(tk) > d)
         |SELECT tk[i] AS word, tk[CAST(i + d AS INTEGER)] AS context,
         |  count(*) AS n
         |FROM pr GROUP BY 1, 2""".stripMargin,
      face("sql_skipgrams") { (s, dir) =>
        viaSql(s, "graft_sql_docs_sg" -> Tables(s, dir).documents)(
          "SELECT * FROM graft_skipgrams('graft_sql_docs_sg', 2)") }),
    // Zipf exponent per source: ln(count) ~ ln(rank) least squares over
    // the top-100 terms — templated/generated slices fall off the ≈ −1
    // natural-language line
    row("text_zipf", (s, dir) =>
      TextOps.zipfFit(Tables(s, dir).documents)
        .withColumnRenamed("grp", "source"),
      // Mirrors TextOps.zipfFit(topN=100): same rank order, the regression
      // sums folded over the rank-sorted list (first element = init, then
      // element-wise +) — one pinned accumulation order in both engines.
      s"""WITH oc AS (SELECT source AS grp, unnest($Toks) AS term FROM documents),
         |ct AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS cnt FROM oc GROUP BY 1, 2),
         |rk AS (SELECT grp, term, cnt, CAST(row_number() OVER (
         |  PARTITION BY grp ORDER BY cnt DESC, term ASC) AS INTEGER) AS rank FROM ct),
         |top AS (SELECT grp, rank, cnt FROM rk WHERE rank <= 100),
         |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_terms,
         |  list_reduce(list([ln(CAST(rank AS DOUBLE)), ln(CAST(cnt AS DOUBLE)),
         |      ln(CAST(rank AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)),
         |      ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))] ORDER BY rank),
         |    (a, e) -> [a[1] + e[1], a[2] + e[2], a[3] + e[3], a[4] + e[4]]) AS s
         |  FROM top GROUP BY grp)
         |SELECT grp AS source, n_terms,
         |  (n_terms * s[3] - s[1] * s[2]) / (n_terms * s[4] - s[1] * s[1]) AS zipf_slope
         |FROM g WHERE n_terms >= 3""".stripMargin),
    // MOSS winnowing: window-min k-gram fingerprints (rightmost on ties)
    // — guaranteed to catch any shared run of >= k+window-1 tokens at
    // ~2/(window+1) the gram-stream density
    row("text_winnow", (s, dir) =>
      TextOps.winnowFingerprints(Tables(s, dir).documents),
      s"""WITH $WinnowCtes
         |SELECT doc_id, fp_pos, fp FROM wfp""".stripMargin),
    // SymSpell deletion-blocked fuzzy join over the token vocabulary. The
    // synthetic vocabulary contains no organic typos, so the gate injects
    // one deterministic char-3 deletion per word of >= 6 chars (the
    // oracle mirrors the injection) — the operator still verifies every
    // candidate with exact levenshtein, so organic pairs would surface too
    row("text_typo_pairs", (s, dir) => {
      val vocab = Tables(s, dir).documents
        .select(explode(TextOps.tokens(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .where(length(col("word")) >= 5)
      val typos = vocab.where(length(col("word")) >= 6)
        .select(concat(substring(col("word"), 1, 2),
          expr("substring(word, 4, length(word))")).as("word"),
          lit(1L).as("cnt"))
      TextOps.typoPairs(
        vocab.unionByName(typos).groupBy("word").agg(sum("cnt").as("cnt")))
    },
      // Mirrors TextOps.typoPairs over the typo-injected vocabulary: same
      // injection (char-3 deletion of words >= 6 chars), same deletion
      // neighborhood (i=0 keeps the word), same levenshtein verify.
      s"""WITH tk AS (SELECT unnest($Toks) AS word FROM documents),
         |v0 AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM tk GROUP BY 1),
         |v1 AS (SELECT word, cnt FROM v0 WHERE length(word) >= 5),
         |ty AS (SELECT substr(word, 1, 2) || substr(word, 4, length(word)) AS word,
         |  CAST(1 AS BIGINT) AS cnt FROM v1 WHERE length(word) >= 6),
         |v AS (SELECT word, CAST(sum(cnt) AS BIGINT) AS cnt
         |  FROM (SELECT * FROM v1 UNION ALL SELECT * FROM ty) GROUP BY 1),
         |vf AS (SELECT word, cnt FROM v WHERE length(word) >= 5),
         |vr AS (SELECT word, cnt, unnest(list_transform(range(0, length(word) + 1),
         |  i -> CASE WHEN i = 0 THEN word
         |    ELSE substr(word, 1, CAST(i - 1 AS INTEGER))
         |      || substr(word, CAST(i + 1 AS INTEGER), CAST(length(word) AS INTEGER))
         |  END)) AS var FROM vf)
         |SELECT word_a, word_b, cnt_a, cnt_b FROM (
         |  SELECT DISTINCT a.word AS word_a, b.word AS word_b,
         |    a.cnt AS cnt_a, b.cnt AS cnt_b
         |  FROM vr a JOIN vr b ON a.var = b.var AND a.word < b.word)
         |WHERE levenshtein(word_a, word_b) <= 1""".stripMargin),
    // content-defined chunking over TEXT (LBFS/FastCDC boundaries on a
    // rolling codepoint hash): chunks tile each doc, boundaries follow
    // local content so inserts re-synchronize after one chunk
    row("text_cdc_chunks", (s, dir) =>
      TextCdc.cdcChunks(Tables(s, dir).documents),
      s"""WITH $TextCdcCtes
         |SELECT doc_id, chunk_idx, start, n_chunk_chars, chunk_hash
         |FROM tseg""".stripMargin),
    // sub-document dedup: pairs sharing >= 3 content-defined chunks via
    // the df-capped chunk-hash inverted index — catches shared passages
    // at chunk resolution regardless of position (123 organic pairs at
    // sf0.01; whole-doc MinHash dilutes these)
    row("text_cdc_dups", (s, dir) =>
      TextCdc.cdcDups(Tables(s, dir).documents),
      // Mirrors TextCdc.cdcDups(minShared=3, maxDf=50): distinct postings,
      // df-capped inverted index, chunk-keyed pair count.
      s"""WITH $TextCdcCtes,
         |cdd AS (SELECT DISTINCT doc_id, chunk_hash FROM tseg),
         |ckeep AS (SELECT chunk_hash FROM cdd GROUP BY 1 HAVING count(*) <= 50),
         |cind AS (SELECT doc_id, chunk_hash FROM cdd JOIN ckeep USING (chunk_hash))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(count(*) AS BIGINT) AS n_shared
         |FROM cind a JOIN cind b
         |  ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,
      face("sql_text_cdc_dups") { (s, dir) =>
        viaSql(s, "graft_sql_docs_cdc" -> Tables(s, dir).documents)(
          "SELECT * FROM graft_text_cdc_dups('graft_sql_docs_cdc', 4, 5, 3, 50)") })
  )
}
