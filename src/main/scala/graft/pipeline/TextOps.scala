package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.functions.PolyHash

/** Text-analysis operators for large-scale training-data pipelines: ASCII
  * token normalization, k-shingling, token counting, quality scoring,
  * n-gram language ID and document fingerprinting.
  *
  * Everything here is pure Catalyst column algebra (no UDFs): at 100 TB these
  * run inside the scan's whole-stage-codegen with full predicate/column
  * pushdown. The only custom kernel is [[graft.functions.PolyHash]], itself
  * codegen'd.
  */
object TextOps {

  /** Canonical ASCII word tokens: lowercase maximal [a-z0-9]+ runs.
    * Keeping tokens ASCII-only makes every downstream hash byte==codepoint
    * portable (see PolyHash scaladoc).
    */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-style pre-tokenization count: the GPT-2-ish pre-tokenizer regex
    * reduced to the ASCII corpus — a letter run, digit run, or punctuation
    * run, each absorbing one leading space. Counts the segments a subword
    * tokenizer would split on, without needing a vocabulary; a pure codegen
    * regexp, so it rides inside the scan like every other text feature.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(lower(text), lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"), lit(0)))

  /** k-token shingles, space-joined. Documents shorter than k tokens yield
    * an empty list. Column-algebra form — prefer [[textShingles]] and
    * friends (the single-pass kernel over raw text) when the input is a
    * text column; this stays for pre-tokenized array inputs and as the
    * semantics the kernel is pinned against.
    */
  def shingles(toks: Column, k: Int): Column =
    when(size(toks) >= k,
      transform(sequence(lit(0), size(toks) - k),
        i => array_join(slice(toks, i + 1, lit(k)), " ")))
      .otherwise(array().cast("array<string>"))

  /** `shingles(tokens(text), k)` as one kernel pass per document —
    * bit-identical (spec-pinned), including empty output for null text,
    * without the interpreted per-gram transform+slice+array_join lambdas.
    */
  def textShingles(text: Column, k: Int): Column =
    graft.functions.Signatures.shingleStrings(text, k)

  /** `array_distinct(shingles(tokens(text), k))` (first-occurrence order)
    * as one kernel pass.
    */
  def textShingleSet(text: Column, k: Int): Column =
    graft.functions.Signatures.shingleStrings(text, k, distinct = true)

  /** `array_sort(array_distinct(shingles(tokens(text), k)))` — the
    * Jaccard-verify shingle set — as one kernel pass.
    */
  def textShingleSortedSet(text: Column, k: Int): Column =
    graft.functions.Signatures.shingleStrings(text, k, distinct = true, sorted = true)

  /** Quality-score feature block (length / punctuation / digits / stopword
    * ratios + mean token length), the usual cheap pre-filter signals for
    * pretraining corpora.
    */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nChars = length(t).cast("long")
    val nTokens = size(toks).cast("long")
    val nAlnum = length(regexp_replace(lower(t), "[^a-z0-9]", "")).cast("long")
    val nSpaces = length(t) - length(regexp_replace(t, " ", ""))
    val stopHits = size(filter(toks, w => w.isInCollection(Stopwords.en)))
    df.withColumn("n_chars_m", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("mean_token_len",
        when(nTokens > 0, nAlnum.cast("double") / nTokens).otherwise(lit(0.0)))
      .withColumn("alnum_ratio",
        when(nChars > 0, nAlnum.cast("double") / nChars).otherwise(lit(0.0)))
      .withColumn("space_ratio",
        when(nChars > 0, nSpaces.cast("double") / nChars).otherwise(lit(0.0)))
      .withColumn("stopword_ratio",
        when(nTokens > 0, stopHits.cast("double") / nTokens).otherwise(lit(0.0)))
  }

  /** Composite quality score in [0,1]-ish: documents with reasonable length,
    * word shape and stopword density score high.
    */
  /** Per-document n-gram NOVELTY against everything earlier in id order:
    * the fraction of a doc's distinct word k-shingles whose FIRST corpus
    * occurrence is the doc itself — the redundancy/novelty signal behind
    * "is the tail of this crawl still adding anything" curves and
    * dataset-ordering decisions (a doc of novelty ~0 is boilerplate
    * recombination; ~1 is fresh material). Ties resolve to the smallest
    * doc id (it IS the first occurrence).
    *
    * Scale shape: distinct shingles per doc, one gram-keyed min
    * aggregate (vocabulary scale, partial-combined), one rejoin, one
    * per-doc count — the inverted-index shape without the pair join.
    * Docs with fewer than k tokens drop (no shingles to score).
    */
  def ngramNovelty(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3): DataFrame = {
    require(k >= 1, s"shingle size must be >= 1, got $k")
    val grams = df
      .select(col(idCol).cast("long").as("id"), tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) >= k)
      .select(col("id"), explode(array_distinct(expr(
        s"transform(sequence(1, size(__t) - ${k - 1}), i -> concat_ws(' ', slice(__t, i, $k)))")))
        .as("g"))
    val firstOwner = grams.groupBy("g").agg(min("id").as("__first"))
    grams.join(firstOwner, "g")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__first") === col("id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_frac",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
  }

  /** Flesch readability per document — the classic surface-form complexity
    * score used as a quality/difficulty feature in corpus curation (and as
    * a curriculum key): reading ease 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words) plus the Flesch–Kincaid grade re-expression.
    * Syllables by the standard vowel-group heuristic: one per maximal
    * [aeiouy]+ run, floor 1 per word (vowel-less tokens — digit runs,
    * abbreviations — count 1); sentences one per [.!?]+ run, floor 1.
    * Pure column algebra over two regex scans + the token array; map-only,
    * no shuffle. Docs with no words drop out (the ratios are undefined).
    */
  /** RAKE keyphrase extraction (Rose et al. 2010): candidate phrases are
    * maximal runs of consecutive non-stopword tokens; each word scores
    * deg/freq (deg = Σ length of the phrase occurrences containing it,
    * freq = how many contain it — words that live in longer phrases score
    * higher), and a phrase scores the sum of its words' scores. The
    * corpus-level top-`topN` is the cheap unsupervised "what is this
    * corpus about" report used for topic tagging and source triage.
    *
    * Phrase runs come from the gaps-and-islands key (pos − row_number over
    * non-stop tokens per doc — one window over the exploded tokens, the
    * text_dup_spans shape); runs longer than `maxLen` are dropped — the
    * documented scale contract (degenerate stopword-free documents would
    * otherwise emit document-sized "phrases"), not silent truncation.
    * Word scores are exact integer quotients; each phrase's score sums ≤
    * maxLen of them in position order via a pinned fold, so equal phrase
    * texts score bit-identically everywhere. Top-N is TakeOrdered with
    * (score desc, phrase asc) total order — no global sort.
    */
  def rakePhrases(docs: DataFrame, topN: Int = 50, maxLen: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(topN >= 1, s"topN must be >= 1, got $topN")
    require(maxLen >= 1, s"maxLen must be >= 1, got $maxLen")
    val tok = docs.select(col(idCol).as("__id"),
      posexplode(tokens(col(textCol))).as(Seq("__pos", "__w")))
    val ns = tok.where(!col("__w").isInCollection(Stopwords.all))
      .withColumn("__seg", col("__pos") - row_number().over(
        Window.partitionBy("__id").orderBy("__pos")))
    val occ = ns.groupBy("__id", "__seg")
      .agg(array_sort(collect_list(struct(col("__pos"), col("__w")))).as("__pw"))
      .select(transform(col("__pw"), x => x.getField("__w")).as("__words"))
      .where(size(col("__words")) <= maxLen)
    val wstat = occ
      .select(explode(col("__words")).as("word"),
        size(col("__words")).cast("long").as("__len"))
      .groupBy("word")
      .agg(count(lit(1)).as("__freq"), sum(col("__len")).as("__deg"))
      .select(col("word"),
        (col("__deg").cast("double") / col("__freq").cast("double"))
          .as("__wscore"))
    val phr = occ.groupBy(array_join(col("__words"), " ").as("phrase"))
      .agg(count(lit(1)).as("n_occurrences"), first(col("__words")).as("__words"))
    phr.select(col("phrase"), col("n_occurrences"),
        posexplode(col("__words")).as(Seq("__p", "word")))
      .join(wstat, "word")
      .groupBy("phrase", "n_occurrences")
      .agg(aggregate(
        array_sort(collect_list(struct(col("__p"), col("__wscore")))),
        lit(0.0), (a, x) => a + x.getField("__wscore")).as("score"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(topN)
  }

  def readability(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = tokens(col(textCol))
    val nWords = size(toks).cast("long")
    val nSent = greatest(lit(1L),
      size(regexp_extract_all(col(textCol), lit("[.!?]+"), lit(0))).cast("long"))
    val vowelGroups =
      size(regexp_extract_all(lower(col(textCol)), lit("[aeiouy]+"), lit(0))).cast("long")
    val voweless =
      size(filter(toks, w => !w.rlike("[aeiouy]"))).cast("long")
    df.select(col(idCol), col(textCol))
      .where(col(textCol).isNotNull)
      .select(col(idCol), nWords.as("n_words"), nSent.as("n_sentences"),
        (vowelGroups + voweless).as("n_syllables"))
      .where(col("n_words") >= 1)
      .withColumn("wps",
        col("n_words").cast("double") / col("n_sentences").cast("double"))
      .withColumn("spw",
        col("n_syllables").cast("double") / col("n_words").cast("double"))
      .select(col(idCol), col("n_words"), col("n_sentences"), col("n_syllables"),
        (lit(206.835) - lit(1.015) * col("wps") - lit(84.6) * col("spw"))
          .as("flesch_ease"),
        (lit(0.39) * col("wps") + lit(11.8) * col("spw") - lit(15.59))
          .as("fk_grade"))
  }

  def qualityScore(df: DataFrame, textCol: String = "text"): DataFrame =
    qualityFeatures(df, textCol).withColumn("quality_score",
      least(col("n_tokens").cast("double") / 64.0, lit(1.0)) * 0.4
        + col("stopword_ratio") * 0.3
        + col("alnum_ratio") * 0.3)

  /** Feature hashing (the "hashing trick"): token occurrences bucketed by
    * `PolyHash(token) mod dims` into a fixed-width sparse count vector —
    * the vocabulary-free featurization classic linear models and
    * dedup-sketch baselines run at corpus scale (no vocabulary build, no
    * second pass, collisions by design). Emitted as parallel comma-joined
    * `indices`/`counts` strings in ascending index order (the driver's
    * compare cannot hash array cells) — exactly a sparse vector per doc.
    * Docs with zero tokens are absent (nothing to hash).
    *
    * Scale shape: one partial-combined count on (doc, bucket), then the
    * per-doc assembly groupBy reuses nothing heavier than the doc key.
    */
  def hashedFeatures(df: DataFrame, dims: Int = 64, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    val occ = df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .select(col(idCol), (PolyHash(col("__t"), 0L) % dims).as("__b"))
    occ.groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("__b"), col("__c")))).as("__lst"))
      .select(col(idCol),
        array_join(transform(col("__lst"),
          s => s.getField("__b").cast("string")), ",").as("indices"),
        array_join(transform(col("__lst"),
          s => s.getField("__c").cast("string")), ",").as("counts"))
  }

  /** BM25 retrieval scoring: rank every document against a query string
    * with the Okapi BM25 function — `Σ_t idf(t) · tf·(k1+1) /
    * (tf + k1·(1−b+b·len/avglen))` over the query's terms, with the
    * standard `ln((N−df+0.5)/(df+0.5) + 1)` idf — and keep the top `k`
    * (score desc, id asc). THE lexical-retrieval baseline next to the
    * embedding ANN operators; every count is an exact integer (avglen is
    * an integer sum over N), and the SQL twin mirrors the float expression
    * term for term.
    *
    * Scale shape: the term filter hits the token explode map-side (only
    * query-term occurrences survive — a handful of rows per doc); df and
    * the length stats are metadata-scale broadcasts; top-k is ORDER BY +
    * LIMIT → TakeOrderedAndProject (bounded per-partition heaps).
    */
  def bm25(df: DataFrame, query: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val qTerms = query.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct.toSeq
    require(qTerms.nonEmpty, "query has no tokens")
    val docs = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).cast("long").as("__len"))
    val stats = docs.agg(count(lit(1)).as("__n_docs"),
      (sum("__len").cast("double") / count(lit(1))).as("__avg_len"))
    val occ = docs.select(col(idCol), col("__len"), explode(col("__toks")).as("__t"))
      .where(col("__t").isInCollection(qTerms))
    val tf = occ.groupBy(col(idCol), col("__len"), col("__t"))
      .agg(count(lit(1)).as("__tf"))
    val dfreq = tf.groupBy("__t").agg(count(lit(1)).as("__df"))
    val contrib = tf.join(broadcast(dfreq), "__t").crossJoin(broadcast(stats))
      .withColumn("__idf",
        log(((col("__n_docs") - col("__df")).cast("double") + lit(0.5))
          / (col("__df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("__c",
        col("__idf") * (col("__tf").cast("double") * lit(k1 + 1))
          / (col("__tf").cast("double")
            + lit(k1) * (lit(1.0) - lit(b)
              + lit(b) * (col("__len").cast("double") / col("__avg_len")))))
    contrib.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_matched_terms"), sum("__c").as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** Unigram cross-entropy against the corpus's own add-1-smoothed unigram
    * LM: per doc, `−(1/n)·Σ ln((c_t + 1)/(N + V))` over its token
    * OCCURRENCES — the model-free perplexity proxy (a doc of corpus-typical
    * words scores low; rare-word soup scores high), the usual cheap stand-in
    * for an LM quality filter. Docs with zero tokens are absent by
    * construction (no occurrences to score).
    *
    * Scale shape: the count table is vocabulary-sized; the occurrence join
    * is a shuffled equi-join on the term key (AQE broadcasts when the vocab
    * fits), and the per-doc sum is partial-combined on the doc key.
    */
  def unigramLogprob(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val occ = df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
    val counts = occ.groupBy("__t").agg(count(lit(1)).as("__c"))
    val totals = counts.agg(sum("__c").as("__n"),
      count(lit(1)).as("__v"))
    occ.join(counts, "__t")
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_tokens"),
        (-sum(log((col("__c") + 1).cast("double")
          / (col("__n") + col("__v")).cast("double")))
          / count(lit(1))).as("cross_entropy"))
  }

  /** Bigram cross-entropy against the corpus's own add-1-smoothed bigram
    * LM: per doc, `−(1/n)·Σ ln((c(w1,w2) + 1)/(c(w1·) + V))` over its
    * adjacent token pairs, with `c(w1·)` the corpus count of bigrams
    * opening with w1 and V the corpus unigram vocabulary — one Markov
    * order above [[unigramLogprob]], so word-salad that happens to reuse
    * common WORDS in uncommon ORDER now scores high too (the cheap
    * second-tier LM quality filter). Docs with fewer than two tokens have
    * no bigram to score and are absent.
    *
    * Scale shape: mirrors [[unigramLogprob]] — bigram/context tables are
    * vocabulary²-bounded (far smaller in practice), the occurrence join
    * keys on the pair, the per-doc sum is partial-combined; V is one
    * metadata-scale broadcast.
    */
  def bigramLogprob(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tk = df.select(col(idCol), tokens(col(textCol)).as("__tk"))
    val occ = tk.where(size(col("__tk")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(__tk) - 1), " +
          "k -> struct(element_at(__tk, k) AS w1, element_at(__tk, k + 1) AS w2))"))
        .as("__b"))
      .select(col(idCol), col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
    val big = occ.groupBy("__w1", "__w2").agg(count(lit(1)).as("__cb"))
    val ctx = occ.groupBy("__w1").agg(count(lit(1)).as("__cu"))
    val voc = tk.select(explode(col("__tk")).as("__t"))
      .agg(countDistinct(col("__t")).as("__v"))
    occ.join(big, Seq("__w1", "__w2")).join(ctx, Seq("__w1"))
      .crossJoin(broadcast(voc))
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_bigrams"),
        (-sum(log((col("__cb") + 1).cast("double")
          / (col("__cu") + col("__v")).cast("double")))
          / count(lit(1))).as("cross_entropy"))
  }

  /** Held-out bigram cross-entropy: the LM counts come ONLY from the rows
    * where `trainCol` is true, and EVERY document — train and held-out —
    * is scored against that model. This is the split the in-corpus
    * [[bigramLogprob]] cannot provide: scoring a document with counts it
    * contributed to underestimates its surprisal (the train/held-out gap
    * IS the memorization measurement, and perplexity-based quality
    * filters must score with a model the document never touched or
    * duplicated boilerplate scores artificially fluent). Bigrams or
    * contexts unseen in training fall back to the add-1 floor
    * `1/(0 + V)` with V the TRAIN vocabulary; `is_train` rides along so
    * the generalization gap is one groupBy away.
    *
    * Scale shape: identical to [[bigramLogprob]] — the count tables
    * aggregate partial-combined over the train slice; scoring joins are
    * left joins on the same keys (misses coalesce to zero, never drop).
    */
  def bigramLogprobHoldout(df: DataFrame, trainCol: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tk = df.select(col(idCol), tokens(col(textCol)).as("__tk"),
      trainCol.as("is_train"))
    val occ = tk.where(size(col("__tk")) >= 2)
      .select(col(idCol), col("is_train"), explode(expr(
        "transform(sequence(1, size(__tk) - 1), " +
          "k -> struct(element_at(__tk, k) AS w1, element_at(__tk, k + 1) AS w2))"))
        .as("__b"))
      .select(col(idCol), col("is_train"),
        col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
    val train = occ.where(col("is_train"))
    val big = train.groupBy("__w1", "__w2").agg(count(lit(1)).as("__cb"))
    val ctx = train.groupBy("__w1").agg(count(lit(1)).as("__cu"))
    val voc = tk.where(col("is_train"))
      .select(explode(col("__tk")).as("__t"))
      .agg(countDistinct(col("__t")).as("__v"))
    occ.join(big, Seq("__w1", "__w2"), "left")
      .join(ctx, Seq("__w1"), "left")
      .crossJoin(broadcast(voc))
      .groupBy(col(idCol), col("is_train")).agg(
        count(lit(1)).as("n_bigrams"),
        (-sum(log((coalesce(col("__cb"), lit(0L)) + 1).cast("double")
          / (coalesce(col("__cu"), lit(0L)) + col("__v")).cast("double")))
          / count(lit(1))).as("cross_entropy"))
  }

  /** Top-k terms per corpus slice (language, source): count-ranked heavy
    * hitters with a deterministic (count desc, term asc) tie-break — the
    * vocabulary drift report.
    *
    * Scale shape: the occurrence count is partial-combined on (slice,
    * term); the rank filter is the ONLY window over the slice key, so
    * Spark 4's WindowGroupLimit prunes each map partition to its local
    * top-k before the slice shuffle (same pattern as the inverted index).
    */
  def topTerms(df: DataFrame, k: Int, byCol: String = "lang",
      textCol: String = "text"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    import org.apache.spark.sql.expressions.Window
    val counts = df.select(col(byCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(byCol), col("term")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(byCol).orderBy(col("n").desc, col("term").asc)
    counts.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Tokenizer fertility per corpus slice: how many BPE-style segments the
    * pre-tokenizer emits per whitespace-ish word, aggregated by `byCol`
    * (language, source) — THE cheap multilingual-tokenizer diagnostic (a
    * high-fertility language pays more sequence length per word, so it is
    * under-served at a fixed token budget). Sums are exact integers; the
    * ratio is one double division, so the twin agrees bit for bit.
    *
    * Scale shape: one partial-combined aggregation on the slice key;
    * both token counts ride the scan codegen'd.
    */
  def fertility(df: DataFrame, textCol: String = "text",
      byCol: String = "lang"): DataFrame =
    df.groupBy(byCol).agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col(textCol)).cast("long")).as("n_words"),
      sum(bpeTokenCount(col(textCol)).cast("long")).as("n_bpe_tokens"))
      .withColumn("fertility",
        when(col("n_words") > 0,
          col("n_bpe_tokens").cast("double") / col("n_words")))

  /** Gopher-style quality-rule screen (Rae et al. 2021, MassiveText §A1.1):
    * per-document rule features and a composite pass flag. Rules carried
    * over (thresholds parameterized, defaults per the paper where they
    * transfer to a generic corpus):
    *   - word count within [minWords, maxWords]
    *   - mean word length within [3, 10]
    *   - symbol-to-word ratio (`#` and `...`) ≤ 0.1
    *   - ≥ 80% of words contain at least one alphabetic character
    *   - at least 2 distinct stopwords present (the "stop word" rule,
    *     against keyword-stuffing pages; union of all language lists so the
    *     screen is not an implicit English filter)
    * Documents with zero words fail with null ratio features. Pure column
    * algebra — no UDFs, runs inside the scan's codegen like the rest of
    * this file.
    */
  def gopherRules(df: DataFrame, textCol: String = "text",
      minWords: Int = 25, maxWords: Int = 100000): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords,
      s"need 0 <= minWords <= maxWords, got [$minWords, $maxWords]")
    val t = col(textCol)
    val words = array_remove(split(t, "\\s+"), "")
    val nWords = size(words).cast("long")
    val meanLen = when(nWords > 0,
      aggregate(words, lit(0L), (a, w) => a + length(w)).cast("double") / nWords)
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    val nEllipsis = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val symbolRatio = when(nWords > 0, (nHash + nEllipsis).cast("double") / nWords)
    val alphaRatio = when(nWords > 0,
      size(filter(words, w => w.rlike("[a-zA-Z]"))).cast("double") / nWords)
    val stopHits = size(array_intersect(
      array_distinct(tokens(t)), lit(Stopwords.all.toArray))).cast("long")
    df.withColumn("n_words", nWords)
      .withColumn("mean_word_len", meanLen)
      .withColumn("symbol_ratio", symbolRatio)
      .withColumn("alpha_word_ratio", alphaRatio)
      .withColumn("n_stopword_hits", stopHits)
      .withColumn("pass_gopher",
        nWords >= minWords && nWords <= maxWords
          && coalesce(meanLen >= 3.0 && meanLen <= 10.0, lit(false))
          && coalesce(symbolRatio <= 0.1, lit(false))
          && coalesce(alphaRatio >= 0.8, lit(false))
          && stopHits >= 2)
  }

  /** n-gram-dictionary language ID: score each candidate language by its
    * stopword hit count over the token set; argmax with deterministic
    * alphabetical tie-break. Classic cheap heuristic lang-ID.
    */
  def languageId(df: DataFrame, textCol: String = "text",
      langs: Map[String, Seq[String]] = Stopwords.byLang): DataFrame = {
    val toks = array_distinct(tokens(col(textCol)))
    val scored = langs.toSeq.sortBy(_._1).map { case (lang, words) =>
      struct(size(filter(toks, w => w.isInCollection(words))).as("hits"),
        lit(lang).as("lang"))
    }
    // argmax by (hits desc, lang asc): flip sign on hits and take array_min
    df.withColumn("lang_pred",
      array_min(array(scored.map(s =>
        struct((-s.getField("hits")).as("neg"), s.getField("lang").as("lang"))): _*))
        .getField("lang"))
  }

  /** Document fingerprint: PolyHash of the normalized token stream — the
    * deterministic rolling-hash id used for exact-dup detection at scale.
    */
  def fingerprint(text: Column, seed: Long = 0L): Column =
    PolyHash(array_join(tokens(text), " "), seed)

  /** Fixed-size character windows with overlap — the context-window
    * chunking step of a RAG / pretraining pipeline. `stride = size -
    * overlap`; a chunk starts at every multiple of the stride below the
    * text length, so the last chunk may be short and empty documents yield
    * no chunks. Pure narrow column algebra (sequence + substring under one
    * explode): chunking 100 TB is a map-only pass that rides in the scan.
    */
  def chunk(df: DataFrame, size: Int, overlap: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    // the when() guard: Spark's sequence(0, -1, step) THROWS on an empty
    // document (DuckDB's range just returns []), so empty texts must short-
    // circuit to an empty chunk list before the sequence evaluates
    df.select(col(idCol), posexplode(
        when(length(col(textCol)) > 0,
          transform(sequence(lit(0), length(col(textCol)) - 1, lit(stride)),
            start => substring(col(textCol), start + 1, lit(size))))
          .otherwise(array().cast("array<string>")))
        .as(Seq("chunk_idx", "chunk_text")))
      .select(col(idCol), col("chunk_idx"),
        (col("chunk_idx") * stride).as("chunk_start"), col("chunk_text"))
  }

  /** Inverted index over the token vocabulary: per term, its document
    * frequency and the posting list capped to the `maxPostings` smallest
    * doc ids.
    *
    * The cap is applied BEFORE any list materializes, and the rank window
    * is the ONLY window over the term key: df comes from a separate
    * groupBy (map-side combined), because an additional unordered
    * count-over-window would both funnel every posting of a Zipfian
    * stopword through one window task and block Spark 4's WindowGroupLimit
    * pushdown — the optimization that prunes each map partition to its
    * local top-k before the shuffle (asserted in PlanSpec). The df join is
    * one row per term and AQE splits residual stopword skew.
    */
  def invertedIndex(df: DataFrame, maxPostings: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df
      .select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("term"))
    val dfreq = terms.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("term").orderBy(col(idCol).asc)
    terms
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= maxPostings)
      .groupBy("term")
      .agg(sort_array(collect_list(col(idCol))).as("postings"))
      .join(dfreq, "term")
      .select(col("term"), col("df"), col("postings"))
  }

  /** Repetition features (the Gopher-style boilerplate signals): the
    * duplicate-token ratio and the share of the most frequent 3-token
    * shingle. Computed with explode + re-aggregation on well-spread
    * (doc, gram) keys — per-doc gram histograms via array algebra would
    * be quadratic per row for long documents.
    */
  def repetitionStats(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val base = df.select(col(idCol), tokens(col(textCol)).as("tk"))
      .withColumn("n_tokens", size(col("tk")).cast("long"))
      .withColumn("dup_token_ratio",
        when(col("n_tokens") > 0,
          (col("n_tokens") - size(array_distinct(col("tk"))))
            .cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
    val grams = df
      .select(col(idCol), explode(textShingles(col(textCol), 3)).as("g"))
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg((max(col("c")).cast("double") / sum(col("c"))).as("top_trigram_share"))
    base.select(col(idCol), col("n_tokens"), col("dup_token_ratio"))
      .join(grams, Seq(idCol), "left")
      .withColumn("top_trigram_share", coalesce(col("top_trigram_share"), lit(0.0)))
  }

  /** PII scrubbing: redact email-like addresses and long digit runs,
    * reporting the redaction count per document. The patterns stay inside
    * the common regex subset (no lookaround/backreferences) so any
    * RE2-class engine — and the SQL twin — matches byte-for-byte.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val LongNumRe = "[0-9]{7,}"

  def scrubPii(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // count digit runs on the EMAIL-SCRUBBED text, not the original:
    // replacement is sequential, so a long digit run inside an email is
    // already gone when the number pass runs — counting it would report
    // more redactions than placeholders in the output
    val afterEmail = regexp_replace(col(textCol), EmailRe, "<EMAIL>")
    df.select(col(idCol),
      (size(regexp_extract_all(col(textCol), lit(EmailRe), lit(0)))
        + size(regexp_extract_all(afterEmail, lit(LongNumRe), lit(0))))
        .cast("long").as("n_redactions"),
      regexp_replace(afterEmail, LongNumRe, "<NUM>").as("scrubbed"))
  }

  /** Benchmark decontamination: count, per training document, the distinct
    * `n`-token grams it shares with a benchmark/eval corpus, and flag any
    * overlap — the standard guard against test-set leakage into pretraining
    * data (n-gram–overlap decontamination; n is typically 8–13 for web
    * corpora, parameterized here because the fixture documents are short).
    *
    * Scale shape: eval benchmarks are small (thousands of documents), so
    * their deduped gram set is broadcast and the training side never
    * shuffles its gram stream — explode → broadcast-hash semi-match →
    * partial-combined count on the well-spread doc key. The output is one
    * row per input document (contaminated = false for clean ones), so the
    * result joins back onto the corpus as a filter column. For a benchmark
    * too big to broadcast, drop the `broadcast` hint and the same plan
    * becomes a gram-keyed equi-join.
    */
  def decontaminate(df: DataFrame, bench: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n > 0, s"gram size must be positive, got $n")
    val docGrams = df.select(col(idCol),
      explode(textShingleSet(col(textCol), n)).as("gram"))
    val benchGrams = bench.select(
      explode(textShingleSet(col(textCol), n)).as("gram"))
      .distinct()
    val shared = docGrams.join(broadcast(benchGrams), Seq("gram"))
      .groupBy(idCol).agg(count(lit(1)).as("n_shared_ngrams"))
    df.select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .withColumn("n_shared_ngrams", coalesce(col("n_shared_ngrams"), lit(0L)))
      .withColumn("contaminated", col("n_shared_ngrams") > 0)
  }

  /** Bloom-filter decontamination — [[decontaminate]]'s scale path when the
    * benchmark gram set itself is too large to broadcast as a set (a full
    * eval-suite union at 13-grams runs to billions of grams). The bench
    * side is reduced to an `mBits`-bit Bloom filter stored as a SPARSE word
    * map (`word_idx -> 32-bit mask`, at most mBits/32 rows — metadata-scale
    * no matter how many grams went in), and the training side probes it
    * with a broadcast join: gram → `kHashes` bit positions → all-bits-set.
    * Words are 32 bits, not 64: every mask and shift then stays inside the
    * positive BIGINT range — DuckDB raises on the checked `1::BIGINT << 63`
    * a 64-bit layout needs, and signed-overflow semantics differ between
    * engines exactly at that bit.
    *
    * Fully deterministic INCLUDING its false positives: bit positions come
    * from the seeded [[PolyHash]] (seeds 101..101+k-1) reduced mod mBits,
    * so the same gram maps to the same bits in every engine — which is what
    * makes a sketch-based operator exactly twin-SQL verifiable. Classic FP
    * rate (1 - e^(-kn/m))^k: at the default m = 2^18, k = 3 and 10⁴ bench
    * grams it is ~1e-6; size m at ~14.4 bits/gram for a 0.1% rate at any
    * scale. False negatives: none, by Bloom construction — every truly
    * shared gram is flagged, so `contaminated` here is a superset of
    * [[decontaminate]]'s.
    *
    * Scale shape: the bench reduction is one groupBy over at most mBits/64
    * word keys; the probe explodes k positions per distinct doc gram,
    * broadcast-joins the word map (≤ mBits/8 bytes — 32 KiB at the
    * default), and reduces per (doc, gram) then per doc with map-side
    * combine. The training corpus never shuffles its gram stream.
    */
  def bloomDecontaminate(df: DataFrame, bench: DataFrame, n: Int,
      mBits: Int = 1 << 18, kHashes: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n > 0, s"gram size must be positive, got $n")
    require(mBits >= 64 && (mBits & (mBits - 1)) == 0,
      s"mBits must be a power of two >= 64, got $mBits")
    require(kHashes >= 1 && kHashes <= 16, s"kHashes must be in [1,16], got $kHashes")
    val seeds = (0 until kHashes).map(j => 101L + j)
    def positions(gram: Column): Column =
      array(seeds.map(s => PolyHash(gram, s) % mBits): _*)
    val benchWords = bench
      .select(explode(textShingleSet(col(textCol), n)).as("gram"))
      .select(explode(positions(col("gram"))).as("p"))
      .select((col("p") / 32).cast("long").as("word_idx"),
        expr("shiftleft(1L, CAST(p % 32 AS INT))").as("m"))
      .groupBy("word_idx").agg(expr("bit_or(m)").as("mask"))
    val probe = df
      .select(col(idCol), explode(textShingleSet(col(textCol), n)).as("gram"))
      .select(col(idCol), col("gram"), posexplode(positions(col("gram"))).as(Seq("j", "p")))
      .select(col(idCol), col("gram"), col("p"),
        (col("p") / 32).cast("long").as("word_idx"),
        (col("p") % 32).cast("int").as("bit"))
      .join(broadcast(benchWords), Seq("word_idx"), "left")
      // membership via mask & (1 << bit), bit < 32: no shift ever reaches
      // the sign bit, so the math is identical in every engine
      .withColumn("hit",
        when(col("mask").isNotNull &&
          col("mask").bitwiseAND(expr("shiftleft(1L, bit)")) =!= 0L, 1L)
          .otherwise(0L))
      .groupBy(col(idCol), col("gram"))
      .agg(min("hit").as("all_set"))
      .groupBy(idCol)
      .agg(sum("all_set").as("n_bloom_hits"))
    df.select(col(idCol))
      .join(probe, Seq(idCol), "left")
      .withColumn("n_bloom_hits", coalesce(col("n_bloom_hits"), lit(0L)))
      .withColumn("contaminated", col("n_bloom_hits") > 0)
  }

  /** Per-document top-k TF-IDF terms: raw term frequency × smoothed inverse
    * document frequency `ln((N+1)/(df+1)) + 1`, ranked (tfidf desc, term
    * asc) within each document.
    *
    * Scale shape: the term stream is an explode over the scan (narrow); both
    * aggregations do map-side partial combine before their shuffle — tf on
    * the well-spread (doc, term) key, df on the term key. The tf⋈df join
    * shuffles on `term`, whose frequency distribution is Zipfian — exactly
    * the skew AQE's skew-join splitting is for (on by default in
    * [[graft.core.Sessions]]); the doc-count side is a broadcast of one row.
    * The final top-k is a window over the (doc) key, partial-aggregated by
    * WindowGroupLimit pushdown in Spark 4.
    */
  def tfIdfTopK(df: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.select(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(idCol).orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        col("tf") * (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("rank"), col("tfidf"))
  }

  /** Collocation mining: the top-`k` adjacent-token bigrams by pointwise
    * mutual information `ln( p(x,y) / (p(x)·p(y)) )`, with a minimum bigram
    * count to keep rare-pair noise out (PMI's known failure mode) — the
    * phrase detector that turns "new york" into a unit before embedding or
    * dedup shingling.
    *
    * Scale shape: one bigram-key count and one term-key count (both
    * partial-combined), totals broadcast back, unigram counts attached by
    * two term-key equi-joins on the already-counted (small) bigram table,
    * and the top-k is ORDER BY + LIMIT → TakeOrderedAndProject, never a
    * global sort. Ties break on the bigram text.
    */
  def collocations(df: DataFrame, k: Int, minCount: Long,
      textCol: Column = col("text")): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minCount > 0, s"minCount must be positive, got $minCount")
    val toks = df.select(tokens(textCol).as("tk"))
    val uni = toks.select(explode(col("tk")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
    // the unfiltered bigram counts serve twice: the collocation candidates
    // (after the min-count cut) AND the n_big total — summing the already-
    // aggregated table instead of re-exploding the corpus a third time
    val bi0 = df.select(explode(textShingles(textCol, 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_xy"))
    val bi = bi0.where(col("c_xy") >= minCount)
    val totals = uni.agg(sum("c").as("n_tok"))
      .crossJoin(bi0.agg(sum("c_xy").as("n_big")))
    val pmi = log((col("c_xy").cast("double") / col("n_big"))
      / ((col("c_x").cast("double") / col("n_tok"))
        * (col("c_y").cast("double") / col("n_tok"))))
    bi
      .withColumn("x", split(col("bigram"), " ").getItem(0))
      .withColumn("y", split(col("bigram"), " ").getItem(1))
      .join(uni.select(col("term").as("x"), col("c").as("c_x")), Seq("x"))
      .join(uni.select(col("term").as("y"), col("c").as("c_y")), Seq("y"))
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("c_xy"), col("c_x"), col("c_y"), pmi.as("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(k)
  }

  /** Jensen–Shannon divergence between the unigram distributions of two
    * corpus slices (`inSliceA` true vs false) with add-one smoothing over
    * the joint vocabulary — the drift check a pipeline runs when a new
    * data drop claims to be "the same distribution" as the last one, and
    * the standard measure for how far a filtered subset strayed from the
    * full corpus. Returns ONE row: `js_divergence` (nats, 0 ≤ js ≤ ln 2),
    * vocabulary size and per-slice token totals.
    *
    * Scale shape: explode → one partial-combined count on the term key
    * (both slices counted in the same pass, no per-slice scans), a
    * metadata-scale totals row broadcast back, and a final full reduction
    * — no join on anything wider than the vocabulary. The p/q/m algebra is
    * mirrored verbatim in the SQL twin.
    *
    * Rows where `inSliceA` is NULL belong to neither slice and are
    * excluded entirely — without the filter their tokens would inflate the
    * joint vocabulary (and the smoothing denominators) with mass belonging
    * to no slice.
    */
  def unigramDivergence(df: DataFrame, inSliceA: Column,
      textCol: Column = col("text")): DataFrame = {
    val counts = df.where(inSliceA.isNotNull)
      .select(inSliceA.as("__a"), explode(tokens(textCol)).as("term"))
      .groupBy("term")
      .agg(sum(when(col("__a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("__a"), 1L).otherwise(0L)).as("cb"))
    val totals = counts.agg(sum("ca").as("ta"), sum("cb").as("tb"),
      count(lit(1)).as("v"))
    val p = (col("ca") + lit(1.0)) / (col("ta") + col("v"))
    val q = (col("cb") + lit(1.0)) / (col("tb") + col("v"))
    counts.crossJoin(broadcast(totals))
      .select(p.as("__p"), q.as("__q"), ((p + q) / 2).as("__m"),
        col("ta"), col("tb"), col("v"))
      .agg(sum(lit(0.5) * col("__p") * log(col("__p") / col("__m"))
          + lit(0.5) * col("__q") * log(col("__q") / col("__m")))
          .as("js_divergence"),
        max("v").as("n_vocab"), max("ta").as("n_tokens_a"),
        max("tb").as("n_tokens_b"))
  }

  /** Start positions of corpus-duplicated token n-grams: (idCol, pos, gh)
    * for every n-gram whose hash occurs in >= minDocs DISTINCT documents.
    * Shared plumbing for [[dupNgramSpans]] / [[dupNgramCoverage]] — the
    * exact-substring-duplication signal of Lee et al.'s "Deduplicating
    * Training Data Makes Language Models Better" (arXiv:2107.06499),
    * at n-gram rather than suffix-array granularity.
    *
    * Shape at 100 TB: the gram stream is |tokens| rows; the duplicate set
    * comes from one hash-keyed groupBy (distinct-doc count) and rejoins
    * the stream on the same hash key — every step is key-partitioned,
    * nothing quadratic. The stream is repartitioned on the gram hash ONCE
    * and both consumers (the duplicate-count aggregate and the rejoin
    * probe) hang off that single exchange, so Catalyst plans the second
    * branch as a ReusedExchange: the corpus is tokenized/shingled/hashed
    * one time, not once per branch. That trade is deliberate — the
    * exchange carries (id, pos, gh) rows it had to carry for the join
    * anyway, while the alternative (independent branches with map-side
    * combine on the count) re-runs string tokenization over the full
    * corpus — wasted CPU that an executor-bound cluster pays for directly
    * (local wall time at sf0.1 went 9.6 s → 4.3 s from the restructure;
    * the reuse on top halves the tokenize CPU, which local[32] hides but
    * a saturated cluster does not). Gram identity is the 1e9+7 PolyHash — at
    * trillion-gram scale expect occasional false merges; acceptable for a
    * dedup SIGNAL (biases dup_frac marginally up, never misses a true
    * duplicate).
    */
  private def dupGramStarts(df: DataFrame, n: Int, minDocs: Int,
      idCol: String, textCol: String): DataFrame = {
    require(n >= 1 && minDocs >= 2, s"need n >= 1, minDocs >= 2; got n=$n minDocs=$minDocs")
    // the explicit id non-null filter is load-bearing for the reuse: a
    // downstream outer join (dupNgramCoverage) pushes IsNotNull(id) into
    // ONE consumer's branch otherwise, and subplans that differ by a
    // filter don't canonicalize equal — no ReusedExchange
    val grams = df
      .where(col(idCol).isNotNull)
      .select(col(idCol),
        posexplode(textShingles(col(textCol), n)).as(Seq("pos", "gram")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        PolyHash(col("gram"), 0L).as("gh"))
      // pinned width — a bare REPARTITION_BY_COL is AQE-coalescable back
      // to one partition on small inputs, serializing the gram-count agg
      // and the self-join behind it (the Dedup.spreadById trap)
      .repartition(Sessions.partsOf(df.sparkSession), col("gh"))
    // max(pos) >= 0 is vacuously true (positions are non-negative); it is
    // here ONLY so column pruning cannot drop `pos` from this branch —
    // pruned, the two exchange children differ by one column and the
    // ReusedExchange above never fires (verified in PlanSpec)
    val dup = grams.groupBy("gh")
      .agg(countDistinct(col(idCol)).as("__nd"), max("pos").as("__maxpos"))
      .where(col("__nd") >= minDocs && col("__maxpos") >= 0L)
      .select("gh")
    grams.join(dup, "gh")
  }

  /** Maximal runs of corpus-duplicated n-grams per document, as token
    * spans: `(idCol, span_start, span_end, n_grams)` with span_end =
    * last duplicated start + n - 1 (inclusive token index). Consecutive
    * duplicated starts merge into one span (gaps-and-islands over a
    * single per-document window); a span is the region an exact-substring
    * deduper would cut.
    */
  def dupNgramSpans(df: DataFrame, n: Int = 8, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(idCol).orderBy(col("pos").asc)
    dupGramStarts(df, n, minDocs, idCol, textCol)
      .withColumn("__isl", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(n - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_grams"))
  }

  /** Per-document duplicated-token coverage: how many token positions lie
    * inside at least one corpus-duplicated n-gram, and the fraction of the
    * document that is — THE cheap "too much boilerplate / copied text"
    * filter signal. Coverage is exact even where spans overlap (two
    * duplicated starts closer than n): each duplicated start expands to
    * its n positions and positions are counted distinct, all inside one
    * per-document aggregation.
    */
  def dupNgramCoverage(df: DataFrame, n: Int = 8, minDocs: Int = 2,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cov = dupGramStarts(df, n, minDocs, idCol, textCol)
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(n - 1).cast("long"))).as("__tp"))
      .groupBy(col(idCol))
      .agg(countDistinct(col("__tp")).as("dup_tokens"))
    df.select(col(idCol), tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L))).as("dup_frac"))
  }

  /** EXACT pairwise character-n-gram overlap between corpus slices
    * (sources, languages, shards) — the ground-truth companion of
    * [[Sketches.hllPairOverlap]]'s estimate, and the cross-source
    * contamination matrix a mixture designer reads before weighting. Per
    * slice pair (a < b): distinct-gram counts, intersection, union
    * (inclusion–exclusion), Jaccard. Pairs sharing no gram are absent
    * (inner gram join).
    *
    * Scale shape: the join keys on the GRAM, not the pair — volume is
    * Σ_gram C(slices_with_gram, 2) ≤ vocab·G², linear in vocabulary for a
    * bounded slice count. Like the sketch pair operators this is a
    * between-SLICES diagnostic, so the same fail-fast `maxSlices` guard
    * (lazy, metadata-scale window count) rejects a high-cardinality slice
    * key with a routing hint instead of quietly going quadratic.
    */
  def sliceOverlap(df: DataFrame, sliceCol: String, textCol: String = "text",
      n: Int = 3, maxSlices: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // upper bound comes from the CharNgramCodes kernel below (base-37 gram
    // codes must fit a Long) — surface it here with the operator's name
    // instead of an expression-construction failure
    require(n >= 1 && n <= 12,
      s"sliceOverlap needs n in [1, 12] (base-37 Long gram codes), got $n")
    require(maxSlices >= 2, s"sliceOverlap needs maxSlices >= 2, got $maxSlices")
    // Distinct grams as base-37 LONG codes via the single-pass
    // [[graft.functions.CharNgramCodes]] kernel (same normalization: the
    // kernel tokenizes and space-joins exactly like
    // `array_join(tokens(text), " ")`). The code is a BIJECTION of the
    // gram string, and every output column of this operator is a COUNT
    // (sizes, intersections, jaccard), so distinct/intersection
    // cardinalities — and the emitted rows — are identical to the string
    // form. The string form ran an INTERPRETED per-character
    // `transform(sequence(...), i -> substring(...))` lambda (the known
    // HOF-no-codegen trap) and shuffled 3-char UTF8 strings where this
    // shuffles longs.
    val grams = df
      .select(col(sliceCol).cast("string").as("slice"),
        graft.functions.Signatures.charNgramCodes(col(textCol), n).as("__g"))
      .select(col("slice"), explode(col("__g")).as("gram"))
      .distinct()
    val sizes = grams.groupBy("slice").agg(count(lit(1)).as("n_grams"))
      .withColumn("__g", count(lit(1)).over(Window.partitionBy()))
      .withColumn("slice",
        when(col("__g") > maxSlices,
          raise_error(format_string(
            "sliceOverlap: %s slices exceed the pair bound %s — aggregate " +
              "to a coarser slice key or raise maxSlices",
            col("__g"), lit(maxSlices))))
          .otherwise(col("slice")))
      .drop("__g")
    // the broadcast guard join forces the maxSlices check BEFORE the
    // gram-keyed pair expansion can run
    val ga = grams.join(broadcast(sizes), Seq("slice"))
    ga.select(col("slice").as("slice_a"), col("n_grams").as("n_a"), col("gram"))
      .join(ga.select(col("slice").as("slice_b"), col("n_grams").as("n_b"),
        col("gram")), Seq("gram"))
      .where(col("slice_a") < col("slice_b"))
      .groupBy("slice_a", "slice_b", "n_a", "n_b")
      .agg(count(lit(1)).as("inter_grams"))
      .withColumn("union_grams", col("n_a") + col("n_b") - col("inter_grams"))
      .select(col("slice_a"), col("slice_b"), col("n_a"), col("n_b"),
        col("inter_grams"), col("union_grams"),
        round(col("inter_grams").cast("double") / col("union_grams"), 6)
          .as("jaccard"))
  }

  /** [[qualityScore]]'s composite as a single column expression — one
    * definition of the arithmetic shared with the df-level op (and
    * mirrored by the oracle's qualityScoreSql), so a weight change
    * cannot leave a stale copy behind.
    */
  def qualityScoreCol(text: Column): Column = {
    val toks = tokens(text)
    val nTokens = size(toks).cast("long")
    val nChars = length(text).cast("long")
    val nAlnum = length(regexp_replace(lower(text), "[^a-z0-9]", "")).cast("long")
    val stopHits = size(filter(toks, w => w.isInCollection(Stopwords.en)))
    least(nTokens.cast("double") / 64.0, lit(1.0)) * 0.4 +
      when(nTokens > 0, stopHits.cast("double") / nTokens)
        .otherwise(lit(0.0)) * 0.3 +
      when(nChars > 0, nAlnum.cast("double") / nChars)
        .otherwise(lit(0.0)) * 0.3
  }

  /** Logistic-regression text classifier over STANDARDIZED hashing-trick
    * features — the model-in-the-loop filtering step of production data
    * pipelines (CCNet's fastText filters, quality-classifier distillation:
    * train a cheap linear model to imitate an expensive labeling rule,
    * then score/filter the whole corpus with it). Features are the
    * [[hashedFeatures]] buckets DENSIFIED and standardized per bucket
    * (x_b = (c_b − μ_b)/σ_b, absent counts = 0, zero-variance buckets
    * σ = 1) — the preprocessing that makes full-batch gradient descent
    * converge in few rounds (measured on the fixture: raw counts sit at
    * majority-class accuracy after 8 rounds; standardized features reach
    * 99%+). `label` is any boolean column expression over the input row.
    *
    * Training is FULL-BATCH GD, deterministic by construction: per-round
    * weights are collected to the driver and re-enter the plan as
    * literals (the [[pcaTop]] pattern); per-doc logits fold over the
    * dense bucket-ordered vector; the only cross-row reductions are the
    * moment and gradient sums (engine-order ulp noise ~1e-15, far inside
    * the compare normalization). Docs with no tokens are excluded.
    *
    * Scale shape: one sparse count pass, one ≤ dims-row moment
    * aggregate, then per round one scan of the dense (dims-wide) feature
    * table + a dims+1-row gradient aggregate; the weight vector is
    * driver metadata, never a shuffle key.
    *
    * Output: (doc_id, y, p, pred) — gold label, predicted probability,
    * 0.5-threshold decision.
    */
  def logregClassifier(df: DataFrame, label: Column, dims: Int = 64,
      iters: Int = 8, lr: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (fx, n, _, _) = logregFeatures(df, Some(label), dims, idCol, textCol)
    val (w, bias) = logregGd(fx, n, dims, iters, lr)
    fx.withColumn("p", logregSigmoid(logregLogit(w, bias)))
      .select(col(idCol), col("y"), col("p"), (col("p") >= 0.5).as("pred"))
  }

  /** Per-doc hashed bucket counts `(idCol, [y,] b, c)` — the sparse half
    * of the logreg feature derivation, lineage-truncated (it feeds the
    * moment aggregate, the densify, and every GD round). One definition
    * shared by training and frozen serving so the feature arithmetic
    * cannot drift between them. Docs with no tokens are excluded.
    */
  private def logregCounts(df: DataFrame, dims: Int, label: Option[Column],
      idCol: String, textCol: String): DataFrame = {
    require(dims > 0, s"dims must be positive, got $dims")
    val labeled = label match {
      case Some(l) => df.select(col(idCol), l.cast("int").as("y"),
        tokens(col(textCol)).as("__tk"))
      case None => df.select(col(idCol), tokens(col(textCol)).as("__tk"))
    }
    val keyCols = col(idCol) +: label.map(_ => col("y")).toSeq
    graft.core.Lineage.truncate(labeled
      .where(size(col("__tk")) > 0)
      .select(keyCols :+ explode(col("__tk")).as("__t"): _*)
      .select(keyCols :+ (PolyHash(col("__t"), 0L) % dims).cast("int").as("b"): _*)
      .groupBy(keyCols :+ col("b"): _*)
      .agg(count(lit(1)).cast("double").as("c")))
  }

  /** Densify + standardize the sparse counts: per doc, the dims-wide
    * vector `x_b = (c_b − μ_b)/σ_b` (absent counts 0) — shared by the
    * training fx and the frozen scorer, so standardization is one
    * expression in the codebase.
    */
  private def logregDense(cnt: DataFrame, dims: Int, mu: Array[Double],
      sd: Array[Double], idCol: String, hasY: Boolean): DataFrame = {
    val muLit = array(mu.toSeq.map(lit): _*)
    val sdLit = array(sd.toSeq.map(lit): _*)
    val keyCols = if (hasY) Seq(col(idCol), col("y")) else Seq(col(idCol))
    graft.core.Lineage.truncate(
      cnt.groupBy(keyCols: _*)
        .agg(map_from_entries(collect_list(struct(col("b"), col("c")))).as("__m"))
        .select(keyCols :+
          transform(sequence(lit(0), lit(dims - 1)), b =>
            (coalesce(element_at(col("__m"), b), lit(0.0))
              - element_at(muLit, b + 1)) / element_at(sdLit, b + 1)).as("x"): _*))
  }

  /** Training-side feature pass: counts → moments → standardized dense
    * fx. Returns (fx with (idCol, y, x), n docs, μ, σ). Moments use the
    * exact form mirrored in the twin: μ = Σc/n, σ² = Σc²/n − μ²
    * (zero-variance buckets σ = 1).
    */
  private def logregFeatures(df: DataFrame, label: Option[Column], dims: Int,
      idCol: String, textCol: String):
      (DataFrame, Double, Array[Double], Array[Double]) = {
    val cnt = logregCounts(df, dims, label, idCol, textCol)
    val n = cnt.select(col(idCol)).distinct().count().toDouble
    require(n > 0, "logregClassifier needs at least one tokenized document")
    val mom = cnt.groupBy("b")
      .agg(sum("c").as("s"), sum(col("c") * col("c")).as("ss"))
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val mu = Array.tabulate(dims)(b => mom.get(b).map(_._1 / n).getOrElse(0.0))
    val sd = Array.tabulate(dims) { b =>
      val v = mom.get(b).map { case (s, ss) => ss / n - (s / n) * (s / n) }
        .getOrElse(0.0)
      if (v > 0) math.sqrt(v) else 1.0
    }
    (logregDense(cnt, dims, mu, sd, idCol, hasY = label.isDefined), n, mu, sd)
  }

  /** The model logit as a column over `x`: weights re-enter the plan as
    * literals (the pcaTop pattern); VecDot kernel — bit-identical to the
    * aggregate(zip_with(x·w)) fold.
    */
  private def logregLogit(wArr: Array[Double], b: Double): Column =
    lit(b) + graft.functions.Signatures.vecDot(col("x"),
      array(wArr.toSeq.map(lit): _*))

  private def logregSigmoid(z: Column): Column =
    lit(1.0) / (lit(1.0) + exp(-z))

  /** The full-batch GD rounds (deterministic: per-round weights collected
    * to the driver and re-entering as literals): every gradient component
    * in one aggregation per round — pos 0 is the bias (constant feature
    * 1), pos b+1 is bucket b.
    */
  private def logregGd(fx: DataFrame, n: Double, dims: Int, iters: Int,
      lr: Double): (Array[Double], Double) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    var w = Array.fill(dims)(0.0)
    var bias = 0.0
    for (_ <- 1 to iters) {
      val g = fx.withColumn("e", logregSigmoid(logregLogit(w, bias)) - col("y"))
        .select(col("e"),
          posexplode(concat(array(lit(1.0)), col("x"))).as(Seq("pos", "xv")))
        .groupBy("pos")
        .agg((sum(col("e") * col("xv")) / n).as("g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      bias -= lr * g(0)
      for (b <- 0 until dims) w(b) -= lr * g.getOrElse(b + 1, 0.0)
    }
    (w, bias)
  }

  /** Train [[logregClassifier]]'s model and return it as a FROZEN-model
    * relation — the train-once half of production model-in-the-loop
    * curation (CCNet's fastText shape: the classifier is trained once on
    * a labeled slice, then serves frozen weights over the whole corpus).
    * One row per feature bucket `(b, w, mu, sd)` — weight plus the
    * standardization moments the scorer must apply — and the bias as the
    * sentinel row `b = -1` (w = bias, mu = 0, sd = 1). dims+1 rows total:
    * metadata-scale, persist anywhere (single-file parquet is the right
    * layout). Serve with [[logregScoreFrozen]]; the round-trip is exact
    * (doubles through parquet), so frozen serving ≡ train-inline scoring
    * bit for bit on the training corpus.
    */
  def logregTrain(df: DataFrame, label: Column, dims: Int = 64,
      iters: Int = 8, lr: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val (fx, n, mu, sd) = logregFeatures(df, Some(label), dims, idCol, textCol)
    val (w, bias) = logregGd(fx, n, dims, iters, lr)
    val spark = df.sparkSession
    import spark.implicits._
    ((-1, bias, 0.0, 1.0) +:
      (0 until dims).map(b => (b, w(b), mu(b), sd(b))))
      .toDF("b", "w", "mu", "sd")
  }

  /** Score a corpus against a FROZEN [[logregTrain]] model — the
    * serve-many half: no training, no label column, no moment pass; the
    * model (dims+1 rows, metadata-scale) is collected to the driver and
    * enters a [[graft.functions.LogregLogit]] kernel as expression
    * literals, so scoring is a NARROW map over the corpus — the whole
    * tokenize → hash-count → frozen-μ/σ standardize → dot pipeline is
    * one JVM call per document, ZERO shuffles and zero joins (the
    * explode + two-groupBy column algebra it replaces shuffled the token
    * stream twice) — the 100 TB curation-filter shape. The kernel's
    * float-op sequence mirrors the training-side densify+VecDot exactly
    * (bit-identical, spec-pinned). Docs with no tokens are excluded,
    * like training. CONTRACT: one row per `idCol` (the scorer is
    * per-row; training merges multi-row docs — pre-concat chunked docs).
    * Output: (idCol, p, pred).
    */
  def logregScoreFrozen(df: DataFrame, model: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val rows = model.select(col("b").cast("int"), col("w"), col("mu"),
      col("sd")).collect()
    val bias = rows.find(_.getInt(0) == -1).getOrElse(
      throw new IllegalArgumentException(
        "frozen logreg model must carry a bias row (b = -1)")).getDouble(1)
    val byB = rows.filter(_.getInt(0) >= 0)
      .map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    val dims = if (byB.isEmpty) 0 else byB.keys.max + 1
    require(dims > 0 && byB.keySet == (0 until dims).toSet,
      s"frozen logreg model must cover buckets 0..dims-1, got ${byB.keySet}")
    val w = Seq.tabulate(dims)(byB(_)._1)
    val mu = Seq.tabulate(dims)(byB(_)._2)
    val sd = Seq.tabulate(dims)(byB(_)._3)
    df.select(col(idCol),
        graft.functions.Signatures.logregLogit(col(textCol), w, mu, sd, bias)
          .as("__z"))
      .where(col("__z").isNotNull)
      .withColumn("p", logregSigmoid(col("__z")))
      .select(col(idCol), col("p"), (col("p") >= 0.5).as("pred"))
  }

  /** Position cap for the winnowing encode trick: (hash, rightmost-pos)
    * packs into one orderable long as `hash * PosCap + (PosCap-1 - pos)`,
    * so a window MIN picks the smallest hash and, among ties, the LARGEST
    * position — exactly robust winnowing's rightmost-min rule — without a
    * second (frame-correlated) window pass. hash < 2^30 (PolyHash mod) and
    * pos < 2^21 keep the product under 2^51. The constant lives with the
    * kernel that encodes it.
    */
  val WinnowPosCap: Long = graft.functions.SignatureKernel.WinnowPosCap

  /** MOSS winnowing fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD'03):
    * per document, slide a `window`-gram window over the k-gram hash
    * stream and keep each window's minimum hash (rightmost on ties) — the
    * guarantee is that any shared token run of length >= k + window - 1
    * yields at least one shared fingerprint, at ~2/(window+1) the density
    * of the full gram stream.
    *
    * Output: (idCol, fp_pos, fp) — `fp` is the selected k-gram's PolyHash,
    * `fp_pos` its 0-based gram start. The same fp can be selected at
    * several positions of one document (repeated grams); consumers that
    * want the per-doc fingerprint SET distinct on (idCol, fp).
    *
    * CONTRACT: exactly one row per `idCol` value. The kernel distincts
    * minima WITHIN one row's text; feeding several rows under the same id
    * emits per-row (not per-doc-merged) fingerprints with duplicate
    * (id, fp_pos, fp) triples across rows — pre-aggregate multi-chunk
    * documents (concat their text, or distinct the output on all three
    * columns) before calling.
    *
    * Scale shape: one [[graft.functions.WinnowEncoded]] kernel pass per
    * document — the whole gram-explode + doc-partitioned rolling-window-MIN
    * pipeline collapsed into one JVM call per doc (monotone-deque rolling
    * min), so there is NO shuffle and no sort at all; the kernel emits the
    * per-doc distinct encoded minima directly. Bit-identical to the
    * exploded-window column algebra it replaces (spec-pinned), including
    * the rightmost-min tie rule via the `cap−1−pos` encode and the
    * short-doc final-partial-window case. `repartition(idCol)` first: a
    * small parquet input arrives as one partition and would serialize the
    * kernel on a single core.
    */
  def winnowFingerprints(df: DataFrame, k: Int = 5, window: Int = 4,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k >= 1 && window >= 1, s"need k >= 1, window >= 1; got k=$k window=$window")
    val cap = WinnowPosCap
    df.repartition(
        Sessions.partsOf(df.sparkSession),
        col(idCol)) // pinned: REPARTITION_BY_COL is AQE-coalescable to 1
      .select(col(idCol),
        explode(graft.functions.Signatures.winnowEncoded(col(textCol), k, window)).as("we"))
      .select(col(idCol), expr(s"${cap - 1} - (we % $cap)").as("fp_pos"),
        expr(s"we div $cap").as("fp"))
  }

  /** Near-duplicate pairs by shared winnowing fingerprints — the
    * position-robust local-overlap detector (a long shared passage inside
    * otherwise-different documents lights up here, where whole-document
    * MinHash dilutes it). Pairs come from an inverted index on the
    * fingerprint value: distinct (doc, fp), posting lists capped at
    * `maxDf` docs (boilerplate fingerprints shared by everything carry no
    * pair signal and would explode the self-join quadratically — the
    * standard posting-list cut, same policy as the inverted-index
    * operator), then a fp-keyed self-join counted per pair.
    */
  def winnowNearDups(df: DataFrame, k: Int = 5, window: Int = 4,
      minShared: Int = 5, maxDf: Int = 50,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minShared >= 1 && maxDf >= 2,
      s"need minShared >= 1, maxDf >= 2; got minShared=$minShared maxDf=$maxDf")
    val fps = winnowFingerprints(df, k, window, idCol, textCol)
      .select(col(idCol).as("id"), col("fp")).distinct()
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDf).select("fp")
    val indexed = fps.join(keep, "fp")
    indexed.select(col("fp"), col("id").as("id_a"))
      .join(indexed.select(col("fp"), col("id").as("id_b")), "fp")
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Zipf rank-frequency fit per corpus slice: rank terms by frequency
    * (count desc, term asc), take the top `topN`, and least-squares fit
    * ln(count) against ln(rank) — the slope is the Zipf exponent (≈ −1
    * for natural language; far off means templated/generated text), a
    * one-number corpus-health diagnostic per source.
    *
    * The regression sums fold over the per-group SORTED (rank, count)
    * array — a plain `sum()` of per-row float terms is
    * run-nondeterministic (accumulation order follows partitioning) and
    * measurably straddles the 9-digit compare; the fold pins ONE order in
    * both engines. Scale shape: term counts partial-combine, the top-N is
    * a WindowGroupLimit-bounded window, and the fold runs over ≤ topN
    * elements per group.
    */
  def zipfFit(docs: DataFrame, groupCol: String = "source", topN: Int = 100,
      textCol: String = "text"): DataFrame = {
    require(topN >= 3, s"zipfFit needs topN >= 3, got $topN")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("grp").orderBy(col("cnt").desc, col("term").asc)
    val ranked = docs
      .select(col(groupCol).as("grp"), explode(tokens(col(textCol))).as("term"))
      .groupBy("grp", "term").agg(count(lit(1)).as("cnt"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topN)
    // per element: [x, y, x·y, x²] with x = ln(rank), y = ln(cnt); the
    // fold is element-wise + with the FIRST element as init (mirrors
    // DuckDB's list_reduce semantics)
    val terms = ranked.groupBy("grp")
      .agg(array_sort(collect_list(struct(col("rank"), col("cnt")))).as("__rc"))
      .select(col("grp"),
        size(col("__rc")).cast("long").as("n_terms"),
        transform(col("__rc"), e => array(
          log(e.getField("rank").cast("double")),
          log(e.getField("cnt").cast("double")),
          log(e.getField("rank").cast("double")) * log(e.getField("cnt").cast("double")),
          log(e.getField("rank").cast("double")) * log(e.getField("rank").cast("double"))))
          .as("__t"))
    val sums = aggregate(
      expr("slice(__t, 2, size(__t) - 1)"),
      element_at(col("__t"), 1),
      (a, e) => zip_with(a, e, (x, y) => x + y))
    terms
      .withColumn("__s", sums)
      .where(col("n_terms") >= 3)
      .select(col("grp"), col("n_terms"),
        ((col("n_terms") * element_at(col("__s"), 3)
          - element_at(col("__s"), 1) * element_at(col("__s"), 2))
          / (col("n_terms") * element_at(col("__s"), 4)
            - element_at(col("__s"), 1) * element_at(col("__s"), 1)))
          .as("zipf_slope"))
  }

  /** Skip-gram pair extraction — the word2vec / GloVe training-data op:
    * for every token position i and offset d = 1..`window`, count the
    * directed (center, context) pair (t_i, t_{i+d}); symmetric-window
    * counts are this table plus its transpose. Pure column algebra: the
    * offset fan-out is a bounded explode (window·n pairs per doc), the
    * count a partial-combined aggregate on well-spread string-pair keys —
    * at 100 TB this is one scan + one shuffle sized by the PAIR VOCABULARY
    * (Zipf-bounded), not the corpus.
    */
  def skipgrams(docs: DataFrame, window: Int = 2,
      textCol: String = "text"): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    docs.select(tokens(col(textCol)).as("tk"))
      .select(col("tk"), explode(sequence(lit(1), lit(window))).as("d"))
      .where(size(col("tk")) > col("d"))
      .select(explode(transform(sequence(lit(1), size(col("tk")) - col("d")),
        i => struct(element_at(col("tk"), i).as("word"),
          element_at(col("tk"), i + col("d")).as("context")))).as("p"))
      .groupBy(col("p.word").as("word"), col("p.context").as("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** SymSpell-style fuzzy vocabulary join (Garbe's deletion blocking):
    * two words within edit distance 1 ALWAYS share an entry of each
    * other's deletion neighborhood {word} ∪ {word minus one char} — a
    * substitution at position i collides on "both delete i", an
    * insert/delete on "the longer word deletes the extra char". So the
    * candidate set is an EQUI-join on the variant string (fan-out len+1
    * per word, well-spread keys) — never a quadratic all-pairs distance
    * matrix — and `levenshtein <= 1` verifies candidates exactly
    * (the neighborhood also admits some distance-2 collisions, e.g.
    * transpositions: del("ab") ∩ del("ba") = {a, b}).
    *
    * Input is a vocabulary (wordCol, cntCol) — typically the distinct
    * token counts of a corpus; output is (word_a, word_b, cnt_a, cnt_b)
    * with word_a < word_b. `minLen` drops short words whose distance-1
    * neighborhoods are mostly other real words (the standard guard).
    */
  def typoPairs(vocab: DataFrame, minLen: Int = 5,
      wordCol: String = "word", cntCol: String = "cnt"): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val base = vocab.select(col(wordCol).as("w"), col(cntCol).as("cnt"))
      .where(length(col("w")) >= minLen)
    val variants = base
      .select(col("w"), col("cnt"),
        explode(sequence(lit(0), length(col("w")))).as("i"))
      .select(col("w"), col("cnt"),
        when(col("i") === 0, col("w"))
          .otherwise(concat(expr("substring(w, 1, i - 1)"),
            expr("substring(w, i + 1, length(w))"))).as("v"))
    variants.select(col("v"), col("w").as("word_a"), col("cnt").as("cnt_a"))
      .join(variants.select(col("v"), col("w").as("word_b"), col("cnt").as("cnt_b")), "v")
      .where(col("word_a") < col("word_b"))
      .select("word_a", "word_b", "cnt_a", "cnt_b").distinct()
      .where(levenshtein(col("word_a"), col("word_b")) <= 1)
  }

  /** CCNet-style line-level deduplication + boilerplate screen (Wenzek et
    * al. 2020, "CCNet: Extracting high quality monolingual datasets from
    * web crawl data" — §3 "deduplication ... at the paragraph level"):
    * documents are split on newline into lines, each line keyed by its
    * normalized form (`lower(trim(line))` — CCNet's case/whitespace
    * normalization before hashing), and an occurrence is kept iff it is
    * the corpus-wide FIRST occurrence of its key (lowest (doc, line_no) —
    * the deterministic stand-in for CCNet's "first shard wins") AND the
    * key is not boilerplate (appears in fewer than `boilerplateDf`
    * distinct documents — navigation bars, cookie banners, and footers
    * repeat across most pages of a site, which per-document dedup cannot
    * see). Empty/whitespace-only lines are not emitted.
    *
    * Output, one row per surviving line slot: (doc_id, line_no 0-based,
    * line raw, n_docs, n_occurrences, is_kept). Rebuilding the cleaned
    * corpus is a groupBy(doc) over `is_kept` rows ordered by line_no.
    *
    * Scale shape: one partial-combined aggregate on the line key (the
    * distinct-doc count is the only two-phase term) and one equi-join of
    * the line stream against it — line keys are near-uniform (hash-like
    * spread), so nothing funnels; no broadcast, no window over the
    * corpus. At 100 TB this is exactly one shuffle of the line stream by
    * content key plus one join — the CCNet job shape.
    */
  def lineDedup(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", boilerplateDf: Long = 3): DataFrame = {
    require(boilerplateDf >= 1, s"boilerplateDf must be >= 1, got $boilerplateDf")
    val lines = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("line_no", "line")))
      .withColumn("__key", lower(trim(col("line"))))
      .where(col("__key") =!= "")
    val stats = lines.groupBy("__key").agg(
      countDistinct("doc_id").as("n_docs"),
      count(lit(1)).as("n_occurrences"),
      min(struct(col("doc_id"), col("line_no"))).as("__first"))
    lines.join(stats, Seq("__key"))
      .select(col("doc_id"), col("line_no"), col("line"),
        col("n_docs"), col("n_occurrences"),
        (col("doc_id") === col("__first.doc_id")
          && col("line_no") === col("__first.line_no")
          && col("n_docs") < boilerplateDf).as("is_kept"))
  }

  /** The document face of [[lineDedup]]: the cleaned corpus rebuilt from
    * the kept line slots (newline-joined in line order) plus the per-doc
    * removal accounting — CCNet's actual OUTPUT, where [[lineDedup]] is
    * the per-line audit trail. Documents whose every line was removed
    * (or that had no non-empty lines at all) are still emitted, with
    * empty `clean_text` — dropping them is the caller's policy decision,
    * not the dedup's.
    *
    * Output: (doc_id, clean_text, n_lines non-empty, n_kept,
    * removed_ratio). Scale shape: [[lineDedup]]'s shuffle plus one
    * doc-keyed aggregate; the line order inside a doc is restored by an
    * array_sort over (line_no, line) structs — per-doc bounded work, no
    * window.
    */
  def lineClean(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", boilerplateDf: Long = 3): DataFrame = {
    val verdicts = lineDedup(df, idCol, textCol, boilerplateDf)
    val agg = verdicts.groupBy("doc_id").agg(
      array_sort(collect_list(when(col("is_kept"),
        struct(col("line_no"), col("line"))))).as("__kept"),
      count(lit(1)).as("n_lines"),
      sum(when(col("is_kept"), 1L).otherwise(0L)).as("n_kept"))
    df.select(col(idCol).as("doc_id")).distinct()
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(concat_ws("\n",
          transform(col("__kept"), s => s.getField("line"))), lit(""))
          .as("clean_text"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        when(coalesce(col("n_lines"), lit(0L)) > 0,
          (coalesce(col("n_lines"), lit(0L)) - coalesce(col("n_kept"), lit(0L)))
            .cast("double") / coalesce(col("n_lines"), lit(1L)))
          .otherwise(lit(0.0)).as("removed_ratio"))
  }
}

/** Tiny per-language stopword dictionaries (public common words). */
object Stopwords {
  val en = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  val de = Seq("der", "die", "das", "und", "ist", "ein", "zu", "mit", "von", "nicht")
  val es = Seq("el", "la", "de", "que", "y", "en", "un", "es", "por", "con")
  val fr = Seq("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "sur")
  val it = Seq("il", "la", "di", "che", "e", "un", "per", "con", "del", "non")
  val byLang: Map[String, Seq[String]] =
    Map("en" -> en, "de" -> de, "es" -> es, "fr" -> fr, "it" -> it)

  /** Sorted distinct union of every language list — the language-agnostic
    * stopword set [[TextOps.gopherRules]] screens against.
    */
  val all: Seq[String] = byLang.values.flatten.toSeq.distinct.sorted
}
