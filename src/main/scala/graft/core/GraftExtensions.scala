package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{Decimal, DoubleType, IntegerType, LongType, StringType}

import graft.functions.{CharNgramCodes, MinHashSig, PolyHash, SimHashSig, SimHashSigWide, SortedArrayJaccard, SrpBucket, VecCosine, VecDot, VecSqDist}
import graft.ops.{Cdc, Cooccurrence, Layout, Retention, Sessionize}
import graft.pipeline.{ChatOps, Components, Curation, Dedup, Profile, Sampling, Similarity,
  Sketches, TextCdc, TextOps, WebOps}
import graft.ts.SeriesOps

/** SQL surface of the engine: the custom Catalyst expressions of
  * [[GraftFunctions]] and the table-valued functions of
  * [[GraftTableFunctions]]. Install with
  * `spark.sql.extensions=graft.core.GraftExtensions` (cluster-wide) or call
  * each registry's `registerAll` on an existing session. The declarations
  * in those two objects are the one list of what SQL can call: each starts
  * with the function's signature and usage text, which is also what
  * `DESCRIBE FUNCTION` prints.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    GraftTableFunctions.all.foreach(ext.injectTableFunction)
  }
}

/** Declares a SQL function from its signature string `name(p1, p2, ...)`:
  * the signature supplies the function name, the usage text, the arity
  * and the parameter names of error messages. [[SqlDecl.Args]] reads each
  * call's literal arguments with one set of rules for both registries.
  */
private[graft] object SqlDecl {
  private val Shape = """(\w+)\(([\w, ]*)\)""".r

  type Entry[T] = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => T)

  def apply[T](owner: Class[_], sig: String, doc: String)(build: Args => T): Entry[T] =
    sig match {
      case Shape(name, ps) =>
        val params = ps.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val info = new ExpressionInfo(owner.getName, null, name, s"$sig - $doc",
          "", "", "", "", "", "", "built-in")
        (FunctionIdentifier(name), info, exprs => build(new Args(sig, params, exprs)))
      case _ => throw new IllegalArgumentException(s"malformed SQL signature: $sig")
    }

  /** One call's arguments, checked against the declared arity. Integer
    * parameters take INT or BIGINT literals and reject values outside
    * their type; numeric parameters also take integer literals.
    */
  final class Args private[SqlDecl] (sig: String, params: Seq[String],
      exprs: Seq[Expression]) {
    if (exprs.length != params.length) throw new IllegalArgumentException(
      s"$sig takes ${params.length} arguments, got ${exprs.length}")

    private def fail(i: Int, what: String): Nothing =
      throw new IllegalArgumentException(
        s"$sig: ${params(i)} must be $what, got ${exprs(i)}")

    def expr(i: Int): Expression = exprs(i)

    def str(i: Int): String = exprs(i) match {
      case Literal(s, StringType) if s != null => s.toString
      case _ => fail(i, "a string literal")
    }

    def long(i: Int): Long = exprs(i) match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType) => v
      case _ => fail(i, "an integer literal")
    }

    def int(i: Int): Int = {
      val v = long(i)
      if (!v.isValidInt) throw new IllegalArgumentException(
        s"$sig: ${params(i)} = $v is outside the int range")
      v.toInt
    }

    def double(i: Int): Double = exprs(i) match {
      case Literal(v: Decimal, _) => v.toDouble
      case Literal(v: Double, DoubleType) => v
      case Literal(v: Int, IntegerType) => v.toDouble
      case Literal(v: Long, LongType) => v.toDouble
      case _ => fail(i, "a numeric literal")
    }

    /** The table or (temp) view named by a string argument. */
    def rel(i: Int): DataFrame = SparkSession.active.table(str(i))

    /** The column named by a string argument. */
    def column(i: Int): Column = col(str(i))
  }
}

/** Table-valued functions exposing whole-relation pipeline operators to
  * pure-SQL callers: `SELECT * FROM graft_sessionize('events_view',
  * 1800000000000)`. Table arguments name a table or (temp) view in the
  * session catalog; the remaining arguments are literals. The builder runs
  * at analysis time: it resolves the named relations, applies the same
  * DataFrame-level operator the Scala API exposes, and splices the
  * resulting analyzed plan into the query — so a SQL invocation plans
  * IDENTICALLY to the Scala call (same shuffles, same broadcasts), proven
  * by the sql_* twin queries hashing equal to their Scala originals.
  *
  * Iterative operators (`graft_dedup_clusters`: connected components with
  * per-round checkpointing) and frozen-model readers run their bounded
  * jobs while the outer query is analyzed — the cost is the
  * operator itself, not an extra penalty, but EXPLAIN on such a query is
  * not free.
  */
object GraftTableFunctions {

  private def tvf(sig: String, doc: String)(build: SqlDecl.Args => DataFrame)
      : SqlDecl.Entry[LogicalPlan] =
    SqlDecl(getClass, sig, doc)(a => build(a).queryExecution.analyzed)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    tvf("graft_sessionize(table, gap_ns)", "gap-based sessionization of an event table") {
      a => Sessionize.sessions(a.rel(0), a.long(1)) },
    tvf("graft_bm25(table, query, k)", "Okapi BM25 top-k document retrieval") {
      a => TextOps.bm25(a.rel(0), a.str(1), a.int(2)) },
    tvf("graft_resample(table, width_ns)", "fixed-width resampling of a series table") {
      a => SeriesOps.resample(a.rel(0), a.long(1)) },
    tvf("graft_dedup_clusters(table)", "MinHash-LSH near-duplicate cluster labels") {
      a => Components.dedupClusters(a.rel(0)) },
    tvf("graft_quantile_sketch(table, k, group_col, key_col, value_col)",
        "mergeable bottom-k sample quantiles per group") {
      a => Sketches.quantileSketch(a.rel(0), a.int(1), Seq(a.str(2)), a.str(3), a.str(4)) },
    tvf("graft_semantic_dedup(table, threshold, k, iters)",
        "SemDeDup-style embedding dedup: kmeans cells + within-cell cosine pruning") {
      a => Similarity.semanticDedup(a.rel(0), a.double(1), a.int(2), a.int(3)) },
    tvf("graft_hll_distinct(table, p, group_col, key_col)",
        "HyperLogLog approximate distinct keys per group (2^p registers)") {
      a => Sketches.hllDistinct(a.rel(0), a.int(1), Seq(a.str(2)), a.str(3)) },
    tvf("graft_cms_topk(table, term_col, k)",
        "count-min-sketch heavy hitters: top-k terms with one-sided frequency estimates") {
      a => Sketches.cmsTopK(a.rel(0), a.str(1), a.int(2)) },
    tvf("graft_sample(table, id_col, fraction)",
        "deterministic hash-bucket row sample (layout- and run-invariant)") {
      a => Sampling.deterministicSample(a.rel(0), a.str(1), a.double(2)) },
    tvf("graft_compaction_plan(table, target_bytes)",
        "small-file compaction manifest: roll docs into files of ~target_bytes in id order") {
      a => Layout.compactionPlan(a.rel(0), a.long(1)) },
    tvf("graft_exact_dedup(table)",
        "exact duplicate groups by full-text hash, lowest id canonical") {
      a => Dedup.exact(a.rel(0)) },
    tvf("graft_label_outliers(table)",
        "embedding centroid-distance z-scores within each label (mislabel/noise screening)") {
      a => Similarity.labelOutliers(a.rel(0)) },
    tvf("graft_quality(table)",
        "per-document composite quality score (length, stopword, alnum ratios)") {
      a => TextOps.qualityScore(a.rel(0)) },
    tvf("graft_clf_score(docs_table, model_table)",
        "score documents against a frozen logreg quality model (weights + moments)") {
      a => TextOps.logregScoreFrozen(a.rel(0), a.rel(1)) },
    tvf("graft_ann_serve(queries_table, cells_table, codebooks_table, codes_table, top_k, nprobe)",
        "ANN top-k over a frozen IVF-PQ index: coarse cell probe + cell-pruned ADC code scoring") {
      a => Similarity.ivfPqAdcTopKFrozen(a.rel(0), a.rel(1), a.rel(2), a.rel(3), a.int(4),
        a.int(5)) },
    tvf("graft_line_dedup(table, boilerplate_df)",
        "CCNet line-level dedup: per-line first-occurrence + boilerplate-frequency verdicts") {
      a => TextOps.lineDedup(a.rel(0), boilerplateDf = a.long(1)) },
    tvf("graft_line_clean(table, boilerplate_df)",
        "CCNet cleaned corpus: docs rebuilt from kept lines + per-doc removal accounting") {
      a => TextOps.lineClean(a.rel(0), boilerplateDf = a.long(1)) },
    tvf("graft_web_canonical(table)",
        "canonical URL identity + registered domain per doc (expects doc_id, url columns)") { a =>
      a.rel(0).select(col("doc_id"), col("url"),
        WebOps.canonicalizeUrl(col("url")).as("canonical_url"),
        WebOps.urlDomain(col("url")).as("domain")) },
    tvf("graft_domain_stats(table)", "per registered domain: doc/token/lang counts + mean " +
        "quality score (expects doc_id, url, text, lang)") {
      a => WebOps.domainStats(a.rel(0)) },
    tvf("graft_domain_budget(table, budget_tokens)",
        "per-domain token-budget cap in doc_id order (expects doc_id, url, text)") {
      a => WebOps.domainBudgetCap(a.rel(0), a.long(1)) },
    tvf("graft_crawl_rate(table, window_ms, max_fetches)", "per registered domain and " +
        "tumbling event-time window: fetch count + over-limit verdict (expects url, ts epoch-ns)") {
      a => WebOps.crawlRate(a.rel(0), a.long(1), a.long(2)) },
    tvf("graft_web_blocklist(docs_table, blocklist_table)", "drop docs whose registered " +
        "domain or canonical-URL prefix is blocklisted (blocklist: kind, pattern)") {
      a => WebOps.blocklistFilter(a.rel(0), a.rel(1)) },
    tvf("graft_link_graph(table)", "registered-domain link graph from http(s) mentions in page " +
        "text: (src_domain, dst_domain) edges with link + distinct-page counts") {
      a => WebOps.linkGraph(a.rel(0)) },
    tvf("graft_domain_boilerplate(table, min_ratio, min_docs)", "flag lines repeating across " +
        "most pages of their own registered domain (site chrome; expects doc_id, url, text)") {
      a => WebOps.domainBoilerplate(a.rel(0), minRatio = a.double(1), minDocs = a.long(2)) },
    tvf("graft_fetch_schedule(table, delay_ms)", "politeness scheduler: earliest feasible " +
        "fetch time per registered domain under a minimum gap (expects event_id, url, ts)") {
      a => WebOps.fetchSchedule(a.rel(0), a.long(1)) },
    tvf("graft_web_frontier(table)", "crawl frontier: outlink mentions whose canonical " +
        "identity is not already a corpus page, with mention/citing-domain counts") {
      a => WebOps.frontier(a.rel(0)) },
    tvf("graft_web_robots(docs_table, rules_table)", "robots-rules verdicts (longest match, " +
        "allow on tie, default allow) per URL; rules: domain, directive, path_prefix") {
      a => WebOps.robotsEval(a.rel(0), a.rel(1)) },
    tvf("graft_sft_stats(table)", "per-conversation structural validation of an SFT turns " +
        "table (expects conv_id, turn_no, role, content)") {
      a => ChatOps.turnStats(a.rel(0)) },
    tvf("graft_chat_render(table)", "chat-template rendering of an SFT turns table to one " +
        "training string per conversation") {
      a => ChatOps.renderChat(a.rel(0)) },
    tvf("graft_pref_bias(table)", "preference-pair length-bias audit per source: " +
        "longer-chosen ratio + mean token delta (expects source, chosen, rejected)") {
      a => ChatOps.prefLengthBias(a.rel(0)) },
    tvf("graft_ks_drift(table, group_col, value_col, slice_col, shard_width)",
        "exact two-sample KS drift per group (slice_col: boolean, true = slice A)") {
      a => Profile.ksDrift(a.rel(0), a.str(1), a.str(2), a.column(3), a.double(4)) },
    tvf("graft_psi_drift(table, group_col, value_col, slice_col, lo, hi, n_bins)",
        "binned population-stability-index drift per group") { a =>
      Profile.psiDrift(a.rel(0), a.str(1), a.str(2), a.column(3), a.double(4), a.double(5),
        a.int(6)) },
    tvf("graft_winnow_dups(table, k, window, min_shared, max_df)",
        "near-dup pairs by shared MOSS winnowing fingerprints") {
      a => TextOps.winnowNearDups(a.rel(0), a.int(1), a.int(2), a.int(3), a.int(4)) },
    tvf("graft_skipgrams(table, window)",
        "skip-gram (center, context) pair counts for embedding training") {
      a => TextOps.skipgrams(a.rel(0), a.int(1)) },
    tvf("graft_holt(table, horizon)",
        "Holt double exponential smoothing per series with h-step linear forecasts") {
      a => SeriesOps.holt(a.rel(0), horizon = a.int(1)) },
    tvf("graft_cdc_scd2(table)", "SCD2 historization of an (op, id, payload, seq) changelog") {
      a => Cdc.scd2(a.rel(0)) },
    tvf("graft_text_cdc_dups(table, window, mask_bits, min_shared, max_df)",
        "sub-document near-dup pairs by shared content-defined chunks") {
      a => TextCdc.cdcDups(a.rel(0), a.int(1), a.int(2), a.int(3), a.int(4)) },
    tvf("graft_kcenter(table, k)",
        "greedy k-center diversity coreset over an embedding table") {
      a => Similarity.kCenters(a.rel(0), a.int(1)) },
    tvf("graft_readability(table)", "Flesch reading ease and Flesch-Kincaid grade per document") {
      a => TextOps.readability(a.rel(0)) },
    tvf("graft_assoc_rules(table)",
        "directional association rules (support, confidence, lift) over user event baskets") {
      a => Cooccurrence.assocRules(a.rel(0)) },
    tvf("graft_calendar_profile(table)",
        "per-type UTC dow x hour event count and value stats") {
      a => Profile.calendarProfile(a.rel(0)) },
    tvf("graft_novelty(table, k)",
        "per-document k-shingle novelty vs everything earlier in id order") {
      a => TextOps.ngramNovelty(a.rel(0), k = a.int(1)) },
    tvf("graft_benford(table, group_col, value_col)",
        "Benford first-digit audit with per-group chi-square verdict") {
      a => Profile.benford(a.rel(0), a.str(1), a.str(2)) },
    tvf("graft_ljungbox(table, max_lag)",
        "per-series Ljung-Box whiteness test with adaptive df and 5% verdict") {
      a => SeriesOps.ljungBox(a.rel(0), a.int(1)) },
    tvf("graft_isotropy(table)",
        "one-row embedding isotropy audit (pair-cosine moments, centroid-offset ratio)") {
      a => Similarity.isotropy(a.rel(0)) },
    tvf("graft_spearman(table, dt_ns)",
        "Spearman rank correlation between series pairs on a dt_ns resample grid") {
      a => SeriesOps.spearmanCorrelation(a.rel(0), a.long(1)) },
    tvf("graft_motifs(table, dt_ns)",
        "sliding-window SAX motif census over the resampled observation sequence") {
      a => SeriesOps.saxMotifs(a.rel(0), a.long(1)) },
    tvf("graft_completeness(table)", "per-column null/NaN/empty audit with the usable fraction") {
      a => Profile.completeness(a.rel(0)) },
    tvf("graft_random_project(table, d_out, d_in)",
        "JL sign random projection of an embedding table") {
      a => Similarity.randomProject(a.rel(0), a.int(1), a.int(2)) },
    tvf("graft_lsh_plan(n_hashes, target_jaccard)",
        "LSH banding S-curve planner (no table argument: the grid is generated)") {
      a => Dedup.lshPlan(SparkSession.active, a.int(0), a.double(1)) },
    tvf("graft_pacf(table, max_lag)",
        "per-series partial autocorrelation via the Durbin-Levinson recursion") {
      a => SeriesOps.pacf(a.rel(0), a.int(1)) },
    tvf("graft_minhash_eval(table)", "measured precision/recall of the MinHash-LSH dedup vs " +
        "brute-force exact Jaccard on the table") {
      a => Dedup.minhashEval(a.rel(0)) },
    tvf("graft_survival(table, censor_days, day_ns)",
        "Kaplan-Meier survival curve over user lifetimes with right-censoring") {
      a => Retention.survival(a.rel(0), censorDays = a.long(1), dayNs = a.long(2)) },
    tvf("graft_kcore(table, k)",
        "k-core membership of an id_a/id_b pair graph by synchronous peeling") {
      a => Components.kCore(a.rel(0), a.int(1)) },
    tvf("graft_adamic_adar(table, max_deg)",
        "Adamic-Adar 2-hop link prediction over an id_a/id_b pair graph") {
      a => Components.adamicAdar(a.rel(0), a.int(1)) },
    tvf("graft_rake(table, top_n, max_len)", "RAKE keyphrase extraction over a doc_id/text table") {
      a => TextOps.rakePhrases(a.rel(0), a.int(1), a.int(2)) },
    tvf("graft_dtw(table, dt_ns)",
        "dynamic-time-warping distance between every series pair on the dt_ns-resampled axis") {
      a => SeriesOps.dtw(a.rel(0), a.long(1)) },
    tvf("graft_dsir(table, target_col, k)", "DSIR importance resampling: the k docs whose " +
        "hashed-gram distribution best matches the rows where boolean target_col is true") {
      a => Sampling.dsirResample(a.rel(0), a.column(1), a.int(2)) },
    tvf("graft_semantic_join(left_table, right_table, threshold, k, iters)",
        "cross-corpus paraphrase-level contamination pairs: cells frozen on the left corpus, " +
          "same-cell cross cosine >= threshold") {
      a => Similarity.semanticJoin(a.rel(0), a.rel(1), a.double(2), a.int(3), a.int(4)) },
    tvf("graft_silhouette(table, k, iters)",
        "simplified (centroid) silhouette clustering-quality scores per vector") {
      a => Similarity.silhouette(a.rel(0), a.int(1), a.int(2)) },
    tvf("graft_modularity(pairs_table, labels_table)", "Newman modularity of the label " +
        "partition against the pair graph, one row per label") {
      a => Components.modularity(a.rel(0), a.rel(1)) },
    tvf("graft_crosstab(table, row_col, col_col, values_csv)", "contingency matrix with " +
        "explicit comma-separated pivot values, cells zero-filled") {
      a => Profile.crosstab(a.rel(0), a.str(1), a.str(2), a.str(3).split(",").toSeq) },
    tvf("graft_containment_join(left_table, right_table, threshold)", "exact asymmetric " +
        "containment of the (small) right side's docs in the left corpus") {
      a => Dedup.containmentJoin(a.rel(0), a.rel(1), a.double(2)) },
    tvf("graft_minhash_join(left_table, right_table)", "cross-corpus near-duplicate pairs: " +
        "banded MinHash-LSH candidates verified by exact shingle Jaccard") {
      a => Dedup.minhashJoin(a.rel(0), a.rel(1)) },
    tvf("graft_curate(docs_table, bench_table)", "the end-to-end curation pipeline: gopher " +
        "gate + exact/near dedup keepers + 5-gram decontamination flags per document") {
      a => Curation.curate(a.rel(0), a.rel(1)) }
  )

  /** Register every table function on an already-built session. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry
    all.foreach { case (id, inf, builder) => reg.registerFunction(id, inf, builder) }
  }
}

object GraftFunctions {

  private def fn(sig: String, doc: String)(build: SqlDecl.Args => Expression)
      : SqlDecl.Entry[Expression] =
    SqlDecl(getClass, sig, doc)(build)

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    // widen integer-literal seeds: SQL `poly_hash(s, 0)` sends an INT
    fn("poly_hash(str, seed)", "seeded polynomial rolling hash mod 1e9+7") {
      a => PolyHash(a.expr(0), Cast(a.expr(1), LongType)) },
    fn("minhash_sig(text, k, n)", "MinHash signature over k-token shingles") {
      a => MinHashSig(a.expr(0), a.int(1), a.int(2)) },
    fn("simhash_sig(text, k, bits)", "SimHash signature over k-token shingles") {
      a => SimHashSig(a.expr(0), a.int(1), a.int(2)) },
    fn("simhash_sig_wide(text, k, seeds)",
        "multi-seed wide SimHash as little-endian 64-bit words") {
      a => SimHashSigWide(a.expr(0), a.int(1), a.int(2)) },
    fn("sorted_jaccard(a, b)", "exact Jaccard of sorted distinct arrays") {
      a => SortedArrayJaccard(a.expr(0), a.expr(1)) },
    fn("char_ngram_codes(text, n)", "sorted distinct base-37 n-gram codes") {
      a => CharNgramCodes(a.expr(0), a.int(1)) },
    fn("vec_cosine(a, b)", "single-pass cosine similarity of numeric vectors") {
      a => VecCosine(a.expr(0), a.expr(1)) },
    fn("vec_sqdist(a, b)", "single-pass squared L2 distance of numeric vectors") {
      a => VecSqDist(a.expr(0), a.expr(1)) },
    fn("vec_dot(a, b)", "single-pass dot product of numeric vectors") {
      a => VecDot(a.expr(0), a.expr(1)) },
    fn("srp_bucket(vec, planes)", "signed-random-projection LSH bucket id") {
      a => SrpBucket(a.expr(0), a.int(1)) }
  )

  /** Register every function on an already-built session. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    all.foreach { case (id, inf, builder) => reg.registerFunction(id, inf, builder) }
  }
}
