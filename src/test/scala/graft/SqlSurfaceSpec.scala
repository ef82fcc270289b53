package graft

import org.apache.spark.sql.functions._

import graft.core.{GraftFunctions, GraftTableFunctions, Tables}

/** The pure-SQL drivability contract: every graft_* table-valued function
  * must return EXACTLY what the Scala API call returns — same rows, same
  * columns — because the builder splices the same analyzed plan. Anything
  * less means a SQL-only caller gets a different engine.
  */
class SqlSurfaceSpec extends SparkSpec {

  private def pts = {
    val t = Tables(spark, sfDir)
    t.eventsUs.select(
      concat(lit("shyft://events/u"), col("user_id"), lit("/"),
        col("event_type")).as("series_id"),
      col("ts"), col("value"))
  }

  test("graft_sessionize(view, gap) == Sessionize.sessions") {
    GraftTableFunctions.registerAll(spark)
    val e = Tables(spark, sfDir).eventsUs
    e.createOrReplaceTempView("sqlspec_events")
    val viaSql = spark.sql(
      "SELECT * FROM graft_sessionize('sqlspec_events', 1800000000000)")
    val direct = graft.ops.Sessionize.sessions(e, gapNs = 1800000000000L)
    assert(viaSql.columns.toSeq == direct.columns.toSeq)
    assert(rowsOf(viaSql) == rowsOf(direct))
  }

  test("graft_bm25(view, query, k) == TextOps.bm25") {
    GraftTableFunctions.registerAll(spark)
    val d = Tables(spark, sfDir).documents
    d.createOrReplaceTempView("sqlspec_docs")
    val viaSql = spark.sql(
      "SELECT * FROM graft_bm25('sqlspec_docs', 'table scan sort key', 5)")
    val direct = graft.pipeline.TextOps.bm25(d, "table scan sort key", k = 5)
    assert(rowsOf(viaSql) == rowsOf(direct))
  }

  test("graft_resample(view, width) == SeriesOps.resample") {
    GraftTableFunctions.registerAll(spark)
    pts.createOrReplaceTempView("sqlspec_points")
    val viaSql = spark.sql(
      "SELECT * FROM graft_resample('sqlspec_points', 86400000000000)")
    val direct = graft.ts.SeriesOps.resample(pts, 86400L * 1000000000L)
    assert(rowsOf(viaSql) == rowsOf(direct))
  }

  test("graft_dedup_clusters(view) == Components.dedupClusters") {
    GraftTableFunctions.registerAll(spark)
    val d = Tables(spark, sfDir).documents
    d.createOrReplaceTempView("sqlspec_docs")
    val viaSql = spark.sql("SELECT * FROM graft_dedup_clusters('sqlspec_docs')")
    val direct = graft.pipeline.Components.dedupClusters(d)
    assert(rowsOf(viaSql) == rowsOf(direct))
  }

  test("graft_quantile_sketch(view, k, cols...) == Sketches.quantileSketch") {
    GraftTableFunctions.registerAll(spark)
    val e = Tables(spark, sfDir).events
    e.createOrReplaceTempView("sqlspec_events_q")
    val viaSql = spark.sql("SELECT * FROM graft_quantile_sketch(" +
      "'sqlspec_events_q', 64, 'event_type', 'event_id', 'value')")
    val direct = graft.pipeline.Sketches.quantileSketch(e, 64,
      Seq("event_type"), "event_id", "value")
    assert(viaSql.columns.toSeq == direct.columns.toSeq)
    assert(rowsOf(viaSql) == rowsOf(direct))
  }

  test("graft_semantic_dedup(view, threshold, k, iters) == Similarity.semanticDedup") {
    GraftTableFunctions.registerAll(spark)
    val e = Tables(spark, sfDir).embeddings
    e.createOrReplaceTempView("sqlspec_embeddings")
    // a DECIMAL threshold literal (what SQL `0.4` parses to) must coerce
    val viaSql = spark.sql(
      "SELECT * FROM graft_semantic_dedup('sqlspec_embeddings', 0.4, 8, 2)")
    val direct = graft.pipeline.Similarity.semanticDedup(e, 0.4, k = 8, iters = 2)
    assert(viaSql.columns.toSeq == direct.columns.toSeq)
    assert(rowsOf(viaSql) == rowsOf(direct))
  }

  test("round-9 TVF sweep: each graft_* call equals its Scala original") {
    GraftTableFunctions.registerAll(spark)
    val t = Tables(spark, sfDir)
    t.events.createOrReplaceTempView("sqlspec_events_s")
    t.documents.createOrReplaceTempView("sqlspec_docs_s")
    t.embeddings.createOrReplaceTempView("sqlspec_emb_s")
    t.events.createOrReplaceTempView("sqlspec_events_ar")
    t.documents.select(explode(graft.pipeline.TextOps.tokens(col("text"))).as("term"))
      .createOrReplaceTempView("sqlspec_terms_s")
    import graft.pipeline.WebOps
    import spark.implicits._
    // web pages: a url, a line of site chrome and one outlink mention each;
    // fetches: one url per event on five domains
    val d = col("doc_id")
    val webDocs = t.documents.select(d,
      concat(lit("https://www.d"), d % 7, lit(".com/p/"), d).as("url"),
      concat(lit("home | about\n"), col("text"), lit("\nsee https://d"),
        (d + 1) % 9, lit(".com/p/"), d % 50).as("text"))
    webDocs.createOrReplaceTempView("sqlspec_webdocs_s")
    val fetches = t.events.select(col("event_id"), col("ts"),
      concat(lit("https://e"), col("user_id") % 5, lit(".co.uk/e/"),
        col("event_id")).as("url"))
    fetches.createOrReplaceTempView("sqlspec_fetches_s")
    val robots = Seq(("d1.com", "disallow", "/p/1"), ("d1.com", "allow", "/p/13"))
      .toDF("domain", "directive", "path_prefix")
    robots.createOrReplaceTempView("sqlspec_robots_s")
    val cases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "SELECT * FROM graft_line_dedup('sqlspec_webdocs_s', 3)" ->
        graft.pipeline.TextOps.lineDedup(webDocs, boilerplateDf = 3),
      "SELECT * FROM graft_line_clean('sqlspec_webdocs_s', 3)" ->
        graft.pipeline.TextOps.lineClean(webDocs, boilerplateDf = 3),
      "SELECT * FROM graft_link_graph('sqlspec_webdocs_s')" ->
        WebOps.linkGraph(webDocs),
      "SELECT * FROM graft_web_frontier('sqlspec_webdocs_s')" ->
        WebOps.frontier(webDocs),
      "SELECT * FROM graft_domain_boilerplate('sqlspec_webdocs_s', 0.6, 2)" ->
        WebOps.domainBoilerplate(webDocs, minRatio = 0.6, minDocs = 2),
      "SELECT * FROM graft_web_robots('sqlspec_webdocs_s', 'sqlspec_robots_s')" ->
        WebOps.robotsEval(webDocs, robots),
      "SELECT * FROM graft_crawl_rate('sqlspec_fetches_s', 3600000, 2)" ->
        WebOps.crawlRate(fetches, windowMs = 3600000L, maxFetches = 2),
      "SELECT * FROM graft_fetch_schedule('sqlspec_fetches_s', 60000)" ->
        WebOps.fetchSchedule(fetches, delayMs = 60000L),
      "SELECT * FROM graft_hll_distinct('sqlspec_events_s', 10, 'event_type', 'user_id')" ->
        graft.pipeline.Sketches.hllDistinct(t.events, 10, Seq("event_type"), "user_id"),
      "SELECT * FROM graft_cms_topk('sqlspec_terms_s', 'term', 20)" ->
        graft.pipeline.Sketches.cmsTopK(
          t.documents.select(explode(graft.pipeline.TextOps.tokens(col("text"))).as("term")),
          "term", k = 20),
      "SELECT * FROM graft_sample('sqlspec_docs_s', 'doc_id', 0.1)" ->
        graft.pipeline.Sampling.deterministicSample(t.documents, "doc_id", 0.1),
      "SELECT * FROM graft_compaction_plan('sqlspec_docs_s', 4096)" ->
        graft.ops.Layout.compactionPlan(t.documents, targetBytes = 4096),
      "SELECT * FROM graft_exact_dedup('sqlspec_docs_s')" ->
        graft.pipeline.Dedup.exact(t.documents),
      "SELECT * FROM graft_label_outliers('sqlspec_emb_s')" ->
        graft.pipeline.Similarity.labelOutliers(t.embeddings),
      "SELECT * FROM graft_quality('sqlspec_docs_s')" ->
        graft.pipeline.TextOps.qualityScore(t.documents),
      "SELECT * FROM graft_skipgrams('sqlspec_docs_s', 2)" ->
        graft.pipeline.TextOps.skipgrams(t.documents, 2),
      "SELECT * FROM graft_winnow_dups('sqlspec_docs_s', 5, 4, 1, 50)" ->
        graft.pipeline.TextOps.winnowNearDups(t.documents, 5, 4, 1, 50),
      "SELECT * FROM graft_text_cdc_dups('sqlspec_docs_s', 4, 5, 1, 50)" ->
        graft.pipeline.TextCdc.cdcDups(t.documents, 4, 5, 1, 50),
      "SELECT * FROM graft_kcenter('sqlspec_emb_s', 4)" ->
        graft.pipeline.Similarity.kCenters(t.embeddings, k = 4),
      "SELECT * FROM graft_readability('sqlspec_docs_s')" ->
        graft.pipeline.TextOps.readability(t.documents),
      "SELECT * FROM graft_assoc_rules('sqlspec_events_ar')" ->
        graft.ops.Cooccurrence.assocRules(t.events),
      "SELECT * FROM graft_calendar_profile('sqlspec_events_ar')" ->
        graft.pipeline.Profile.calendarProfile(t.events),
      "SELECT * FROM graft_novelty('sqlspec_docs_s', 3)" ->
        graft.pipeline.TextOps.ngramNovelty(t.documents, k = 3))
    val clogSweep = t.documents.select(col("doc_id"),
      concat(col("text"), lit(" v2")).as("text"), lit(1L).as("seq"),
      lit("U").as("op"))
    clogSweep.createOrReplaceTempView("sqlspec_clog_s")
    t.events.select(
      concat(lit("u"), col("user_id")).as("series_id"),
      col("ts").cast("long").as("ts"), col("value"))
      .createOrReplaceTempView("sqlspec_points_h")
    val pairsSweep = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    pairsSweep.createOrReplaceTempView("sqlspec_pairs_s")
    val extraCases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "SELECT * FROM graft_cdc_scd2('sqlspec_clog_s')" ->
        graft.ops.Cdc.scd2(clogSweep),
      "SELECT * FROM graft_holt('sqlspec_points_h', 3)" ->
        graft.ts.SeriesOps.holt(spark.table("sqlspec_points_h"), horizon = 3),
      "SELECT * FROM graft_survival('sqlspec_events_s', 48, 3600000000000)" ->
        graft.ops.Retention.survival(t.events, censorDays = 48,
          dayNs = 3600000000000L),
      "SELECT * FROM graft_kcore('sqlspec_pairs_s', 2)" ->
        graft.pipeline.Components.kCore(pairsSweep, 2),
      "SELECT * FROM graft_adamic_adar('sqlspec_pairs_s', 64)" ->
        graft.pipeline.Components.adamicAdar(pairsSweep, 64),
      "SELECT * FROM graft_rake('sqlspec_docs_s', 20, 4)" ->
        graft.pipeline.TextOps.rakePhrases(t.documents, topN = 20, maxLen = 4),
      "SELECT * FROM graft_dtw('sqlspec_points_h', 86400000000000)" ->
        graft.ts.SeriesOps.dtw(spark.table("sqlspec_points_h"),
          86400000000000L))
    val sliced = t.events.withColumn("in_a",
      col("ts") < 1705276800L * 1000000000L)
    sliced.createOrReplaceTempView("sqlspec_events_sliced")
    val driftCases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "SELECT * FROM graft_ks_drift('sqlspec_events_sliced', 'event_type', 'value', 'in_a', 50.0)" ->
        graft.pipeline.Profile.ksDrift(sliced, "event_type", "value",
          col("in_a"), shardWidth = 50.0),
      "SELECT * FROM graft_psi_drift('sqlspec_events_sliced', 'event_type', 'value', 'in_a', 0.0, 500.0, 10)" ->
        graft.pipeline.Profile.psiDrift(sliced, "event_type", "value",
          col("in_a"), lo = 0.0, hi = 500.0, nBins = 10))
    val day = 86400L * 1000000000L
    pts.createOrReplaceTempView("sqlspec_points_s")
    val auditCases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "SELECT * FROM graft_benford('sqlspec_events_s', 'event_type', 'value')" ->
        graft.pipeline.Profile.benford(t.events, "event_type", "value"),
      "SELECT * FROM graft_ljungbox('sqlspec_points_s', 6)" ->
        graft.ts.SeriesOps.ljungBox(pts, maxLag = 6),
      s"SELECT * FROM graft_spearman('sqlspec_points_s', $day)" ->
        graft.ts.SeriesOps.spearmanCorrelation(pts, day),
      s"SELECT * FROM graft_motifs('sqlspec_points_s', ${3600L * 1000000000L})" ->
        graft.ts.SeriesOps.saxMotifs(pts, 3600L * 1000000000L),
      "SELECT * FROM graft_completeness('sqlspec_events_s')" ->
        graft.pipeline.Profile.completeness(t.events),
      "SELECT * FROM graft_random_project('sqlspec_emb_s', 16, 64)" ->
        graft.pipeline.Similarity.randomProject(t.embeddings),
      "SELECT * FROM graft_lsh_plan(32, 0.8)" ->
        graft.pipeline.Dedup.lshPlan(spark, 32, 0.8),
      "SELECT * FROM graft_minhash_eval('sqlspec_docs_s')" ->
        graft.pipeline.Dedup.minhashEval(t.documents),
      "SELECT * FROM graft_pacf('sqlspec_points_s', 6)" ->
        graft.ts.SeriesOps.pacf(pts, maxLag = 6))
    val docsDsir = t.documents.withColumn("is_en", col("lang") === "en")
    docsDsir.createOrReplaceTempView("sqlspec_docs_dsir")
    val benchSweep = t.documents.where(col("doc_id") % 10 === 0)
    benchSweep.createOrReplaceTempView("sqlspec_bench_s")
    // a frozen two-bucket logreg model (bias at b = -1)
    val clfModel = Seq((-1, 0.1, 0.0, 1.0), (0, 0.5, 1.0, 2.0), (1, -0.25, 0.5, 1.5))
      .toDF("b", "w", "mu", "sd")
    clfModel.createOrReplaceTempView("sqlspec_clf_model")
    val curationCases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "SELECT * FROM graft_clf_score('sqlspec_docs_s', 'sqlspec_clf_model')" ->
        graft.pipeline.TextOps.logregScoreFrozen(t.documents, clfModel),
      "SELECT * FROM graft_dsir('sqlspec_docs_dsir', 'is_en', 50)" ->
        graft.pipeline.Sampling.dsirResample(docsDsir, col("is_en"), k = 50),
      "SELECT * FROM graft_curate('sqlspec_docs_s', 'sqlspec_bench_s')" ->
        graft.pipeline.Curation.curate(t.documents, benchSweep),
      "SELECT * FROM graft_minhash_join('sqlspec_docs_s', 'sqlspec_bench_s')" ->
        graft.pipeline.Dedup.minhashJoin(t.documents, benchSweep),
      "SELECT * FROM graft_crosstab('sqlspec_docs_s', 'source', 'lang', 'en,de')" ->
        graft.pipeline.Profile.crosstab(t.documents, "source", "lang",
          Seq("en", "de")))
    val embLeft = t.embeddings.where(col("vec_id") % 10 =!= 0)
    val embRight = t.embeddings.where(col("vec_id") % 10 === 0)
    embLeft.createOrReplaceTempView("sqlspec_emb_left")
    embRight.createOrReplaceTempView("sqlspec_emb_right")
    val mhPairs = graft.pipeline.Dedup.minhashNearDups(t.documents)
    mhPairs.createOrReplaceTempView("sqlspec_mh_pairs")
    t.documents.select("doc_id", "source")
      .createOrReplaceTempView("sqlspec_doc_labels")
    val crossCases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "SELECT * FROM graft_modularity('sqlspec_mh_pairs', 'sqlspec_doc_labels')" ->
        graft.pipeline.Components.modularity(mhPairs,
          t.documents.select("doc_id", "source")),
      "SELECT * FROM graft_containment_join('sqlspec_docs_s', 'sqlspec_bench_s', 0.5)" ->
        graft.pipeline.Dedup.containmentJoin(t.documents, benchSweep,
          threshold = 0.5))
    // these rows compare at 9 significant digits: kmeans centroid means
    // and isotropy's mean/covariance sums are partial-aggregated float
    // reductions whose reduce-side merge order is run-nondeterministic in
    // the last ulp, so two evaluations of the same plan can differ below
    // the driver compare's tolerance (bit in the round-14 full run:
    // graft_isotropy diverged from its Scala twin in digit 17)
    val kmeansCases: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "SELECT * FROM graft_semantic_join('sqlspec_emb_left', 'sqlspec_emb_right', 0.4, 4, 1)" ->
        graft.pipeline.Similarity.semanticJoin(embLeft, embRight,
          threshold = 0.4, k = 4, iters = 1),
      "SELECT * FROM graft_silhouette('sqlspec_emb_s', 4, 1)" ->
        graft.pipeline.Similarity.silhouette(t.embeddings, k = 4, iters = 1),
      "SELECT * FROM graft_isotropy('sqlspec_emb_s')" ->
        graft.pipeline.Similarity.isotropy(t.embeddings))
    kmeansCases.foreach { case (sql, direct) =>
      val viaSql = spark.sql(sql)
      assert(viaSql.columns.toSeq == direct.columns.toSeq, sql)
      assert(rowsOf9(viaSql) == rowsOf9(direct), sql)
    }
    (cases ++ driftCases ++ extraCases ++ auditCases ++ curationCases
      ++ crossCases).foreach { case (sql, direct) =>
      val viaSql = spark.sql(sql)
      assert(viaSql.columns.toSeq == direct.columns.toSeq, sql)
      assert(rowsOf(viaSql) == rowsOf(direct), sql)
    }
  }

  test("graft_ann_serve(views, k, np) == Similarity.ivfPqAdcTopKFrozen") {
    import graft.pipeline.Similarity
    GraftTableFunctions.registerAll(spark)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (cells, cb, cd) = Similarity.ivfPqTrain(e, m = 2, kc = 4, iters = 1)
    val (ceF, cbF, cdF) = Similarity.ivfPqFreeze(cells, cb, cd,
      s"spec-${e.count()}", tmpDir("graft-sql-ann"))
    val q = e.where(col("vec_id") < 5)
    q.createOrReplaceTempView("sqlspec_ann_q")
    ceF.createOrReplaceTempView("sqlspec_ann_cells")
    cbF.createOrReplaceTempView("sqlspec_ann_cb")
    cdF.createOrReplaceTempView("sqlspec_ann_cd")
    // both sides serve from the SAME frozen files — the spliced plan is
    // the Scala plan, so rows must match string-exact
    assert(rowsOf(spark.sql(
      "SELECT * FROM graft_ann_serve('sqlspec_ann_q', 'sqlspec_ann_cells', " +
        "'sqlspec_ann_cb', 'sqlspec_ann_cd', 3, 2)"))
      == rowsOf(Similarity.ivfPqAdcTopKFrozen(q, ceF, cbF, cdF, 3, 2)))
  }

  test("graft_web_canonical / graft_domain_stats / graft_domain_budget == " +
    "WebOps Scala faces") {
    import graft.pipeline.WebOps
    import spark.implicits._
    GraftTableFunctions.registerAll(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("url", concat(lit("HTTPS://WWW.d"), col("doc_id") % 7,
        lit(".com:443/a/"), col("doc_id"),
        lit("/?utm_source=t&x=1#s")))
    docs.createOrReplaceTempView("sqlspec_webdocs")
    assert(rowsOf(spark.sql(
        "SELECT * FROM graft_web_canonical('sqlspec_webdocs')"))
      == rowsOf(docs.select(col("doc_id"), col("url"),
        WebOps.canonicalizeUrl(col("url")).as("canonical_url"),
        WebOps.urlDomain(col("url")).as("domain"))))
    assert(rowsOf9(spark.sql(
        "SELECT * FROM graft_domain_stats('sqlspec_webdocs')"))
      == rowsOf9(WebOps.domainStats(docs)))
    assert(rowsOf(spark.sql(
        "SELECT * FROM graft_domain_budget('sqlspec_webdocs', 60)"))
      == rowsOf(WebOps.domainBudgetCap(docs, 60L)))
    val bl = Seq(("domain", "d3.com"), ("prefix", "https://www.d1."))
      .toDF("kind", "pattern")
    bl.createOrReplaceTempView("sqlspec_blocklist")
    assert(rowsOf(spark.sql("SELECT * FROM graft_web_blocklist(" +
        "'sqlspec_webdocs', 'sqlspec_blocklist')"))
      == rowsOf(WebOps.blocklistFilter(docs, bl)))
  }

  test("graft_sft_stats / graft_chat_render / graft_pref_bias == " +
    "ChatOps Scala faces") {
    import graft.pipeline.ChatOps
    import spark.implicits._
    GraftTableFunctions.registerAll(spark)
    val turns = Seq(
      (1L, 0, "system", "be brief"), (1L, 1, "user", "hi there"),
      (1L, 2, "assistant", "hello"),
      (2L, 0, "user", "a"), (2L, 1, "user", "b"), (2L, 2, "assistant", ""))
      .toDF("conv_id", "turn_no", "role", "content")
    turns.createOrReplaceTempView("sqlspec_turns")
    assert(rowsOf(spark.sql("SELECT * FROM graft_sft_stats('sqlspec_turns')"))
      == rowsOf(ChatOps.turnStats(turns)))
    assert(rowsOf(spark.sql(
        "SELECT * FROM graft_chat_render('sqlspec_turns')"))
      == rowsOf(ChatOps.renderChat(turns)))
    val pairs = Seq(("a", "one two three", "one"), ("a", "one", "one two"))
      .toDF("source", "chosen", "rejected")
    pairs.createOrReplaceTempView("sqlspec_pairs")
    assert(rowsOf(spark.sql("SELECT * FROM graft_pref_bias('sqlspec_pairs')"))
      == rowsOf(ChatOps.prefLengthBias(pairs)))
  }

  test("SQL surface composes: TVF result is a normal relation (filter + agg)") {
    GraftTableFunctions.registerAll(spark)
    Tables(spark, sfDir).eventsUs.createOrReplaceTempView("sqlspec_events")
    val n = spark.sql(
      """SELECT user_id, count(*) AS n_sessions
        |FROM graft_sessionize('sqlspec_events', 1800000000000)
        |GROUP BY user_id""".stripMargin).count()
    assert(n > 0)
  }

  test("non-literal table argument fails loudly, not silently") {
    GraftTableFunctions.registerAll(spark)
    Tables(spark, sfDir).eventsUs.createOrReplaceTempView("sqlspec_events")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_sessionize(upper('x'), 1)").collect()
    }
    assert(e.getMessage != null)
  }

  test("a wrong argument count fails at analysis with the function's signature") {
    GraftTableFunctions.registerAll(spark)
    Tables(spark, sfDir).documents.createOrReplaceTempView("sqlspec_arity")
    for ((args, got) <- Seq("'table scan'" -> 2, "'table scan', 2, 99" -> 4)) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT * FROM graft_bm25('sqlspec_arity', $args)").collect()
      }
      assert(e.getMessage.contains(
        s"graft_bm25(table, query, k) takes 3 arguments, got $got"), e.getMessage)
    }
  }

  test("one literal reader for both registries: type, int range and arity " +
    "errors name the function") {
    GraftFunctions.registerAll(spark)
    GraftTableFunctions.registerAll(spark)
    Tables(spark, sfDir).documents.createOrReplaceTempView("sqlspec_lit")
    // (select list, None = analyzes, Some(fragment) = fails at analysis with it)
    val table: Seq[(String, Option[String])] = Seq(
      "minhash_sig('a b c', 2, 4)" -> None,
      // a bigint literal is read where an int is expected when it fits
      "minhash_sig('a b c', 2L, 4)" -> None,
      "minhash_sig('a b c', 4294967298, 4)" ->
        Some("minhash_sig(text, k, n): k = 4294967298 is outside the int range"),
      "srp_bucket(array(1.0D), -2147483649)" ->
        Some("srp_bucket(vec, planes): planes = -2147483649 is outside the int range"),
      "char_ngram_codes('ab', 2.5)" ->
        Some("char_ngram_codes(text, n): n must be an integer literal"),
      "minhash_sig('a b c', 2)" ->
        Some("minhash_sig(text, k, n) takes 3 arguments, got 2"),
      "* FROM graft_bm25('sqlspec_lit', 'table scan', 2L)" -> None,
      "* FROM graft_bm25('sqlspec_lit', 'table scan', 4294967298)" ->
        Some("graft_bm25(table, query, k): k = 4294967298 is outside the int range"),
      "* FROM graft_bm25('sqlspec_lit', 7, 2)" ->
        Some("graft_bm25(table, query, k): query must be a string literal"),
      "* FROM graft_sessionize('sqlspec_lit', 1.5)" ->
        Some("graft_sessionize(table, gap_ns): gap_ns must be an integer literal"),
      // a bigint literal is read where a double is expected, like an int;
      // an out-of-range one then meets the operator's own range check
      "* FROM graft_sample('sqlspec_lit', 'doc_id', 1L)" -> None,
      "* FROM graft_sample('sqlspec_lit', 'doc_id', 3000000000)" ->
        Some("fraction must be in [0,1], got 3.0E9"))
    for ((select, expected) <- table) {
      val sql = s"SELECT $select"
      expected match {
        case None => spark.sql(sql).schema
        case Some(msg) =>
          val e = intercept[Exception](spark.sql(sql))
          assert(e.getMessage.contains(msg), s"$sql: ${e.getMessage}")
      }
    }
  }
}
