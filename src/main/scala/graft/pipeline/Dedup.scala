package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.functions.PolyHash

/** Deduplication operators for pretraining-scale corpora (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard).
  *
  * Scale design:
  *  - Exact dedup is a hash-groupBy: one shuffle on a 128-bit digest, never
  *    on the document text itself.
  *  - MinHash+LSH avoids the O(n²) pair space: signatures are computed
  *    scan-side (codegen'd PolyHash), banded, and only documents colliding
  *    in a band bucket are joined — the standard shingle→minhash→band→
  *    bucket-join pipeline. The band join is an equi-join on
  *    (band, band_hash), so Catalyst shuffles both sides on a well-spread
  *    key; AQE splits skewed buckets.
  *  - SimHash reduces a document to a compact bit signature (240-bit
  *    multi-seed by default); near-dup = small Hamming distance, and
  *    candidate generation buckets on signature chunks (pigeonhole)
  *    instead of comparing all pairs.
  */
object Dedup {

  /** Exact duplicate groups: md5 of the raw text. Output one row per doc
    * with its canonical keeper (smallest id) and dup flag.
    */
  def exact(df: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keyed = df.select(col(idCol), md5(col(textCol)).as("text_md5"))
    val groups = keyed.groupBy("text_md5")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("group_size"))
    keyed.join(groups, "text_md5")
      .select(col(idCol), col("text_md5"), col("keeper_id"),
        (col(idCol) =!= col("keeper_id")).as("is_dup"), col("group_size"))
  }

  /** LSH banding planner (Leskovec/Rajaraman/Ullman, Mining of Massive
    * Datasets §3.4): for every (bands b, rows r) factorization of
    * `nHashes`, the probability that a pair with Jaccard s shares at least
    * one band bucket is `1 − (1 − s^r)^b`. Emits one row per
    * factorization with that probability at the TARGET similarity (pairs
    * the dedup must catch) and at a NOISE similarity (pairs it should
    * pass over — the candidate-volume proxy), a `qualifies` verdict
    * (`p_target ≥ minDetect`), and `chosen` on the sharpest qualifying
    * curve (max rows-per-band r: larger r pushes the S-curve's knee right
    * and crushes p_noise, so among configs that still catch the target
    * the biggest r minimizes false candidates).
    *
    * This is how the banding for a 100 TB dedup run is actually picked —
    * candidate volume, not correctness, is the cost there, and the curve
    * makes the trade explicit (the repo's own 8×4 default appears as the
    * nHashes = 32 row it is).
    *
    * Exactness: every power is an integer-exponent CHAIN multiplication
    * (a fold seeded 1.0, mirrored in the twin) — no libm pow, whose last
    * ulp is not guaranteed to agree across engines. Metadata scale: one
    * row per divisor of nHashes.
    */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, nHashes: Int,
      targetJaccard: Double, noiseJaccard: Double = 0.3,
      minDetect: Double = 0.9): DataFrame = {
    require(nHashes >= 1, s"nHashes must be positive, got $nHashes")
    require(targetJaccard > 0 && targetJaccard < 1 &&
      noiseJaccard > 0 && noiseJaccard < 1,
      s"similarities must be in (0, 1), got $targetJaccard / $noiseJaccard")
    def powChain(base: Column, exp: Column): Column =
      aggregate(sequence(lit(1), exp), lit(1.0), (acc, _) => acc * base)
    def pDetect(s: Double): Column =
      lit(1.0) - powChain(lit(1.0) - powChain(lit(s), col("rows_per_band")),
        col("bands"))
    val grid = spark.range(1, nHashes + 1L)
      .where(lit(nHashes) % col("id") === 0)
      .select(col("id").cast("int").as("bands"),
        (lit(nHashes) / col("id")).cast("int").as("rows_per_band"))
      .withColumn("n_hashes", lit(nHashes))
      .withColumn("p_target", pDetect(targetJaccard))
      .withColumn("p_noise", pDetect(noiseJaccard))
      .withColumn("qualifies", col("p_target") >= minDetect)
    val best = grid.agg(
      max(when(col("qualifies"), col("rows_per_band"))).as("__best_r"))
    grid.crossJoin(broadcast(best))
      .select(col("n_hashes"), col("bands"), col("rows_per_band"),
        col("p_target"), col("p_noise"), col("qualifies"),
        (col("qualifies") && col("rows_per_band") === col("__best_r")).as("chosen"))
  }

  /** MinHash signature: for seed j in [0, numHashes), min over k-token
    * shingles of PolyHash(shingle, j). Docs with < k tokens get null.
    * Single-pass kernel expression (see [[graft.functions.SignatureKernel]])
    * — semantically identical to the nested-transform column algebra but
    * tokenizes and hashes each shingle once instead of once per seed.
    */
  def minhashSignature(text: Column, shingleK: Int, numHashes: Int): Column =
    graft.functions.Signatures.minhashSig(text, shingleK, numHashes)

  /** Spread rows across the cluster before a heavy per-row kernel: a small
    * or single-row-group input file arrives as ONE non-empty scan partition,
    * which would serialize the signature computation no matter how many
    * cores exist. One hash shuffle of (id, payload) is noise next to the
    * per-row work it parallelizes, and it also evens out hot-file skew.
    */
  private def spreadById(df: DataFrame, idCol: String): DataFrame =
    // PINNED width, not repartition(col): a bare REPARTITION_BY_COL is
    // AQE-coalescable, and on a small input AQE folds it back to ONE
    // partition — re-serializing the very kernel (or the quadratic audit
    // join downstream: minhashEval's pair scoring ran as one task) this
    // spread exists to parallelize. REPARTITION_BY_NUM is exempt.
    df.repartition(
      Sessions.partsOf(df.sparkSession),
      col(idCol))

  /** The banding explode shared by the batch path ([[lshBuckets]]) and the
    * streaming path ([[graft.streaming.StreamOps.nearDupStream]]) — one
    * definition, so the two faces cannot drift.
    */
  private[graft] def bandExplode(sig: Column, bands: Int, rowsPerBand: Int): Column =
    explode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => struct(b.as("band"),
          PolyHash(array_join(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))
            .cast("array<string>"), ","), b.cast("long")).as("band_hash"))))

  /** LSH banding: split the signature into `bands` bands of `rowsPerBand`
    * and hash each band; docs sharing any (band, band_hash) are candidates.
    * One row per (doc, band) of every doc with at least `shingleK` tokens.
    */
  def lshBuckets(df: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4): DataFrame =
    bucketsOf(spreadById(df.select(col(idCol), col(textCol)), idCol), idCol,
      textCol, shingleK, bands, rowsPerBand)

  /** [[lshBuckets]] over a table [[spreadById]] has already spread. Only the
    * id leaves this projection: the text never rides the band explode.
    */
  private def bucketsOf(spread: DataFrame, idCol: String, textCol: String,
      shingleK: Int, bands: Int, rowsPerBand: Int): DataFrame =
    // The null-signature drop (< k tokens) happens on band_hash AFTER the
    // explode, NOT as .where(sig.isNotNull) on the signature itself: that
    // filter was pushed through the project into the file scan, where it
    // re-evaluated the whole MinHash kernel once per row just for the null
    // check (measured in the physical plan — 2× kernel cost on the hottest
    // expression in the repo). A null sig yields null band_hash for every
    // band, so the post-explode filter drops exactly the same rows; the
    // filter references the generator's output, so it cannot be pushed
    // below the explode, and CollapseProject leaves the kernel in its own
    // projection (verified: one minhashsig eval per row in the final plan).
    spread
      .select(col(idCol),
        minhashSignature(col(textCol), shingleK, bands * rowsPerBand).as("sig"))
      .select(col(idCol), bandExplode(col("sig"), bands, rowsPerBand).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
      .where(col("band_hash").isNotNull)

  /** Candidate pairs (a < b) from a bucket index: the ids sharing a
    * (band, band_hash) bucket, deduplicated across bands. The index may be
    * already built (e.g. materialized), so a caller holding it (the
    * incremental-dedup bootstrap) does not re-run the signature kernel
    * just to enumerate pairs.
    */
  private[graft] def candidatesFromBuckets(b: DataFrame, idCol: String): DataFrame = {
    val l = b.select(col("band"), col("band_hash"), col(idCol).as("id_a"))
    val r = b.select(col("band"), col("band_hash"), col(idCol).as("id_b"))
    l.join(r, Seq("band", "band_hash"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Verified near-dups: LSH candidates with exact shingle-set Jaccard ≥
    * threshold. The expensive exact check touches only colliding pairs.
    *
    * Plan shape: one [[spreadById]] table feeds both ends. Its ids go
    * through the signature kernel and the band self-join to the distinct
    * candidate pairs, and its texts come back to those pairs through two
    * id joins ([[jaccardPairs]]). The candidate subplan appears once. The
    * spread table is hash-partitioned by id, so a shuffled pair join reads
    * it where it lies and shuffles only the pairs; a table small enough to
    * broadcast is broadcast once for both sides.
    */
  def minhashNearDups(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val texts = spreadById(df.select(col(idCol), col(textCol)), idCol)
    val cands = candidatesFromBuckets(
      bucketsOf(texts, idCol, textCol, shingleK, bands, rowsPerBand), idCol)
    jaccardPairs(texts, texts, cands, idCol, textCol, shingleK, threshold)
  }

  /** The candidate pairs `cands` (id_a, id_b) whose exact shingle-set
    * Jaccard reaches `threshold`, id_a's text read from `textsA` and id_b's
    * from `textsB`: (id_a, id_b, jaccard). The exact-Jaccard gate of every
    * minhash path ([[minhashNearDups]], [[minhashJoin]], the
    * incremental-dedup bootstrap and its batches).
    */
  private[graft] def jaccardPairs(textsA: DataFrame, textsB: DataFrame,
      cands: DataFrame, idCol: String, textCol: String, shingleK: Int,
      threshold: Double): DataFrame =
    pairShingleSets(textsA, textsB, cands, idCol, textCol, shingleK)
      .withColumn("jaccard",
        graft.functions.Signatures.sortedJaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")

  /** Candidate pairs with each side's SORTED distinct shingle set attached
    * (`sh_a`/`sh_b`) — the shared tail of every LSH-candidate scorer
    * ([[jaccardPairs]], [[containmentDups]]). Each pair joins id_a's text
    * from `textsA` and id_b's from `textsB` by id, and the shingle kernel
    * runs once per pair side: never over a document that is in no
    * candidate pair. The arrays stay sorted so merge-walk kernels like
    * [[graft.functions.SortedArrayJaccard]] score without per-pair hash
    * sets.
    */
  private def pairShingleSets(textsA: DataFrame, textsB: DataFrame,
      cands: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame =
    cands
      .join(textsA.select(col(idCol).as("id_a"), col(textCol).as("__text_a")), "id_a")
      .join(textsB.select(col(idCol).as("id_b"), col(textCol).as("__text_b")), "id_b")
      // The sets come out of a one-row generator, not a plain projection:
      // a caller's score filter over a projection is pushed into the second
      // join's condition, where it evaluates the shingle kernel once more
      // per pair than the projection above it does. A filter that reads a
      // generator's output stays above the generator.
      .select(col("id_a"), col("id_b"), inline(array(struct(
        TextOps.textShingleSortedSet(col("__text_a"), shingleK).as("sh_a"),
        TextOps.textShingleSortedSet(col("__text_b"), shingleK).as("sh_b")))))
      // a side with no shingles (null, blank or shorter than shingleK
      // tokens: another row under a candidate's id) has no set to score;
      // two empty sets would score 0/0 = NaN, which passes `>= threshold`
      .where(size(col("sh_a")) > 0 && size(col("sh_b")) > 0)

  /** Cross-corpus near-duplicate join: fuzzy pairs BETWEEN two relations —
    * the doc-level contamination check (a training corpus probed against an
    * eval benchmark, or train against test across a split), where the
    * n-gram-overlap decontaminators ([[TextOps.decontaminate]]) flag shared
    * PASSAGES but only a whole-document fuzzy match proves the eval row
    * itself leaked. Same banded LSH as [[minhashNearDups]], but each side
    * keeps its own id space: buckets from `left` join buckets from `right`
    * (no `a < b` dedup — the relations are distinct), and the exact
    * shingle-Jaccard verify touches only colliding pairs, each pair side
    * reading its text from its OWN relation ([[jaccardPairs]]).
    *
    * Scale shape: identical to the self-join path — the band-keyed equi-join
    * is the only corpus-scale shuffle and its volume is Σ cnt_l(bucket) ·
    * cnt_r(bucket); a small `right` (an eval suite) makes this a probe of
    * the big side's index, never an all-pairs scan.
    */
  def minhashJoin(left: DataFrame, right: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val textsL = spreadById(left.select(col(idCol), col(textCol)), idCol)
    val textsR = spreadById(right.select(col(idCol), col(textCol)), idCol)
    val bl = bucketsOf(textsL, idCol, textCol, shingleK, bands, rowsPerBand)
      .select(col("band"), col("band_hash"), col(idCol).as("id_a"))
    val br = bucketsOf(textsR, idCol, textCol, shingleK, bands, rowsPerBand)
      .select(col("band"), col("band_hash"), col(idCol).as("id_b"))
    val cands = bl.join(br, Seq("band", "band_hash"))
      .select("id_a", "id_b").distinct()
    jaccardPairs(textsL, textsR, cands, idCol, textCol, shingleK, threshold)
  }

  /** Measured precision/recall of the MinHash-LSH dedup against brute-force
    * ground truth — the one-row honesty report for the flagship dedup: the
    * truth side scores EVERY pair's exact shingle Jaccard (quadratic BY
    * CONTRACT — this is an audit operator for a bounded slice, and it
    * fail-fasts above `maxDocs` with a routing hint), the predicted side is
    * [[minhashNearDups]] at the same parameters, and the report counts
    * tp/fp/fn with precision and recall. Because the LSH path verifies
    * candidates with the SAME exact Jaccard, fp can only be 0 — the
    * measured quantity is RECALL: the probability a true pair collides in
    * at least one band, i.e. the [[lshPlan]] S-curve realized on actual
    * data instead of assumed similarity.
    */
  def minhashEval(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleK: Int = 3, bands: Int = 8,
      rowsPerBand: Int = 4, threshold: Double = 0.5,
      maxDocs: Int = 10000): DataFrame = {
    val sets = spreadById(df.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol).as("id"),
        TextOps.textShingleSortedSet(col(textCol), shingleK).as("sh"))
      .where(size(col("sh")) > 0)
    val n = sets.agg(count(lit(1)).as("__n_docs"))
    val guarded = sets.crossJoin(broadcast(n))
      .withColumn("sh", when(col("__n_docs") > maxDocs,
        raise_error(format_string(
          s"minhashEval: %s docs exceed the quadratic audit bound $maxDocs" +
            " — evaluate on a slice, or raise maxDocs deliberately",
          col("__n_docs")))).otherwise(col("sh")))
      .select("id", "sh")
    // exact size-ratio prune: |∩| ≤ min(|A|,|B|) and |∪| ≥ max(|A|,|B|),
    // so jaccard ≤ min/max — a pair can only reach the threshold when
    // min ≥ t·max. Scoring is the quadratic cost; this cuts it before
    // any set comparison, losing nothing.
    val truth = guarded.select(col("id").as("id_a"), col("sh").as("sh_a"))
      .join(guarded.select(col("id").as("id_b"), col("sh").as("sh_b")),
        col("id_a") < col("id_b") &&
          least(size(col("sh_a")), size(col("sh_b"))).cast("double") >=
            lit(threshold) * greatest(size(col("sh_a")), size(col("sh_b")))
              .cast("double"))
      .withColumn("jaccard",
        graft.functions.Signatures.sortedJaccard(col("sh_a"), col("sh_b")))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), lit(1).as("__t"))
    val pred = minhashNearDups(df, idCol, textCol, shingleK, bands,
      rowsPerBand, threshold)
      .select(col("id_a"), col("id_b"), lit(1).as("__p"))
    truth.join(pred, Seq("id_a", "id_b"), "full_outer")
      .agg(count(col("__t")).as("n_true"), count(col("__p")).as("n_pred"),
        count(when(col("__t").isNotNull && col("__p").isNotNull, lit(1)))
          .as("tp"),
        count(when(col("__t").isNull, lit(1))).as("fp"),
        count(when(col("__p").isNull, lit(1))).as("fn"))
      .select(col("n_true"), col("n_pred"), col("tp"), col("fp"), col("fn"),
        when(col("n_pred") > 0,
          col("tp").cast("double") / col("n_pred").cast("double"))
          .as("precision"),
        when(col("n_true") > 0,
          col("tp").cast("double") / col("n_true").cast("double"))
          .as("recall"))
  }

  /** Containment near-dups: LSH candidate pairs scored by SET CONTAINMENT
    * `|A ∩ B| / min(|A|, |B|)` over the k-shingle sets — the asymmetric
    * companion to [[minhashNearDups]]'s Jaccard, catching the
    * quote-inside-article / boilerplate-wrapper duplicates whose union is
    * dominated by the larger document (a doc fully contained in one 3×
    * its size has containment 1.0 but Jaccard only ~0.33). Emits the
    * containment, the Jaccard for comparison, and `contained_id` — the
    * smaller shingle set's doc (ties → the smaller id), i.e. the side a
    * containment-dedup policy would drop.
    *
    * Recall caveat (by construction, documented contract): candidates come
    * from Jaccard-tuned MinHash bands, whose collision probability tracks
    * Jaccard — a tiny fragment inside a huge document has high containment
    * but near-zero Jaccard and will not collide. The operator therefore
    * finds containment among COMPARABLY-SIZED near-dups (threshold'
    * Jaccard ⪆ t/(2−t) at banding threshold t); full asymmetric-containment
    * search is [[containmentJoin]]'s prefix-filtered exact index.
    *
    * Scale shape: identical to [[minhashNearDups]] — one spread table,
    * band equi-join for candidates, the pairs joined to their texts by id,
    * per-pair work O(|A|+|B|).
    */
  def containmentDups(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, bands: Int = 8, rowsPerBand: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val texts = spreadById(df.select(col(idCol), col(textCol)), idCol)
    val cands = candidatesFromBuckets(
      bucketsOf(texts, idCol, textCol, shingleK, bands, rowsPerBand), idCol)
    pairShingleSets(texts, texts, cands, idCol, textCol, shingleK)
      .withColumn("__inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("containment",
        col("__inter").cast("double") / least(size(col("sh_a")), size(col("sh_b"))))
      .where(col("containment") >= threshold)
      .withColumn("jaccard",
        graft.functions.Signatures.sortedJaccard(col("sh_a"), col("sh_b")))
      .withColumn("contained_id",
        when(size(col("sh_a")) < size(col("sh_b")), col("id_a"))
          .when(size(col("sh_b")) < size(col("sh_a")), col("id_b"))
          .otherwise(least(col("id_a"), col("id_b"))))
      .select("id_a", "id_b", "containment", "jaccard", "contained_id")
  }

  /** EXACT asymmetric-containment join: every (left, right) pair where
    * `|sh_a ∩ sh_b| / |sh_b| ≥ threshold` — "what fraction of the EVAL
    * doc's shingles appear in this training doc". This is the
    * contamination measure the Jaccard-based joins structurally miss: a
    * benchmark row quoted inside a 30× larger training document has
    * containment ≈ 1 but Jaccard ≈ 0.03 — below any LSH banding, and
    * exactly the caveat [[containmentDups]] documents.
    *
    * Exactness WITHOUT a corpus-bounded broadcast comes from **prefix
    * filtering** (the PPJoin family, Xiao et al. 2008): if containment
    * ≥ t then the left doc misses at most `(1−t)·|B|` of B's shingles,
    * so ANY `⌊(1−t)·|B|⌋+1` of them — chosen here as the RAREST under
    * the left corpus's shingle document frequency, ties by shingle —
    * must contain a witness shared with A. Only that prefix is indexed:
    * common shingles ("of the same") almost never make a rarest-first
    * prefix, which is what kills the candidate blowup a full gram join
    * suffers. Right shingles absent from the left entirely get df 0 and
    * sort INTO the prefix (correct both ways: they can never witness a
    * match, and a prefix made entirely of them proves no left doc can
    * reach the threshold) but are dropped from the index. Candidates
    * are then verified by the exact intersection count — no recall
    * curve, no banding tuning, and BOTH sides may be corpus-scale.
    *
    * Scale shape: grams shuffle on the shingle key once for the df count
    * and once for the prefix probe; the per-right-doc prefix pick is a
    * window partitioned by the right id (parallel); verification joins
    * touch candidate pairs only, repartitioned on the pair key before
    * the gram-scale intersection count. Nothing quadratic, nothing
    * broadcast-bounded, no row-count guard.
    */
  def containmentJoin(left: DataFrame, right: DataFrame,
      threshold: Double = 0.8, idCol: String = "doc_id",
      textCol: String = "text", shingleK: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    def grams(df: DataFrame, idAs: String) = df.select(col(idCol).as(idAs),
      explode(TextOps.textShingleSet(col(textCol), shingleK)).as("__sh"))
    // materialize each gram stream once (Lineage.truncate): lg feeds the
    // df count, the candidate probe, AND the verify join; rg feeds the
    // prefix pick and the verify join — without truncation every consumer
    // re-runs the tokenize+shingle kernel over its corpus
    val lg = graft.core.Lineage.truncate(grams(left, "id_a"))
    val rg = graft.core.Lineage.truncate(grams(right, "id_b"))
    val rs = rg.groupBy("id_b").agg(count(lit(1)).as("__nb"))
    val ldf = lg.groupBy("__sh").agg(count(lit(1)).as("__df"))
    // prefix size via the integer form: inter ≥ ⌈t·nb⌉ ⟺ containment ≥ t,
    // so the left doc misses at most nb − ⌈t·nb⌉ shingles; the ε guards
    // the ceil against t·nb landing a float ulp ABOVE an exact integer
    // (shrinking the prefix below the bound); ε-inflation only ever ADDS
    // a prefix slot — the safe direction
    val wp = Window.partitionBy("id_b").orderBy(col("__df").asc, col("__sh").asc)
    val rprefix = rg
      .join(ldf, Seq("__sh"), "left")
      .withColumn("__df", coalesce(col("__df"), lit(0L)))
      .join(rs, Seq("id_b"))
      .withColumn("__p",
        (col("__nb") - ceil(col("__nb") * threshold - lit(1e-9)) + 1).cast("long"))
      .withColumn("__rk", row_number().over(wp))
      .where(col("__rk") <= col("__p") && col("__df") > 0)
      .select("id_b", "__sh")
    // pin the spread width: a bare repartition(cols) is AQE-coalescable
    // back to one partition on small inputs, serializing the gram-scale
    // verify join behind it (same trap as spreadById — REPARTITION_BY_COL
    // vs REPARTITION_BY_NUM)
    val shuffleN = Sessions.partsOf(left.sparkSession)
    val cands = lg.join(rprefix, Seq("__sh"))
      .select("id_a", "id_b").distinct()
      .repartition(shuffleN, col("id_a"), col("id_b"))
    cands
      .join(lg, Seq("id_a"))
      .join(rg, Seq("id_b", "__sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__inter"))
      .join(rs, Seq("id_b"))
      .withColumn("containment_b",
        col("__inter").cast("double") / col("__nb"))
      .where(col("containment_b") >= threshold)
      .select("id_a", "id_b", "containment_b")
  }

  /** Signature width: PolyHash values live in [0, 1e9+7) < 2^30, so exactly
    * 30 well-mixed bits are available; using bits above 29 would bake
    * constant (or heavily biased) bits into every signature.
    */
  val SimhashBits = 30

  /** 30-bit SimHash over k-token **shingle** hashes: bit i of the signature
    * is set iff more shingle hashes have bit i set than clear. Shingles (not
    * unigrams) are deliberate: unigram bags over a small shared vocabulary
    * collapse all documents onto nearby signatures, while the k-shingle
    * space is large enough that only genuinely overlapping text yields a
    * small Hamming distance. Pure integer bit algebra, identical in any
    * engine. Documents with < k tokens (no shingles) yield null.
    */
  def simhash(text: Column, shingleK: Int = 3): Column =
    graft.functions.Signatures.simhashSig(text, shingleK, SimhashBits)

  /** Wide-signature parameters: 8 independent PolyHash seeds × 30
    * well-mixed bits each = a 240-bit signature in 4 little-endian words.
    * At the default radius ([[SimhashWideMaxDist]]) the pigeonhole chunks
    * carry exactly [[MinChunkBits]] bits, so the candidate join stays
    * healthy with no narrow-chunk opt-in.
    */
  val SimhashWideSeeds = 8
  val SimhashWideBits: Int = SimhashWideSeeds * 30

  /** Default wide radius, calibrated on the fixture corpus (mirroring the
    * audio calibration at Audio.scala): genuine near-dup pairs measure
    * ≤ ~28 of 240 bits while unrelated pairs bottom out at ~81 — and the
    * [[MinChunkBits]] candidate-budget floor caps the relative radius at
    * ~1/MinChunkBits, so 23 (= 240/10 − 1, exactly 10-bit chunks) sits as
    * close to the gap as a scale-safe pigeonhole allows.
    */
  val SimhashWideMaxDist = 23

  /** Wide multi-seed SimHash signature (array<bigint>, little-endian words;
    * see [[graft.functions.SignatureKernel.simhashWide]]). The 30-bit
    * [[simhash]] saturates at trillion-doc scale — random pairs collide
    * within small radii purely by volume (measured on the fixture corpus:
    * most 30-bit radius-6 pairs sit at wide distance ~104 of 240, i.e.
    * noise) — while 240 bits keeps signal and noise separated.
    */
  def simhashWide(text: Column, shingleK: Int = 3): Column =
    graft.functions.Signatures.simhashSigWide(text, shingleK, SimhashWideSeeds)

  /** SimHash near-dup pairs: Hamming ≤ maxDist over the 240-bit wide
    * multi-seed signature ([[simhashWide]]), found with the exact
    * **pigeonhole bucketing** of [[hammingNearDupsWide]]: split the
    * signature into maxDist+1 contiguous bit chunks — any pair within
    * Hamming maxDist must agree exactly on at least one chunk — equi-join on
    * (chunk_idx, chunk_value), then verify the true Hamming distance on the
    * candidates only. At the default radius each chunk carries 10 signature
    * bits (alphabet 2^10), so at 100 TB this is a plain shuffled equi-join
    * whose candidate set is a vanishing fraction of the n² pair space; AQE
    * splits any residual skew. Guaranteed to find exactly the brute-force
    * pair set over the wide signature.
    */
  def simhashNearDups(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      shingleK: Int = 3, maxDist: Int = SimhashWideMaxDist): DataFrame = {
    // deliberately NO .where(sig.isNotNull): the null check would be pushed
    // into the file scan and re-run the signature kernel once per row just
    // to test for null (measured in the physical plan); null signatures
    // (< k tokens) drop out of hammingNearDupsWide's equi-join natively
    val sigs = spreadById(df.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol), simhashWide(col(textCol), shingleK).as("sig"))
    hammingNearDupsWide(sigs, idCol, "sig", SimhashWideBits, maxDist)
  }

  /** Candidate-budget floor: a pigeonhole chunk narrower than this many bits
    * has an equi-join key alphabet of < 2^10 values, so each chunk's
    * candidate set degrades toward n²/2^width pairs — quadratic in disguise
    * on a large corpus. [[hammingNearDups]]/[[hammingNearDupsWide]] refuse
    * such configurations unless the caller explicitly opts in (legitimate at
    * corpus-slice scale, a meltdown at 100 TB).
    */
  val MinChunkBits = 10

  /** Exact pigeonhole Hamming join over ANY integer signature column (the
    * generic core of [[simhashNearDups]], also driving
    * [[graft.pipeline.Multimodal.phashNearDups]]): split the `bits`-wide
    * signature into maxDist+1 contiguous chunks, equi-join on
    * (chunk, chunk_value) — any pair within Hamming maxDist must agree on
    * at least one chunk — and verify the true distance on candidates only.
    * Single-word face of [[hammingNearDupsWide]].
    */
  def hammingNearDups(sigs: DataFrame, idCol: String, sigCol: String,
      bits: Int, maxDist: Int, allowNarrowChunks: Boolean = false): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be in [1, 64], got $bits")
    hammingNearDupsWide(
      sigs.withColumn(sigCol, array(col(sigCol).cast("long"))),
      idCol, sigCol, bits, maxDist, allowNarrowChunks)
  }

  /** Exact pigeonhole Hamming join over MULTI-WORD signatures — an
    * `array<bigint>` column carrying a `totalBits`-wide signature in 64-bit
    * little-endian words (word 0 holds bits 0–63; a partial last word keeps
    * its high bits clear). Same guarantee as the single-word face: any pair
    * within Hamming `maxDist` must agree exactly on at least one of the
    * maxDist+1 contiguous bit chunks, so the (chunk, chunk_val) equi-join
    * finds exactly the brute-force pair set, verified by the full distance
    * (per-word XOR popcounts summed) on candidates only.
    *
    * Scale contract: each chunk carries ⌊totalBits/(maxDist+1)⌋ bits, and
    * the join key alphabet is 2^that — the candidate volume is
    * Σ_val cnt(val)² per chunk. A 256-bit signature at radius 24 gives 25
    * chunks × ~10 bits (alphabet ≥ 2^10, healthy); a 64-bit signature at
    * radius 14 gives 4-bit chunks (alphabet ~21 — n²/21 candidates) and is
    * REFUSED unless `allowNarrowChunks` is set. The fix is a wider
    * signature at the same absolute radius, not a wider radius.
    */
  def hammingNearDupsWide(sigs: DataFrame, idCol: String, sigCol: String,
      totalBits: Int, maxDist: Int, allowNarrowChunks: Boolean = false): DataFrame = {
    require(totalBits >= 1, s"totalBits must be >= 1, got $totalBits")
    // maxDist == 0 is valid (one full-width chunk: exact-signature dups);
    // maxDist >= totalBits would create zero-width chunks whose constant
    // chunk_val degrades the equi-join to an all-pairs cross product
    require(maxDist >= 0 && maxDist < totalBits,
      s"maxDist must be in [0, totalBits), got $maxDist for $totalBits bits")
    val nChunks = maxDist + 1
    require(allowNarrowChunks || totalBits / nChunks >= MinChunkBits,
      s"pigeonhole chunks would carry only ${totalBits / nChunks} bits " +
        s"($totalBits bits / $nChunks chunks): a < 2^$MinChunkBits join-key " +
        "alphabet degrades the candidate set toward all-pairs at scale. " +
        "Widen the signature (e.g. a multi-word contour) at the same radius, " +
        "reduce maxDist, or pass allowNarrowChunks = true for corpus-slice use.")
    val bounds = (0 to nChunks).map(c => c * totalBits / nChunks)
    // bit range [lo, hi) of the flattened little-endian words. The join key
    // is the chunk's FIRST ≤64 bits: a chunk wider than 64 bits (tiny
    // maxDist relative to totalBits, e.g. maxDist=0 exact-signature dups)
    // is truncated to its low 64 — still a pure function of chunk-internal
    // bits, so equal chunks always collide (the pigeonhole guarantee holds;
    // truncation can only ADD candidates, which the exact verify removes),
    // and a 2^64 alphabet loses nothing in selectivity. Without the
    // explicit cap, the two-word extraction below would wrap its shift
    // distances mod 64 and silently mix misaligned word bits. Unsigned
    // shifts keep a set word-top bit from sign-extending into the value.
    def chunkVal(sig: Column, lo: Int, hi: Int): Column = {
      val width = math.min(hi - lo, 64)
      val word = lo / 64
      val off = lo % 64
      val first = shiftrightunsigned(element_at(sig, word + 1), off)
      if (off + width <= 64) {
        val mask = -1L >>> (64 - width) // width == 64 → -1L (all bits)
        first.bitwiseAND(lit(mask))
      } else {
        val loBits = 64 - off
        val hiMask = -1L >>> (64 - (width - loBits))
        first.bitwiseOR(shiftleft(
          element_at(sig, word + 2).bitwiseAND(lit(hiMask)), loBits))
      }
    }
    // Contract enforcement: a short signature array would make element_at
    // yield null chunk values and the row would silently drop out of the
    // equi-join (missed pairs, not an error). Fail loudly per row instead.
    // A NULL signature stays legitimate "no signature" (docs below the
    // shingle minimum): its chunk values come out null and the inner
    // equi-join drops them — which also means callers need NO isNotNull
    // pre-filter (one measured such filter was pushed into the file scan
    // and re-evaluated the whole signature kernel once per row just for
    // the null check).
    val nWords = (totalBits + 63) / 64
    val checked = sigs.withColumn(sigCol,
      when(col(sigCol).isNull, col(sigCol))
        .when(size(col(sigCol)) === nWords, col(sigCol))
        .otherwise(raise_error(format_string(
          s"hammingNearDupsWide: signature array must carry $nWords words " +
            s"for totalBits=$totalBits, got %s words", size(col(sigCol))))))
    val chunked = checked.select(col(idCol), col(sigCol).as("sig"),
      explode(array((0 until nChunks).map { c =>
        struct(lit(c).as("chunk"),
          chunkVal(col(sigCol), bounds(c), bounds(c + 1)).as("chunk_val"))
      }: _*)).as("ck"))
      .select(col(idCol), col("sig"), col("ck.chunk").as("chunk"),
        col("ck.chunk_val").as("chunk_val"))
    val l = chunked.select(col("chunk"), col("chunk_val"),
      col(idCol).as("id_a"), col("sig").as("sig_a"))
    val r = chunked.select(col("chunk"), col("chunk_val"),
      col(idCol).as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("chunk", "chunk_val"))
      .where(col("id_a") < col("id_b"))
      // one-pass popcount kernel — identical integer arithmetic to the
      // aggregate(zip_with(bit_count(xor))) fold it replaces, without two
      // interpreted lambdas per candidate pair (KernelCodegenSpec parity)
      .withColumn("hamming",
        graft.functions.Signatures.hammingWords(col("sig_a"), col("sig_b")))
      .where(col("hamming") <= maxDist)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }

  /** n-gram (character trigram) Jaccard similarity between doc pairs within
    * a blocking key (e.g., language) — the quadratic fallback, bounded by
    * the block.
    *
    * Execution shape, chosen by measurement: the block key has ~5 distinct
    * values, so a join carrying the gram arrays on it collapses into one
    * task per block. An inverted-index co-count spreads the key but its
    * volume is Σ freq² over grams — 566M join rows at sf0.1 because the
    * trigram vocabulary is tiny and near-universal within a block (prefix
    * filtering barely prunes at threshold 0.3: measured 335M rows, with
    * candidates ≈ all pairs). Winning shape: enumerate id-only pairs on the
    * block key (cheap codegen), repartition the pair stream, attach each
    * side's sorted gram array via an id-keyed join — AQE broadcasts the
    * gram table when it fits, shuffle-joins otherwise — and score each pair
    * with a single O(m+n) merge-walk ([[graft.functions.SortedArrayJaccard]])
    * instead of hash-set intersect/union per pair.
    *
    * Scale honesty: the pair space is still O(n²) within a block, so (a) a
    * block with more than `maxBlockDocs` documents FAILS FAST with a
    * routing hint instead of attempting the quadratic, and (b) gram-count
    * bounds prune pairs that provably cannot reach the threshold
    * (J ≥ t ⇒ t·|B| ≤ |A| ∧ t·|A| ≤ |B|) before any gram array is joined.
    */
  /** Default quadratic-fallback bound: pair enumeration above this many docs
    * per block is refused (100k docs ≈ 5e9 pairs — already past what any
    * within-block quadratic should attempt; big blocks belong to
    * [[minhashNearDups]]).
    */
  val NgramMaxBlockDocs: Int = 100000

  def ngramJaccard(df: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      blockCol: String = "lang", n: Int = 3, threshold: Double = 0.3,
      maxBlockDocs: Int = NgramMaxBlockDocs): DataFrame = {
    val (grams, pairs) = ngramPlan(df, idCol, textCol, blockCol, n, threshold, maxBlockDocs)
    pairs
      .join(grams.select(col("id").as("id_a"), col("g").as("g_a")), Seq("id_a"))
      .join(grams.select(col("id").as("id_b"), col("g").as("g_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.Signatures.sortedJaccard(col("g_a"), col("g_b")))
      .where(col("jaccard") >= threshold)
      .select(col("block"), col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The gram table and the guarded, length-pruned candidate pair stream —
    * split out so the pruning is independently testable.
    */
  private[graft] def ngramPlan(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int, threshold: Double,
      maxBlockDocs: Int): (DataFrame, DataFrame) = {
    // grams as base-37 Long codes: bijective with the gram strings over the
    // normalized [a-z0-9 ] alphabet, so the Jaccard values are identical
    // while pair scoring compares longs and shuffles ~3x fewer bytes.
    val grams = spreadById(df.select(col(blockCol), col(idCol), col(textCol)), idCol)
      .select(col(blockCol).as("block"), col(idCol).as("id"),
        graft.functions.Signatures.charNgramCodes(col(textCol), n).as("g"))
      // a doc shorter than one gram can never be a near-dup; dropping it also
      // keeps an empty-vs-empty pair from scoring 0/0 = NaN (which Spark's
      // NaN ordering would pass through >= threshold)
      .where(size(col("g")) > 0)
    // Scale guard: this operator is quadratic WITHIN a block by contract.
    // Refuse (at execution, keeping the plan lazy) any block whose doc count
    // makes that quadratic unpayable, instead of silently melting down. The
    // guard rides on the `len` column, which the prune filter consumes, so
    // column pruning cannot elide it; the count join is metadata-scale
    // (one row per block) and broadcasts.
    val counts = grams.groupBy("block").agg(count(lit(1)).as("block_docs"))
    val ids = grams.select(col("block"), col("id"), size(col("g")).as("len"))
      .join(broadcast(counts), Seq("block"))
      .withColumn("len",
        when(col("block_docs") > maxBlockDocs,
          raise_error(format_string(
            "ngramJaccard: block '%s' has %s docs, above the quadratic-fallback " +
              "bound %s — route large blocks to minhashNearDups or raise maxBlockDocs",
            col("block"), col("block_docs"), lit(maxBlockDocs))))
          .otherwise(col("len")))
      .select(col("block"), col("id"), col("len"))
    // Length pruning BEFORE pair materialization: Jaccard >= t forces
    // t*|B| <= |A| and t*|A| <= |B| (the intersection is at most the smaller
    // set, the union at least the larger), so a provably-impossible length
    // ratio never enters the pair stream, let alone the gram-array joins.
    val pairs = ids.select(col("block"), col("id").as("id_a"), col("len").as("len_a"))
      .join(ids.select(col("block"), col("id").as("id_b"), col("len").as("len_b")), Seq("block"))
      .where(col("id_a") < col("id_b"))
      .where(col("len_a") >= col("len_b") * threshold &&
        col("len_b") >= col("len_a") * threshold)
      .select(col("block"), col("id_a"), col("id_b"))
      // pin the spread width (REPARTITION_BY_NUM): the bare form is
      // AQE-coalescable to one partition on small inputs, serializing the
      // gram-array verify join behind it — same trap as containmentJoin's
      // candidate stream above
      .repartition(Sessions.partsOf(df.sparkSession),
        col("id_a"), col("id_b"))
    (grams, pairs)
  }

  /** Character n-grams over the ASCII-normalized text. */
  def charNgrams(text: Column, n: Int): Column = {
    val norm = array_join(TextOps.tokens(text), " ")
    when(length(norm) >= n,
      transform(sequence(lit(0), length(norm) - n), i => norm.substr(i + 1, lit(n))))
      .otherwise(array().cast("array<string>"))
  }
}
