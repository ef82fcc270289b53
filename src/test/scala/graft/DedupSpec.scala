package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Dedup

/** Dedup semantics: the simhash pigeonhole bucketing must find EXACTLY the
  * brute-force pair set (it is an exact algorithm, not an approximation),
  * the signature distribution must not be degenerate (the round-2 smell),
  * and minhash near-dups must find true duplicates with exact Jaccard.
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  test("simhash pigeonhole candidates == brute-force all-pairs result") {
    val sigs = docs
      .select(col("doc_id"), Dedup.simhashWide(col("text"), 3).as("sig"))
      .where(col("sig").isNotNull)
    val l = sigs.select(col("doc_id").as("id_a"), col("sig").as("sa"))
    val r = sigs.select(col("doc_id").as("id_b"), col("sig").as("sb"))
    val brute = l.join(r, col("id_a") < col("id_b"))
      .withColumn("hamming",
        aggregate(
          zip_with(col("sa"), col("sb"), (x, y) => bit_count(x.bitwiseXOR(y))),
          lit(0), (acc, x) => acc + x))
      .where(col("hamming") <= Dedup.SimhashWideMaxDist)
      .select("id_a", "id_b", "hamming")
    val fast = Dedup.simhashNearDups(docs)
    assert(rowsOf(fast) == rowsOf(brute))
    assert(rowsOf(fast).nonEmpty, "fixture corpus must contain simhash near-dups")
  }

  test("simhash signatures are not degenerate: near-pairs are a small fraction") {
    val n = docs.count()
    val allPairs = n * (n - 1) / 2
    val near = Dedup.simhashNearDups(docs).count()
    // round-2 verdict flagged ~15% of all pairs within the radius as a
    // degenerate-signature smell; shingle-based signatures must stay sparse
    assert(near.toDouble / allPairs < 0.05,
      s"$near of $allPairs pairs within the wide radius — signature looks degenerate")
  }

  test("simhash wide default radius keeps 10-bit pigeonhole chunks") {
    assert(Dedup.SimhashWideBits / (Dedup.SimhashWideMaxDist + 1) >= Dedup.MinChunkBits)
  }

  test("hammingNearDupsWide rejects signature arrays of the wrong width") {
    val bad = Seq((1L, Array(1L, 2L)), (2L, Array(3L, 4L))).toDF("doc_id", "sig")
    val e = intercept[Exception] {
      Dedup.hammingNearDupsWide(bad, "doc_id", "sig", totalBits = 240, maxDist = 23)
        .collect()
    }
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(messages(e).contains("signature array must carry 4 words"), messages(e).take(500))
  }

  test("minhash near-dups: identical docs found with Jaccard 1.0, unrelated absent") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then runs far away home"),
      (2L, "the quick brown fox jumps over the lazy dog and then runs far away home"),
      (3L, "catalyst optimizes logical plans into physical plans with pushdown and pruning rules")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashNearDups(d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)))
  }

  test("minhashJoin: cross-corpus pairs found, id spaces stay on their sides") {
    val left = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then runs far away home"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"),
      (3L, "catalyst optimizes logical plans into physical plans with pushdown and pruning rules")
    ).toDF("doc_id", "text")
    val right = Seq(
      (101L, "the quick brown fox jumps over the lazy dog and then runs far away home"),
      (102L, "omega psi chi phi upsilon tau sigma rho pi omicron words entirely different"),
      (103L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi")
    ).toDF("doc_id", "text")
    val got = Dedup.minhashJoin(left, right)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 101L, 1.0), (2L, 103L, 1.0)), got.toString)
    // left-vs-left twins must NOT pair: plant one and check
    val left2 = left.union(Seq(
      (4L, "the quick brown fox jumps over the lazy dog and then runs far away home"))
      .toDF("doc_id", "text"))
    val cross = Dedup.minhashJoin(left2, right).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross == Set((1L, 101L), (2L, 103L), (4L, 101L)), cross.toString)
  }

  test("containmentJoin: exact vs brute force; fragment-in-giant found at tiny Jaccard") {
    val big = (1 to 120).map(i => s"tok$i").mkString(" ")
    val frag = (41 to 52).map(i => s"tok$i").mkString(" ") // 12 tokens inside big
    val other = (1 to 12).map(i => s"zzz$i").mkString(" ")
    val leftRows = Seq((1L, big), (2L, "alpha beta gamma delta epsilon zeta"))
    val rightRows = Seq((101L, frag), (102L, other))
    val left = leftRows.toDF("doc_id", "text")
    val right = rightRows.toDF("doc_id", "text")
    val got = Dedup.containmentJoin(left, right, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 101L, 1.0)), got.toString)
    // the found pair's Jaccard is ~10/116 — far below any banding threshold:
    // this is exactly the pair the LSH-based joins structurally miss
    def shset(t: String) = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      .toSeq.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    val j = (shset(big) & shset(frag)).size.toDouble /
      (shset(big) | shset(frag)).size
    assert(j < 0.1, s"jaccard $j should be tiny")
    // brute-force parity at a lower threshold
    val brute = (for {
      (la, lt) <- leftRows; (rb, rt) <- rightRows
      nb = shset(rt).size if nb > 0
      c = (shset(lt) & shset(rt)).size.toDouble / nb if c >= 0.25
    } yield (la, rb, c)).toSet
    val got2 = Dedup.containmentJoin(left, right, threshold = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got2 == brute, s"$got2 vs $brute")
  }

  test("containmentJoin: prefix-filtered candidates still equal brute force " +
    "with a corpus-scale right side") {
    // both sides drawn from the same synthetic pool so overlaps span the
    // whole containment range; right is NOT small — the old broadcast
    // bound is gone and exactness must come from the prefix filter alone
    def doc(seed: Int, n: Int, stride: Int) =
      (0 until n).map(i => s"w${(seed + i * stride) % 97}").mkString(" ")
    val left = (1 to 40)
      .map(i => (i.toLong, doc(i, 20 + i % 13, 1 + i % 3))).toDF("doc_id", "text")
    val right = (1 to 35)
      .map(j => (1000L + j, doc(3 * j, 8 + j % 17, 1 + j % 4))).toDF("doc_id", "text")
    def shset(t: String) = t.split(" ").toSeq.sliding(3)
      .filter(_.size == 3).map(_.mkString(" ")).toSet
    val lsets = (1 to 40).map(i => i.toLong -> shset(doc(i, 20 + i % 13, 1 + i % 3)))
    val rsets = (1 to 35).map(j => (1000L + j) -> shset(doc(3 * j, 8 + j % 17, 1 + j % 4)))
    for (t <- Seq(0.3, 0.5, 0.75, 1.0)) {
      val brute = (for {
        (la, sa) <- lsets; (rb, sb) <- rsets
        if sb.nonEmpty
        c = (sa & sb).size.toDouble / sb.size if c >= t
      } yield (la, rb, c)).toSet
      val got = Dedup.containmentJoin(left, right, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == brute, s"threshold $t: ${got.size} vs brute ${brute.size}")
    }
  }

  test("minhash and containment pairs equal a brute-force verify of every LSH-colliding pair on messy input") {
    val base = "the quick brown fox jumps over the lazy dog and then runs far away " +
      "home to the quiet green valley where the old river meets the sea"
    val other = "catalyst optimizes logical plans into physical plans with pushdown " +
      "pruning and constant folding before whole stage code generation runs"
    def edit(t: String, at: Int, word: String) = {
      val w = t.split(" "); w(at) = word; w.mkString(" ")
    }
    val d = Seq[(Long, String)](
      (1L, base), (1L, ""),                       // duplicate id: one empty row
      (2L, edit(base, 5, "leaps")), (2L, null),   // duplicate id: one null row
      (3L, base), (3L, "  "),                     // identical to 1's text; a blank row
      (4L, base.split(" ").take(22).mkString(" ")), // a prefix of base
      (5L, other), (5L, "too short"),             // duplicate id: fewer than k tokens
      (6L, edit(edit(other, 3, "plans"), 9, "and")),
      (7L, ""), (8L, null), (9L, "two words"),
      (10L, "too short"), (11L, "too short")      // identical, fewer than k tokens
    ).toDF("doc_id", "text")
    val k = 3
    def shingles(t: String): Set[String] =
      if (t == null) Set.empty
      else {
        val toks = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
        if (toks.size < k) Set.empty else toks.sliding(k).map(_.mkString(" ")).toSet
      }
    // every id pair sharing a (band, band_hash) bucket, brute force
    val colliding = Dedup.lshBuckets(d, "doc_id", "text").collect()
      .groupBy(r => (r.getAs[Int]("band"), r.getAs[Long]("band_hash")))
      .values.flatMap { rs =>
        val ids = rs.map(_.getAs[Long]("doc_id")).distinct.toSeq
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
    val texts = d.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
    // every row of id a against every row of id b; a side with no shingles
    // (null, empty or shorter than k tokens) has no Jaccard to score
    val sidePairs = for {
      (a, b) <- colliding.toSeq
      (ia, ta) <- texts if ia == a
      (ib, tb) <- texts if ib == b
      sa = shingles(ta); sb = shingles(tb) if sa.nonEmpty && sb.nonEmpty
    } yield (a, b, sa, sb)
    val inter = (sa: Set[String], sb: Set[String]) => (sa & sb).size.toDouble
    val jaccardRef = sidePairs.collect {
      case (a, b, sa, sb) if inter(sa, sb) / (sa | sb).size >= 0.5 =>
        (a, b, inter(sa, sb) / (sa | sb).size)
    }.sorted
    val containmentRef = sidePairs.collect {
      case (a, b, sa, sb) if inter(sa, sb) / math.min(sa.size, sb.size) >= 0.8 =>
        val contained = if (sa.size < sb.size) a else if (sb.size < sa.size) b else math.min(a, b)
        (a, b, inter(sa, sb) / math.min(sa.size, sb.size),
          inter(sa, sb) / (sa | sb).size, contained)
    }.sorted
    assert(jaccardRef.exists(_._3 < 1.0) && jaccardRef.exists(_._3 == 1.0), jaccardRef)
    assert(containmentRef.exists(c => c._3 == 1.0 && c._4 < 1.0), containmentRef)

    val gotJaccard = Dedup.minhashNearDups(d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(gotJaccard == jaccardRef)
    val gotContainment = Dedup.containmentDups(d).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("containment"),
        r.getAs[Double]("jaccard"), r.getAs[Long]("contained_id"))).toSeq.sorted
    assert(gotContainment == containmentRef)
  }

  test("minhash near-dups on the corpus all have true Jaccard >= threshold") {
    val pairs = Dedup.minhashNearDups(docs).collect()
    assert(pairs.nonEmpty, "corpus should contain at least one near-dup pair")
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("containment: prefix doc scores 1.0 inside its extension; partial overlap exact") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val prefix = (1 to 34).map(i => s"tok$i").mkString(" ")
    // same head, tail swapped for unique tokens — partial overlap
    val partial = ((1 to 30).map(i => s"tok$i") ++ (1 to 4).map(i => s"zzz$i")).mkString(" ")
    val d = Seq((1L, base), (2L, prefix), (3L, partial)).toDF("doc_id", "text")
    // bands=16 × rows=1: candidate = ANY shared minhash, so recall at
    // J ≈ 0.67 is certain (miss probability (1−J)^16 ≈ 1e-8) — this test
    // pins the scoring math, not the banding recall curve
    val got = Dedup.containmentDups(d, bands = 16, rowsPerBand = 1, threshold = 0.5).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        (r.getAs[Double]("containment"), r.getAs[Double]("jaccard"),
          r.getAs[Long]("contained_id")))).toMap
    // from-scratch shingle sets
    def sh(s: String) = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def expect(a: String, b: String) = {
      val (sa, sb) = (sh(a), sh(b))
      val i = (sa & sb).size.toDouble
      (i / math.min(sa.size, sb.size), i / (sa | sb).size)
    }
    val (c12, j12) = expect(base, prefix)
    assert(c12 == 1.0, "prefix shingles are a strict subset")
    assert(got((1L, 2L)) == ((c12, j12, 2L)), got.toString) // smaller set = the prefix doc
    val (c13, j13) = expect(base, partial)
    assert(c13 < 1.0 && c13 >= 0.5)
    assert(got((1L, 3L)) == ((c13, j13, 3L)), got.toString)
    // identical sets tie -> smaller id
    val twins = Seq((7L, base), (8L, base)).toDF("doc_id", "text")
    val t = Dedup.containmentDups(twins, threshold = 0.9).collect()(0)
    assert(t.getAs[Double]("containment") == 1.0 && t.getAs[Long]("contained_id") == 7L)
  }

  test("hammingNearDups: maxDist 0 is the exact-signature join; bad widths rejected") {
    import graft.pipeline.Multimodal
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then runs far away home"),
      (2L, "the quick brown fox jumps over the lazy dog and then runs far away home"),
      (3L, "catalyst optimizes logical plans into physical plans with pushdown and pruning")
    ).toDF("doc_id", "text")
    // one full-width chunk: only identical signatures pair up
    val got = Dedup.simhashNearDups(d, maxDist = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSeq == Seq((1L, 2L, 0)))
    // wide signature at maxDist 0: one 256-bit chunk, truncated to its low
    // 64 bits as the join key (exercises the full -1L mask)
    val ph = Multimodal.phashNearDups(Multimodal.synthMediaTable(d), maxDist = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ph.toSeq == Seq((1L, 2L)))
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDups(d.select(col("doc_id"), lit(0L).as("sig")),
        "doc_id", "sig", bits = 30, maxDist = 30)
    }
  }

  test("hammingNearDups refuses narrow pigeonhole chunks unless overridden") {
    val sigs = Seq((1L, 7L), (2L, 7L)).toDF("doc_id", "sig")
    // 64 bits at radius 14 → 4-bit chunks: the n²/16 candidate degeneracy —
    // refused by default, with an actionable hint
    val e = intercept[IllegalArgumentException] {
      Dedup.hammingNearDups(sigs, "doc_id", "sig", bits = 64, maxDist = 14)
    }
    assert(e.getMessage.contains("Widen the signature"), e.getMessage)
    // explicit opt-in runs (corpus-slice scale)
    val got = Dedup.hammingNearDups(sigs, "doc_id", "sig", bits = 64,
      maxDist = 14, allowNarrowChunks = true).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq((1L, 2L, 0)))
  }

  test("exact dedup groups identical texts under the smallest keeper id") {
    val d = Seq((10L, "same text"), (11L, "same text"), (12L, "other text"))
      .toDF("doc_id", "text")
    val got = Dedup.exact(d).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper_id"), r.getAs[Boolean]("is_dup")))
      .sortBy(_._1)
    assert(got.toSeq == Seq((10L, 10L, false), (11L, 10L, true), (12L, 12L, false)))
  }

  test("signature kernels match the naive nested-transform column algebra") {
    import graft.functions.PolyHash
    import graft.pipeline.TextOps
    val sample = docs.limit(50)
    val naiveMin = {
      val sh = TextOps.shingles(TextOps.tokens(col("text")), 3)
      when(size(sh) > 0,
        transform(sequence(lit(0), lit(31)),
          j => array_min(transform(sh, s => PolyHash(s, j.cast("long"))))))
    }
    val naiveSim = {
      val hs = transform(TextOps.shingles(TextOps.tokens(col("text")), 3),
        s => PolyHash(s, 0L))
      when(size(hs) > 0,
        aggregate(sequence(lit(0), lit(Dedup.SimhashBits - 1)), lit(0L), (acc, i) => {
          val bal = aggregate(hs, lit(0L), (a, h) =>
            a + when(call_function("shiftright", h, i.cast("int"))
              .bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
          acc + when(bal > 0, call_function("shiftleft", lit(1L), i.cast("int")))
            .otherwise(lit(0L))
        }))
    }
    val cmp = sample.select(
      Dedup.minhashSignature(col("text"), 3, 32).as("fast_min"), naiveMin.as("naive_min"),
      Dedup.simhash(col("text"), 3).as("fast_sim"), naiveSim.as("naive_sim"))
    val bad = cmp.where(
      !(col("fast_min") <=> col("naive_min")) || !(col("fast_sim") <=> col("naive_sim")))
    assert(bad.count() == 0)
  }

  test("ngram code encoding is bijective with the string grams") {
    // same Jaccard from code arrays as from the string gram arrays
    val sample = docs.limit(100)
    val byCode = Dedup.ngramJaccard(sample)
    val strings = sample.select(col("lang").as("block"), col("doc_id").as("id"),
      array_sort(array_distinct(Dedup.charNgrams(col("text"), 3))).as("g"))
    val ids = strings.select("block", "id")
    val byString = ids.select(col("block"), col("id").as("id_a"))
      .join(ids.select(col("block"), col("id").as("id_b")), Seq("block"))
      .where(col("id_a") < col("id_b"))
      .join(strings.select(col("id").as("id_a"), col("g").as("g_a")), Seq("id_a"))
      .join(strings.select(col("id").as("id_b"), col("g").as("g_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.functions.Signatures.sortedJaccard(col("g_a"), col("g_b")))
      .where(col("jaccard") >= 0.3)
      .select("block", "id_a", "id_b", "jaccard")
    assert(rowsOf(byCode) == rowsOf(byString))
  }

  test("ngram guard refuses blocks above the quadratic-fallback bound") {
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    val e = intercept[Exception] {
      Dedup.ngramJaccard(docs.limit(20), maxBlockDocs = 2).collect()
    }
    assert(messages(e).contains("quadratic-fallback bound"), messages(e).take(500))
    // at the default bound the same input passes
    assert(Dedup.ngramJaccard(docs.limit(20)).count() >= 0)
  }

  test("length pruning drops provably-impossible pairs before the gram join") {
    val big = (0 until 200).map(i => s"word$i").mkString(" ")
    val sample = Seq(
      ("en", "a1", big),
      ("en", "a2", "zzz"), // 1 gram vs ~big: ratio far below threshold
      ("en", "a3", big + " tail")
    ).toDF("lang", "doc_id", "text")
    val (_, pairs) = Dedup.ngramPlan(sample, "doc_id", "text", "lang", 3, 0.3, 100000)
    val got = pairs.select("id_a", "id_b").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got.contains(("a1", "a3")), "similar-length pair must survive the prune")
    assert(!got.exists(p => p._1 == "a2" || p._2 == "a2"),
      "a pair whose gram-count ratio cannot reach the threshold must never enter the pair stream")
  }

  test("lsh candidate generation never misses identical signatures") {
    // identical text → identical minhash signature → collide in every band
    val d = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    assert(Dedup.candidatesFromBuckets(Dedup.lshBuckets(d, "doc_id", "text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 2L)))
  }
}
