package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Prefix, Sampling}
import graft.ops.Layout

/** Prefix-sum-backed order walks: the sharded running sum itself, the
  * compaction planner, and the token-budget sampler.
  */
class PrefixOpsSpec extends SparkSpec {
  import spark.implicits._

  test("runningSum equals the naive global window at any shard width") {
    val rows = (0L until 100L).map(i => (i, (i * 7 % 13) + 1))
    val df = rows.toDF("id", "v")
    val naive = rows.sortBy(_._1).scanLeft(((-1L), 0L)) {
      case ((_, acc), (id, v)) => (id, acc + v)
    }.drop(1).toMap
    for (width <- Seq(1L, 7L, 64L, 1L << 20)) {
      val got = Prefix.runningSum(df, "id", "v", shardWidth = width, endCol = "end")
        .select("id", "end").as[(Long, Long)].collect().toMap
      assert(got == naive, s"shardWidth=$width")
    }
  }

  test("runningSum with groupCols scans each group independently") {
    val rows = Seq(("a", 1L, 5L), ("a", 2L, 5L), ("b", 1L, 100L),
      ("a", 9L, 5L), ("b", 3L, 100L))
    val got = Prefix.runningSum(rows.toDF("g", "id", "v"), "id", "v",
        groupCols = Seq("g"), shardWidth = 2L, endCol = "end")
      .select("g", "id", "end").as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 1L, 5L), ("a", 2L, 10L), ("a", 9L, 15L),
      ("b", 1L, 100L), ("b", 3L, 200L)))
  }

  test("runningMax equals the naive global window at any shard width, " +
    "grouped and ungrouped") {
    // values dip and spike so the running max is non-trivial (negative
    // dips exercise the Long.MinValue-free greatest combine)
    val rows = (0L until 100L).map(i => (i, (i * 37 % 19) - 9))
    val df = rows.toDF("id", "v")
    val naive = rows.sortBy(_._1).scanLeft((-1L, Long.MinValue)) {
      case ((_, acc), (id, v)) => (id, math.max(acc, v))
    }.drop(1).toMap
    for (width <- Seq(1L, 7L, 64L, 1L << 20)) {
      val got = Prefix.runningMax(df, "id", "v", shardWidth = width,
          endCol = "end")
        .select("id", "end").as[(Long, Long)].collect().toMap
      assert(got == naive, s"shardWidth=$width")
    }
    val grows = Seq(("a", 1L, 5L), ("a", 2L, 3L), ("b", 1L, 100L),
      ("a", 9L, 7L), ("b", 3L, 50L))
    val got = Prefix.runningMax(grows.toDF("g", "id", "v"), "id", "v",
        groupCols = Seq("g"), shardWidth = 2L, endCol = "end")
      .select("g", "id", "end").as[(String, Long, Long)].collect().toSet
    assert(got == Set(("a", 1L, 5L), ("a", 2L, 5L), ("a", 9L, 7L),
      ("b", 1L, 100L), ("b", 3L, 100L)))
  }

  test("a scan trusts an input __shard only when a keepShard scan of the same width cut it") {
    val rows = (0L until 40L).map(i => (i, 1L))
    val df = rows.toDF("id", "v")
    // a stale __shard: cut by another width, and not from a keepShard scan
    val stale = df.withColumn("__shard", expr("id div 3"))
    val e = intercept[IllegalArgumentException] {
      Prefix.runningSum(stale, "id", "v", shardWidth = 8L, endCol = "end")
    }
    assert(e.getMessage.contains("was not cut by a keepShard scan with idCol=id, shardWidth=8"),
      e.getMessage)
    // a keepShard scan's output chains only at its own width
    val first = Prefix.runningSum(df, "id", "v", shardWidth = 8L, endCol = "c1", keepShard = true)
    val e2 = intercept[IllegalArgumentException] {
      Prefix.runningMax(first, "id", "v", shardWidth = 16L, endCol = "m")
    }
    assert(e2.getMessage.contains("shardWidth=16"), e2.getMessage)
    val chained = Prefix.runningMax(first, "id", "c1", shardWidth = 8L, endCol = "m")
      .select("id", "m").as[(Long, Long)].collect().toMap
    assert(chained == rows.map { case (i, _) => i -> (i + 1) }.toMap)
  }

  test("globalRowNumber equals the naive global window (ties, skew, any parts)") {
    // heavy ties (key = i % 7) force tie-resolution through the tie col;
    // a skewed clump (key = 0 for 40 rows) lands many rows in one pid
    val rows = (0L until 100L).map(i => (i, if (i < 40) 0L else i % 7)) ++
      (100L until 130L).map(i => (i, 1000L - i))
    val df = rows.toDF("tie", "k")
    val naive = rows.sortBy { case (t, k) => (k, t) }.zipWithIndex
      .map { case ((t, _), i) => t -> (i + 1L) }.toMap
    for (parts <- Seq(1, 3, 16, 200)) {
      val got = Prefix.globalRowNumber(df, col("k"), col("tie"), "rn",
          n = rows.length.toLong, parts0 = parts, sampleTarget = 8)
        .select("tie", "rn").as[(Long, Long)].collect().toMap
      assert(got == naive, s"parts=$parts")
    }
    // sampleTarget larger than n: every row sampled, still exact
    val got2 = Prefix.globalRowNumber(df, col("k"), col("tie"), "rn",
        n = rows.length.toLong, parts0 = 4, sampleTarget = 100000)
      .select("tie", "rn").as[(Long, Long)].collect().toMap
    assert(got2 == naive)
    // null keys rank first, ordered among themselves by tie
    val withNull = Seq((1L, Some(5.0)), (2L, None), (3L, None), (4L, Some(-1.0)))
      .toDF("tie", "k")
    val gotN = Prefix.globalRowNumber(withNull, col("k"), col("tie"), "rn",
        n = 4, parts0 = 2, sampleTarget = 8)
      .select("tie", "rn").as[(Long, Long)].collect().toMap
    assert(gotN == Map(2L -> 1L, 3L -> 2L, 4L -> 3L, 1L -> 4L), s"$gotN")
  }

  test("globalRowNumber: a tie that cannot cast to long raises, never degrades") {
    // a string user id would cast to null: pre-guard, that silently broke
    // BOTH the unique-tie determinism and the boundary sample (advice r10)
    val strTies = Seq(("u-1", 1L), ("u-2", 2L)).toDF("tie", "k")
    val e1 = intercept[Exception] {
      Prefix.globalRowNumber(strTies, col("k"), col("tie"), "rn",
        n = 2, parts0 = 2, sampleTarget = 8).collect()
    }
    assert(e1.getMessage.contains("globalRowNumber"), e1.getMessage)
    // a null tie violates the same contract
    val nullTies = Seq((Some(7L), 1L), (None, 2L)).toDF("tie", "k")
    val e2 = intercept[Exception] {
      Prefix.globalRowNumber(nullTies, col("k"), col("tie"), "rn",
        n = 2, parts0 = 2, sampleTarget = 8).collect()
    }
    assert(e2.getMessage.contains("globalRowNumber"), e2.getMessage)
    // NUMERIC strings cast fine and stay exact — the guard only fires on
    // genuinely uncastable ties
    val numStr = Seq(("10", 1L), ("2", 1L), ("30", 0L)).toDF("tie", "k")
    val got = Prefix.globalRowNumber(numStr, col("k"), col("tie"), "rn",
        n = 3, parts0 = 2, sampleTarget = 8)
      .select("tie", "rn").as[(String, Long)].collect().toMap
    assert(got == Map("30" -> 1L, "2" -> 2L, "10" -> 3L), s"$got")
  }

  test("globalRowNumber's plan has no corpus-scale single-partition sort") {
    val df = (0L until 64L).map(i => (i, i % 5)).toDF("tie", "k")
    val plan = Prefix.globalRowNumber(df, col("k"), col("tie"), "rn",
        n = 64, parts0 = 8, sampleTarget = 16)
      .queryExecution.executedPlan.toString
    // the only SinglePartition exchange allowed is the ≤parts-row offset
    // scan, which sits ABOVE the pid aggregate — the row-level window
    // must partition by __pid, never a global ORDER BY over the corpus
    val single = "SinglePartition".r.findAllIn(plan).length
    assert(single <= 1, s"expected ≤1 metadata-scale single exchange:\n$plan")
    assert(plan.contains("partitionBy") || plan.contains("__pid"),
      s"row window must be pid-partitioned:\n$plan")
  }

  private def sizedDocs(rows: (Long, Long)*): DataFrame =
    rows.toDF("doc_id", "n_chars")

  test("compactionPlan rolls at the target and keeps id-contiguous files") {
    // sizes 60,60,60 → file 0 holds two docs (120 ≥ 100 crosses after the
    // second), then 300 (oversized: alone), then 10,10 tail
    val plan = Layout.compactionPlan(
      sizedDocs(1L -> 60L, 2L -> 60L, 3L -> 300L, 4L -> 10L, 5L -> 10L),
      targetBytes = 100L, sizeCol = "n_chars")
      .orderBy("file_id")
      .select("file_id", "n_docs", "total_bytes", "min_doc", "max_doc")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(plan == Seq((0L, 2L, 120L, 1L, 2L), (1L, 1L, 300L, 3L, 3L),
      (4L, 2L, 20L, 4L, 5L)))
    // doc ranges never interleave: files ordered by id ranges
    assert(plan.sliding(2).forall {
      case Seq((_, _, _, _, hi), (_, _, _, lo, _)) => hi < lo
      case _ => true
    })
  }

  test("compactionPlan matches the driver reference and bounds file sizes") {
    val sizes = (1L to 40L).map(i => (i, if (i % 7 == 0) 0L else 13L + i % 29))
    val plan = Layout.compactionPlan(sizedDocs(sizes: _*),
        targetBytes = 120L, sizeCol = "n_chars")
      .select("file_id", "n_docs", "total_bytes", "min_doc", "max_doc")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // driver reference: same exclusive-prefix grid walk
    var pref = 0L
    val assigned = sizes.filter(_._2 > 0).map { case (id, b) =>
      val f = pref / 120L; pref += b; (f, id, b)
    }
    val expected = assigned.groupBy(_._1).map { case (f, rows) =>
      (f, rows.size.toLong, rows.map(_._3).sum, rows.map(_._2).min, rows.map(_._2).max)
    }.toSet
    assert(plan == expected)
    // no file exceeds target + one document
    val maxDoc = sizes.map(_._2).max
    assert(plan.forall(_._3 <= 120L + maxDoc))
  }

  test("tokenBudgetSample fills each budget, keeps the crossing doc, drops unbudgeted sources") {
    val docs = Seq(
      (1L, "s1", "one two three"),        // 3 toks, cum 3
      (2L, "s1", "four five six seven"),  // 4 toks, cum 7  (crosses 5: kept)
      (3L, "s1", "eight nine"),           // exclusive prefix 7 ≥ 5: dropped
      (4L, "s2", "a b"),                  // budget 100 > total: all kept
      (5L, "s3", "x y z")                 // no budget: dropped
    ).toDF("doc_id", "source", "text")
    val got = Sampling.tokenBudgetSample(docs,
        Map("s1" -> 5L, "s2" -> 100L))
      .select("doc_id", "source", "n_toks", "cum_toks")
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == Set((1L, "s1", 3L, 3L), (2L, "s1", 4L, 7L), (4L, "s2", 2L, 2L)))
  }

  test("tokenBudgetSample rejects empty or non-positive budgets") {
    val docs = Seq((1L, "s1", "a")).toDF("doc_id", "source", "text")
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSample(docs, Map.empty)
    }
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSample(docs, Map("s1" -> 0L))
    }
  }
}
