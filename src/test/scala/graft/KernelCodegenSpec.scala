package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{Signatures, VecMeanAgg}

/** Bit-parity of the codegen'd vector/jaccard kernels against their
  * interpreted `eval` path.
  *
  * VecDot / VecCosine / VecSqDist / SortedArrayJaccard implement a real
  * `doGenCode` (they sit inside the join predicates and projections of
  * every similarity hot path, where a CodegenFallback would put an
  * eval-boundary row copy in the middle of a WholeStageCodegen span).
  * The generated Java must execute the SAME scalar loop as `eval` — same
  * element order, same double-op sequence, same mid-loop null-outs — so
  * the two paths are bit-equal, not just 9-digit-close. This spec runs
  * each kernel over adversarial literals AND real sf0.001 embeddings in
  * two sessions: one with codegen forced (compile errors THROW —
  * `spark.sql.codegen.fallback=false` — so a broken template fails here
  * instead of silently falling back), one with codegen disabled
  * (`factoryMode=NO_CODEGEN`, wholeStage off) so expressions run through
  * interpreted `eval`. Rows are compared string-exact.
  */
class KernelCodegenSpec extends SparkSpec {

  /** Fresh session per mode: `newSession()` shares the SparkContext but
    * owns an independent SQLConf, so forcing/disabling codegen here can
    * never bleed into concurrently-running suites.
    */
  private def inMode[T](codegen: Boolean)(body: SparkSession => T): T = {
    val s = spark.newSession()
    if (codegen) {
      s.conf.set("spark.sql.codegen.fallback", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    } else {
      s.conf.set("spark.sql.codegen.wholeStage", "false")
      s.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    }
    body(s)
  }

  private def assertParity(build: SparkSession => DataFrame): Unit = {
    val gen = inMode(codegen = true)(s => rowsOf(build(s)))
    val interp = inMode(codegen = false)(s => rowsOf(build(s)))
    assert(gen == interp)
    assert(gen.nonEmpty)
  }

  /** One row per expression, in column `v`. Each row's value depends on
    * `id`, so the optimizer cannot fold a kernel over it to a literal (a
    * folded kernel runs interpreted `eval` in both modes).
    */
  private def rowsPerExpr(s: SparkSession, exprs: String*): DataFrame =
    s.range(exprs.size).selectExpr("id", exprs.zipWithIndex
      .map { case (e, i) => s"WHEN $i THEN $e" }.mkString("CASE id ", " ", " END AS v"))

  /** Adversarial vector pairs: float×double mixes, equal/mismatched
    * lengths, empties, zero norms, NaN/Inf elements, null elements, null
    * arrays — every branch of the three vector kernels.
    */
  private def vecPairs(s: SparkSession): DataFrame =
    s.range(1).selectExpr(
      "array(cast(1.5 as float), cast(-2.0 as float), cast(0.25 as float)) as f3",
      "array(0.5d, -1.25d, 4.0d) as d3",
      "array(3.0d, 1e300d, -2.5d) as dbig",
      "cast(array(0.0, 0.0, 0.0) as array<double>) as dzero",
      "array(cast('NaN' as double), 1.0d, 2.0d) as dnan",
      "array(cast(null as double), 1.0d, 2.0d) as dnullelem",
      "array(1.0d, 2.0d) as d2",
      "cast(array() as array<double>) as dempty",
      "cast(null as array<double>) as dnull")

  test("VecDot codegen == interpreted (all null/length/type branches)") {
    assertParity { s =>
      val df = vecPairs(s)
      val cols = Seq(
        ("f3", "d3"), ("d3", "d3"), ("f3", "f3"), ("d3", "dbig"),
        ("dnan", "d3"), ("dnullelem", "d3"), ("d3", "d2"),
        ("dempty", "dempty"), ("dnull", "d3"), ("d2", "dnullelem"))
      df.select(cols.map { case (a, b) =>
        Signatures.vecDot(df(a), df(b)).as(s"dot_${a}_$b")
      }: _*)
    }
  }

  test("VecSqDist codegen == interpreted (all null/length/type branches)") {
    assertParity { s =>
      val df = vecPairs(s)
      val cols = Seq(
        ("f3", "d3"), ("d3", "dbig"), ("dnan", "d3"), ("dnullelem", "d3"),
        ("d3", "d2"), ("dempty", "dempty"), ("dnull", "d3"))
      df.select(cols.map { case (a, b) =>
        Signatures.vecSqDist(df(a), df(b)).as(s"sq_${a}_$b")
      }: _*)
    }
  }

  test("VecCosine codegen == interpreted (zero norms, mismatch tails, NaN)") {
    assertParity { s =>
      val df = vecPairs(s)
      val cols = Seq(
        ("f3", "d3"), ("f3", "f3"), ("dzero", "d3"), ("dzero", "dzero"),
        ("d3", "d2"), // mismatched lengths: norm tails past min length
        ("dnan", "d3"), ("dempty", "d3"), ("dnull", "d3"))
      df.select(cols.map { case (a, b) =>
        Signatures.vecCosine(df(a), df(b)).as(s"cos_${a}_$b")
      }: _*)
    }
  }

  test("SortedArrayJaccard codegen == interpreted (long + string, 0/0 NaN)") {
    assertParity { s =>
      val df = s.range(1).selectExpr(
        "array(1L, 3L, 7L, 9L) as la",
        "array(3L, 7L, 10L) as lb",
        "cast(array() as array<bigint>) as lempty",
        "array('alpha', 'beta', 'gamma') as sa",
        "array('beta', 'delta') as sb",
        "cast(array() as array<string>) as sempty",
        "cast(null as array<bigint>) as lnull")
      df.select(
        Signatures.sortedJaccard(df("la"), df("lb")).as("j_ll"),
        Signatures.sortedJaccard(df("la"), df("la")).as("j_self"),
        Signatures.sortedJaccard(df("lempty"), df("lempty")).as("j_zero"),
        Signatures.sortedJaccard(df("lnull"), df("lb")).as("j_null"),
        Signatures.sortedJaccard(df("sa"), df("sb")).as("j_ss"),
        Signatures.sortedJaccard(df("sempty"), df("sa")).as("j_sempty"))
    }
  }

  test("HammingWords codegen == interpreted (mismatch, null elem, null)") {
    assertParity { s =>
      val df = s.range(1).selectExpr(
        "array(-1L, 0L, 6148914691236517205L) as wa", // 64 + 0 + 32 bits
        "array(0L, 0L, 0L) as wb",
        "array(1L, 2L) as w2",
        "array(cast(null as bigint), 3L, 4L) as wnullelem",
        "cast(array() as array<bigint>) as wempty",
        "cast(null as array<bigint>) as wnull")
      df.select(
        Signatures.hammingWords(df("wa"), df("wb")).as("h_ab"),
        Signatures.hammingWords(df("wa"), df("wa")).as("h_self"),
        Signatures.hammingWords(df("wa"), df("w2")).as("h_mismatch"),
        Signatures.hammingWords(df("wnullelem"), df("wa")).as("h_nullelem"),
        Signatures.hammingWords(df("wempty"), df("wempty")).as("h_empty"),
        Signatures.hammingWords(df("wnull"), df("wa")).as("h_null"))
    }
  }

  test("HammingWords == the aggregate(zip_with(bit_count(xor))) fold it replaced") {
    import org.apache.spark.sql.functions._
    val df = spark.range(64).selectExpr(
      "array(id * -7L, id ^ 12345L, shiftleft(id, 32)) as wa",
      "array(id * 31L, -id, id) as wb",
      "case when id % 5 = 0 then array(id) else array(id, 0L, 1L) end as wc")
    val got = df.select(
      Signatures.hammingWords(col("wa"), col("wb")).as("h1"),
      Signatures.hammingWords(col("wa"), col("wc")).as("h2"))
    val old = df.select(
      aggregate(zip_with(col("wa"), col("wb"),
        (x, y) => bit_count(x.bitwiseXOR(y))), lit(0), (a, x) => a + x).as("h1"),
      aggregate(zip_with(col("wa"), col("wc"),
        (x, y) => bit_count(x.bitwiseXOR(y))), lit(0), (a, x) => a + x).as("h2"))
    assert(got.schema == old.schema)
    assert(rowsOf(got) == rowsOf(old))
  }

  test("kernels codegen-compile inside join predicates (fallback disabled)") {
    // join-condition codegen is a different embedding context than
    // projection codegen (the template lands inside the join's generated
    // consume path): with CODEGEN_ONLY + fallback=false a scoping or
    // compile defect there throws instead of silently falling back
    import org.apache.spark.sql.functions.lit
    val run = inMode(codegen = true) { s =>
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
        .selectExpr("vec_id", "embedding",
          "array(vec_id, vec_id + 1L) as words")
        .orderBy("vec_id").limit(15)
      val a = emb.toDF("id_a", "va", "wa")
      val b = emb.toDF("id_b", "vb", "wb")
      a.join(b,
        a("id_a") < b("id_b")
          && Signatures.vecCosine(a("va"), b("vb")) > lit(-2.0)
          && Signatures.vecDot(a("va"), b("vb")).isNotNull
          && Signatures.vecSqDist(a("va"), b("vb")) >= lit(0.0)
          && Signatures.hammingWords(a("wa"), b("wb")) >= lit(0)
          && Signatures.sortedJaccard(
            a("wa").cast("array<bigint>"), b("wb").cast("array<bigint>"))
            >= lit(0.0))
        .count()
    }
    assert(run == 15L * 14 / 2, "every ordered pair must satisfy the predicates")
  }

  test("kernels match over real embeddings in a join (400 pairs)") {
    assertParity { s =>
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
        .selectExpr("vec_id", "embedding").orderBy("vec_id").limit(20)
      val a = emb.toDF("id_a", "va")
      val b = emb.toDF("id_b", "vb")
      val joined = a.crossJoin(b)
      joined.select(
        joined("id_a"), joined("id_b"),
        Signatures.vecCosine(joined("va"), joined("vb")).as("cos"),
        Signatures.vecDot(joined("va"), joined("vb")).as("dot"),
        Signatures.vecSqDist(joined("va"), joined("vb")).as("sq"))
    }
  }

  test("ArgminSqDist codegen == interpreted (ties, mismatch, null elem)") {
    // two equidistant centroids (clusters 2 and 5 both at distance 0 from
    // dtie): the strict < must keep the LOWER cluster id in both paths
    val clusters = Seq(2L, 5L, 9L)
    val cents = Seq(Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0), Seq(0.0, 0.0, 0.5))
    assertParity { s =>
      val df = s.range(1).selectExpr(
        "array(cast(1.0 as float), cast(2.0 as float), cast(3.0 as float)) as ftie",
        "array(1.0d, 2.0d, 3.0d) as dtie",
        "array(0.1d, -0.2d, 0.4d) as dnear",
        "array(cast(null as double), 1.0d, 2.0d) as dnullelem",
        "array(1.0d, 2.0d) as d2",
        "cast(array() as array<double>) as dempty",
        "cast(null as array<double>) as dnull")
      df.select(
        Signatures.argminSqDist(df("dtie"), clusters, cents).as("m_tie"),
        Signatures.argminSqDist(df("ftie"), clusters, cents).as("m_ftie"),
        Signatures.argminSqDist(df("dnear"), clusters, cents).as("m_near"),
        Signatures.argminSqDist(df("dnullelem"), clusters, cents).as("m_nullelem"),
        Signatures.argminSqDist(df("d2"), clusters, cents).as("m_mismatch"),
        Signatures.argminSqDist(df("dempty"), clusters, cents).as("m_empty"),
        Signatures.argminSqDist(df("dnull"), clusters, cents).as("m_null"))
    }
  }

  test("ArgminSqDist codegen == interpreted over real embeddings") {
    assertParity { s =>
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
        .selectExpr("vec_id", "cast(embedding as array<double>) as v")
        .orderBy("vec_id").limit(64)
      val cents = emb.limit(4).collect()
        .map(r => r.getSeq[Double](1).toSeq).toSeq
      emb.select(emb("vec_id"),
        Signatures.argminSqDist(emb("v"), Seq(0L, 1L, 2L, 3L), cents).as("m"))
    }
  }

  test("ArgminSqDist: no centroid nearer than +Inf is null in both modes (NaN, +Inf, zero centroids)") {
    // a NaN or infinite distance never passes the strict < against the
    // +Inf start, so no centroid wins; neither does an empty model
    val clusters = Seq(2L, 5L)
    val cents = Seq(Seq(1.0, 2.0, 3.0), Seq(0.0, 0.0, 0.5))
    def build(s: SparkSession) = {
      val df = rowsPerExpr(s,
        "array(cast('NaN' as double), 1.0d, 2.0d)",
        "array(1.0d, cast('Infinity' as double), 2.0d)",
        "array(cast('-Infinity' as double), 1.0d, 2.0d)",
        "array(1.0d, 2.0d, 3.0d)")
      df.select(df("id"),
        Signatures.argminSqDist(df("v"), clusters, cents).as("m"),
        Signatures.argminSqDist(df("v"), Nil, Nil).as("m_none"))
    }
    assertParity(build)
    val got = inMode(codegen = true)(s => build(s).orderBy("id").collect())
    assert(got.take(3).forall(_.isNullAt(1)), got.toSeq)
    assert(got(3).getStruct(1).getLong(0) == 2L)
    assert(got.forall(_.isNullAt(2)), got.toSeq)
  }

  test("RpProject codegen == interpreted (float/double, NaN, ±Inf, -0.0, null element, null array)") {
    def vec(f: String) = s"transform(sequence(1, 64), i -> $f)"
    assertParity { s =>
      val df = rowsPerExpr(s,
        vec("sin(i * 1.7d) * 3.0d"),
        vec("if(i = 5, cast('NaN' as double), i * 0.5d)"),
        vec("if(i = 9, cast('Infinity' as double), i * 0.5d)"),
        vec("if(i = 1, cast('-Infinity' as double), i * 0.5d)"),
        vec("if(i = 2, cast('Infinity' as double), if(i = 3, cast('-Infinity' as double), 1.0d))"),
        vec("-0.0d"),
        vec("if(i = 20, cast(null as double), i * 0.5d)"),
        "cast(null as array<double>)")
      df.select(df("id"),
        Signatures.rpProject(df("v"), 16, 64).as("rp_d"),
        Signatures.rpProject(df("v").cast("array<float>"), 16, 64).as("rp_f"),
        Signatures.rpProject(df("v"), 3, 64).as("rp_d3"))
    }
  }

  test("RpProject codegen == interpreted over real embeddings") {
    assertParity { s =>
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
        .selectExpr("vec_id", "embedding").orderBy("vec_id").limit(64)
      emb.select(emb("vec_id"),
        Signatures.rpProject(emb("embedding"), 16, 64).as("rp"),
        Signatures.rpProject(emb("embedding").cast("array<double>"), 16, 64).as("rp_d"))
    }
  }

  test("RpProject: a wrong width fails with the named error in both modes") {
    for (codegen <- Seq(true, false)) {
      val ex = intercept[Exception](inMode(codegen) { s =>
        val df = rowsPerExpr(s, "array(1.0d, 2.0d, 3.0d)")
        df.select(Signatures.rpProject(df("v"), 16, 64)).collect()
      })
      val msgs = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage))
      assert(msgs.exists(_.contains("randomProject: expected dim 64, got 3")),
        s"codegen=$codegen: $ex")
    }
  }

  /** `vecMean` of the rows per expression, in each mode. */
  private def vecMeanInModes(exprs: String*): Seq[Option[Seq[Double]]] =
    for (codegen <- Seq(true, false)) yield inMode(codegen) { s =>
      val df = rowsPerExpr(s, exprs: _*)
      Option(df.agg(VecMeanAgg.vecMean(df("v"))).head().getSeq[Double](0))
    }

  test("VecMeanAgg: a group of zero-width arrays is null in both modes, like a group of nulls") {
    val empty = "cast(array() as array<double>)"
    assert(vecMeanInModes(empty, empty, "cast(null as array<double>)") == Seq(None, None))
  }

  test("VecMeanAgg: zero-width arrays beside width-d ones contribute nothing in both modes") {
    val empty = "cast(array() as array<double>)"
    val want = Some(Seq(2.0, 4.0))
    assert(vecMeanInModes(empty, "array(1.0d, 2.0d)", empty, "array(3.0d, 6.0d)", empty) ==
      Seq(want, want))
  }
}
