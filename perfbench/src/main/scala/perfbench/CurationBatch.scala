package perfbench

import java.math.{BigDecimal => JBigDecimal, MathContext, RoundingMode}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.Tables

/** Order-independent fingerprint of a query result: columns sorted by
  * name, each row rendered with doubles at 9 significant digits (the
  * precision the DuckDB oracle compare uses, which absorbs last-ulp
  * summation-order noise), rows sorted, then SHA-256.
  */
object Fingerprint {

  def apply(schema: StructType, rows: Seq[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def cell(v: Any): String = v match {
    case null                    => "None"
    case d: Double               => g9(d)
    case f: Float                => g9(f.toDouble)
    case b: Array[Byte]          => b.map(x => f"$x%02x").mkString
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + ":" + cell(x) }.sorted.mkString("{", ",", "}")
    case r: Row                  => r.toSeq.map(cell).mkString("(", ",", ")")
    case other                   => other.toString
  }

  /** `%.9g` as Python prints it: 9 significant digits, round half even on
    * the exact binary value, trailing zeros dropped.
    */
  def g9(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else if (d == 0.0) (if (1.0 / d < 0) "-0" else "0")
    else {
      val r = new JBigDecimal(d).round(new MathContext(9, RoundingMode.HALF_EVEN))
      val exp = r.precision() - r.scale() - 1
      if (exp < -4 || exp >= 9) {
        val digits = r.unscaledValue().abs().toString.reverse.dropWhile(_ == '0').reverse
        val mant = if (digits.length == 1) digits else s"${digits.head}.${digits.tail}"
        val sign = if (r.signum() < 0) "-" else ""
        f"$sign${mant}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
      } else {
        val s = r.toPlainString
        if (s.contains('.')) s.reverse.dropWhile(_ == '0').dropWhile(_ == '.').reverse else s
      }
    }
}

/** curation_batch: repeated passes over a fixed mix of the library's batch
  * curation queries (`SparkEntry.queries`), each result collected to the
  * driver and checked. An op is one pass, the batch job a curation user
  * waits for; each query's time is a per-layer metric. It never touches
  * the time-series store, the sources or the ETL task, so a store change
  * must leave it unchanged. The seed only orders the mix within a pass.
  */
final class CurationBatch extends Workload {
  import CurationBatch._

  val opRoot = "pass"

  def setup(ctx: Ctx, rep: Int): Double = {
    val t = Tables(ctx.spark, DataDir)
    Seq(t.documents, t.embeddings).foreach(_.limit(1).collect())
    0.0
  }

  private def runPass(ctx: Ctx, order: Seq[String]): OpRec =
    Ops.attempt(s"pass ${order.mkString(",")}")(ctx.tracer.span(opRoot) {
      val results = order.map { q =>
        ctx.tracer.span(s"pipeline.$q") {
          val df = ctx.tracer.span(s"pipeline.$q.build", build = true)(SparkEntry.queries(q)(ctx.spark, DataDir))
          (q, df.schema, ctx.tracer.span(s"pipeline.$q.action")(df.collect().toSeq))
        }
      }
      Done(results.map(_._3.size.toLong).sum, () => results.flatMap { case (q, schema, rows) =>
        val got = (rows.size.toLong, Fingerprint(schema, rows))
        if (got == Expected(q)) Nil else Seq(s"$q returned (rows, hash) $got, expected ${Expected(q)}")
      })
    })

  def warmup(ctx: Ctx): Seq[OpRec] = Seq(runPass(ctx, Mix))

  def measure(ctx: Ctx, phase: Int): Phase = {
    val rng = SplitMix.stream(ctx.seed, phase)
    Ops.closedLoop(ctx, batchOps = 1)(runPass(ctx, Mix.map(q => (rng.nextLong(), q)).sortBy(_._1).map(_._2)))
  }

  def storeBytesPerPoint(ctx: Ctx): Double = {
    val t = Tables(ctx.spark, DataDir)
    val rows = t.documents.count() + t.embeddings.count()
    Seq("documents", "embeddings")
      .map(n => Workload.dirBytes(new java.io.File(s"$DataDir/$n.parquet"))).sum.toDouble / rows
  }

  def layerMetrics(ctx: Ctx, t: TraceData, phase: Phase): Seq[(String, Double)] = {
    val req = t.roots(opRoot).map(_.id).toSet
    val n = math.max(1, req.size).toDouble
    Mix.flatMap { q =>
      val build = t.spansIn(req, s"pipeline.$q.build").map(_.id).toSet
      Seq(
        s"pipeline.${q}_ms" -> t.spansIn(req, s"pipeline.$q").map(_.ms).sum / n,
        s"pipeline.$q.construction_jobs" -> t.jobs.count(j => build(j.span)) / n)
    }
  }
}

object CurationBatch {
  /** The seed-42 documents and embeddings tables the library's oracle
    * suite checks at sf0.01.
    */
  val DataDir = "perfbench/data/sf0.01"

  /** Planning-heavy (sim_rp_topk, a plan of about 121k characters),
    * construction-heavy (graph_pagerank over the minhash near-dup graph),
    * minhash dedup, the SQL table-function surface (sql_bm25) and the
    * vector kernels with driver-side Lloyd rounds (vec_kmeans).
    */
  val Mix: Seq[String] = Seq("sim_rp_topk", "graph_pagerank", "dedup_minhash", "sql_bm25", "vec_kmeans")

  /** (row count, fingerprint) of each mix query over `DataDir`, recorded
    * with `perfbench.CurationExpected`.
    */
  val Expected: Map[String, (Long, String)] = Map(
    "sim_rp_topk" -> (15L, "314614cf6c28dcabf907d1632923e0c819379025bfd77f25936da6e3f9de4936"),
    "sql_bm25" -> (20L, "ccdf7e113c15b1b3ad3078a49d8a8bcb04c08904450f3cbf7ee030c8f1a1d00b"),
    "vec_kmeans" -> (500L, "be4333ffdd28a80d62b5af3e78b22d05703dee9687e464d13d790271d662d68a"),
    "dedup_minhash" -> (25L, "cfa55e3cdedb155b5636151a6b53dc2f5ccd2cc660ad7d74bf0a51ec8d456ca0"),
    "graph_pagerank" -> (47L, "758c7cb9f5671cdfc38756df74178544051aa154fdcb0a8f998f2cf94dcffa80"))
}

/** Prints the (row count, fingerprint) of every mix query, for
  * `CurationBatch.Expected` after an intended change of their output.
  * Its one argument is a scratch directory for Spark's files.
  */
object CurationExpected {
  def main(args: Array[String]): Unit = {
    val spark = Main.session("perfbench-expected", 4, new java.io.File(args(0)))
    try CurationBatch.Mix.foreach { q =>
      val df = SparkEntry.queries(q)(spark, CurationBatch.DataDir)
      val rows = df.collect().toSeq
      println(s"""    "$q" -> (${rows.size}L, "${Fingerprint(df.schema, rows)}"),""")
    } finally spark.stop()
  }
}
