package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftFunctions, GraftTableFunctions}

/** Static consistency of the SQL surface and the query registry: every
  * check reads declarations only and runs no Spark job.
  */
class SqlRegistrySpec extends AnyFunSuite {

  test("a duplicate row or face name fails construction, naming the duplicate") {
    import QueryRow.{face, row}
    val build: QueryRow.Build = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException](QueryRow.flatten(Seq(
      row("a", build, "SELECT 1", face("sql_a")(build)),
      row("b", build, "SELECT 2", face("sql_a")(build)),
      row("c", build, "SELECT 3"), row("c", build, "SELECT 4"))))
    assert(e.getMessage.endsWith("declared more than once: c, sql_a"))
  }

  test("an amortized row's faces are amortized with it, and no other row") {
    import QueryRow.{amortizedRow, face, row}
    val build: QueryRow.Build = (s, _) => s.emptyDataFrame
    val all = QueryRow.flatten(Seq(
      amortizedRow("a", build, "SELECT 1", face("sql_a")(build)),
      row("b", build, "SELECT 2", face("sql_b")(build))))
    assert(all.filter(_.amortized).map(_.name) == Seq("a", "sql_a"))
    assert(SparkEntry.frozenAmortized.toSet == Set("sim_pq_prod",
      "sql_ann_serve", "stream_ann_topk", "sim_pq_addbatch",
      "stream_pq_addbatch", "clf_quality_frozen", "sql_clf_score",
      "stream_clf_score"))
  }

  test("every table function is called by a sql_* twin or a SqlSurfaceSpec case") {
    val rowFiles = new java.io.File("src/main/scala/graft/rows").listFiles
      .filter(_.getName.endsWith("Rows.scala")).map(_.toPath).toSeq
    assert(rowFiles.nonEmpty)
    val callers = (rowFiles :+ Paths.get("src/test/scala/graft/SqlSurfaceSpec.scala"))
      .map(Files.readString).mkString("\n")
    val uncalled = GraftTableFunctions.all.map(_._1.funcName)
      .filterNot(n => callers.contains(s"$n("))
    assert(uncalled.isEmpty, uncalled)
  }

  test("every usage string starts with the signature its arity check enforces") {
    for ((id, info, builder) <- GraftTableFunctions.all ++ GraftFunctions.all) {
      val sig = info.getUsage.takeWhile(_ != ')') + ")"
      assert(sig.startsWith(id.funcName + "("), info.getUsage)
      assert(info.getName == id.funcName)
      val arity = sig.count(_ == ',') + (if (sig.endsWith("()")) 0 else 1)
      // one argument too many: the declaration rejects it before any
      // relation is resolved, naming the same signature
      val e = intercept[IllegalArgumentException](
        builder(Seq.fill(arity + 1)(Literal(1))))
      assert(e.getMessage == s"$sig takes $arity arguments, got ${arity + 1}")
    }
  }
}
