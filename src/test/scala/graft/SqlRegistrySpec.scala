package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{GraftFunctions, GraftTableFunctions}

/** Static consistency of the SQL surface and the query registry: every
  * check reads declarations only and runs no Spark job.
  */
class SqlRegistrySpec extends AnyFunSuite {

  test("every query has exactly one oracle and no twin shadows a row") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size ==
      SparkEntry.baseQueries.size + SparkEntry.twins.size)
  }

  test("every twin mirrors a row that has its own oracle") {
    val twinNames = SparkEntry.twins.map(_.name).toSet
    val bad = SparkEntry.twins.filter(t => twinNames(t.of) ||
      !SparkEntry.baseQueries.contains(t.of) ||
      !SparkEntry.oracleSql.contains(t.of))
    assert(bad.isEmpty, bad.map(t => s"${t.name} -> ${t.of}"))
  }

  test("every table function is called by a sql_* twin or a SqlSurfaceSpec case") {
    val callers = Seq("src/main/scala/graft/SparkEntry.scala",
      "src/test/scala/graft/SqlSurfaceSpec.scala")
      .map(p => Files.readString(Paths.get(p))).mkString("\n")
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
