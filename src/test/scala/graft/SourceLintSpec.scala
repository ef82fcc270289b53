package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-level lint asserts — invariants that a grep can falsify and
  * that have regressed silently before (the r13 verdict caught a round
  * log claiming "no bare REPARTITION_BY_COL remains" while six live
  * sites did). Encoding the grep as a test makes the claim a CI fact.
  */
class SourceLintSpec extends AnyFunSuite {

  private def mainScala: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .toSeq.sortBy(_.toString)
  }

  test("no bare repartition-by-column in main (AQE-coalescable REPARTITION_BY_COL)") {
    // A bare df.repartition(col(...)) / df.repartition($"...") emits
    // REPARTITION_BY_COL, which AQE may coalesce back to ONE partition on
    // small inputs — serializing whatever pair-verify join or per-row
    // kernel sits behind it. The sanctioned form pins the width:
    // repartition(shuffleN, col(...)) → REPARTITION_BY_NUM.
    val bad = for {
      p <- mainScala
      (line, i) <- Files.readString(p).linesIterator.zipWithIndex
      if line.contains("repartition(col(") || line.contains("repartition($")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(bad.isEmpty,
      s"\nbare repartition-by-column sites (pin the width instead):\n${bad.mkString("\n")}")
  }

  test("no Scala udf() registrations in main (codegen-hostile)") {
    val bad = for {
      p <- mainScala
      (line, i) <- Files.readString(p).linesIterator.zipWithIndex
      if line.contains("udf(") && !line.trim.startsWith("//") &&
        !line.trim.startsWith("*")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(bad.isEmpty, s"\nudf( sites in main:\n${bad.mkString("\n")}")
  }

  test("keyed streaming state has one call site in main: the StreamOps helper") {
    // every stateful stream operator folds through StreamOps.keyedState,
    // which owns the idle-timeout check, the timeout choice, eviction and
    // the timeout refresh; a second call site would fork that path
    def sites(call: String) = for {
      p <- mainScala
      (line, i) <- Files.readString(p).linesIterator.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") &&
        s"\\b$call\\s*[\\[(]".r.findFirstIn(code).isDefined
    } yield s"$p:${i + 1}: $code"
    val fmgws = sites("flatMapGroupsWithState")
    assert(fmgws.size == 1 &&
      fmgws.head.startsWith("src/main/scala/graft/streaming/StreamOps.scala:"),
      s"\nflatMapGroupsWithState call sites:\n${fmgws.mkString("\n")}")
    val mgws = sites("mapGroupsWithState")
    assert(mgws.isEmpty, s"\nmapGroupsWithState call sites:\n${mgws.mkString("\n")}")
  }

  test("no ??? stubs in main") {
    val bad = for {
      p <- mainScala
      (line, i) <- Files.readString(p).linesIterator.zipWithIndex
      if line.contains("???")
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(bad.isEmpty, s"\n??? stubs in main:\n${bad.mkString("\n")}")
  }
}
