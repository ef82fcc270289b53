package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ts.model.Period

/** The benchmark's own logic, without Spark: generators, statistics and
  * output checks, each check shown to catch a planted wrong answer.
  */
class PerfbenchSpec extends AnyFunSuite {

  test("the same seed gives identical inputs, another seed other inputs") {
    // Arrays.equals compares doubles bitwise, so NaN gaps match NaN gaps
    import java.util.Arrays.{equals => same}
    assert(same(CollectData.readings(7, 0, 2), CollectData.readings(7, 0, 2)))
    assert(!same(CollectData.readings(7, 0, 2), CollectData.readings(8, 0, 2)))
    val a = SplitMix.stream(5, 1); val b = SplitMix.stream(5, 1)
    assert(Seq.fill(10)(a.nextLong()) == Seq.fill(10)(b.nextLong()))
  }

  test("generated readings have about 1% missing") {
    val v = CollectData.readings(1, 0, 0)
    assert(v.length == CollectData.Readings)
    val nan = v.count(_.isNaN).toDouble / v.length
    assert(nan > 0.003 && nan < 0.02, s"missing share $nan")
  }

  test("percentiles interpolate between closest ranks") {
    assert(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
    assert(math.abs(Stats.percentile(Seq(1.0, 2.0, 3.0, 4.0), 90) - 3.7) < 1e-12)
    assert(math.abs(Stats.percentile(Seq(5.0, 1.0, 9.0, 3.0, 7.0), 90) - 8.2) < 1e-12)
    assert(Stats.median(Seq(5.0, 1.0, 9.0)) == 5.0)
    assert(Stats.percentile(Seq(4.0), 90) == 4.0)
    assertThrows[IllegalArgumentException](Stats.percentile(Nil, 50))
  }

  test("rates and batch times") {
    assert(Stats.rate(30, 10.0) == 3.0)
    assertThrows[IllegalArgumentException](Stats.rate(1, 0.0))
    val s = 1000000000L
    // blocks of 2: [t0, 3 s], (3 s, 4 s]; the fifth completion is a partial block
    assert(Stats.blockTimes(0L, Seq(1 * s, 3 * s, 3500000000L, 4 * s, 9 * s), 2) == Seq(3.0, 1.0))
  }

  private def collectTruth(seed: Long) = {
    val data = IndexedSeq(CollectData.Types.indices.map(t => CollectData.readings(seed, 0, t)))
    val end = CollectData.T0 + Period.Day
    CollectData.Types.indices.map(t => CollectData.storeId(0, t) -> CollectData.expected(data, 0, t, end)).toMap
  }

  test("collect check passes the right container and catches planted wrong ones") {
    val exp = collectTruth(4)
    val stored = exp.toSeq.flatMap { case (id, ps) => ps.map { case (t, v) => (id, t, v) } }
    assert(stored.exists(_._3.isNaN), "the module axis fills missing readings with NaN")
    assert(CollectCheck.check(exp, stored).isEmpty)
    assert(CollectCheck.check(exp, stored.tail).nonEmpty)                       // a dropped point
    assert(CollectCheck.check(exp, stored :+ stored.head).nonEmpty)             // a point twice
    val wrong = stored.updated(1, stored(1).copy(_3 = stored(1)._3 + 0.5))
    assert(CollectCheck.check(exp, wrong).nonEmpty)                             // a wrong value
    assert(CollectCheck.check(exp, stored :+ (("shyft://netatmo/x", 0L, 1.0))).nonEmpty)
  }

  test("fingerprints ignore row order and catch a wrong value or a dropped row") {
    val schema = StructType(Seq(StructField("b", DoubleType), StructField("a", StringType),
      StructField("c", ArrayType(LongType))))
    val rows = Seq(Row(0.1 + 0.2, "x", Seq(1L, 2L)), Row(2.0, "y", Seq.empty[Long]), Row(null, "z", null))
    val h = Fingerprint(schema, rows)
    assert(Fingerprint(schema, rows.reverse) == h)
    assert(Fingerprint(schema, rows.updated(0, Row(0.3000000001, "x", Seq(1L, 2L)))) == h,
      "noise below 9 significant digits")
    assert(Fingerprint(schema, rows.updated(1, Row(2.5, "y", Seq.empty[Long]))) != h)
    assert(Fingerprint(schema, rows.tail) != h)
  }

  test("9-digit rendering matches Python's %.9g") {
    val cases = Seq(0.1 -> "0.1", 1.0 / 3 -> "0.333333333", 123456789012.0 -> "1.23456789e+11",
      1e-5 -> "1e-05", 2.5e-5 -> "2.5e-05", 100.0 -> "100", -0.000123456789123 -> "-0.000123456789",
      999999999.5 -> "1e+09", 0.00012345678951 -> "0.00012345679", 12345.678901234 -> "12345.6789",
      1e21 -> "1e+21", -2.0 -> "-2", Double.NaN -> "NaN")
    cases.foreach { case (x, want) => assert(Fingerprint.g9(x) == want, s"g9($x)") }
  }

  test("a thrown exception or a failed check makes an op failed, never timed") {
    val boom = Ops.attempt("boom")(throw new RuntimeException("planted"))
    assert(!boom.ok && boom.points == 0)
    val wrong = Ops.attempt("wrong")(Done(5, () => Seq("planted mismatch")))
    assert(!wrong.ok)
    val right = Ops.attempt("right")(Done(5, () => Nil))
    assert(right.ok && right.points == 5)
    val ph = Phase(Seq(boom, wrong, right), 0L, 1000000000L, Seq(1.0))
    assert(ph.failed == 2 && ph.okOps == Seq(right))
    assert(Main.endToEnd(ph, 1.0, 1.0).toMap.apply("op_p50_ms") == right.ms)
  }
}
