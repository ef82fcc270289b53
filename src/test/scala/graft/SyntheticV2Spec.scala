package graft

import org.apache.spark.sql.functions._

import graft.sources.SyntheticV2
import graft.ts.{HeartbeatSource, MockSource}
import graft.ts.model.Period

/** DataSource V2 synthetic source: same rows as the SeriesSource
  * implementations, ts predicates pushed into the generator (visible in the
  * plan), column pruning honored, generation split across partitions.
  */
class SyntheticV2Spec extends SparkSpec {

  private val S = Period.Second

  private def v2(ids: String, t0: Long, t1: Long) =
    spark.read.format("graft-synthetic")
      .option("ids", ids)
      .option("startNs", t0 * S).option("endNs", t1 * S)
      .option("numPartitions", 4)
      .load()

  test("rows equal the SeriesSource generators") {
    val ids = Seq("heartbeat://cb/ping", "mock1://a/2.5")
    val got = v2(ids.mkString(","), 0, 60)
    val want = new HeartbeatSource().read(spark, Seq(ids.head), Period.ofSeconds(0, 60))
      .unionByName(new MockSource("mock1").read(spark, Seq(ids(1)), Period.ofSeconds(0, 60)))
    assert(rowsOf(got) == rowsOf(want))
  }

  test("ts range predicates push into the generator") {
    val df = v2("heartbeat://cb/ping", 0, 3600)
      .where(col("ts") >= 100 * S && col("ts") < 200 * S)
    // the filter is fully consumed by the source: no Filter node survives
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Filter ("), plan.take(1500))
    // only the filtered window is generated (pushdown consumed the filter)
    assert(df.count() == 100)
    val mm = df.agg(min("ts"), max("ts")).collect()(0)
    assert(mm.getLong(0) == 100 * S && mm.getLong(1) == 199 * S)
  }

  test("exclusive bounds at Long.MaxValue stay residual — no overflow widening") {
    // ts > Long.MaxValue is unsatisfiable; the naive pushdown tighten
    // (v + 1) overflows to Long.MinValue and regenerates the full range
    // with the filter already consumed. It must yield zero rows.
    val df = v2("heartbeat://cb/ping", 0, 100)
    assert(df.where(col("ts") > Long.MaxValue).count() == 0)
    // ts <= Long.MaxValue is a tautology; must keep every row.
    assert(df.where(col("ts") <= Long.MaxValue).count() == 100)
  }

  test("generation is split across partitions") {
    val df = v2("heartbeat://cb/ping", 0, 1000)
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 1000)
  }

  test("an id that names no synthetic series fails on the driver, naming the id") {
    Seq("mock1://a/b", "foo://x").foreach { bad =>
      val direct = intercept[IllegalArgumentException](SyntheticV2.valueOf(bad))
      assert(direct.getMessage.contains(bad), direct.getMessage)
      // planning the scan checks the ids: no task runs, so no SparkException wraps it
      val scan = intercept[IllegalArgumentException](v2(s"heartbeat://cb/ping,$bad", 0, 10).count())
      assert(scan.getMessage.contains(bad), scan.getMessage)
      val mock = intercept[IllegalArgumentException](
        new MockSource("mock1").read(spark, Seq(bad), Period.ofSeconds(0, 10)))
      assert(mock.getMessage.contains(bad), mock.getMessage)
    }
    assert(SyntheticV2.valueOf("mock2://b/-2.5") == -2.5 && SyntheticV2.valueOf("heartbeat://cb/ping") == 1.0)
  }

  test("column pruning reaches the reader") {
    val df = v2("mock1://a/7", 0, 10).select("value")
    assert(df.collect().forall(_.getDouble(0) == 7.0))
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!scanLine.contains("series_id"), scanLine)
  }
}
