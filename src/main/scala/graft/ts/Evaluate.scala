package graft.ts

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, MapType, StringType}

import graft.ts.model.Period

/** The analytic-read lifecycle (SURVEY.md §3.1): parse ids → route by
  * scheme → per-source scan → union → restore request order.
  *
  * Routing is the reference's DtssHost.read_callback
  * (reference: weather/service/dtss_host.py:197-231): ids grouped by scheme
  * (:211-216), fanned out per repository (:218-223), input order restored by
  * ordinal (:225-231). Requested-id lists are small (metadata-scale), so the
  * grouping runs on the driver; the *data* never leaves executors — each
  * source contributes a lazy DataFrame, and the union plus the ordinal
  * restore (a literal id → ordinals map, exploded per row) is one narrow
  * Catalyst plan over the combined scan.
  */
final class Evaluate(registry: Map[String, SeriesSource]) {

  def source(scheme: String): SeriesSource =
    registry.getOrElse(scheme,
      throw new IllegalArgumentException(
        s"no source registered for scheme '$scheme' (have: ${registry.keys.mkString(", ")})"))

  /** Evaluate a vector of series ids over a period. Output: long points plus
    * the request `ordinal` — the TsVector order contract
    * (reference: weather/service/dtss_host.py:225-231).
    */
  def evaluate(spark: SparkSession, ids: Seq[String], period: Period): DataFrame = {
    require(ids.nonEmpty, "empty id vector")
    val withOrd = ids.zipWithIndex
    val byScheme = withOrd.groupBy { case (id, _) =>
      Identifiers.schemeOf(id).getOrElse(
        throw new IllegalArgumentException(s"id has no scheme: $id"))
    }
    // read each id once even when requested at several ordinals — the
    // literal id → ordinals map below fans the points back out per request
    // position: a narrow explode, no join and no shuffle of the points
    val parts: Seq[DataFrame] = byScheme.toSeq.map { case (scheme, group) =>
      source(scheme).read(spark, group.map(_._1).distinct, period)
    }
    // the type typedLit would derive, stated instead of reflected per call
    val ordinalsOf = GraftBridge.column(Literal.create(withOrd.groupMap(_._1)(_._2),
      MapType(StringType, ArrayType(IntegerType, containsNull = false), valueContainsNull = true)))
    parts.reduce(_ unionByName _)
      .select(explode(ordinalsOf.getItem(col("series_id"))).as("ordinal"),
        col("series_id"), col("ts"), col("value"))
  }

  /** Metadata find routed by scheme
    * (reference: weather/service/dtss_host.py:233-236).
    */
  def find(spark: SparkSession, query: String): Seq[model.TsInfo] = {
    val scheme = Identifiers.schemeOf(query).getOrElse(
      throw new IllegalArgumentException(s"query has no scheme: $query"))
    source(scheme).find(spark, query)
  }
}

object Evaluate {
  /** Default registry: store + heartbeat + mock schemes (SURVEY.md §7.1). */
  def default(store: SeriesStore): Evaluate = new Evaluate(Map(
    "shyft" -> new StoreSource(store),
    "heartbeat" -> new HeartbeatSource,
    "mock1" -> new MockSource("mock1"),
    "mock2" -> new MockSource("mock2")
  ))
}
