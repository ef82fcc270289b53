package graft.ts

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SyntheticV2
import graft.ts.model.{Period, TsInfo}

/** Pluggable per-scheme series source, the Spark equivalent of the
  * reference's repository plug-in interface
  * (reference: weather/interfaces/data_collection_repository.py:11-47).
  *
  * `read` returns long-format points whose `series_id` equals the requested
  * id verbatim; `find` returns TsInfo metadata rows.
  */
trait SeriesSource {
  def name: String
  def read(spark: SparkSession, ids: Seq[String], period: Period): DataFrame
  def find(spark: SparkSession, query: String): Seq[TsInfo]
}

/** shyft:// — persisted container series (SURVEY.md §2.1 S4). */
final class StoreSource(store: SeriesStore) extends SeriesSource {
  val name = "shyft"

  def read(spark: SparkSession, ids: Seq[String], period: Period): DataFrame = {
    import org.apache.spark.sql.Column
    val byContainer: Map[String, Seq[String]] =
      ids.groupBy(id => Identifiers.schemeOf(id) match {
        case Some("shyft") => id.stripPrefix("shyft://").takeWhile(_ != '/')
        case _             => throw new IllegalArgumentException(s"not a shyft id: $id")
      })
    val parts: Seq[DataFrame] = byContainer.toSeq.map { case (container, cids) =>
      // ids are stored with their full URL as series_id
      store.read(container, cids, period)
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], model.pointSchema)
    }
  }

  /** Metadata find: all stored series whose id starts with the query URL
    * (exact id or prefix probe), with data period = [min ts, max ts], dt =
    * modal delta — the reference's TsInfo resolution
    * (reference: weather/data_sources/netatmo/repository.py:279-306).
    * Metadata-scale result: collect is deliberate.
    */
  def find(spark: SparkSession, query: String): Seq[TsInfo] = {
    val container = query.stripPrefix("shyft://").takeWhile(_ != '/')
    if (!store.exists(container)) return Seq.empty
    val pts = store.read(container).where(col("series_id").startsWith(query))
    val stats = pts.groupBy("series_id")
      .agg(min("ts").as("t0"), max("ts").as("t1"))
    val dt = SeriesOps.dtMode(pts)
    stats.join(dt, Seq("series_id"), "left").collect().toSeq.map { r =>
      TsInfo(
        name = r.getAs[String]("series_id"),
        pointFx = "instant",
        deltaTNs = Option(r.getAs[java.lang.Long]("dt_mode_ns")).map(_.toLong).getOrElse(0L),
        olsonTzId = "UTC",
        dataPeriodStartNs = r.getAs[Long]("t0"),
        dataPeriodEndNs = r.getAs[Long]("t1"),
        createdNs = 0L,
        modifiedNs = 0L)
    }.sortBy(_.name)
  }
}

/** heartbeat:// — synthetic constant series of 1.0 at 1 s (=1e9 ns) steps
  * covering the period (reference: weather/data_sources/heartbeat.py:45-62,
  * weather/utilities/create_ts.py:13-20). A pure `range` generator plan:
  * no data is materialized on the driver.
  */
final class HeartbeatSource extends SeriesSource {
  val name = "heartbeat"

  def read(spark: SparkSession, ids: Seq[String], period: Period): DataFrame = {
    val per = spark.range(period.startNs, period.endNs, Period.Second)
      .select(col("id").as("ts"))
    val idDf = spark.createDataFrame(ids.map(Tuple1(_))).toDF("series_id")
    idDf.crossJoin(per).select(col("series_id"), col("ts"), lit(1.0).as("value"))
  }

  def find(spark: SparkSession, query: String): Seq[TsInfo] = {
    // heartbeat find echoes the message (heartbeat.py:75-101)
    val msg = query.stripPrefix("heartbeat://").dropWhile(_ != '/').stripPrefix("/")
    Seq(TsInfo(s"heartbeat: $msg", "instant", Period.Second, "UTC", 0L, 0L, 0L, 0L))
  }
}

/** mockN:// — constant series of the value encoded in the id path,
  * `mock1://<name>/<float>` (reference: weather/test/utilities.py:31-74).
  */
final class MockSource(val name: String, dtNs: Long = Period.Second) extends SeriesSource {
  def read(spark: SparkSession, ids: Seq[String], period: Period): DataFrame = {
    val rows = ids.map(id => (id, SyntheticV2.valueOf(id)))
    val idDf = spark.createDataFrame(rows).toDF("series_id", "value")
    val per = spark.range(period.startNs, period.endNs, dtNs).select(col("id").as("ts"))
    idDf.crossJoin(per).select(col("series_id"), col("ts"), col("value"))
  }

  /** Mock find echoes the queried id as an unbounded synthetic series
    * (reference: weather/test/utilities.py:76-141 mock find_callback).
    */
  def find(spark: SparkSession, query: String): Seq[TsInfo] =
    Seq(TsInfo(query, "instant", dtNs, "UTC", 0L, 0L, 0L, 0L))
}
