package graft.ts

import org.apache.spark.sql.types._

/** Core data model (SURVEY.md §1).
  *
  * Time is epoch **nanoseconds** as Long everywhere inside the engine: exact
  * integer arithmetic, no timezone ambiguity, no parquet TIMESTAMP(NANOS)
  * impedance. The reference uses epoch-second floats
  * (reference: weather/data_sources/netatmo/domain.py:17-22); nanos are the
  * same model at finer grain.
  */
object model {

  /** One observation of one series. Missing values are Double.NaN, matching
    * the reference's None→NaN projection
    * (reference: weather/data_sources/netatmo/repository.py:88-91).
    */
  val pointSchema: StructType = StructType(Seq(
    StructField("series_id", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("value", DoubleType, nullable = true)
  ))

  /** Point-interpretation policy
    * (reference: weather/data_sources/netatmo/domain.py:111-120,
    * visual/utils.py:12-23).
    */
  sealed trait PointFx
  case object InstantValue extends PointFx // sample valid at t_i
  case object AverageValue extends PointFx // constant over [t_i, t_{i+1})

  /** Half-open UTC analysis window [startNs, endNs)
    * (reference: weather/service/dtss_host.py:197-208 "covering" reads).
    */
  final case class Period(startNs: Long, endNs: Long) {
    require(startNs <= endNs, s"bad period [$startNs, $endNs)")
  }

  object Period {
    val Ns: Long = 1L
    val Micro: Long = 1000L
    val Milli: Long = 1000L * 1000
    val Second: Long = 1000L * 1000 * 1000
    val Minute: Long = 60 * Second
    val Hour: Long = 60 * Minute
    val Day: Long = 24 * Hour
    def ofSeconds(startS: Long, endS: Long): Period =
      Period(startS * Second, endS * Second)

    /** Calendar-date construction in a zone, the reference's
      * `Calendar(tz).time(y, m, d)` (reference:
      * weather/scripts/run_complete_historical_collection.py:80,
      * weather/data_sources/netatmo/domain.py:17-22).
      */
    def atDate(year: Int, month: Int, day: Int, zone: String = "UTC"): Long =
      java.time.LocalDate.of(year, month, day)
        .atStartOfDay(java.time.ZoneId.of(zone))
        .toInstant.getEpochSecond * Second
  }

  /** Series metadata record, the `find()` result
    * (reference: weather/data_sources/netatmo/repository.py:292-301).
    */
  final case class TsInfo(
      name: String,
      pointFx: String,
      deltaTNs: Long,
      olsonTzId: String,
      dataPeriodStartNs: Long,
      dataPeriodEndNs: Long,
      createdNs: Long,
      modifiedNs: Long
  )
}
