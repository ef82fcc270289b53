package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 form of the synthetic series sources (SURVEY.md §2.9's
  * "full DataSource V2 TableProvider per scheme" alternative): a generator
  * table producing constant series on a fixed time grid, the engine-native
  * analog of the reference's heartbeat/mock repositories
  * (reference: weather/data_sources/heartbeat.py:45-62,
  * weather/test/utilities.py:58-74).
  *
  * {{{
  *   spark.read.format("graft-synthetic")
  *     .option("ids", "heartbeat://cb/ping,mock1://a/2.5")
  *     .option("startNs", t0).option("endNs", t1)
  *     .option("dtNs", 1000000000L)        // default 1 s
  *     .option("numPartitions", 8)         // parallel generation
  *     .load()
  * }}}
  *
  * Scale shape: rows are never materialized on the driver — each input
  * partition generates one (id, time-slice) range on an executor — and
  * `ts` range predicates PUSH DOWN into the generator (`.explain` shows
  * PushedFilters), so a period-filtered read generates only the window it
  * needs. Column pruning is honored at the reader level.
  */
class SyntheticV2 extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-synthetic"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = SyntheticV2.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new SyntheticTable(new CaseInsensitiveStringMap(properties))
}

object SyntheticV2 {
  val schema: StructType = StructType(Seq(
    StructField("series_id", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  private val MockValueRe = "mock[0-9]+://.*/(-?(?:[0-9]+\\.?[0-9]*|\\.[0-9]+))".r

  /** Value encoded by the id: `heartbeat://…` is the constant 1.0
    * (heartbeat.py:54), `mockN://…/<number>` carries it as the last path
    * segment (utilities.py:64). Any other id is not a synthetic series and
    * fails with an `IllegalArgumentException` that names it.
    */
  def valueOf(id: String): Double = id match {
    case MockValueRe(v)                       => v.toDouble
    case _ if id.startsWith("heartbeat://")   => 1.0
    case _ => throw new IllegalArgumentException(
      s"not a synthetic series id (heartbeat://… or mockN://…/<number>): $id")
  }
}

private[sources] class SyntheticTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "graft_synthetic"
  override def schema(): StructType = SyntheticV2.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String]()
    merged.putAll(options)
    merged.putAll(o)
    new SyntheticScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

private[sources] class SyntheticScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var startNs: Long = options.getLong("startNs", 0L)
  private var endNs: Long = options.getLong("endNs", 0L)
  private val dtNs: Long = options.getLong("dtNs", 1000L * 1000 * 1000)
  private val numPartitions: Int = options.getInt("numPartitions", 4)
  private val ids: Seq[String] =
    Option(options.get("ids")).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
  ids.foreach(SyntheticV2.valueOf) // a bad id fails here, on the driver, not in a task
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = SyntheticV2.schema

  /** `ts` bounds tighten the generated range — the filter is fully consumed
    * by the source (returned residual is empty for those). Exclusive bounds
    * at Long.MaxValue are NOT accepted: tightening them needs `v + 1`, which
    * would overflow and silently widen the range — and a consumed filter is
    * never re-applied by Spark. They stay residual instead.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, residual) = filters.partition {
      case GreaterThanOrEqual("ts", _: java.lang.Long)                    => true
      case GreaterThan("ts", v: java.lang.Long) if v < Long.MaxValue      => true
      case LessThan("ts", _: java.lang.Long)                              => true
      case LessThanOrEqual("ts", v: java.lang.Long) if v < Long.MaxValue  => true
      case _                                                              => false
    }
    accepted.foreach {
      case GreaterThanOrEqual("ts", v: java.lang.Long) => startNs = math.max(startNs, align(v))
      case GreaterThan("ts", v: java.lang.Long)        => startNs = math.max(startNs, align(v + 1))
      case LessThan("ts", v: java.lang.Long)           => endNs = math.min(endNs, v)
      case LessThanOrEqual("ts", v: java.lang.Long)    => endNs = math.min(endNs, v + 1)
      case _                                           =>
    }
    pushed = accepted
    residual
  }
  // next grid point at or after t
  private def align(t: Long): Long = {
    val base = options.getLong("startNs", 0L)
    if (t <= base) base else base + ((t - base + dtNs - 1) / dtNs) * dtNs
  }

  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"graft-synthetic range=[$startNs,$endNs) dt=$dtNs " +
        s"PushedFilters: [${pushed.mkString(", ")}]"

    override def planInputPartitions(): Array[InputPartition] = {
      val nPoints = math.max(0L, (endNs - startNs + dtNs - 1) / dtNs)
      val perPart = math.max(1L, (nPoints + numPartitions - 1) / numPartitions)
      (for {
        id <- ids
        p <- 0L until numPartitions.toLong
        lo = startNs + p * perPart * dtNs
        hi = math.min(endNs, startNs + (p + 1) * perPart * dtNs)        if lo < hi
      } yield SyntheticPartition(id, lo, hi, dtNs,
        required.fieldNames.toSeq): InputPartition).toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      (partition: InputPartition) => {
        val sp = partition.asInstanceOf[SyntheticPartition]
        new PartitionReader[InternalRow] {
          private var t = sp.startNs - sp.dtNs
          private val value = SyntheticV2.valueOf(sp.id)
          private val cols = sp.columns
          override def next(): Boolean = { t += sp.dtNs; t < sp.endNs }
          override def get(): InternalRow =
            InternalRow.fromSeq(cols.map {
              case "series_id" => UTF8String.fromString(sp.id)
              case "ts"        => t
              case "value"     => value
            })
          override def close(): Unit = ()
        }
      }
  }
}

private[sources] final case class SyntheticPartition(id: String, startNs: Long,
    endNs: Long, dtNs: Long, columns: Seq[String]) extends InputPartition
