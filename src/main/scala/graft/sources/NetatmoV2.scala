package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.api.ReadSupport
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 form of the paginated station-API block fetch (S2,
  * reference: weather/data_sources/netatmo/repository.py:150-200).
  *
  * The reference advances a `start` cursor one past each block's last
  * returned point, one sequential API round trip at a time. Spark-first,
  * pagination is PLANNING metadata, not a driver loop: ONE metadata pass
  * ([[NetatmoV2.planPages]]) resolves the module's shared time axis into
  * block boundary offsets (`ceil(n_axis / blockSize)` blocks), and each
  * `InputPartition` then fetches its own block independently on an
  * executor — the blocks of one module run in parallel, and no driver
  * `.collect()` probe ever executes.
  *
  * Planning contract: the pages are planned once per `Scan` and memoized
  * there. Spark plans a scan more than once (`persist` plans it eagerly,
  * and execution re-plans the copied physical node); each later
  * `planInputPartitions` returns the first call's pages.
  * [[NetatmoV2.planningPasses]] counts the passes.
  *
  * Blocks are cut on distinct axis timestamps, so no timestamp is split
  * across two pages: each page reader builds the API's grid for its own
  * block ([[NetatmoV2.pageGrid]]: one cell per (axis point, requested type),
  * NaN where the type has no reading) and emits it in long format. The scan
  * is the whole fetch — no exchange, no join on top.
  *
  * {{{
  *   spark.read.format("graft-netatmo")
  *     .option("path", eventsParquet).option("userId", 7)
  *     .option("types", "click,view").option("blockSize", 1024)
  *     .option("startNs", t0).option("endNs", t1)
  *     .load()   // => (ts, data_type, value), one row per grid cell
  * }}}
  *
  * [[FixtureDeviceApi]] is the device-API stand-in: it streams the module's
  * rows straight from the fixture parquet file WITHOUT Spark (plain
  * parquet-hadoop reads), because that is exactly the shape of a production
  * connector — the driver's metadata call and each executor's page fetch
  * talk to an external service, not to the cluster. Swapping the fixture
  * for an HTTP client changes only this object.
  */
class NetatmoV2 extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-netatmo"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = NetatmoV2.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new NetatmoPagedTable(new CaseInsensitiveStringMap(properties))
}

object NetatmoV2 {
  /** One module block in long format: the API's row-major grid (P6) with
    * missing cells as NaN (P5), one row per (axis point, requested type).
    */
  val schema: StructType = StructType(Seq(
    StructField("ts", LongType, nullable = false),
    StructField("data_type", StringType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  /** Driver-side page-planning passes run in this JVM: one per planned
    * scan (see the planning contract above).
    */
  val planningPasses = new java.util.concurrent.atomic.AtomicLong()

  /** The S2 cursor loop as offsets: one pass over the module's readings in
    * [startNs, endNs) cuts its axis (every timestamp with a reading of one
    * of `types`) into blocks of `blockSize` distinct timestamps, so a page
    * holds whole timestamps. Driver state after the pass is
    * O(n_axis / blockSize) boundary pairs.
    */
  private[graft] def planPages(path: String, userId: Long, types: Seq[String],
      startNs: Long, endNs: Long, blockSize: Int, columns: Seq[String]): Seq[NetatmoPage] = {
    planningPasses.incrementAndGet()
    val axis = new java.util.TreeSet[java.lang.Long]()
    FixtureDeviceApi.moduleEvents(path, userId, types.toSet, startNs, endNs) {
      (ts, _, _) => axis.add(ts); ()
    }
    axis.asScala.iterator.map(_.longValue()).grouped(blockSize).map { block =>
      NetatmoPage(path, userId, types, block.head, block.last, columns)
    }.toSeq
  }

  /** The API surface of one page: the page's axis (every timestamp with a
    * reading of any requested type) × `types`, in long format, ordered by
    * (ts, position in `types`). A cell with no reading is NaN (P5,
    * repository.py:88-91); raw readings that land on one cell (distinct ns
    * timestamps truncating to one µs tick) collapse to their max, NaN
    * greatest — Spark's `max` order, the collapse the row-major pivot
    * applies (P6, repository.py:142-143). Pages hold whole timestamps, so
    * the grid of a module is the concatenation of its pages' grids.
    */
  private[sources] def pageGrid(types: Seq[String])(
      fetch: ((Long, String, Double) => Unit) => Unit): Iterator[(Long, String, Double)] = {
    val slot = types.distinct.zipWithIndex.toMap
    // per axis point: the cell values, then one "has a reading" flag per cell
    val axis = new java.util.TreeMap[java.lang.Long, (Array[Double], Array[Boolean])]()
    fetch { (ts, dataType, v) =>
      val i = slot(dataType)
      val (row, hit) = axis.computeIfAbsent(ts,
        _ => (new Array[Double](slot.size), new Array[Boolean](slot.size)))
      if (!hit(i) || SQLOrderingUtil.compareDoubles(v, row(i)) > 0) row(i) = v
      hit(i) = true
    }
    axis.entrySet().iterator().asScala.flatMap { e =>
      val ts = e.getKey.longValue()
      val (row, hit) = e.getValue
      types.iterator.map { t =>
        val i = slot(t)
        (ts, t, if (hit(i)) row(i) else Double.NaN)
      }
    }
  }
}

/** Fixture device API: filtered streaming reads of the events parquet via
  * parquet-hadoop (no SparkSession — callable from query planning on the
  * driver and from page readers on executors alike). The read is a real
  * pushdown read: only the four needed columns are materialized
  * (`parquet.read.schema` projection) and the `user_id` equality is a
  * parquet FilterPredicate, so row groups whose stats exclude the user are
  * skipped entirely. Timestamps are truncated to the µs grid the engine's
  * `eventsUs` view uses.
  */
private[sources] object FixtureDeviceApi {

  private def files(path: String): Seq[String] = {
    val f = new java.io.File(path)
    if (f.isDirectory)
      f.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    else Seq(path)
  }

  private val Projection =
    """message graft_projection {
      |  optional int64 ts;
      |  optional int64 user_id;
      |  optional binary event_type (UTF8);
      |  optional double value;
      |}""".stripMargin

  /** ns-per-tick of the file's `ts` column, from the parquet footer's logical
    * type annotation: TIMESTAMP(NANOS) → 1, MICROS → 1e3, MILLIS → 1e6; a
    * plain INT64 column is epoch-ns by the engine's convention. Absorbing the
    * unit here keeps the connector correct across testdata regenerations that
    * change the writer's physical type (µs vs ns), exactly like the Spark-side
    * `Tables.events` normalization.
    */
  /** Memoized per file path: the unit cannot change for a written file, and
    * the per-block-partition scan path calls [[moduleEvents]] once per
    * block — without the cache every block would re-open and re-parse the
    * same footer just to learn the unit. Unbounded growth is not a concern
    * at fixture scale (one entry per distinct parquet file); executors each
    * warm their own map.
    */
  private val tsUnitCache = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private def tsUnitScaleNs(file: String, conf: Configuration): Long =
    tsUnitCache.computeIfAbsent(file, _ => {
      import org.apache.parquet.schema.LogicalTypeAnnotation
      val in = org.apache.parquet.hadoop.ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
      try {
        val schema = in.getFileMetaData.getSchema
        schema.getType(schema.getFieldIndex("ts"))
          .asPrimitiveType().getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.NANOS  => 1L
            case LogicalTypeAnnotation.TimeUnit.MICROS => 1000L
            case LogicalTypeAnnotation.TimeUnit.MILLIS => 1000000L
          }
          case _ => 1L
        }
      } finally in.close()
    })

  /** One shared Configuration for every fixture read: `new Configuration()`
    * re-parses the Hadoop default XML resources on each construction
    * (visible in stack samples as wstx/BasicStreamReader frames under
    * planInputPartitions and the page readers), and every call sets the SAME
    * projection — the per-call state (the filter predicate) never lives in
    * the conf. Readers only read from it, so sharing is safe. Sharing alone
    * does not avoid the parse: a reader must also be built without making a
    * conf of its own, which `ParquetReader.builder(readSupport, path)` does
    * before `withConf` replaces it; [[moduleEvents]] builds from a
    * `HadoopInputFile` that carries this conf instead.
    *
    * READ-ONLY INVARIANT: this conf is shared across driver planning and all
    * executor task threads. It is safe exactly as long as no reader builder
    * call site SETS per-read keys on it — today the filter goes via
    * `withFilter` and the projection is the one constant key set here. If a
    * parquet upgrade or a new call site ever needs a per-read conf key, hand
    * that reader `new Configuration(readConf)` (the copy constructor skips
    * the XML re-parse that motivated the sharing) instead of mutating this.
    */
  private lazy val readConf: Configuration = {
    val c = new Configuration()
    c.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA, Projection)
    c
  }

  /** Stream one module's (ts, event_type, value) rows within [startNs, endNs). */
  def moduleEvents(path: String, userId: Long, types: Set[String],
      startNs: Long, endNs: Long)(f: (Long, String, Double) => Unit): Unit =
    files(path).foreach { file =>
      import org.apache.parquet.filter2.predicate.FilterApi
      val conf = readConf
      val scale = tsUnitScaleNs(file, conf)
      val tsCol = FilterApi.longColumn("ts")
      // Raw-tick superset of the µs-grid ns window: raw ticks satisfy
      // raw*scale ∈ (startNs - 1000, endNs + 1000) (the ±1000 absorbs the
      // µs-grid truncation, which moves a value by < 1000 ns whatever the
      // sign — JVM division truncates toward zero). In file units that is
      // raw > floor((startNs-1000)/scale) - 1 and raw < floor((endNs+1000)/
      // scale) + 1 — a block partition's parquet scan then skips row groups
      // whose ts stats lie outside ITS block, instead of re-reading the
      // module's whole history per block (exact µs-grid filtering still
      // happens below).
      var pred: org.apache.parquet.filter2.predicate.FilterPredicate =
        FilterApi.eq(FilterApi.longColumn("user_id"), java.lang.Long.valueOf(userId))
      if (startNs >= Long.MinValue + 1000L)
        pred = FilterApi.and(pred, FilterApi.gt(tsCol,
          java.lang.Long.valueOf(Math.floorDiv(startNs - 1000L, scale) - 1L)))
      if (endNs <= Long.MaxValue - 1000L)
        pred = FilterApi.and(pred, FilterApi.lt(tsCol,
          java.lang.Long.valueOf(Math.floorDiv(endNs + 1000L, scale) + 1L)))
      // built from an input file that carries the shared conf: the
      // (ReadSupport, Path) builder makes a `new Configuration()` first
      val reader = new ParquetReader.Builder[Group](HadoopInputFile.fromPath(new Path(file), conf)) {
        override protected def getReadSupport(): ReadSupport[Group] = new GroupReadSupport()
      }.withFilter(org.apache.parquet.filter2.compat.FilterCompat.get(pred)).build()
      try {
        var g = reader.read()
        while (g != null) {
          if (g.getFieldRepetitionCount("event_type") > 0 &&
              types.contains(g.getString("event_type", 0)) &&
              g.getFieldRepetitionCount("ts") > 0 &&
              g.getFieldRepetitionCount("value") > 0) {
            // µs grid (eventsUs twin), after widening file ticks to epoch-ns
            val ts = (g.getLong("ts", 0) * scale / 1000L) * 1000L
            if (ts >= startNs && ts < endNs)
              f(ts, g.getString("event_type", 0), g.getDouble("value", 0))
          }
          g = reader.read()
        }
      } finally reader.close()
    }
}

private[sources] class NetatmoPagedTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "graft_netatmo"
  override def schema(): StructType = NetatmoV2.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new java.util.HashMap[String, String]()
    merged.putAll(options)
    merged.putAll(o)
    new NetatmoScanBuilder(new CaseInsensitiveStringMap(merged))
  }
}

private[sources] class NetatmoScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns {

  private val path = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("graft-netatmo requires option 'path'"))
  // fail fast like 'path': a silently-defaulted user id reads as "module
  // has no data" instead of surfacing the misconfiguration
  private val userId = Option(options.get("userId")).map(_.toLong).getOrElse(
    throw new IllegalArgumentException("graft-netatmo requires option 'userId'"))
  private val types: Seq[String] =
    Option(options.get("types")).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
  private val startNs = options.getLong("startNs", Long.MinValue / 2)
  private val endNs = options.getLong("endNs", Long.MaxValue / 2)
  private val blockSize = options.getInt("blockSize", 1024)
  private var required: StructType = NetatmoV2.schema

  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def description(): String =
      s"graft-netatmo user=$userId types=[${types.mkString(",")}] blockSize=$blockSize"

    /** The S2 cursor loop as offsets, planned once per scan. */
    private lazy val pages: Array[InputPartition] =
      NetatmoV2.planPages(path, userId, types, startNs, endNs, blockSize,
        required.fieldNames.toSeq).toArray

    override def planInputPartitions(): Array[InputPartition] = pages.clone()

    override def createReaderFactory(): PartitionReaderFactory =
      (partition: InputPartition) => {
        val pg = partition.asInstanceOf[NetatmoPage]
        new PartitionReader[InternalRow] {
          // One buffered page fetch per partition — the API-response analog,
          // bounded by blockSize axis points × requested measurement types —
          // pivoted to the page's grid and streamed out in long format.
          private val rows = NetatmoV2.pageGrid(pg.types) { emit =>
            FixtureDeviceApi.moduleEvents(pg.path, pg.userId, pg.types.toSet,
              pg.loTs, if (pg.hiTs == Long.MaxValue) Long.MaxValue else pg.hiTs + 1)(emit)
          }
          private var cur: (Long, String, Double) = _
          override def next(): Boolean =
            if (rows.hasNext) { cur = rows.next(); true } else false
          override def get(): InternalRow =
            InternalRow.fromSeq(pg.columns.map {
              case "ts"        => cur._1
              case "data_type" => UTF8String.fromString(cur._2)
              case "value"     => cur._3
            })
          override def close(): Unit = ()
        }
      }
  }
}

private[graft] final case class NetatmoPage(path: String, userId: Long,
    types: Seq[String], loTs: Long, hiTs: Long, columns: Seq[String]) extends InputPartition
