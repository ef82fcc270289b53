package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sources.{Netatmo, NetatmoSource, NetatmoV2}
import graft.ts.{Evaluate, Identifiers}
import graft.ts.model.Period

/** Netatmo catalog + fixture-backed paginated API source: station-as-module
  * split (reference: weather/data_sources/netatmo/domain.py:200-216), the
  * 10-row measurement dimension (domain.py:110-123), catalog lookup (P4),
  * and multi-block pagination assembly (repository.py:150-200).
  */
class NetatmoSpec extends SparkSpec {

  private lazy val t = Tables(spark, sfDir)
  // µs-grid events so catalog module lifetimes share eventsPoints' ts grid
  private lazy val cat = Netatmo.catalog(Netatmo.rawConfig(t.eventsUs))
  private lazy val eventsPoints = t.eventsUs.select("user_id", "event_type", "ts", "value")
  private lazy val eventsPath = s"$sfDir/events.parquet"

  test("measurement dimension: fixed 10 rows, all POINT_INSTANT_VALUE") {
    val dim = Netatmo.measurementDimension(spark).collect()
    assert(dim.length == 10)
    assert(dim.forall(_.getAs[String]("point_fx") == "instant"))
    assert(dim.map(_.getAs[String]("data_type")).contains("Temperature"))
  }

  test("station-as-module split: 'Main' rows reuse the station id as module id") {
    val main = cat.where(col("module_name") === "Main")
      .select("station_id", "module_id").distinct().collect()
    assert(main.nonEmpty)
    assert(main.forall(r => r.getString(0) == r.getString(1)))
    val outdoor = cat.where(col("module_name") === "Outdoor")
      .select("station_id", "module_id").distinct().collect()
    assert(outdoor.forall(r => r.getString(0) != r.getString(1)))
  }

  test("catalog ids follow the grammar and round-trip through the parser") {
    val row = cat.limit(1).collect()(0)
    val parsed = Identifiers.parseNetatmoIdStr(row.getAs[String]("source_id"))
    assert(parsed("station_name") == row.getAs[String]("station_name"))
    assert(parsed("module_name") == row.getAs[String]("module_name"))
    assert(parsed("data_type") == row.getAs[String]("data_type"))
    assert(row.getAs[String]("store_id").startsWith("shyft://netatmo/"))
  }

  test("lookup is a point query on (station, module, data_type)") {
    val any = cat.limit(1).collect()(0)
    val got = Netatmo.lookup(cat,
      any.getAs[String]("station_name"), any.getAs[String]("module_name"),
      any.getAs[String]("data_type")).collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("source_id") == any.getAs[String]("source_id"))
  }

  test("pagination: small blocks assemble to the same rows as one big block") {
    val row = cat.limit(1).collect()(0)
    val uid = row.getAs[Long]("user_id")
    val types = cat.where(col("user_id") === uid && col("module_name") === row.getAs[String]("module_name"))
      .select("data_type").collect().map(_.getString(0)).toSeq
    val all = Period(Long.MinValue / 2, Long.MaxValue / 2)
    val paged = new NetatmoSource(cat, eventsPoints, eventsPath, blockSize = 16)
      .getMeasurements(uid, types, all)
    val single = new NetatmoSource(cat, eventsPoints, eventsPath, blockSize = 1 << 20)
      .getMeasurements(uid, types, all)
    assert(paged.count() > 0)
    assert(rowsOf(paged) == rowsOf(single))
    // multi-block actually exercised: axis longer than one small block
    assert(single.select("ts").distinct().count() > 16)
  }

  /** The engine-side pivot the page reader replaced: raw readings grouped
    * by ts in one shuffle, one max per requested type, NaN where a type has
    * no reading, exploded back to long format. Kept here only as the
    * reference for the reader's grid.
    */
  private def referencePivot(raw: DataFrame, types: Seq[String]): DataFrame = {
    val cells = types.indices.map(i =>
      max(when(col("data_type") === types(i), col("value"))).as(s"c$i"))
    raw.groupBy("ts").agg(cells.head, cells.tail: _*)
      .select(col("ts"), explode(array(types.indices.map(i => struct(
        lit(types(i)).as("data_type"),
        coalesce(col(s"c$i"), lit(Double.NaN)).as("value"))): _*)).as("cell"))
      .select(col("ts"), col("cell.data_type"), col("cell.value"))
  }

  private def fetch(path: String, userId: Long, types: Seq[String], blockSize: Int): DataFrame =
    spark.read.format("graft-netatmo").option("path", path).option("userId", userId)
      .option("types", types.mkString(",")).option("blockSize", blockSize).load()

  test("the page reader's grid matches the engine-side pivot: NaN fill, max collapse, any block size") {
    import spark.implicits._
    val path = tmpDir("graft-netatmo-grid")
    // epoch-ns ticks; the reader truncates them to the µs grid
    val readings = Seq(
      (1L, "A", 1000L, 1.0), (1L, "A", 1500L, 3.0),             // one cell: max
      (1L, "B", 1200L, Double.NaN), (1L, "B", 1900L, 5.0),      // one cell: NaN is greatest
      (1L, "A", 2000L, 2.0),                                    // B has no reading here
      (1L, "B", 3000L, -1.0), (1L, "B", 3001L, -1.5),           // A has no reading here
      (1L, "C", 4000L, 9.0),                                    // type not requested
      (2L, "A", 2000L, 100.0))                                  // another module
      .toDF("user_id", "event_type", "ts", "value")
    // optional columns, like a device API's export
    spark.createDataFrame(readings.rdd,
      org.apache.spark.sql.types.StructType(readings.schema.map(_.copy(nullable = true))))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val types = Seq("A", "B")
    val got = fetch(path, 1L, types, blockSize = 1 << 20)
    assert(rowsOf(got) == Seq(
      Seq("1000", "A", "3.0"), Seq("1000", "B", "NaN"),
      Seq("2000", "A", "2.0"), Seq("2000", "B", "NaN"),
      Seq("3000", "A", "NaN"), Seq("3000", "B", "-1.0")))
    val raw = spark.read.parquet(path)
      .where(col("user_id") === 1L && col("event_type").isin(types: _*))
      .select((expr("ts div 1000") * 1000L).as("ts"), col("event_type").as("data_type"), col("value"))
    assert(rowsOf(got) == rowsOf(referencePivot(raw, types)))
    // one page per axis point assembles to the same grid as one page
    val paged = fetch(path, 1L, types, blockSize = 1)
    assert(paged.rdd.getNumPartitions == 3)
    assert(rowsOf(paged) == rowsOf(got))
  }

  test("the page reader's grid matches the engine-side pivot on the fixture module") {
    val row = cat.limit(1).collect()(0)
    val uid = row.getAs[Long]("user_id")
    val types = cat.where(col("user_id") === uid && col("module_name") === row.getAs[String]("module_name"))
      .select("data_type").collect().map(_.getString(0)).toSeq
    val raw = eventsPoints.where(col("user_id") === uid && col("event_type").isin(types: _*))
      .select(col("ts"), col("event_type").as("data_type"), col("value"))
    val want = rowsOf(referencePivot(raw, types))
    assert(rowsOf(fetch(eventsPath, uid, types, blockSize = 1)) == want)
    assert(rowsOf(fetch(eventsPath, uid, types, blockSize = 1 << 20)) == want)
  }

  test("a scan plans its pages once: later planning calls return the first call's pages") {
    val row = cat.limit(1).collect()(0)
    val uid = row.getAs[Long]("user_id")
    val types = cat.where(col("user_id") === uid && col("module_name") === row.getAs[String]("module_name"))
      .select("data_type").collect().map(_.getString(0)).toSeq
    for (blockSize <- Seq(1, 16, 1024)) {
      val before = NetatmoV2.planningPasses.get()
      val plan = fetch(eventsPath, uid, types, blockSize).queryExecution.executedPlan
      val scan = plan.collectFirst { case b: BatchScanExec => b.batch }.get
      val first = scan.planInputPartitions().toSeq
      val again = scan.planInputPartitions().toSeq
      assert(NetatmoV2.planningPasses.get() - before == 1, s"blockSize=$blockSize")
      val fresh = NetatmoV2.planPages(eventsPath, uid, types, Long.MinValue / 2,
        Long.MaxValue / 2, blockSize, NetatmoV2.schema.fieldNames.toSeq)
      assert(first == fresh && again == fresh, s"blockSize=$blockSize")
      assert(fresh.nonEmpty)
    }
  }

  test("read keys each module's rows to its own ids when two modules of a station share a type") {
    import spark.implicits._
    val path = tmpDir("graft-netatmo-shared-type")
    // one station: A on both modules, C on the main unit, B on the submodule
    val readings = Seq(
      (1L, "A", 1000L, 1.0), (1L, "B", 2000L, 2.0), (1L, "C", 3000L, 3.0),
      (1L, "A", 4000L, 4.0), (1L, "B", 4000L, 5.0), (1L, "C", 5000L, 6.0))
      .toDF("user_id", "event_type", "ts", "value")
    // optional columns, like a device API's export
    spark.createDataFrame(readings.rdd,
      org.apache.spark.sql.types.StructType(readings.schema.map(_.copy(nullable = true))))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val events = spark.read.parquet(path)
    // rawConfig deals types out alternately (Main: A, C; Outdoor: B); add
    // A to the submodule as well, like Temperature on a main unit and on
    // its outdoor module
    val shared = Netatmo.catalog(Netatmo.rawConfig(events).withColumn("modules",
      transform(col("modules"), m => m.withField("data_type", array_union(m("data_type"), array(lit("A")))))))
    val ids = shared.select("source_id", "module_name", "data_type")
      .as[(String, String, String)].collect().toSeq
    assert(ids.count(_._3 == "A") == 2, s"A should be on both modules: $ids")
    val typesOf = ids.groupMap(_._2)(_._3)
    val all = Period(Long.MinValue / 2, Long.MaxValue / 2)
    val src = new NetatmoSource(shared, events, path, blockSize = 2)
    val got = src.read(spark, ids.map(_._1), all)
    def rowsOfId(id: String) = rowsOf(got.where(col("series_id") === id).select("ts", "value"))
    for ((id, module, dt) <- ids) {
      val want = src.getMeasurements(1L, typesOf(module), all)
        .where(col("data_type") === dt).select("ts", "value")
      assert(rowsOfId(id) == rowsOf(want), id)
    }
    // each module's axis pads its own NaNs, so the two A series differ
    val Seq(a1, a2) = ids.filter(_._3 == "A").map(_._1)
    assert(rowsOfId(a1) != rowsOfId(a2))
  }

  test("re-keying keeps the fan-out: two ids naming one measurement both get every row") {
    val row = cat.limit(1).collect()(0)
    val (st, mod, dt) = (row.getAs[String]("station_name"), row.getAs[String]("module_name"),
      row.getAs[String]("data_type"))
    val id = Identifiers.netatmoIdStr(st, mod, dt)
    // the parser accepts the parameters in any order: the same measurement
    val reordered = s"netatmo://?data_type=$dt&module_name=$mod&station_name=$st"
    val src = new NetatmoSource(cat, eventsPoints, eventsPath)
    val all = Period(Long.MinValue / 2, Long.MaxValue / 2)
    val want = rowsOf(src.read(spark, Seq(id), all).drop("series_id"))
    assert(want.nonEmpty)

    val read = src.read(spark, Seq(id, reordered), all)
    Seq(id, reordered).foreach { i =>
      assert(rowsOf(read.where(col("series_id") === i).drop("series_id")) == want, i)
    }
    val ev = new Evaluate(Map("netatmo" -> src)).evaluate(spark, Seq(id, reordered, id), all)
    Seq(0 -> id, 1 -> reordered, 2 -> id).foreach { case (ord, i) =>
      val mine = ev.where(col("ordinal") === ord)
      assert(mine.select("series_id").distinct().collect().map(_.getString(0)).toSeq == Seq(i))
      assert(rowsOf(mine.drop("ordinal", "series_id")) == want, s"ordinal $ord")
    }
  }

  test("read binds ids via the catalog and re-keys to the verbatim id") {
    val rows = cat.where(col("user_id") === 0).limit(2).collect()
    val ids = rows.map(_.getAs[String]("source_id")).toSeq
    val src = new NetatmoSource(cat, eventsPoints, eventsPath)
    val got = new Evaluate(Map("netatmo" -> src))
      .evaluate(spark, ids, Period(Long.MinValue / 2, Long.MaxValue / 2))
    val seen = got.select("series_id").distinct().collect().map(_.getString(0)).toSet
    assert(seen == ids.toSet)
    val e = intercept[IllegalArgumentException] {
      src.read(spark, Seq(Identifiers.netatmoIdStr("No Such Station", "Main", "click")), Period.ofSeconds(0, 1))
    }
    assert(e.getMessage.contains("not in catalog"))
  }

  test("find resolves catalog metadata with tz, module lifetime, and dt") {
    val row = cat.limit(1).collect()(0)
    val infos = new NetatmoSource(cat, eventsPoints, eventsPath)
      .find(spark, row.getAs[String]("source_id"))
    assert(infos.length == 1)
    val i = infos.head
    assert(i.olsonTzId == "Europe/Oslo")

    // data period is the MODULE's lifetime: the min/max event ts across all
    // measurement types carried by the module (repository.py:292-301)
    val uid = row.getAs[Long]("user_id")
    val types = cat.where(col("user_id") === uid &&
        col("module_name") === row.getAs[String]("module_name"))
      .select("data_type").collect().map(_.getString(0)).toSeq
    val life = eventsPoints
      .where(col("user_id") === uid && col("event_type").isin(types: _*))
      .agg(org.apache.spark.sql.functions.min("ts"),
        org.apache.spark.sql.functions.max("ts")).collect()(0)
    assert(i.dataPeriodStartNs == life.getLong(0) && i.createdNs == life.getLong(0))
    assert(i.dataPeriodEndNs == life.getLong(1) && i.modifiedNs == life.getLong(1))
    assert(i.deltaTNs > 0L, "dt should be inferred from the measurement's deltas")
  }
}
