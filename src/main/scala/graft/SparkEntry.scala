package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.rows._

/** Driver contract: every implemented operator from SURVEY.md §2 (plus the
  * training-data pipeline extensions) is registered here as a named query
  * over the driver's parquet tables, with a DuckDB-equivalent oracle SQL.
  * Column names are aliased identically on both sides — the driver's compare
  * sorts columns by name before hashing. The rows are declared once each, a
  * family per file, in [[graft.rows]].
  */
object SparkEntry {

  /** Flagship query on sf=0.001; a smoke check expects rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** Every row, its faces with it, one family after another. */
  private[graft] lazy val rows: Seq[QueryRow] = Seq(
    RelationalRows.rows, ProfilingRows.rows, SeriesRows.rows, TextRows.rows,
    SamplingRows.rows, WebRows.rows, PostTrainingRows.rows, SketchRows.rows,
    DedupRows.rows, SimilarityRows.rows, MultimodalRows.rows,
    StreamingRows.rows).flatten

  private lazy val declared: Seq[QueryRow] = QueryRow.flatten(rows)

  /** Every row and face by name. Building the map builds no oracle SQL. */
  lazy val queries: Map[String, QueryRow.Build] =
    declared.map(r => r.name -> r.build).toMap

  /** The DuckDB oracle of every query; a face shares its base row's. */
  def oracleSql: Map[String, String] =
    declared.map(r => r.name -> r.oracle).toMap

  /** The amortized frozen-model rows ([[Fixtures.amortizedFreeze]]),
    * declared with `amortizedRow`: Bench runs these once untimed against
    * the TIMED SF right after warm-up, so their timed numbers measure
    * SERVING (the production steady state), with the train+freeze cost
    * paid once per session — while sim_ivfpq_prod keeps timing the full
    * path.
    */
  lazy val frozenAmortized: Seq[String] =
    declared.filter(_.amortized).map(_.name)
}

/** One query row: its name, its Spark builder over `(session, sfDir)`, its
  * DuckDB oracle SQL, its faces, and whether it and its faces serve a model
  * that Bench trains once untimed. The oracle is by-name and built at most
  * once, on first use.
  */
final class QueryRow(val name: String, val build: QueryRow.Build,
    oracleSql: => String, val faces: Seq[QueryRow.Face],
    val amortized: Boolean) {
  lazy val oracle: String = oracleSql
}

object QueryRow {
  type Build = (SparkSession, String) => DataFrame

  /** A query that reaches its base row's operator another way — the
    * `graft_*` table functions, whose builders splice the Scala calls'
    * plans; a stream's batch face; incremental maintenance — and must hash
    * equal to it, so it shares the base's oracle. A frozen-model face
    * serves from its own frozen dir, so it names the same serving oracle
    * pointed at that dir.
    */
  final class Face(val name: String, val build: Build,
      val oracle: Option[() => String])

  def row(name: String, build: Build, oracle: => String,
      faces: Face*): QueryRow = new QueryRow(name, build, oracle, faces, false)

  /** A row whose builder serves through [[Fixtures.amortizedFreeze]]: it
    * and its faces are [[SparkEntry.frozenAmortized]].
    */
  def amortizedRow(name: String, build: Build, oracle: => String,
      faces: Face*): QueryRow = new QueryRow(name, build, oracle, faces, true)

  def face(name: String)(build: Build): Face = new Face(name, build, None)

  def face(name: String, oracle: => String)(build: Build): Face =
    new Face(name, build, Some(() => oracle))

  /** Every row and every face as a row of its own. Throws on a name
    * declared more than once, naming it.
    */
  def flatten(rows: Seq[QueryRow]): Seq[QueryRow] = {
    val all = rows.flatMap(r => r +: r.faces.map(f =>
      new QueryRow(f.name, f.build, f.oracle.fold(r.oracle)(_()), Nil,
        r.amortized)))
    val dups = all.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty,
      s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
