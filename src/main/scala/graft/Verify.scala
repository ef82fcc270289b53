package graft
import java.nio.file.{Files, Paths}

import graft.core.Sessions
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local("graft-verify", cores = cpus)
    new java.io.File(outDir).mkdirs()
    // Dev-only filter mirroring Bench: SPARK_GRAFT_ONLY=comma,separated —
    // the driver sets no filter and always dumps every query.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A failing query MUST still leave an artifact row: write a one-row
        // error-marker parquet so the driver's compare records a visible
        // mismatch (`err`/red) for this query instead of silently omitting
        // it from the round's correctness file.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = String.valueOf(e.getMessage)
        import spark.implicits._
        try Seq((name, String.valueOf(e.getMessage).take(500)))
          .toDF("_graft_query", "_graft_error")
          .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name marker write failed: ${e2.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Transparency sidecar: which queries errored, and why (empty = healthy).
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    spark.stop()
  }
}
