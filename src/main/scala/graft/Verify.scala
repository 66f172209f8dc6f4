package graft
import java.nio.file.{Files, Paths}

import graft.telemetry.Events

/** Harness-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the external DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Tables.session carries the configs the queries depend on (UTC session
    // timezone, parquet nanosAsLong for the events table, AQE).
    val spark = Tables.session(s"local[$cpus]", cpus)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q73_multimodal_decode — local iteration on a
    // subset without the full sweep; the external harness never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      // the query's scope tags the guard events it warns on stderr
      Events.scoped(name) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // Events.quote escapes ALL control chars: a tab or CR in hand-authored
    // SQL would otherwise make the consumer's json.load fail and silently
    // void the correctness check.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Events.quote(k)}: ${Events.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
