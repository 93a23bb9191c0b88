package graft

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.engine.Sessions

/** Correctness dump for the DuckDB compare (`tools/selfcheck.py`). Usage:
  * `runMain graft.Verify <sfDir> <outDir>`; `SPARK_GRAFT_ONLY` narrows the
  * queries ([[SparkEntry.select]]). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_ONLY unset (the default) dumps the full surface
    dump(spark, sfDir, outDir, SparkEntry.select(sys.env.get("SPARK_GRAFT_ONLY")))
    spark.stop()
  }

  /** Writes each selected query's result to `<outDir>/<name>` (parquet),
    * the queries that threw to `failed.json`, and every registered twin
    * to `oracle_sql.json`. One failure never stops the others, so a
    * broken query cannot hide the results of the rest. Returns the
    * failures. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           selected: Seq[Query]): Seq[QueryFailure] = {
    new java.io.File(outDir).mkdirs()
    val failed = selected.flatMap { q =>
      try {
        q.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${q.name}")
        None
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
          Some(QueryFailure(q.name, e))
      }
    }
    Files.writeString(Paths.get(s"$outDir/failed.json"),
      QueryFailure.jsonArray(failed))
    import QueryFailure.jsonString
    val json = SparkEntry.registry
      .map(q => s"${jsonString(q.name)}: ${jsonString(q.oracleSql)}")
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
