package graft.engine

import java.util.Locale

import org.apache.spark.sql.SparkSession

/** Session-level environment setup, applied once per SparkSession at the
  * entry points — NOT inside table loaders, so no reader mutates global
  * state as a side effect of being called (a trap once queries run
  * concurrently). [[local]] is the one place that builds a session: every
  * main (graft.Verify, graft.Bench, the graft.tools harnesses) and the
  * test fixture call it. [[tune]] alone serves sessions built elsewhere
  * ([[graft.SparkEntry.entry]] tunes the session its caller passes in).
  */
object Sessions {

  /** Apply the session-wide settings every entry point needs.
    *
    *  - [[LocalFiles]]: the `file:` filesystem that creates files and
    *    directories and reads links without forking `chmod`/`readlink`.
    *    It is set on the SparkContext's Hadoop configuration and is
    *    JVM-wide in effect, because Hadoop caches one FileSystem per scheme.
    *    It must come before the first `spark.conf.set`: that call builds the
    *    session's SharedState, which creates and caches the `file:`
    *    FileSystem. A `file:` FileSystem cached earlier in the JVM keeps the
    *    stock class; that costs speed only, never results.
    *  - `Locale.US`: month/day names from `date_format("MMMM"/"EEEE")` must
    *    match DuckDB's English `monthname()`/`dayname()` regardless of the
    *    container locale (build.sbt additionally pins -Duser.language=en for
    *    forked JVMs; this covers driver-created sessions).
    *  - `nanosAsLong`: a TIMESTAMP(NANOS)-written events file would
    *    otherwise be rejected by Spark's vectorized reader
    *    ([PARQUET_TYPE_ILLEGAL]); with the flag it scans as raw-nanos long
    *    and [[Tables.events]] converts to TimestampType with exact integer
    *    division. Harmless for TIMESTAMP(MICROS) files, which scan as
    *    TimestampType regardless — the loaders key off the scanned type.
    *  - UTC: date arithmetic (sequence/date_trunc) must agree with DuckDB
    *    (SURVEY.md §7 risk 5).
    */
  def tune(spark: SparkSession): SparkSession = {
    LocalFiles.install(spark.sparkContext.hadoopConfiguration)
    Locale.setDefault(Locale.US)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark
  }

  /** Local session for the mains and the tests: `local[cores]`, shuffle
    * partitions sized to cores (not the 200 default — SURVEY.md §4), AQE
    * left on, the graft SQL extensions installed, no UI, then [[tune]].
    * A caller that wants another partition count sets
    * `spark.sql.shuffle.partitions` on the returned session. */
  def local(cores: Int = 4, appName: String = "graft"): SparkSession =
    tune(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
}
