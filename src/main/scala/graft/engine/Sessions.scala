package graft.engine

import java.util.Locale

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.util.ConfigUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

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
    *  - Spark's generated-class cache, sized to [[CodegenCacheEntries]].
    *    Compiled whole-stage and expression classes live in one JVM-wide
    *    LRU cache whose size `CodeGenerator` reads once, when it is first
    *    used. Spark's 100 entries are fewer than one warm pass over a
    *    workload needs (about 140 classes for perfbench's `query_mix`, 190
    *    for `ingest_write`), so every pass compiled its classes again. `tune`
    *    initializes `CodeGenerator` under the larger size, unless the
    *    caller set `spark.sql.codegen.cache.maxEntries` on its builder,
    *    whose value is kept. A JVM that ran a query before `tune` keeps the
    *    size it started with; that costs speed only, never results.
    *  - No YARN defaults in the SparkContext's Hadoop conf: every key whose
    *    only source is `yarn-default.xml` (520 of about 1,090) is unset.
    *    Every `newHadoopConf()` copies that conf, and Spark serializes a copy
    *    into every parquet-scan broadcast, state-store RDD and write task, on
    *    the scheduler thread and again in the task; no YARN code runs under
    *    `local[*]`. The `core-default.xml` and `mapred-default.xml` keys, read
    *    by the filesystems and the output committers, stay. Order matters:
    *    `yarn-default.xml` is registered first (as `JobConf` does), and the
    *    trim follows the `spark.conf.set` calls, whose SharedState loads the
    *    FileSystem services: registering a default resource (HDFS's, there)
    *    reloads every live conf and brings the unset keys back. A conf copied
    *    before `tune`, or reloaded by a later registration, keeps the YARN
    *    keys; that costs speed only, never results.
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
    // CodeGenerator's static initializer sizes its cache from SQLConf.get;
    // a method call runs it (its int constants are inlined instead)
    val entries = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES
    val codegen = new SQLConf
    codegen.setConf(entries, spark.sparkContext.getConf.getInt(entries.key, CodegenCacheEntries))
    SQLConf.withExistingConf(codegen)(CodeGenerator.compileTime)
    Locale.setDefault(Locale.US)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    dropYarnDefaults(spark.sparkContext.hadoopConfiguration)
    spark
  }

  /** Unset every key of `conf` whose only source is `yarn-default.xml`. */
  private def dropYarnDefaults(conf: Configuration): Unit = {
    ConfigUtil.loadResources() // registers yarn-default.xml, as JobConf does
    conf.iterator.asScala.map(_.getKey).toList
      .filter(k => Option(conf.getPropertySources(k))
        .exists(_.sameElements(Seq("yarn-default.xml"))))
      .foreach(conf.unset)
  }

  /** Generated classes kept by Spark's codegen cache: ten times one
    * perfbench pass. A JVM that runs the whole registry compiles about
    * 4,000 and fills it; the full cache then holds about 65 MB of heap. */
  val CodegenCacheEntries = 2000

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
