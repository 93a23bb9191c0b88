package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}

/** Loaders for the driver testdata layout (TESTDATA.md): one parquet file per
  * table under `/root/testdata/sf{0.001,0.01,0.1}/`.
  *
  * Mirrors the reference's source surface (SURVEY.md §2.1): the reference
  * reads JDBC tables (bronze_ingestion_script.py:49–57) and catalog/parquet
  * tables (transformations_script.py:147–153); here the analogous scan is a
  * plain parquet scan, which keeps Catalyst pushdown/pruning intact (the
  * `.explain` of every downstream query shows `PushedFilters`/`ReadSchema`
  * reaching these scans).
  *
  * Every loader runs through [[Silver.enforce]] against the declared
  * [[Schemas]] StructType (the reference's silver schema-enforcement step,
  * ref transformations_script.py:154–157) — plan-preserving `df.to(schema)`,
  * so pushdown and pruning still reach the scan below the enforcement.
  *
  * Session-wide settings (locale, UTC, nanosAsLong) live in
  * [[Sessions.tune]], applied once at the entry points — loaders do not
  * mutate session state.
  *
  * At 100 TB these would be partitioned/bucketed table scans behind the same
  * `DataFrame` surface — nothing downstream assumes single-file inputs.
  */
object Tables {

  /** Input bytes per [[spread]] partition: 64 KB, low because the
    * consumers are CPU-heavy per byte (minhash/shingle hashing, vector
    * math). */
  private val SPREAD_TARGET_BYTES = 64L << 10

  /** The local testdata tables are single parquet files → one input split,
    * which would serialize CPU-heavy downstream projections (hashing,
    * vector math). Spread across the cores first. At cluster scale the
    * scan itself provides splits and this small-table repartition is
    * noise; keyed operators downstream shuffle on their own keys
    * regardless. Shared by the Dedup/Sim pipelines — one definition, so a
    * future strategy change can't silently miss a copy.
    *
    * r16 (guide §2.2, the r15 buildSession argument applied to the batch
    * operators): the fan-out count is SIZE-DERIVED, not the host's core
    * count — one partition per [[SPREAD_TARGET_BYTES]] of the input's
    * optimizer-estimated bytes, capped at defaultParallelism (exactly
    * today's value, so the ×100
    * corpus and any real cluster see the IDENTICAL fan-out as before —
    * only the small-data regime stops paying 32 tasks per downstream
    * stage to process a few thousand rows). Unknown stats (non-scan
    * inputs) hit the cap, i.e. the pre-r16 behavior. */
  private[engine] def spread(df: DataFrame): DataFrame = {
    val cap = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n =
      if (bytes <= 0 || bytes >= BigInt(Long.MaxValue)) cap
      else math.min((bytes / SPREAD_TARGET_BYTES + 1).toLong, cap.toLong).toInt
    df.repartition(n)
  }

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Raw scan, no schema enforcement (bronze shape). */
  def raw(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Enforced scan (silver shape): raw parquet reconciled to the declared
    * StructType. V1 wired into the query path — every downstream query
    * exercises it. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = if (name == "events") eventsRaw(spark, dir) else raw(spark, dir, name)
    Schemas.all.get(name).map(Silver.enforce(df, _)).getOrElse(df)
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The events table's `ts` physical parquet type varies by writer:
    * TIMESTAMP(NANOS) scans as raw-nanos long under `nanosAsLong`
    * ([[Sessions.tune]]) and is converted to TimestampType via exact integer
    * division (the same ns→µs truncation DuckDB's epoch_us() applies);
    * TIMESTAMP(MICROS) scans as TimestampType directly and is left
    * untouched. The guard keys off the *scanned* type, so both kinds of
    * file read correctly without configuration. The streaming twin
    * ([[graft.streaming.EventsStream.readEvents]]) applies the same guard
    * from a footer probe. */
  private def eventsRaw(s: SparkSession, d: String): DataFrame = {
    val df = raw(s, d, "events")
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df
  }
}
