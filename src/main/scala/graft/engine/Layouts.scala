package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout operators for the 100 TB join paths (brief: "bucketing
  * for co-located joins, salting for skew").
  *
  *  - [[writeBucketed]]: persist a table bucketed (and sorted) by its join
  *    key. Two tables bucketed the same way join with **zero exchange** —
  *    the shuffle is paid once at write time and amortized over every
  *    subsequent join. LayoutsSpec asserts the exchange-free plan.
  *  - [[saltedJoin]]: explode a hot key across SALT sub-keys when one side
  *    is skewed beyond what AQE's skew-join splitting handles: the big side
  *    gets a deterministic per-row salt, the small side is replicated SALT
  *    ways, and the join key becomes (key, salt) — spreading one executor's
  *    hot partition across SALT of them.
  */
object Layouts {

  /** Bucketed+sorted persist into the session catalog (bucket metadata
    * lives in the catalog, so `saveAsTable` is required — a plain
    * `.parquet(path)` write cannot record bucketing). */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .format("parquet")
      .option("path", path)
      .bucketBy(buckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Salted equi-join of a skewed `big` side against a `small` side on
    * `key`. The salt is a deterministic hash of the big row (no RNG — plans
    * stay reproducible); the small side replicates `salts`×, so use only
    * for genuinely small/bounded right sides. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
                 salts: Int): DataFrame = {
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.toIndexedSeq.map(col): _*), lit(salts)))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(salts - 1L))))
    saltedBig.join(saltedSmall, Seq(key, "__salt")).drop("__salt")
  }

  /** Small-file compaction — the maintenance pass every streaming/
    * incremental lake table needs: micro-batches and per-task writers leave
    * hundreds of KB-sized files, and at 100 TB the scan's task-scheduling
    * and footer-reading overhead comes to dominate (the "small files
    * problem"). Rewrite the directory into `targetFiles` right-sized files.
    *
    * `repartition(n)` (round-robin shuffle) rather than `coalesce(n)`:
    * coalesce merges in place but caps upstream parallelism of everything
    * it fuses with and can produce wildly uneven files from uneven inputs;
    * the compaction shuffle is the price of even output sizes, paid once.
    * Writes to a fresh directory then swaps it in through
    * [[IndexMaintenance.rewrite]]: the live copy is renamed aside before
    * the compacted one takes its place, so a failed swap never loses data
    * and the table is gone only between two renames, never while bytes
    * are being deleted. */
  def compact(spark: SparkSession, dir: String, targetFiles: Int): Unit =
    IndexMaintenance.rewrite(spark, dir) { staging =>
      spark.read.parquet(dir).repartition(targetFiles)
        .write.mode("overwrite").parquet(staging)
    }
}
