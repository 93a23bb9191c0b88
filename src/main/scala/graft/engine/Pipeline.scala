package graft.engine

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.sources.Sources

/** Medallion pipeline runner with retry (O1/O2, SURVEY.md §2.12): the
  * reference's Step Functions DAG (extract → silver → gold, ref
  * stepfunctions.tf:8–226) with its 3-attempt / 2×-backoff retry policy
  * (ref stepfunctions.tf:17–22), as ordinary Scala. The stages run in
  * order; the tables within a stage are independent of each other and run
  * concurrently ([[concurrently]]).
  *
  * Layering composes through the filesystem exactly like the reference's
  * S3 buckets: each stage writes `$out/<layer>/<table>.parquet` and the next
  * stage reads it back through the same [[Tables]] loaders (the layout is
  * loader-compatible by construction). Gold facts land hive-partitioned by
  * year/month ([[Gold.writePartitioned]]) so downstream readers get
  * partition pruning — the reference's one real performance feature.
  */
object Pipeline {

  /** O2 — retry with exponential backoff (3 attempts, 2× — ref
    * stepfunctions.tf:17–22). Deliberately driver-side control flow: retry
    * wraps whole stages, never per-row work. */
  def retry[T](attempts: Int = 3, initialBackoffMs: Long = 1000)(f: => T): T = {
    var backoff = initialBackoffMs
    var left = attempts
    while (true) {
      try return f
      catch {
        // NonFatal only: retrying after an OutOfMemoryError re-runs a full
        // stage on a corrupted heap, and swallowing InterruptedException
        // breaks cancellation — both must propagate immediately.
        case e: Throwable if scala.util.control.NonFatal(e) && left > 1 =>
          left -= 1
          Thread.sleep(backoff)
          backoff *= 2
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Run independent units of work at once and return their results in
    * input order. At small scale a table write is one or two Spark jobs
    * that leave most cores idle, so a stage that ran its writes one after
    * another paid the sum of their driver latencies; run together it pays
    * about the slowest one.
    *
    * Each unit gets a fresh daemon thread named `graft-<tag>-<name>`, not
    * a pool: a new thread inherits the caller's Spark local properties
    * (job group, scheduler pool, tracing span), while a pooled thread
    * keeps those of whichever thread created it. Admission is unbounded;
    * callers pass one stage's tables, about a dozen units at most.
    *
    * Every thread is joined before this returns or throws, even if the
    * caller is interrupted mid-join: nothing a unit writes can outlive the
    * call (a writer lease around it stays held until the units are done).
    * After the drain an interrupt is re-asserted on the caller and thrown
    * as an `InterruptedException`, so the next stage never starts; else
    * the first failure in input order is rethrown. Any other failures are
    * suppressed on the one thrown. */
  def concurrently[T](tag: String, units: Seq[(String, () => T)]): Seq[T] = {
    val results = new Array[Any](units.size)
    val failures = new Array[Throwable](units.size)
    val threads = units.zipWithIndex.map { case ((name, unit), i) =>
      val t = new Thread(() =>
        // Throwable, not NonFatal: nothing is swallowed, every failure is
        // rethrown on the caller's thread below.
        try results(i) = unit() catch { case e: Throwable => failures(i) = e },
        s"graft-$tag-$name")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive) {
        try t.join()
        catch { case _: InterruptedException => interrupted = true }
      }
    }
    if (interrupted) Thread.currentThread().interrupt()
    val interrupt =
      if (interrupted) Seq(new InterruptedException(s"interrupted joining $tag"))
      else Nil
    (interrupt ++ failures.filter(_ != null)) match {
      case first +: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case _ => results.toSeq.asInstanceOf[Seq[T]]
    }
  }

  /** Full bronze→silver→gold run from a testdata dir into `$out/...`.
    * Returns the per-stage names executed (for the smoke test). */
  def run(spark: SparkSession, sfDir: String, out: String,
          initialBackoffMs: Long = 1000): Seq[String] = {
    val stages = Seq[(String, () => Unit)](
      "bronze" -> (() => bronze(spark, sfDir, out)),
      "silver" -> (() => silver(spark, out)),
      "gold"   -> (() => gold(spark, out)))
    stages.map { case (name, stage) =>
      retry(3, initialBackoffMs)(stage())
      name
    }
  }

  /** Bronze: land every source table as parquet, overwrite mode (ref
    * bronze_ingestion_script.py:60–61). One table routes through CSV to
    * exercise the S8 reader on real pipeline data. */
  def bronze(spark: SparkSession, sfDir: String, out: String): Unit =
    concurrently("bronze", Tables.names.map { t => t -> { () =>
      val df = t match {
        // events: ns→µs timestamp normalization happens at ingest
        case "events" => Tables.events(spark, sfDir)
        case "nation" =>
          // CSV detour: land+read the nation table as headered CSV (S8)
          Sources.writeCsv(Tables.raw(spark, sfDir, "nation"), s"$out/landing/nation_csv")
          Sources.readCsv(spark, s"$out/landing/nation_csv", Schemas.nation)
        case other => Tables.raw(spark, sfDir, other)
      }
      df.write.mode("overwrite").parquet(s"$out/bronze/$t.parquet")
    }})

  /** Silver: schema enforce + validate + dedup per table (ref
    * transformations_script.py:147–181). Returns per-table
    * (rows_in, rows_out) read from `observe()` metrics — row accounting
    * piggybacks on the write job itself (CollectMetrics), so the audit
    * costs zero extra passes over the data. The reference logs row counts
    * per table (transformations_script.py:171) with separate count()
    * actions; at 100 TB a second pass per table is a second full scan. */
  def silver(spark: SparkSession, out: String): Map[String, (Long, Long)] =
    concurrently("silver", Tables.names.map { t => t -> { () =>
      val obsIn = Observation(s"silver_in_$t")
      val obsOut = Observation(s"silver_out_$t")
      val raw = Tables.raw(spark, s"$out/bronze", t)
        .observe(obsIn, count(lit(1)).as("n"))
      val enforced = Schemas.all.get(t).map { s =>
        val e = Silver.enforce(raw, s)
        Silver.validate(e, s)
        e
      }.getOrElse(raw)
      Silver.dedup(enforced)
        .observe(obsOut, count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$out/silver/$t.parquet")
      t -> (obsIn.get("n").asInstanceOf[Long], obsOut.get("n").asInstanceOf[Long])
    }}).toMap

  /** Gold: star-schema builders over the silver layer, fact partitioned by
    * year/month, dims unpartitioned (ref gold_data_curation_script.py). */
  def gold(spark: SparkSession, out: String): Unit = {
    val silverDir = s"$out/silver"
    def dim(name: String, build: (SparkSession, String) => DataFrame) =
      name -> (() => Gold.writeDim(build(spark, silverDir), s"$out/gold/$name"))
    concurrently("gold", Seq(
      "fact_orders" -> (() => Gold.writePartitioned(
        Gold.factOrders(spark, silverDir), s"$out/gold/fact_orders")),
      dim("dim_date", Gold.dimDate),
      dim("dim_customer", Gold.dimCustomer),
      dim("dim_region_nation", Gold.dimRegionNation),
      dim("dim_part", Gold.dimPart),
      dim("dim_review", Gold.dimReview),
      dim("dim_dispute", Gold.dimDispute)))
  }
}
