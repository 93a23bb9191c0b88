package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.engine.{Lineages, Pipeline, Sessions}

/** Perf surface: builds the one-time lineages in an untimed preamble
  * ([[prewarm]], full runs only), times every selected query and prints
  * two JSON lines. A query that throws gets no time: both lines list it
  * under `"failed"`, it is left out of `total` and `n_queries`, and the
  * process exits 1, as it does when the warmup or a preamble build
  * fails. */
object Bench {

  /** What the bench measured. `times`: seconds per query that ran, in
    * run order. `prewarmWallS`: wall of the one-time lineage builds, run
    * before the query loop by the preamble (`prewarmHost` "preamble"; 0.0
    * and "" when it did not run). `prewarmS`: seconds of each preamble
    * build that finished, in build order. */
  final case class Result(times: Seq[(String, Double)],
                          failed: Seq[QueryFailure],
                          prewarmWallS: Double = 0.0,
                          prewarmHost: String = "",
                          prewarmS: Seq[(String, Double)] = Nil) {
    // total INCLUDES the prewarm wall (it is real elapsed work this
    // process did); it is just not any one query's number.
    def total: Double = times.map(_._2).sum + prewarmWallS

    def jsonLines(sfDir: String): Seq[String] = {
      def obj(kvs: Seq[(String, Double)]): String =
        kvs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
      val qs = obj(times)
      val fs = QueryFailure.jsonArray(failed)
      Seq(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$fs,"prewarm_wall_s":$prewarmWallS,"prewarm_s":${obj(prewarmS)},"prewarm_host":"$prewarmHost","sf":"$sfDir"}""",
        // Compact totals as the LAST stdout line: the artifact capture
        // keeps a bounded tail of stdout, and the full per-query line
        // above outgrew it (200+ queries), leaving the artifact with no
        // machine-readable totals. This line always survives truncation.
        s"""{"total_s":$total,"n_queries":${times.size},"failed":$fs,"prewarm_wall_s":$prewarmWallS,"prewarm_host":"$prewarmHost","sf":"$sfDir"}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus.toInt)
    // Deployment partitioning knob: at a fixed 32 shuffle partitions the
    // n·log n sorters (q48/q93/q101) spill at ×100 data; a real cluster
    // scales partitions with data. SCALE_r13 measures that claim with
    // this override instead of arguing it.
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").foreach(p =>
      spark.conf.set("spark.sql.shuffle.partitions", p))
    spark.sparkContext.setLogLevel("WARN")
    // Bench the deployment path: q195's exact-distinct validation branch
    // exists only so the oracle can audit the KMV estimate — at deployment
    // scale it is dropped (that is the sketch's whole point), so the
    // benched number should be the sketch's bounded-state cost, not the
    // cost of the exact twin the sketch replaces. Verify/specs leave the
    // flag at its default (on), so the oracle still checks every column.
    spark.conf.set("graft.kmv.exact", "0")
    // Optional comma-separated name patterns for iterating on one query's
    // plan (SparkEntry.select); queries run in name order.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
    val selected = SparkEntry.select(only).sortBy(_.name)
    // Untimed warmup: exercise parquet scan + shuffle + codegen against the
    // bench directory itself (region is the smallest table; the synthetic
    // aggregate warms the code generator and JIT, not any timed query's
    // compiled classes, since it matches no timed query's plan),
    // so JVM/classloading startup cost doesn't land on whichever timed
    // query runs first (in r01 it inflated the first query by ~5s). A
    // failed warmup is recorded — silently skipping it would make per-query
    // numbers incomparable across rounds with no signal why.
    val warmupFailed = try {
      spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy("r_regionkey").count().count()
      spark.range(1000000L).selectExpr("sum(id * 2) AS s").count()
      // r16 (VERDICT r15 item 3, additions-only): the scan+agg warmup
      // above misses the broadcast-join, window, range-partitioned-sort,
      // object-aggregate and sort-merge-join machinery — first-use
      // class-loading/JIT for those shapes landed on whichever timed
      // query hit them first (driver-measured: q02 4.4 s @32 cores vs
      // ~0.5 s @8, q101 6.7 s vs ~1.4 s — position-in-run-order costs,
      // not plan costs). All warmups run UNTIMED against synthetic
      // ranges or the two ≤25-row dims; none matches a timed query's
      // plan. Timing methodology is unchanged.
      val nat = spark.read.parquet(s"$sfDir/nation.parquet")
      nat.join(spark.read.parquet(s"$sfDir/region.parquet").hint("broadcast"),
        nat("n_regionkey") === org.apache.spark.sql.functions.col("r_regionkey"))
        .count()
      spark.sql("""SELECT k, max(rn) FROM (
        SELECT k, row_number() OVER (PARTITION BY k ORDER BY id) AS rn
        FROM (SELECT id % 97 AS k, id FROM range(1000000))) GROUP BY k""")
        .count()
      spark.sql("""SELECT k, collect_list(id) AS l FROM
        (SELECT id % 1001 AS k, id FROM range(100000)) GROUP BY k""").count()
      spark.sql("""SELECT /*+ MERGE(y) */ count(*) FROM
        (SELECT id AS a FROM range(1000000)) x JOIN
        (SELECT id AS a FROM range(1000000)) y ON x.a = y.a""").count()
      spark.range(1000000L).selectExpr("(id * 2654435761) % 1000003 AS v")
        .orderBy("v")
        .write.format("noop").mode("overwrite").save()
      None
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench] warmup failed: ${e.getMessage}")
        Some(QueryFailure("warmup", e))
    }
    // The one-time lineage builds run UNTIMED here, before the query
    // loop: every lineage query's number is then a pure cache serve
    // (comparable across rounds), and the wall is its own reported line.
    // A SPARK_GRAFT_ONLY run skips it, so each selected query builds
    // only its own lineage, inside its own timing.
    val pre =
      if (only.isEmpty) prewarm(Lineages.all.map(l =>
        l.name -> (() => { Lineages.out(l, spark, sfDir); () })))
      else Result(Nil, Nil)
    // Local-iteration knob: run each query N times, report the minimum (the
    // warm number — what the plan actually costs). Repeats reuse the first
    // run's compiled classes only while the codegen cache holds them:
    // Sessions.tune sizes it to 2000 classes, where Spark's 100 dropped
    // them whenever more than about 100 were in use. Official rounds set
    // no env, so they keep the single-run cold+warm mix and stay
    // comparable with prior BENCH_r*.json.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT").map(_.toInt).getOrElse(1).max(1)
    val r = run(spark, sfDir, selected, repeat)
    val result = pre.copy(times = r.times,
      failed = warmupFailed.toSeq ++ pre.failed ++ r.failed)
    result.jsonLines(sfDir).foreach(println)
    spark.stop()
    if (result.failed.nonEmpty) sys.exit(1)
  }

  /** The timed loop: per query, the minimum of `repeat` timed
    * `run(spark, sfDir).count()` calls, or its failure. */
  def run(spark: SparkSession, sfDir: String, selected: Seq[Query],
          repeat: Int = 1): Result = {
    val outcomes = selected.map { q =>
      val runs = (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        // A failed query gets no number: time-to-exception would make a
        // broken query read as a performance win in the JSON.
        val error = try { q.run(spark, sfDir).count(); None } catch {
          case NonFatal(e) =>
            System.err.println(s"[bench] ${q.name} FAILED: ${e.getMessage}")
            Some(e)
        }
        val t = (System.nanoTime() - t0) / 1e9
        // Release state a query left behind (persisted/localCheckpointed RDDs
        // from iterative operators, cached views) so block-manager memory
        // doesn't accumulate across 50+ queries and trigger a full GC inside
        // some unlucky later query's timing window.
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        spark.catalog.clearCache()
        // Collect the previous query's garbage OUTSIDE any timing window:
        // otherwise an allocation-heavy query's tenured garbage surfaces as
        // a multi-second full-GC spike inside some later query's timing
        // (observed: same query 2.7s vs 10.2s run-to-run).
        System.gc()
        error.toLeft(t)
      }
      q.name -> runs.collectFirst { case Left(e) => e }
        .toLeft(runs.collect { case Right(t) => t }.min)
    }
    Result(outcomes.collect { case (n, Right(t)) => n -> t },
      outcomes.collect { case (n, Left(e)) => QueryFailure(n, e) })
  }

  /** The untimed preamble: run `builds` at once ([[Pipeline.concurrently]])
    * and report their wall as `prewarmWallS`. A build that throws is
    * recorded as the failure `prewarm` once every other build has
    * finished; its queries then rebuild the lineage themselves (a cache
    * stores nothing for a build that threw).
    *
    * Admission stays UNBOUNDED on purpose (r15, measured): these builds
    * are micro-batch-commit/IO-wait bound, not CPU bound, so a bounded
    * width only serializes wait — the full 19-lineage wall read 14.8 s
    * unbounded vs 19.4/16.7/24.4 s at widths 6/10/4 (OPTIMIZATION_r15.md,
    * same host, fresh JVM each). */
  def prewarm(builds: Seq[(String, () => Unit)]): Result = {
    val t0 = System.nanoTime()
    // per-lineage build seconds: the wall is max(lineage), not sum —
    // these show which lineage sets the critical path. Each unit writes
    // only its own slot, and every unit is joined before they are read.
    val secs = Array.fill[Option[Double]](builds.size)(None)
    val failed = try {
      Pipeline.concurrently("prewarm", builds.zipWithIndex.map {
        case ((tag, build), i) => tag -> (() => {
          val t1 = System.nanoTime()
          try build() catch {
            case NonFatal(e) =>
              System.err.println(s"[prewarm] $tag failed: ${e.getMessage}")
              throw e
          }
          secs(i) = Some((System.nanoTime() - t1) / 1e9)
          System.err.println(f"[prewarm] $tag built in ${secs(i).get}%.1f s")
        })
      })
      Nil
    } catch {
      case NonFatal(e) => Seq(QueryFailure("prewarm", e))
    }
    Result(Nil, failed, (System.nanoTime() - t0) / 1e9, "preamble",
      builds.map(_._1).zip(secs).collect { case (tag, Some(s)) => tag -> s })
  }
}
