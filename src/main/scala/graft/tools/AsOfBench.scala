package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Measures what whole-stage codegen could possibly buy AsOfJoinExec
  * (VERDICT r5 ask #3): the operator executes its two-pointer sweep as an
  * iterator `doExecute` outside WholeStageCodegen, while its children
  * (shuffle exchange + per-partition sort on both sides) codegen normally.
  * Fusing the sweep could at most remove the sweep's own per-row virtual
  * calls — so time the exec's exact inputs drained WITHOUT the sweep
  * (same distribution + ordering, `toRdd.foreachPartition` drain, no agg
  * on top that could let the optimizer elide the sort) against the full
  * native join, and against the window form it replaces.
  *
  * Usage: runMain graft.tools.AsOfBench [sfDir] — prints one JSON line:
  * children_sec (exchange+sort both sides), native_sec (children +
  * sweep + unsafe projection), sweep_share (native − children, as a
  * fraction of native), window_sec (the expand+rank form, for scale).
  */
object AsOfBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/tmp/sf1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.engine.Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    def drain(df: DataFrame): Unit =
      df.queryExecution.toRdd.foreachPartition { it =>
        while (it.hasNext) it.next()
      }
    def time(df: => DataFrame, repeat: Int = 3): Double =
      (1 to repeat).map { _ =>
        val t0 = System.nanoTime()
        drain(df)
        (System.nanoTime() - t0) / 1e9
      }.min

    def leftSide = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("ts"))
    def rightSide = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))

    // the exec's requiredChildDistribution/Ordering, reproduced exactly;
    // the explicit top-level sortWithinPartitions cannot be elided
    // because the drain consumes the sorted output itself.
    // MEASUREMENT BIAS: the two child pipelines run as separate
    // sequential jobs here, while the native run overlaps both subtrees
    // inside one job — so sweep_sec = native − children is an ESTIMATE
    // that can over- or understate the sweep (and is clamped at 0). The
    // JSON carries the estimator name so readers don't mistake it for a
    // direct measurement.
    def childrenOnly: Double =
      time(leftSide.repartition(col("user_id"))
        .sortWithinPartitions("user_id", "ts")) +
      time(rightSide.repartition(col("o_custkey"))
        .sortWithinPartitions("o_custkey", "o_orderdate", "o_orderkey"))

    def native = graft.plans.AsOf.join(leftSide, rightSide,
      "user_id", "o_custkey", "ts", "o_orderdate", "o_orderkey")

    def window = {
      import org.apache.spark.sql.expressions.Window
      val e = leftSide.alias("e")
      val o = rightSide.alias("o")
      val w = Window.partitionBy(col("e.event_id"))
        .orderBy(col("o.o_orderdate").desc_nulls_last,
          col("o.o_orderkey").desc_nulls_last)
      e.join(o, col("e.user_id") === col("o.o_custkey") &&
          col("o.o_orderdate") <= col("e.ts"), "left")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
    }

    // scenario 2 — the broadcast strategy's regime: a fact-scale probe
    // (lineitem, 6M rows at sf1) as-of joining a SMALL reference table
    // (one rate epoch per supplier, |supplier| rows). The sorted-merge
    // form must exchange+sort the whole probe side; the broadcast form
    // ships the reference index and never moves the probe.
    def probe = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    def rates = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"),
        expr("timestamp'1995-01-01' + make_interval(0, 0, 0, " +
          "cast(s_suppkey % 365 AS int), 0, 0, 0)").as("rate_from"),
        col("s_suppkey").as("rate_id"))
    def refMerge = graft.plans.AsOf.join(probe, rates,
      "l_suppkey", "s_suppkey", "l_shipdate", "rate_from", "rate_id")
    def refBcast = graft.plans.AsOf.join(probe, rates,
      "l_suppkey", "s_suppkey", "l_shipdate", "rate_from", "rate_id",
      broadcastRight = true)

    // warmup: JIT + codegen compile outside any timing window
    drain(native); drain(window); drain(refMerge); drain(refBcast)

    val childrenSec = childrenOnly
    val nativeSec = time(native)
    val windowSec = time(window)
    val sweepSec = math.max(0.0, nativeSec - childrenSec)
    val refMergeSec = time(refMerge)
    val refBcastSec = time(refBcast)
    println(s"""{"sf_dir":"$sfDir","children_sec":$childrenSec,""" +
      s""""native_sec":$nativeSec,"sweep_sec":$sweepSec,""" +
      s""""sweep_share":${sweepSec / nativeSec},""" +
      s""""sweep_estimator":"native_minus_sequential_children_clamped_at_0",""" +
      s""""window_sec":$windowSec,""" +
      s""""ref_merge_sec":$refMergeSec,"ref_broadcast_sec":$refBcastSec}""")
    spark.stop()
  }
}
