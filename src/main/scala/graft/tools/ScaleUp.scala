package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-data scale-up: replicate an SF directory `factor`× with disjoint,
  * referentially-consistent key spaces — copy i shifts every key k to
  * k + i·(max_k+1), with the SAME shift applied to every foreign-key
  * column that references the table, so joins behave exactly as they do
  * at the base SF while row counts (and join fan-outs) grow linearly.
  *
  * Exists to produce the sf1 bench point the round-4 verdict asked for
  * (testdata ships sf0.001/0.01/0.1 only; TESTDATA.md forbids writing
  * there, so the scaled copy lands in a scratch dir). `region`/`nation`
  * stay fixed like TPC-H; every other table scales.
  *
  * Document-duplication modes:
  *  - default: copy i carries a ` copy$i` tail — copies stay NEAR-dups
  *    of each other (only the last shingle changes), so every doc gains
  *    ~factor near-twins and the near-dup pair graph grows ×factor² —
  *    a replication ARTIFACT no real ×factor corpus growth exhibits,
  *    which buries operator scaling under known artifact geometry for
  *    every pair-graph/CC consumer (SCALE_r08.md's q134/q142/q147
  *    rows).
  *  - `--noDupAmplify`: copy i≥1 prefixes EVERY token (`c$i_...`), so
  *    copies share no shingles with the original or each other — the
  *    corpus grows ×factor with near-constant dup structure — except a
  *    FIXED plant: copy 1 keeps the first [[PLANT_FAMILIES]] base ids
  *    verbatim, giving a constant number of exact-dup families (size 2)
  *    at every factor so dedup operators stay non-vacuous. Use this
  *    mode to measure how an operator scales with CORPUS size rather
  *    than with the artifact's pair blow-up.
  *
  * Usage: runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>
  *        [--noDupAmplify]
  */
object ScaleUp {
  /** Dup families planted under `--noDupAmplify`: constant in factor. */
  val PLANT_FAMILIES = 200L

  def main(args: Array[String]): Unit = {
    val noDupAmplify = args.contains("--noDupAmplify")
    val Array(src, dst, factorS) = args.filterNot(_.startsWith("--"))
    val factor = factorS.toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.engine.Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")

    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def span(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    // key spans from the base SF, applied to every referencing column
    val oSpan = span(rd("orders"), "o_orderkey")
    val cSpan = span(rd("customer"), "c_custkey")
    val sSpan = span(rd("supplier"), "s_suppkey")
    val pSpan = span(rd("part"), "p_partkey")
    val eSpan = span(rd("events"), "event_id")
    val dSpan = span(rd("documents"), "doc_id")
    val vSpan = span(rd("embeddings"), "vec_id")

    /** factor copies of df, each with its keyed columns shifted; `mark`
      * optionally perturbs a copy (used to keep replicated documents from
      * being exact duplicates of each other — verbatim copies would give
      * every doc `factor` twins and blow the near-dup pair count up
      * quadratically, which no real corpus growth does). */
    def rep(df: DataFrame, shifts: Map[String, Long],
            mark: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { i =>
        mark(shifts.foldLeft(df) { case (d, (c, sp)) =>
          d.withColumn(c, col(c) + lit(i * sp))
        }, i)
      }.reduce(_ unionAll _)

    val plan: Seq[(String, DataFrame)] = Seq(
      "region" -> rd("region"),
      "nation" -> rd("nation"),
      "customer" -> rep(rd("customer"), Map("c_custkey" -> cSpan)),
      "supplier" -> rep(rd("supplier"), Map("s_suppkey" -> sSpan)),
      "part" -> rep(rd("part"), Map("p_partkey" -> pSpan)),
      "orders" -> rep(rd("orders"),
        Map("o_orderkey" -> oSpan, "o_custkey" -> cSpan)),
      "lineitem" -> rep(rd("lineitem"),
        Map("l_orderkey" -> oSpan, "l_partkey" -> pSpan,
          "l_suppkey" -> sSpan)),
      "events" -> rep(rd("events"),
        Map("event_id" -> eSpan, "user_id" -> cSpan)),
      "documents" -> rep(rd("documents"), Map("doc_id" -> dSpan),
        (d, i) =>
          if (i == 0) d
          else if (noDupAmplify)
            d.withColumn("text",
              when(lit(i) === 1 &&
                  col("doc_id") - lit(dSpan) < PLANT_FAMILIES, col("text"))
                .otherwise(
                  regexp_replace(col("text"), "(\\S+)", s"c${i}_$$1")))
          else d.withColumn("text", concat(col("text"), lit(s" copy$i")))),
      "embeddings" -> rep(rd("embeddings"), Map("vec_id" -> vSpan)))

    plan.foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scaleup] $t written")
    }
    spark.stop()
  }
}
