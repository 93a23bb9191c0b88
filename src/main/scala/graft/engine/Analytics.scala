package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Statistical / decision-analytics operators (beyond-reference depth).
  * Every one keeps the float-discipline rule: comparisons and aggregations
  * run on scaled integers (or decimals derived from them), so the oracle
  * hash-match is independent of partitioning and engine.
  */
object Analytics {
  import Tables._
  import Num._

  private val Dec = DecimalType(38, 0)

  // ----------------------------------------------------------- outliers

  /** 3σ outlier detection with exact integer algebra: row x is an outlier
    * iff (n·x − Σx)² > 9·(n·Σx² − (Σx)²) — the z-score test multiplied
    * through by n² so no division or square root ever happens. Sums are
    * price cents (BIGINT); the two quadratic forms are decimal(38,0)
    * (DuckDB: HUGEINT), giving ~1e38 headroom — Σx² alone would overflow
    * a signed 64-bit at ~1e6 rows/group, which is why the squares are
    * accumulated wide from the start.
    *
    * Scale shape: one map-side partial aggregate to k=3 stat rows,
    * broadcast back over the scan, flag map-only, re-aggregate. Two
    * passes over the fact, zero wide shuffles. */
  def outlierZscore(spark: SparkSession, dir: String): DataFrame = {
    val d = lineitem(spark, dir)
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("pc"))
    val stats = d.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("pc")).as("sx"),
        sum(col("pc").cast(Dec) * col("pc").cast(Dec)).as("sxx"))
    val lhsRoot = (col("n") * col("pc") - col("sx")).cast(Dec)
    val rhs = lit(9).cast(Dec) *
      (col("n").cast(Dec) * col("sxx") - col("sx").cast(Dec) * col("sx").cast(Dec))
    val flagged = d.join(broadcast(stats), "l_returnflag")
      .filter(lhsRoot * lhsRoot > rhs)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_outliers"),
        dollars(min(col("pc"))).as("outlier_lo"),
        dollars(max(col("pc"))).as("outlier_hi"))
    stats.select(col("l_returnflag"), col("n").as("n_rows"))
      .join(flagged, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("n_rows"),
        coalesce(col("n_outliers"), lit(0L)).as("n_outliers"),
        col("outlier_lo"), col("outlier_hi"))
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------- histogram

  /** Buckets per metric of the equi-width histogram. */
  val HIST_BUCKETS = 12

  /** Equi-width histograms for four lineitem metrics in one pass: unpivot
    * to (metric, value) on integer scales (quantity units, price cents,
    * discount/tax basis points), derive each metric's min/max, then
    * bucket with integer width = (mx−mn) div NB + 1 — every boundary an
    * integer, so bucket assignment is exact in both engines (the
    * width_bucket float path is deliberately avoided).
    *
    * Scale shape: the unpivot is map-only (one scan, 4× rows), the
    * min/max pass reduces to 4 rows broadcast back, the final aggregate
    * shuffles only (metric, bucket) keys. This is the stats-collection
    * query behind optimizer histograms (ANALYZE ... FOR COLUMNS). */
  def numericHistogram(spark: SparkSession, dir: String): DataFrame = {
    val long4 = lineitem(spark, dir).selectExpr(
      """stack(4,
        | 'quantity',    CAST(l_quantity AS BIGINT),
        | 'price_cents', CAST(round(l_extendedprice * 100) AS BIGINT),
        | 'discount_bp', CAST(round(l_discount * 10000) AS BIGINT),
        | 'tax_bp',      CAST(round(l_tax * 10000) AS BIGINT)
        |) AS (metric, v)""".stripMargin)
    val ranges = long4.groupBy(col("metric"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
      .withColumn("width",
        expr(s"(mx - mn) div ${HIST_BUCKETS}L + 1L"))
    long4.join(broadcast(ranges), "metric")
      .withColumn("bucket", expr("(v - mn) div width"))
      .groupBy(col("metric"), col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"),
        max(col("v")).as("hi"))
      .orderBy("metric", "bucket")
  }

  // ------------------------------------------------------------ skyline

  /** 2-D Pareto frontier (skyline) of parts: minimize retail price,
    * maximize size. Part d dominates c iff d.price ≤ c.price ∧ d.size ≥
    * c.size with one strict; identical (price, size) points are mutually
    * non-dominated and all kept.
    *
    * NOT the quadratic NOT-EXISTS anti-join (that's the oracle): collapse
    * to one candidate per distinct price (its max size), sort by price,
    * and keep a candidate iff its size strictly exceeds the running max
    * over all cheaper prices — the classic O(n log n) sweep, expressed as
    * one window. The window is a global sort over DISTINCT PRICES (already
    * aggregated, ≪ row count); at 100 TB, pre-aggregate per price
    * map-side first, and if even distinct prices overflow one reducer,
    * range-partition the sweep and stitch boundary maxima — the frontier
    * itself stays small. Rows join back against the frontier (price, size)
    * pairs broadcast, keeping duplicates. */
  def skylineParts(spark: SparkSession, dir: String): DataFrame = {
    val p = part(spark, dir)
      .select(col("p_partkey"), cents(col("p_retailprice")).as("price_cents"),
        col("p_size").cast("long").as("size"))
    val best = p.groupBy(col("price_cents"))
      .agg(max(col("size")).as("size"))
    // unpartitioned window, bounded by distinct price_cents (a price domain)
    val w = Window.orderBy(col("price_cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = best
      .withColumn("prevmax", max(col("size")).over(w))
      .filter(col("prevmax").isNull || col("size") > col("prevmax"))
      .select(col("price_cents"), col("size"))
    p.join(broadcast(frontier), Seq("price_cents", "size"))
      .select(col("p_partkey"),
        dollars(col("price_cents")).as("price"), col("size").as("p_size"))
      .orderBy(col("price"), col("p_size").desc, col("p_partkey"))
  }

  // ------------------------------------------------------------- drift

  /** Fixed absolute bucket width for the drift histogram (price cents →
    * $25k buckets; fixed edges, NOT data-derived, so the two periods bin
    * identically — the point of a drift comparison). */
  val DRIFT_BUCKET_CENTS = 2500000L
  val DRIFT_MAX_BUCKET = 15L
  /** Last year of the baseline period. */
  val DRIFT_SPLIT_YEAR = 1996

  /** Train/serve distribution-drift report — the skew check every
    * pipeline runs before trusting a model trained on period A with
    * period-B data: bucket both periods on fixed integer edges and emit
    * per-bucket rate deltas in exact ppm. |n_a/T_A − n_b/T_B| renders as
    * |n_a·T_B − n_b·T_A| · 10⁶ div (T_A·T_B) — the numerator routed
    * through decimal(38,0) (HUGEINT in the oracle) because int64
    * overflows it at only ~3·10⁶ fully-one-sided rows/period; 38 digits
    * give headroom past 10¹⁵ rows/period. No IEEE division anywhere, so
    * the report hashes identically at any parallelism. The summed ppm
    * column is 2·10⁶× the total-variation distance between the two
    * histograms.
    *
    * Scale shape: one scan, map-side bucket, aggregate to ≤17 buckets,
    * broadcast the two scalar totals back — nothing wide ever moves. */
  def distributionDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir).select(
      (year(col("o_orderdate")) <= DRIFT_SPLIT_YEAR).as("base"),
      cents(col("o_totalprice")).as("pc"))
      .select(col("base"), expr(
        s"least(pc div ${DRIFT_BUCKET_CENTS}L, ${DRIFT_MAX_BUCKET}L)")
        .as("bucket"))
    val counts = o.groupBy(col("bucket"))
      .agg(sum(when(col("base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(!col("base"), 1L).otherwise(0L)).as("n_current"))
    val totals = counts.agg(sum(col("n_base")).as("ta"),
      sum(col("n_current")).as("tb"))
    counts.crossJoin(broadcast(totals))
      .withColumn("drift_ppm",
        expr("abs(cast(n_base AS decimal(38,0)) * tb " +
          "- cast(n_current AS decimal(38,0)) * ta) * 1000000 " +
          "div (cast(ta AS decimal(38,0)) * tb)"))
      .select(col("bucket"), col("n_base"), col("n_current"), col("drift_ppm"))
      .orderBy("bucket")
  }

  // ------------------------------------------------------ robust stats

  /** MAD multiplier of the robust outlier rule. */
  val MAD_K = 3L

  /** Robust outlier detection — the median/MAD twin of the moment-based
    * [[outlierZscore]] (one extreme value shifts a mean and explodes a
    * variance, but moves a median by at most one rank): flag x where
    * |x − median| > [[MAD_K]]·MAD. Exact cross-engine arithmetic: an
    * integer-valued exact percentile interpolates only at .5, so 2·median
    * and 2·MAD are integers, and the rule compares as
    * 2·|2x − med2| > MAD_K·mad4 — all BIGINT, no float boundary.
    *
    * Scale shape: exact medians need a per-group sort — two aggregate
    * passes (median, then MAD of deviations), each a partial-agg shuffle
    * of (group, value) pairs; the 3-row stat table broadcasts back for
    * the map-only flagging pass. At petabyte group sizes swap the exact
    * percentile for approx_percentile and keep the identical plan. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d = lineitem(spark, dir)
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("pc"))
    val med = d.groupBy(col("l_returnflag"))
      .agg((percentile(col("pc"), lit(0.5)) * 2).cast("long").as("med2"))
    val dev = d.join(broadcast(med), "l_returnflag")
      .withColumn("adev2", abs(col("pc") * 2 - col("med2")))
    val mad = dev.groupBy(col("l_returnflag"))
      .agg((percentile(col("adev2"), lit(0.5)) * 2).cast("long").as("mad4"),
        count(lit(1)).as("n_rows"))
    dev.join(broadcast(mad), "l_returnflag")
      .withColumn("out", col("adev2") * 2 > lit(MAD_K) * col("mad4"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("n_rows")).as("n_rows"),
        sum(when(col("out"), 1L).otherwise(0L)).as("n_outliers"),
        dollars(max(col("med2")) / lit(2)).as("median"),
        dollars(max(col("mad4")) / lit(4)).as("mad"))
      .orderBy("l_returnflag")
  }

  // --------------------------------------------------- equi-depth bins

  /** Global equi-depth bin count. */
  val EQUIDEPTH_BINS = 8

  /** Global equal-frequency binning done the way 100 TB requires — the
    * scale-correct form [[Kpis.quantileBins]]' doc promises: a global
    * ntile would sort the whole table through one reducer; instead,
    * compute the [[EQUIDEPTH_BINS]]−1 exact percentile EDGES (one
    * aggregate), broadcast the tiny edge array, and assign each row its
    * bin with a map-side comparison — no global sort ever materializes
    * row order. Exactness: at p = k/8 the interpolation position
    * k·(n−1)/8 is a dyadic rational, so over integer cents every
    * intermediate (and the edge itself) is an exactly-representable
    * double in BOTH engines — 8·edge is a bit-exact BIGINT, no rounding
    * choice to disagree on. A row lands in the bin counting the edges
    * strictly below 8·x (ties at an edge fall to the lower bin, like
    * every production bucketizer); populations are approximately equal,
    * counts/bounds exact. */
  def equidepthGlobal(spark: SparkSession, dir: String): DataFrame = {
    val d = orders(spark, dir).select(cents(col("o_totalprice")).as("pc"))
    val ps = (1 until EQUIDEPTH_BINS).map(_.toDouble / EQUIDEPTH_BINS)
    val edges = d.agg(percentile(col("pc"),
      array(ps.map(lit): _*)).as("p"))
      .select(expr("transform(p, x -> CAST(x * 8 AS BIGINT))").as("edge8"))
    d.crossJoin(broadcast(edges))
      .withColumn("bin",
        expr("size(filter(edge8, e -> e < pc * 8L))").cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_orders"),
        dollars(min(col("pc"))).as("lo"), dollars(max(col("pc"))).as("hi"))
      .orderBy("bin")
  }

  /** Value-range shard width (log2) for the grouped-binning prefix sum:
    * no window partition ever exceeds 2^QB_SHARD_BITS distinct values,
    * regardless of group size or corpus size. */
  val QB_SHARD_BITS = 16

  /** Per-group equal-frequency binning at scale — the grouped form of
    * [[equidepthGlobal]], reproducing `ntile` OUTPUT exactly without ever
    * sorting a group's data rows in one partition (the
    * [[Kpis.quantileBins]] trap this replaces at 100 TB).
    *
    * The key observation: the query aggregates each bin to
    * (count, min pc, max pc) — and ntile's tie-break (orderkey) only
    * decides WHICH rows of a tied value run straddle a bin boundary,
    * never how many or what their value is. So the output is invariant
    * to the tie-break, and bins can be assigned per (group, value run)
    * from cumulative counts alone: ntile over (pc, okey) puts rank r in
    * bin 1 + #{b : R_b < r} with R_b = b·(n div B) + min(b, n mod B), so
    * a run occupying ranks (cum_lo, cum_hi] contributes
    * min(cum_hi, R_b) − max(cum_lo, R_{b−1}) rows to each bin b it
    * overlaps — pure integer arithmetic, no boundary ROW needed.
    *
    * The plan is two pruned data passes plus domain-bounded bookkeeping:
    *  1. per-(group, value) counts — an aggregate bounded by the VALUE
    *     DOMAIN (≤ ~6·10⁷ distinct cent values), not the row count;
    *  2. cumulative positions via ONE window partitioned by
    *     (group, value-range shard): two-level prefix sum where the
    *     in-shard pass caps every partition at 2^[[QB_SHARD_BITS]]
    *     distinct values and the cross-shard offsets come from an
    *     independent pass that map-side-combines straight down to the
    *     G × ~1k shard subtotals (a 2-column scan reducing to ~1k rows
    *     per task moves less than materializing the value-count table
    *     would), broadcast back;
    *  3. per run: overlapped bin range via the closed-form inverse of
    *     R_b, exploded to ≤(B−1)+1 segments, counted by integer min/max;
    *  4. final (group, bin) aggregate — B·G rows.
    *
    * Output is bit-identical to grouped ntile (the oracle IS the q93
    * ntile twin) including tie splits across boundaries and the n < B
    * degenerate case, because all rank math is exact integer. */
  def quantileBinsGrouped(spark: SparkSession, dir: String): DataFrame = {
    val B = Kpis.N_BINS
    val d = orders(spark, dir)
      .select(col("o_orderpriority").as("g"),
        cents(col("o_totalprice")).as("pc"))
    val vc = d.groupBy(col("g"), col("pc")).agg(count(lit(1)).as("c"))
      .withColumn("s", shiftright(col("pc"), QB_SHARD_BITS))
    // per-(group, shard) prefix offsets + group total: an independent
    // map-side-combined pass over the data that reduces to G × ~1k shard
    // subtotals (the one-time O(S²) slice scan is ~1k² per group —
    // metadata work, never per data/value row), broadcast back
    val offsets = d
      .groupBy(col("g"), shiftright(col("pc"), QB_SHARD_BITS).as("s"))
      .agg(count(lit(1)).as("sc"))
      .groupBy(col("g"))
      .agg(sum(col("sc")).as("n"),
        sort_array(collect_list(struct(col("s"), col("sc")))).as("shards"))
      .select(col("g").as("og"), col("n"), col("shards"),
        posexplode(col("shards")))
      .withColumn("off",
        expr("aggregate(slice(shards, 1, pos), 0L, (a, x) -> a + x.sc)"))
      .select(col("og"), col("col.s").as("os"), col("n"), col("off"))
    // in-shard prefix sum — the ONE window; partition = one (g, shard)
    val ws = Window.partitionBy(col("g"), col("s")).orderBy(col("pc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = vc.withColumn("cs", sum(col("c")).over(ws))
      .join(broadcast(offsets), col("g") === col("og") && col("s") === col("os"))
      .withColumn("cum_hi", col("cs") + col("off"))
      .withColumn("cum_lo", col("cum_hi") - col("c"))
    // closed-form bin geometry: R_b = b*q + least(b, m);
    // binOf(r) = r ≤ m(q+1) ? ceil(r/(q+1)) : m + ceil((r − m(q+1))/q)
    // (q = 0 ⇒ r ≤ n = m, first branch, = r — no special case)
    def binOf(r: String) =
      s"CASE WHEN ($r) <= m * (q + 1L) THEN (($r) + q) div (q + 1L) " +
        s"ELSE m + (($r) - m * (q + 1L) + q - 1L) div q END"
    def rEdge(b: String) = s"($b) * q + least(($b), m)"
    cum
      .withColumn("q", expr(s"n div ${B}L"))
      .withColumn("m", expr(s"n % ${B}L"))
      .withColumn("bin",
        explode(expr(s"sequence(${binOf("cum_lo + 1L")}, ${binOf("cum_hi")})")))
      .withColumn("n_in",
        expr(s"least(cum_hi, ${rEdge("bin")}) - " +
          s"greatest(cum_lo, ${rEdge("bin - 1L")})"))
      .groupBy(col("g"), col("bin"))
      .agg(sum(col("n_in")).as("n_orders"),
        dollars(min(col("pc"))).as("lo"), dollars(max(col("pc"))).as("hi"))
      .select(col("g").as("o_orderpriority"), col("bin"), col("n_orders"),
        col("lo"), col("hi"))
      .orderBy("o_orderpriority", "bin")
  }

  // -------------------------------------------------- co-purchase graph

  /** Minimum co-occurrence count for a reported pair. */
  val COP_MIN = 2L
  /** Pairs reported (top by support, deterministic tie-break). */
  val COP_TOP = 25

  /** Item-item co-purchase similarity (the market-basket shape behind
    * "customers also bought"): part pairs co-occurring within an order,
    * with per-pair support and an exact overlap coefficient in ppm
    * (co·10⁶ div min(n_a, n_b)). The per-order self-join fans out only
    * O(k²) pairs for a k-line order — bounded by basket size, never by
    * catalog size — and the pair aggregate shuffles (p1, p2) keys. The
    * top-[[COP_TOP]] cut is a TakeOrderedAndProject on (support desc,
    * pair), not a global sort. */
  def coPurchase(spark: SparkSession, dir: String): DataFrame = {
    // one distinct pass feeds three consumers (two self-join legs + the
    // per-part margin) — materialize it once
    val li = lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
      .localCheckpoint()
    val pairs = li.select(col("l_orderkey"), col("l_partkey").as("p1"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("p2")),
        Seq("l_orderkey"))
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= COP_MIN)
    val partOrders = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_orders"))
    pairs
      .join(partOrders.select(col("l_partkey").as("p1"),
        col("n_orders").as("n_p1")), "p1")
      .join(partOrders.select(col("l_partkey").as("p2"),
        col("n_orders").as("n_p2")), "p2")
      .withColumn("overlap_ppm",
        expr("n_co * 1000000L div least(n_p1, n_p2)"))
      .orderBy(col("n_co").desc, col("p1"), col("p2"))
      .limit(COP_TOP)
      .select(col("p1"), col("p2"), col("n_co"), col("n_p1"), col("n_p2"),
        col("overlap_ppm"))
  }

  // ---------------------------------------------------- weighted median

  /** Per-group weighted median — the "median order value weighted by
    * units" statistic plain medians misreport: the smallest price whose
    * cumulative quantity weight reaches half the total. Exact and
    * order-free: duplicates pre-aggregate per (group, value) map-side,
    * the running weight is a per-group window over DISTINCT values
    * (≪ rows), and the pick is an integer comparison 2·cumw ≥ totw — no
    * interpolation, no floats anywhere. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val d = lineitem(spark, dir).select(col("l_returnflag"),
      cents(col("l_extendedprice")).as("pc"),
      col("l_quantity").cast("long").as("wt"))
    val byValue = d.groupBy(col("l_returnflag"), col("pc"))
      .agg(sum(col("wt")).as("w"))
    val win = Window.partitionBy(col("l_returnflag")).orderBy(col("pc"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byValue
      .withColumn("cumw", sum(col("w")).over(win))
      .withColumn("totw",
        sum(col("w")).over(Window.partitionBy(col("l_returnflag"))))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_returnflag"))
      .agg(max(col("totw")).as("total_weight"),
        dollars(min(col("pc"))).as("weighted_median"))
      .orderBy("l_returnflag")
  }

  // --------------------------------------------------------------- gini

  /** Revenue-concentration (Gini) per nation — the inequality measure
    * behind "top-1% of customers" dashboards: over each nation's
    * customers sorted by revenue ascending (custkey tie-break),
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx). Both Σᵢ i·xᵢ and the margins
    * are exact BIGINTs (rank ≤ ~10⁵ × cents ≤ ~10⁹ leaves int64 room to
    * ~10⁵ customers/nation; widen to decimal beyond), so the single
    * closing division is the only float op — same order in the oracle.
    * The rank window partitions by nation: a distributed per-group sort,
    * never a global one. */
  def giniByNation(spark: SparkSession, dir: String): DataFrame = {
    val rev = orders(spark, dir)
      .groupBy(col("o_custkey")).agg(sum(cents(col("o_totalprice"))).as("x"))
    val c = customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    val n = nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    val ranked = rev
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .withColumn("i", row_number().over(Window.partitionBy(col("n_name"))
        .orderBy(col("x"), col("o_custkey"))).cast("long"))
    ranked.groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("x")).as("sx"), sum(col("i") * col("x")).as("six"))
      .select(col("n_name"), col("n_customers"),
        dollars(col("sx")).as("revenue"),
        round6((lit(2.0) * col("six").cast("double") -
          (col("n_customers") + 1).cast("double") * col("sx").cast("double"))
          / (col("n_customers").cast("double") * col("sx").cast("double")))
          .as("gini"))
      .orderBy("n_name")
  }

  // -------------------------------------------------------- regression

  /** Per-group simple OLS (y = a + b·x) from exact integer power sums —
    * the regression twin of [[Kpis.statsMoments]]: Σx, Σy, Σxy, Σx², Σy²
    * accumulate as integers (quantity units × price cents), the slope's
    * numerator/denominator as decimal(38,0) (n·Σxy overflows int64 at
    * ~10⁶ rows), and ONLY the final derivation touches doubles, in one
    * fixed operation order both engines replay — so a distributed
    * regression fit hash-matches at any parallelism. r² comes from the
    * same sums (no second pass). At 100 TB this is one partial-agg
    * shuffle of 5 numbers per group — the cheapest model fit there is. */
  def olsRegression(spark: SparkSession, dir: String): DataFrame = {
    val d = lineitem(spark, dir).select(col("l_returnflag"),
      col("l_quantity").cast("long").as("x"),
      cents(col("l_extendedprice")).as("y"))
    val s = d.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"),
        sum(col("x").cast(Dec) * col("y").cast(Dec)).as("sxy"),
        sum(col("x").cast(Dec) * col("x").cast(Dec)).as("sxx"),
        sum(col("y").cast(Dec) * col("y").cast(Dec)).as("syy"))
    val num = col("n").cast(Dec) * col("sxy") -
      col("sx").cast(Dec) * col("sy").cast(Dec)
    val denX = col("n").cast(Dec) * col("sxx") -
      col("sx").cast(Dec) * col("sx").cast(Dec)
    val denY = col("n").cast(Dec) * col("syy") -
      col("sy").cast(Dec) * col("sy").cast(Dec)
    s.withColumn("b", num.cast("double") / denX.cast("double"))
      .select(col("l_returnflag"), col("n").as("n_rows"),
        round6(col("b")).as("slope_cents_per_unit"),
        round6((col("sy").cast("double") - col("b") * col("sx").cast("double"))
          / col("n").cast("double")).as("intercept_cents"),
        round6(num.cast("double") * num.cast("double") /
          (denX.cast("double") * denY.cast("double"))).as("r2"))
      .orderBy("l_returnflag")
  }

  // ------------------------------------------------------- chi-square

  /** χ² independence audit of event-type × part-of-day: per-cell
    * contribution (O − E)²/E with E = R·C/N, derived as
    * (O·N − R·C)²/(R·C·N) so the only division is the final one. The
    * squared numerator goes through decimal(38,0) (≈10²¹ at sf0.01 —
    * int64 dies at ~9·10¹⁸), then ONE fixed double derivation, same
    * order in the oracle. A large contribution = "this event type does
    * not happen uniformly across the day" — the independence check
    * behind every seasonality-aware alerting rule. Three broadcast-sized
    * aggregates (cells, row margins, column margins) over one scan. */
  def chiSquare(spark: SparkSession, dir: String): DataFrame = {
    val d = events(spark, dir).select(col("event_type"),
      expr("CAST(hour(ts) div 6 AS BIGINT)").as("day_part"))
    // ONE scan of the fact: margins and the total derive from the tiny
    // cell table (≤ types×buckets rows), not from re-reading events —
    // at 100 TB the difference between 1 and 4 full scans
    val cells = d.groupBy(col("event_type"), col("day_part"))
      .agg(count(lit(1)).as("o")).localCheckpoint()
    val rows = cells.groupBy(col("event_type")).agg(sum(col("o")).as("r"))
    val cols = cells.groupBy(col("day_part")).agg(sum(col("o")).as("c"))
    val total = cells.agg(sum(col("o")).as("nn"))
    val dev = col("o").cast(Dec) * col("nn").cast(Dec) -
      col("r").cast(Dec) * col("c").cast(Dec)
    cells.join(broadcast(rows), "event_type")
      .join(broadcast(cols), "day_part")
      .crossJoin(broadcast(total))
      .select(col("event_type"), col("day_part"), col("o"),
        round6(dev.cast("double") * dev.cast("double") /
          (col("r").cast("double") * col("c").cast("double") *
            col("nn").cast("double"))).as("contrib"))
      .orderBy("event_type", "day_part")
  }

  // ------------------------------------------------------- event paths

  /** Events per user kept in a path. */
  val PATH_LEN = 3
  /** Paths reported. */
  val PATH_TOP = 10

  /** Top user journeys: each user's first [[PATH_LEN]] events (by time,
    * event-id tie-break) joined into a `a>b>c` path string, then the
    * [[PATH_TOP]] most common paths — the product-analytics "path
    * analysis" view. Per-user work is one partitioned window (group-limit
    * pruned) plus a collect of ≤ PATH_LEN structs sorted by rank — order
    * never depends on shuffle arrival because the rank is carried INTO
    * the collected struct and sorted inside the row. Final cut is a
    * TakeOrderedAndProject over the path aggregate. */
  def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= PATH_LEN)
      .groupBy(col("user_id"))
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(rk, event_type)))," +
          " x -> x.event_type)"), ">").as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path"))
      .limit(PATH_TOP)
  }

  // ------------------------------------------------- multi-touch split

  /** Linear (multi-touch) attribution with EXACT value conservation:
    * every purchase's cents split equally across the user's clicks in
    * the 7-day lookback — integer division per click, with the remainder
    * credited to the earliest click, so the sum of credits equals the
    * purchase value to the cent (the property the spec pins; float
    * shares never reconcile). Purchases with no in-window click surface
    * as the `click_hour = -1` bucket, keeping the report a partition of
    * all purchase revenue.
    *
    * Plan: one value-range window counts each purchase's in-window
    * clicks (k); the credit rows come from the q64-shaped interval join
    * (user equi-key drives the shuffle, the time range filters
    * in-group); the earliest-click remainder is a per-purchase
    * row_number — group-limit bounded. Output buckets by click
    * hour-of-day: the "what time of day earns conversions" report. */
  def multiTouchAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"), col("event_id"),
        hour(col("ts")).cast("long").as("hr"),
        cents(col("value")).as("vc"))
    val wk = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-ATTR_WINDOW_US, -1)
    val purchases = e
      // coalesce: a purchase with NOTHING in its frame gets a NULL sum,
      // not 0 — uncoalesced it would vanish from both branches and break
      // the to-the-cent conservation the spec pins
      .withColumn("k", coalesce(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).over(wk),
        lit(0L)))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us").as("pus"),
        col("event_id").as("pid"), col("k"), col("vc"))
      // the window pass feeds both the credit join and the direct bucket
      .localCheckpoint()
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("cus"),
        col("event_id").as("cid"), col("hr"))
    val credits = purchases.filter(col("k") > 0)
      .join(clicks, Seq("user_id"))
      .filter(col("cus") >= col("pus") - ATTR_WINDOW_US &&
        col("cus") < col("pus"))
      .withColumn("first",
        row_number().over(Window.partitionBy(col("pid"))
          .orderBy(col("cus"), col("cid"))) === 1)
      .select(col("hr"),
        (expr("vc div k") +
          when(col("first"), expr("vc - k * (vc div k)"))
            .otherwise(lit(0L))).as("credit"))
    val direct = purchases.filter(col("k") === 0)
      .select(lit(-1L).as("hr"), col("vc").as("credit"))
    credits.unionByName(direct)
      .groupBy(col("hr").as("click_hour"))
      .agg(count(lit(1)).as("n_credits"),
        dollars(sum(col("credit"))).as("revenue"))
      .orderBy("click_hour")
  }

  // -------------------------------------------------- seasonal residual

  /** Anomalies reported. */
  val SEASONAL_TOP = 10

  /** Day-of-week seasonal baseline + residual anomalies over purchase
    * values: the residual of x against its weekday mean is computed as
    * the INTEGER n·x − Σx (the mean times n — no division, no floats),
    * so "most anomalous" ranks identically in any engine and at any
    * parallelism. Top [[SEASONAL_TOP]] |residual| purchases with
    * deterministic tie-break — the scaled residual column lets the
    * consumer recover x − μ as resid/n exactly.
    *
    * Plan: weekday stats are a 7-row broadcast; ranking is a
    * TakeOrderedAndProject. The de-seasonalization every ops dashboard
    * needs before flagging "weekend dips" as incidents. */
  def seasonalResiduals(spark: SparkSession, dir: String): DataFrame = {
    val p = events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        // ISO weekday (1=Mon..7=Sun): Spark dayofweek() is Sunday-based
        // while DuckDB's is 0-based — weekday()+1 ≡ isodow is the only
        // numbering the two engines agree on
        expr("CAST(weekday(ts) + 1 AS BIGINT)").as("dow"),
        cents(col("value")).as("vc"))
    val stats = p.groupBy(col("dow"))
      .agg(count(lit(1)).as("n"), sum(col("vc")).as("sx"))
    p.join(broadcast(stats), "dow")
      .withColumn("resid_scaled", col("n") * col("vc") - col("sx"))
      .orderBy(abs(col("resid_scaled")).desc, col("event_id"))
      .limit(SEASONAL_TOP)
      .select(col("event_id"), col("user_id"), col("dow"),
        dollars(col("vc")).as("value"), col("n").as("n_dow"),
        col("resid_scaled"))
  }

  // -------------------------------------------------------- attribution

  /** Attribution lookback window, microseconds (7 days). */
  val ATTR_WINDOW_US = 7L * 86400L * 1000000L

  /** Last-touch click attribution over the event stream: each purchase is
    * attributed to the user's most recent click strictly before it (never
    * a later one), if that click falls inside the 7-day lookback. The
    * per-user scan is one window (ROWS UNBOUNDED PRECEDING → 1 PRECEDING)
    * carrying the running max click time — linear per user, one shuffle
    * on user_id. Timestamps compare at µs grain (epoch_us) so the strict
    * "before" is engine-independent; purchase values aggregate as cents.
    *
    * Output: purchases by (attributed?, age-in-days of the credited
    * click) with counts and attributed revenue — the conversion-lag
    * report every ads pipeline derives. At 100 TB: same plan; the window
    * state is one BIGINT per user. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"),
        col("event_id"), cents(col("value")).as("vc"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("last_click_us",
        max(when(col("event_type") === "click", col("us"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed",
        col("last_click_us").isNotNull &&
          (col("us") - col("last_click_us")) <= ATTR_WINDOW_US)
      .withColumn("lag_days",
        when(col("attributed"),
          expr(s"(us - last_click_us) div ${86400L * 1000000L}L"))
          .otherwise(lit(-1L)))
      .groupBy(col("attributed"), col("lag_days"))
      .agg(count(lit(1)).as("n_purchases"),
        dollars(sum(col("vc"))).as("revenue"))
      .orderBy("attributed", "lag_days")
  }
}
