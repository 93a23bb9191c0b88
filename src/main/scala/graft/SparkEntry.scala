package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine._

/** One registered query: `run(spark, sfDir)` is the Spark side, `oracleSql`
  * its DuckDB twin over the same parquet tables — same column names, same
  * deterministic ORDER BY, cross-engine-safe numerics via
  * [[graft.engine.Num]]. `oracleSql` has no default: a query cannot be
  * registered without its twin. */
final case class Query(name: String,
                       run: (SparkSession, String) => DataFrame,
                       oracleSql: String)

/** The query registry and the flagship entry point.
  *
  * [[registry]] is the one list of queries; [[queries]] and [[oracleSql]]
  * are name-keyed views of it. [[Verify]] dumps every query's result and
  * the twins; the DuckDB compare (`tools/selfcheck.py`) runs each twin and
  * checks the two agree at sf0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Kpis.topSuppliers(Sessions.tune(spark), "/root/testdata/sf0.001")

  /** Shared by q41 (window form) and q112 (native sorted-merge form):
    * one as-of semantics, two execution strategies, one oracle. */
  private val asofOracle: String =
    """WITH j AS (
      | SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
      |  row_number() OVER (PARTITION BY e.event_id
      |    ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST) AS rn
      | FROM events e LEFT JOIN orders o
      |   ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
      |SELECT event_id, user_id, o_orderkey AS order_id,
      | strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_date
      |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin

  /** Every query, in number order. Twins named `OracleTwins.*` are
    * generated from the same constants as the Spark side (hash family,
    * band geometry, LSH planes), so the two cannot drift apart. */
  val registry: Seq[Query] = checkUnique(Seq(
    // ---- §2.4/§2.6/§2.8 analytical surface (Kpis) ----
    Query("q01_pricing_summary", Kpis.pricingSummary,
      """SELECT l_returnflag, l_linestatus,
        | SUM(l_quantity) AS sum_qty,
        | CAST(SUM(CAST(round((l_extendedprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS sum_base_price,
        | CAST(SUM(CAST(round((l_extendedprice*(1.0-l_discount))*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS sum_disc_price,
        | count(*) AS count_order,
        | SUM(l_quantity)/count(*) AS avg_qty,
        | (CAST(SUM(CAST(round((l_extendedprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE))/count(*) AS avg_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Query("q02_top5_suppliers", Kpis.topSuppliers,
      """SELECT s_suppkey, s_name, count(*) AS n_items,
        | CAST(SUM(CAST(round((l_extendedprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_suppkey, s_name
        |ORDER BY n_items DESC, s_suppkey LIMIT 5""".stripMargin),

    Query("q03_orders_by_nation_segment", Kpis.ordersByNationSegment,
      """SELECT n_name, c_mktsegment, count(*) AS n_orders,
        | count(DISTINCT c_custkey) AS n_customers
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, c_mktsegment ORDER BY n_name, c_mktsegment""".stripMargin),

    Query("q04_avg_balance_by_nation", Kpis.avgBalanceByNation,
      """SELECT n_name, count(*) AS n_customers,
        | CAST(SUM(CAST(round((c_acctbal)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS total_balance,
        | (CAST(SUM(CAST(round((c_acctbal)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE))/count(*) AS avg_balance
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    Query("q05_monthly_revenue", Kpis.monthlyRevenue,
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
        | count(*) AS n_orders,
        | CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1 ORDER BY order_month""".stripMargin),

    Query("q06_pct_filled_by_priority", Kpis.pctFilledByPriority,
      """SELECT o_orderpriority, count(*) AS n_orders,
        | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        | CAST(round(100.0*CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)/count(*)*100) AS BIGINT)/CAST(100 AS DOUBLE) AS pct_filled
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    Query("q07_week_orders", Kpis.weekOrders,
      """SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue
        |FROM orders
        |WHERE o_orderdate >= date_trunc('week', DATE '1998-07-15')
        |  AND o_orderdate < date_trunc('week', DATE '1998-07-15') + INTERVAL 7 DAY
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // ---- §2.2/§2.3 gold star schema (Gold) ----
    Query("q08_fact_orders", ((s: SparkSession, d: String) =>
      Gold.factOrders(s, d).orderBy("order_id")),
      """SELECT o.o_orderkey AS order_id, o.o_custkey AS customer_id,
        | c.c_name AS customer_name, c.c_mktsegment AS segment,
        | c.c_nationkey AS nation_key, o.o_orderstatus AS order_status,
        | o.o_orderpriority AS order_priority, o.o_totalprice AS total_price,
        | CAST(o.o_orderdate AS DATE) AS order_date,
        | year(o.o_orderdate) AS year, month(o.o_orderdate) AS month,
        | CAST(strftime(o.o_orderdate, '%Y%m%d') AS BIGINT) AS date_key
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderkey IS NOT NULL ORDER BY order_id""".stripMargin),

    Query("q09_dim_date", Gold.dimDate,
      """SELECT CAST(d AS DATE) AS cal_date,
        | CAST(strftime(d, '%Y%m%d') AS BIGINT) AS date_key,
        | year(d) AS year, month(d) AS month, quarter(d) AS quarter,
        | day(d) AS day_of_month, monthname(d) AS month_name,
        | dayname(d) AS day_name, dayofweek(d) IN (0, 6) AS is_weekend
        |FROM generate_series(DATE '1995-01-01', DATE '2001-12-31', INTERVAL 1 DAY) t(d)
        |ORDER BY cal_date""".stripMargin),

    Query("q10_dim_customer", Gold.dimCustomer,
      """SELECT c.c_custkey AS customer_id,
        | c.c_name || ' [' || n.n_name || ']' AS customer_label,
        | n.n_name AS nation, r.r_name AS region,
        | c.c_mktsegment AS segment, c.c_acctbal AS account_balance
        |FROM customer c
        | LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        | LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY customer_id""".stripMargin),

    Query("q11_top3_customers_per_nation", Kpis.top3CustomersPerNation,
      """WITH rev AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |    count(*) AS n_orders
        |  FROM orders GROUP BY o_custkey),
        |j AS (
        |  SELECT n.n_name, c.c_custkey, c.c_name, r.rev_cents, r.n_orders,
        |    row_number() OVER (PARTITION BY n.n_name
        |                       ORDER BY r.rev_cents DESC, c.c_custkey) AS rank
        |  FROM customer c
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  JOIN rev r ON c.c_custkey = r.o_custkey)
        |SELECT n_name, rank, c_custkey AS customer_id, c_name AS customer_name,
        |  CAST(rev_cents AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue, n_orders
        |FROM j WHERE rank <= 3 ORDER BY n_name, rank""".stripMargin),

    Query("q12_dim_region_nation", Gold.dimRegionNation,
      """SELECT DISTINCT r.r_name AS region, n.n_name AS nation
        |FROM nation n LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY region, nation""".stripMargin),

    // ---- §2.11 silver quality ops ----
    Query("q13_silver_dedup", Kpis.silverDedup,
      """SELECT DISTINCT l_returnflag, l_linestatus,
        | year(l_shipdate) AS ship_year, l_quantity
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus, ship_year, l_quantity""".stripMargin),

    Query("q14_fk_orphans", Kpis.fkOrphanCounts,
      """SELECT * FROM (
        | SELECT 'lineitem->orders' AS relationship, count(*) AS orphans
        | FROM lineitem l
        | WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        | UNION ALL
        | SELECT 'lineitem->supplier', count(*) FROM lineitem l
        | WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
        | UNION ALL
        | SELECT 'orders->customer', count(*) FROM orders o
        | WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
        |) ORDER BY relationship""".stripMargin),

    // ---- §2.8 scalar functions / §2.9 events ----
    Query("q15_scalar_functions", Kpis.scalarFunctions,
      """SELECT o_orderkey AS order_id,
        | CAST(strftime(o_orderdate, '%Y%m%d') AS BIGINT) AS date_key,
        | monthname(o_orderdate) AS month_name,
        | quarter(o_orderdate) AS qtr,
        | 'ORD-' || CAST(o_orderkey AS VARCHAR) AS label,
        | upper(o_orderstatus) AS status_uc,
        | CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
        |      THEN 'urgent' ELSE 'normal' END AS priority_class,
        | CAST(round((o_totalprice*0.05)*100) AS BIGINT)/CAST(100 AS DOUBLE) AS fee
        |FROM orders ORDER BY order_id""".stripMargin),

    Query("q16_events_hourly", Kpis.eventsHourly,
      """WITH h AS (
        | SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        |  event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(round((value)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS total_value
        | FROM events GROUP BY 1, 2)
        |SELECT hour_start, event_type, n_events, total_value,
        | total_value/n_events AS avg_value
        |FROM h ORDER BY hour_start, event_type""".stripMargin),

    Query("q17_event_sessions", Kpis.eventSessions,
      """WITH e AS (
        | SELECT user_id, event_id, ts,
        |  lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
        | FROM events)
        |SELECT user_id, count(*) AS n_events,
        | CAST(SUM(CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000
        |               THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
        | strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin),

    // ---- LLM-data-pipeline operators (north star; beyond-reference) ----
    Query("q18_exact_dedup", Dedup.exactDedup, OracleTwins.exactDedup),
    Query("q19_minhash_neardup", Dedup.minhashNearDup, OracleTwins.minhashNearDup),
    Query("q20_embedding_topk", Sim.embeddingTopK, OracleTwins.embeddingTopK),
    Query("q21_text_stats", TextOps.textStats, OracleTwins.textStats),
    Query("q22_simhash_neardup", Dedup.simhashNearDup, OracleTwins.simhashNearDup),
    Query("q23_doc_fingerprint", TextOps.docFingerprint, OracleTwins.docFingerprint),
    Query("q24_lang_quality", TextOps.langQuality, OracleTwins.langQuality),
    Query("q25_lsh_buckets", Sim.lshBuckets, OracleTwins.lshBuckets),
    Query("q26_cosine_neardup", Sim.cosineNearDup, OracleTwins.cosineNearDup),

    // ---- remaining gold dims + 4-way chain (J3/J4/J6) ----
    Query("q27_dim_part", Gold.dimPart,
      """SELECT p.p_partkey AS part_id, p.p_name AS part_name,
        | p.p_type AS part_type, p.p_brand AS brand, p.p_size AS size_units,
        | p.p_retailprice AS retail_price,
        | r.r_regionkey AS category_id, r.r_name AS category_name
        |FROM part p LEFT JOIN region r ON p.p_type = r.r_name
        |ORDER BY part_id""".stripMargin),

    Query("q28_dim_review", Gold.dimReview,
      """SELECT d.doc_id AS review_id, d.lang, d.source,
        | d.n_chars AS comment_chars,
        | CASE e.label % 3 WHEN 0 THEN 'negative' WHEN 1 THEN 'neutral'
        |   WHEN 2 THEN 'positive' END AS sentiment_label,
        | e.label::DOUBLE / 10.0 AS sentiment_score,
        | e.label = 9 AS is_suspicious
        |FROM documents d LEFT JOIN embeddings e ON d.doc_id = e.vec_id
        |ORDER BY review_id""".stripMargin),

    Query("q29_dim_dispute", Gold.dimDispute,
      """SELECT e.event_id AS dispute_id, e.user_id,
        | c.c_name AS customer_name, c.c_mktsegment AS segment,
        | e.value AS amount,
        | CASE WHEN e.value > 50 THEN 'open' ELSE 'resolved' END AS status,
        | strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS created_at
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |WHERE e.event_type = 'error' AND e.event_id IS NOT NULL
        |ORDER BY dispute_id""".stripMargin),

    Query("q30_orders_4way", Kpis.fourWayOrderStats,
      """SELECT n_name, o_orderstatus, count(*) AS n_items,
        | count(DISTINCT o_orderkey) AS n_orders,
        | CAST(SUM(CAST(round((l_extendedprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name, o_orderstatus
        |ORDER BY n_name, o_orderstatus""".stripMargin),

    // ---- S8 sources as oracle-checked queries ----
    // q31's Spark side routes through a CSV write+read round-trip; the
    // oracle aggregates the parquet original, so CSV loss breaks the match.
    Query("q31_csv_roundtrip", SourceOps.csvRoundtrip,
      """SELECT lang, count(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        | CAST(SUM(len(text)) AS BIGINT) AS total_text_len
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    Query("q32_json_props", SourceOps.jsonProps,
      """WITH k AS (
        | SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        | FROM events)
        |SELECT event_type, count(*) AS n_events,
        | CAST(SUM(k) AS BIGINT) AS total_k,
        | CAST(SUM(k) AS BIGINT)::DOUBLE / count(*) AS avg_k
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- multimodal binary columns (north star) ----
    // The Spark side computes these from the opaque binary payload (hex
    // probes, binary md5); the oracle recomputes from the source text —
    // for ASCII payloads byte k == ascii(char k), so any corruption in the
    // binary path breaks the match.
    Query("q33_media_features", graft.multimodal.Multimodal.mediaFeatures,
      s"""SELECT doc_id AS media_id,
         | CASE WHEN doc_id % 3 = 0 THEN 'image'
         |      WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
         | CAST(n_chars % 64 + 1 AS INTEGER) AS width,
         | CAST(n_chars % 48 + 1 AS INTEGER) AS height,
         | strlen(text)::BIGINT AS n_bytes,
         | md5(text) AS digest,
         | ascii(substr(text, 1, 1))::BIGINT AS first_byte,
         | list_reduce(list_prepend(7::BIGINT,
         |   list_transform(range(0, least(strlen(text), 32)),
         |     bi -> ascii(substr(text, bi::INTEGER + 1, 1))::BIGINT)),
         |   (ba, bx) -> (ba * 31 + bx) % ${graft.functions.TextFns.P}) AS checksum
         |FROM documents ORDER BY media_id""".stripMargin),

    // ---- V2-as-query, catalog/SQL surface, BPE-ish tokens, IVF ANN ----
    Query("q34_enum_violations", Kpis.enumViolationCounts, OracleTwins.enumViolations),

    Query("q35_sql_over_views", Kpis.sqlOverViews,
      """SELECT n_name, count(*) AS n_suppliers,
        | CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS DOUBLE) / CAST(100 AS DOUBLE)
        |   AS total_balance
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    Query("q36_regex_tokens", TextOps.regexTokens, OracleTwins.regexTokens),
    Query("q37_ivf_cells", Sim.ivfCells, OracleTwins.ivfCells),
    Query("q38_ivf_topk", Sim.ivfTopK, OracleTwins.ivfTopK),

    // ---- OLAP extras, as-of join, typed Aggregator top-k ----
    Query("q39_revenue_rollup", Kpis.revenueRollup,
      """SELECT year, month, count(*) AS n_orders,
        | CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue,
        | CAST(GROUPING(year, month) AS BIGINT) AS grp
        |FROM (SELECT year(o_orderdate) AS year, month(o_orderdate) AS month,
        |        o_totalprice FROM orders)
        |GROUP BY ROLLUP(year, month)
        |ORDER BY grp, year, month""".stripMargin),

    Query("q40_status_pivot", Kpis.statusPivot,
      """SELECT o_orderpriority,
        | CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        | CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        | CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    Query("q41_event_order_asof", Kpis.eventOrderAsof, asofOracle),
    Query("q42_topk_aggregator", Sim.embeddingTopKAgg, OracleTwins.embeddingTopK),
    // ---- dup clustering + end-to-end curation + length profiling ----
    Query("q43_dup_clusters", Dedup.dupClusters, OracleTwins.dupClusters),
    Query("q44_curation", TextOps.curation, OracleTwins.curation),
    Query("q45_token_histogram", TextOps.tokenHistogram, OracleTwins.tokenHistogram),
    // ---- product-quantization compressed ANN (codes + ADC search) ----
    Query("q46_pq_codes", Sim.pqCodes, OracleTwins.pqCodes),
    Query("q47_pq_topk", Sim.pqTopK, OracleTwins.pqTopK),
    // ---- corpus statistics: n-gram counts, tf-idf feature extraction ----
    Query("q48_top_bigrams", TextOps.topBigrams, OracleTwins.topBigrams),
    Query("q49_tfidf_top_terms", TextOps.tfidfTopTerms, OracleTwins.tfidfTopTerms),
    // ---- SQL registry surface for the native hash expressions ----
    Query("q50_sql_text_functions", TextOps.sqlTextFunctions, OracleTwins.sqlTextFunctions),
    // ---- distributed k-means update (fixed-point deterministic) ----
    Query("q51_kmeans_step", Sim.kmeansStep, OracleTwins.kmeansStep),
    // ---- hybrid filtered vector search (metadata gate before scoring) ----
    Query("q52_filtered_topk", Sim.filteredTopK, OracleTwins.filteredTopK),
    // ---- reproducible hash-bucket sampling (eval-set carving) ----
    Query("q53_hash_sample", TextOps.hashSample, OracleTwins.hashSample),

    // ---- CUBE lattice (completes the grouping-sets family with q39) ----
    Query("q54_status_cube", Kpis.statusCube,
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        | count(*) AS n_orders,
        | CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue,
        | CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS grp
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY grp, status, priority""".stripMargin),

    // ---- sketch aggregates (HLL++, approx quantiles): estimates are
    // engine-specific, so the query reduces them to error-bound verdict
    // booleans the oracle CAN hash-check (exact columns + literal TRUE);
    // DedupSimSpec inspects the raw estimates via approxStatsFull ----
    // The sketch estimates have no DuckDB twin; the verdict columns do —
    // exact values plus literal TRUE, so an out-of-bounds sketch flips a
    // hashed cell (see Kpis.approxStats).
    Query("q55_approx_stats", Kpis.approxStats,
      """SELECT event_type, count(*) AS n_events,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        | quantile_cont(CAST(round(value*100) AS BIGINT), 0.5)
        |   AS exact_p50_cents,
        | TRUE AS users_ok, TRUE AS p50_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- §2.7 set operations + full §2.5 window family ----
    Query("q56_set_ops", Kpis.setOps,
      """WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995),
        |     b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996)
        |SELECT * FROM (
        | SELECT 'anti_join' AS op, CAST(count(*) AS BIGINT) AS n_rows
        |   FROM customer
        |   WHERE NOT EXISTS (SELECT 1 FROM a WHERE o_custkey = c_custkey)
        | UNION ALL
        | SELECT 'except', CAST(count(*) AS BIGINT)
        |   FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        | UNION ALL
        | SELECT 'intersect', CAST(count(*) AS BIGINT)
        |   FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        | UNION ALL
        | SELECT 'semi_join', CAST(count(*) AS BIGINT)
        |   FROM customer
        |   WHERE EXISTS (SELECT 1 FROM a WHERE o_custkey = c_custkey)
        | UNION ALL
        | SELECT 'union', CAST(count(*) AS BIGINT)
        |   FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)
        | UNION ALL
        | SELECT 'union_all', CAST(count(*) AS BIGINT)
        |   FROM (SELECT o_custkey FROM a UNION ALL SELECT o_custkey FROM b)
        |) ORDER BY op""".stripMargin),

    Query("q57_window_family", Kpis.windowFamily,
      """WITH m AS (
        | SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
        |   CAST(year(o_orderdate) AS BIGINT) AS year,
        |   CAST(count(*) AS BIGINT) AS n_orders,
        |   CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS BIGINT) AS rev_cents
        | FROM orders GROUP BY 1, 2)
        |SELECT order_month, year, n_orders,
        | CAST(rev_cents AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue,
        | lag(rev_cents) OVER sy AS prev_cents,
        | lead(rev_cents) OVER sy AS next_cents,
        | rev_cents - lag(rev_cents) OVER sy AS mom_delta_cents,
        | CAST(SUM(rev_cents) OVER (PARTITION BY year ORDER BY order_month
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS running_cents,
        | CAST(SUM(rev_cents) OVER (PARTITION BY year
        |   ORDER BY year * 12 + month(order_month)
        |   RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS trailing3m_cents,
        | first_value(rev_cents) OVER wh AS year_first_cents,
        | last_value(rev_cents) OVER wh AS year_last_cents,
        | CAST(ntile(4) OVER br AS BIGINT) AS rev_quartile,
        | percent_rank() OVER br AS pct_rank,
        | cume_dist() OVER br AS cume_dist
        |FROM m
        |WINDOW sy AS (PARTITION BY year ORDER BY order_month),
        |  wh AS (PARTITION BY year ORDER BY order_month
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
        |  br AS (PARTITION BY year ORDER BY rev_cents DESC, order_month)
        |ORDER BY order_month""".stripMargin),

    // ---- LLM-pipeline: packing, adaptive quality gate, 3-way split ----
    Query("q58_sequence_packing", TextOps.sequencePacking, OracleTwins.sequencePacking),
    Query("q59_percentile_gate", TextOps.percentileGate, OracleTwins.percentileGate),
    Query("q60_stratified_split", TextOps.stratifiedSplit, OracleTwins.stratifiedSplit),

    // ---- skew-mitigation salted aggregation (oracle = unsalted SQL) ----
    // The oracle is deliberately the UNSALTED aggregate — the salted
    // two-phase Spark plan must be semantics-preserving.
    Query("q61_salted_revenue", Kpis.saltedRevenueByNation,
      """SELECT n_name, CAST(count(*) AS BIGINT) AS n_orders,
        | CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue
        |FROM orders
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // ---- explicit GROUPING SETS lattice, map functions, interval join ----
    Query("q62_grouping_sets", Kpis.statusGroupingSets,
      """SELECT o_orderstatus AS status, o_orderpriority AS priority,
        | count(*) AS n_orders,
        | CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue,
        | CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS grp
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority))
        |ORDER BY grp, status, priority""".stripMargin),

    Query("q63_map_props", SourceOps.mapProps,
      """WITH k AS (
        | SELECT event_type, len(json_keys(props))::BIGINT AS n_keys,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  json_extract(props, '$.missing') IS NOT NULL AS has_missing
        | FROM events)
        |SELECT event_type, count(*) AS n_events,
        | CAST(SUM(n_keys) AS BIGINT) AS total_keys,
        | CAST(SUM(k) AS BIGINT) AS total_k,
        | CAST(SUM(CASE WHEN has_missing THEN 1 ELSE 0 END) AS BIGINT) AS n_has_missing
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin),

    Query("q64_order_event_window", Kpis.orderEventWindow,
      """WITH o AS (
        | SELECT o_orderkey, o_custkey,
        |  TIMESTAMP '2024-01-01' + (o_orderkey % 672) * INTERVAL 1 HOUR AS t0
        | FROM orders),
        |j AS (
        | SELECT o.o_orderkey, e.user_id, e.event_type
        | FROM o JOIN events e
        |  ON e.user_id = o.o_custkey
        |  AND e.ts >= o.t0
        |  AND e.ts < o.t0 + INTERVAL 1 DAY)
        |SELECT event_type, count(*) AS n_pairs,
        | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- ORC round-trip (columnar interchange beyond parquet) ----
    // Oracle aggregates the parquet original; the Spark side routes
    // through an ORC write+read, so format loss breaks the match.
    Query("q65_orc_roundtrip", SourceOps.orcRoundtrip,
      """SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue,
        | CAST(min(o_orderdate) AS DATE) AS first_date,
        | CAST(max(o_orderdate) AS DATE) AS last_date
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),

    // ---- latest-wins compaction (CDC/upsert merge shape) ----
    Query("q66_latest_event", Kpis.latestEventPerUser,
      """WITH r AS (
        | SELECT user_id, event_id, event_type, ts, value,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events)
        |SELECT user_id, event_id, event_type,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts, value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // ---- train/test decontamination (leakage audit; naive id split
    // leaks where the content-hash split of q60 cannot) ----
    Query("q67_decontamination", Dedup.decontamination, OracleTwins.decontamination),
    // ---- source-mixture weighting (deterministic data mixing) ----
    Query("q68_source_mixture", TextOps.sourceMixture, OracleTwins.sourceMixture),

    // ---- exact-moment descriptive stats (deterministic covar/corr) ----
    // Same fixed derivation from the same five integer power sums — the
    // doubles are bit-identical because every input to the float math is
    // an exact integer.
    Query("q69_stats_moments", Kpis.statsMoments,
      """WITH m AS (
        | SELECT l_returnflag, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sy,
        |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sxy,
        |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx2,
        |  CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT) * CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sy2
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        | sx::DOUBLE / n AS mean_qty,
        | sy::DOUBLE / n / 100.0 AS mean_price,
        | (sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n) / n AS covar_pop_raw,
        | ((sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n) / n) /
        |  (sqrt(sx2::DOUBLE / n - (sx::DOUBLE / n) * (sx::DOUBLE / n)) *
        |   sqrt(sy2::DOUBLE / n - (sy::DOUBLE / n) * (sy::DOUBLE / n))) AS corr
        |FROM m ORDER BY l_returnflag""".stripMargin),

    // ---- exact grouped percentiles (non-sketch twin of q55) ----
    Query("q70_exact_percentiles", Kpis.exactPercentiles,
      """SELECT l_returnflag, count(*) AS n,
        | quantile_cont(l_quantity, 0.5) AS median_qty,
        | quantile_cont(l_quantity, 0.9) AS p90_qty,
        | quantile_cont(CAST(round(l_extendedprice*100) AS BIGINT), 0.5)
        |   AS median_price_cents
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ---- round 4: curation quality signals + retrieval index ----
    Query("q71_repetition", TextOps.repetition, OracleTwins.repetition),
    Query("q72_pii_scan", TextOps.piiScan, OracleTwins.piiScan),
    Query("q73_doc_chunks", TextOps.docChunks, OracleTwins.docChunks),

    Query("q74_schema_evolution", SourceOps.schemaEvolution,
      """WITH v1 AS (
        | SELECT o_orderkey AS order_id,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS price_cents
        | FROM orders WHERE year(o_orderdate) <= 1994),
        |v2 AS (
        | SELECT o_orderkey AS order_id, o_orderstatus AS status,
        |  o_orderpriority AS priority
        | FROM orders WHERE year(o_orderdate) >= 1995),
        |u AS (SELECT * FROM v1 UNION ALL BY NAME SELECT * FROM v2)
        |SELECT coalesce(status, '<legacy>') AS status, count(*) AS n_rows,
        | CAST(SUM(CASE WHEN price_cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_missing_price,
        | CAST(SUM(coalesce(price_cents, 0)) AS DOUBLE)/CAST(100 AS DOUBLE)
        |   AS revenue,
        | CAST(count(DISTINCT priority) AS BIGINT) AS n_priorities
        |FROM u GROUP BY 1 ORDER BY status""".stripMargin),

    Query("q75_inverted_index", TextOps.invertedIndex, OracleTwins.invertedIndex),
    Query("q76_semantic_dedup", Sim.semanticDedup, OracleTwins.semanticDedup),

    // ---- full-outer reconciliation + time-series densification ----
    Query("q77_reconciliation", Kpis.reconciliation,
      """WITH o AS (
        | SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders
        | FROM orders GROUP BY o_custkey),
        |e AS (
        | SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        | FROM events GROUP BY user_id),
        |j AS (
        | SELECT CASE
        |   WHEN o_custkey IS NOT NULL AND user_id IS NOT NULL THEN 'both'
        |   WHEN o_custkey IS NOT NULL THEN 'orders_only'
        |   ELSE 'events_only' END AS side, n_orders, n_events
        | FROM o FULL OUTER JOIN e ON o_custkey = user_id)
        |SELECT side, count(*) AS n_keys,
        | CAST(SUM(coalesce(n_orders, 0)) AS BIGINT) AS total_orders,
        | CAST(SUM(coalesce(n_events, 0)) AS BIGINT) AS total_events
        |FROM j GROUP BY side ORDER BY side""".stripMargin),

    Query("q78_gap_fill", Kpis.gapFill,
      """WITH rev AS (
        | SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS BIGINT) AS rc
        | FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1, 2),
        |bounds AS (
        | SELECT CAST(date_trunc('month', min(o_orderdate)) AS DATE) AS lo,
        |  CAST(date_trunc('month', max(o_orderdate)) AS DATE) AS hi
        | FROM orders),
        |months AS (
        | SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
        |   CAST(hi AS TIMESTAMP), INTERVAL 1 MONTH)) AS DATE) AS month
        | FROM bounds),
        |spine AS (SELECT n_name, month FROM months, nation)
        |SELECT s.n_name, s.month,
        | coalesce(rev.n_orders, 0) AS n_orders,
        | CAST(coalesce(rev.rc, 0) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue,
        | rev.rc IS NULL AS is_gap
        |FROM spine s
        |LEFT JOIN rev ON s.n_name = rev.n_name AND s.month = rev.month
        |ORDER BY s.n_name, s.month""".stripMargin),

    // ---- wide→long reshape + VariantType semi-structured path ----
    Query("q79_unpivot", Kpis.nationMetricsLong,
      """WITH w AS (
        | SELECT n_name, CAST(count(*) AS DOUBLE) AS n_orders,
        |  CAST(SUM(CAST(round((o_totalprice)*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue
        | FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY n_name)
        |SELECT n_name, metric, CAST(value AS DOUBLE) AS value
        |FROM w UNPIVOT (value FOR metric IN (n_orders, revenue))
        |ORDER BY n_name, metric""".stripMargin),

    Query("q80_variant_props", SourceOps.variantProps,
      """WITH v AS (
        | SELECT event_type,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract(props, '$.missing') AS BIGINT) AS miss
        | FROM events)
        |SELECT event_type, count(*) AS n_events,
        | CAST(SUM(k) AS BIGINT) AS total_k,
        | min(k) AS min_k, max(k) AS max_k,
        | CAST(SUM(CASE WHEN miss IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_without_missing
        |FROM v GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ---- lexical retrieval scoring + CDC merge-apply ----
    Query("q81_retrieval_topk", TextOps.retrievalTopK, OracleTwins.retrievalTopK),

    Query("q82_cdc_merge", Kpis.cdcMergeApply,
      s"""WITH o AS (
        | SELECT o_orderkey AS k, o_orderstatus AS status,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS pc, o_orderdate
        | FROM orders),
        |snapshot AS (
        | SELECT k, status, pc FROM o WHERE year(o_orderdate) <= 1995),
        |inserts AS (
        | SELECT k, status, pc, 'I' AS op FROM o
        | WHERE year(o_orderdate) >= 1996),
        |updates AS (
        | SELECT k, status, pc + 1 AS pc, 'U' AS op FROM snapshot
        | WHERE k % ${Kpis.MERGE_UPD_EVERY} = 0
        |   AND k % ${Kpis.MERGE_DEL_EVERY} <> 0),
        |deletes AS (
        | SELECT k, status, pc, 'D' AS op FROM snapshot
        | WHERE k % ${Kpis.MERGE_DEL_EVERY} = 0),
        |changes AS (
        | SELECT * FROM inserts UNION ALL SELECT * FROM updates
        | UNION ALL SELECT * FROM deletes),
        |m AS (
        | SELECT coalesce(c.status, s.status) AS status,
        |  coalesce(c.pc, s.pc) AS pc,
        |  CASE WHEN c.op = 'I' THEN 'inserted'
        |       WHEN c.op = 'U' THEN 'updated'
        |       ELSE 'unchanged' END AS provenance
        | FROM snapshot s FULL OUTER JOIN changes c ON s.k = c.k
        | WHERE coalesce(c.op, '') <> 'D')
        |SELECT status, provenance, count(*) AS n_rows,
        | CAST(SUM(pc) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue
        |FROM m GROUP BY 1, 2 ORDER BY status, provenance""".stripMargin),

    // ---- product analytics: ordered funnel + retention cohorts ----
    // first-touch times compared at µs grain (epoch_us) — Spark timestamps
    // are µs, parquet ns would flip a strict '>' inside one µs (q17 rule)
    Query("q83_event_funnel", Kpis.eventFunnel,
      """WITH ft AS (
        | SELECT user_id,
        |  min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t1,
        |  min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t2,
        |  min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t3
        | FROM events GROUP BY user_id),
        |r AS (
        | SELECT
        |  CAST(SUM(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS s1,
        |  CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1
        |    THEN 1 ELSE 0 END) AS BIGINT) AS s2,
        |  CAST(SUM(CASE WHEN t1 IS NOT NULL AND t2 > t1 AND t3 > t2
        |    THEN 1 ELSE 0 END) AS BIGINT) AS s3
        | FROM ft)
        |SELECT stage, event_type, n_users FROM (
        | SELECT 1::BIGINT AS stage, 'signup' AS event_type, s1 AS n_users FROM r
        | UNION ALL
        | SELECT 2::BIGINT, 'click', s2 FROM r
        | UNION ALL
        | SELECT 3::BIGINT, 'purchase', s3 FROM r)
        |ORDER BY stage""".stripMargin),

    Query("q84_retention_cohorts", Kpis.retentionCohorts,
      """WITH e AS (
        | SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS active_week
        | FROM events),
        |c AS (
        | SELECT user_id, min(active_week) AS cohort_week
        | FROM e GROUP BY user_id)
        |SELECT cohort_week,
        | CAST((active_week - cohort_week) // 7 AS BIGINT) AS weeks_since,
        | CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM e JOIN c ON e.user_id = c.user_id
        |GROUP BY cohort_week, active_week
        |ORDER BY cohort_week, weeks_since""".stripMargin),

    // ---- int8 embedding quantization (vector-store compression) ----
    Query("q85_int8_quant", Sim.int8Quant, OracleTwins.int8Quant),
    // ---- SCD Type 2 dimension build (warehouse versioned history) ----
    Query("q86_scd2_dim", Kpis.scd2Dimension, OracleTwins.scd2Dimension),
    // ---- matryoshka truncated-prefix ANN with full-dim rerank ----
    Query("q87_matryoshka_rerank", Sim.matryoshkaRerank, OracleTwins.matryoshkaRerank),
    // ---- binary sign quantization + Hamming top-k ----
    Query("q88_binary_hamming", Sim.binaryQuantHamming, OracleTwins.binaryQuantHamming),
    // ---- one-pass column profiler (catalog/data-quality stats) ----
    Query("q89_column_profile", Kpis.columnProfile, OracleTwins.columnProfile),
    // ---- blocked record linkage (entity resolution, edit distance) ----
    Query("q90_record_linkage", Dedup.recordLinkage, OracleTwins.recordLinkage),
    // ---- weighted PageRank over the nation trade graph ----
    Query("q91_pagerank_step", Graph.pageRankStep, OracleTwins.pageRankStep),

    // ---- mergeable-state incremental aggregate maintenance ----
    // The oracle is deliberately the plain one-pass aggregate — the
    // merged partial-state plan must be semantics-preserving (q61's rule).
    Query("q92_incremental_agg", Kpis.incrementalAgg,
      """SELECT o_orderstatus, count(*) AS n_orders,
        | CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue,
        | CAST(min(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS min_price,
        | CAST(max(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS max_price
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin),

    // ---- per-group equal-frequency binning (quantile bucketizer),
    // grouped-ntile window REFERENCE form — the semantic spec. Its scale
    // path (run-level rank arithmetic, no per-group data sort) is q122;
    // IndexAnalyticsSpec pins the two bit-for-bit equal ----
    Query("q93_quantile_bins", Kpis.quantileBins,
      s"""WITH o AS (
        | SELECT o_orderpriority, o_orderkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS pc
        | FROM orders),
        |b AS (
        | SELECT o_orderpriority, pc,
        |  CAST(ntile(${Kpis.N_BINS}) OVER (
        |    PARTITION BY o_orderpriority ORDER BY pc, o_orderkey)
        |   AS BIGINT) AS bin
        | FROM o)
        |SELECT o_orderpriority, bin, count(*) AS n_orders,
        | CAST(min(pc) AS DOUBLE)/CAST(100 AS DOUBLE) AS lo,
        | CAST(max(pc) AS DOUBLE)/CAST(100 AS DOUBLE) AS hi
        |FROM b GROUP BY 1, 2 ORDER BY o_orderpriority, bin""".stripMargin),

    // ---- k-means trained to KMEANS_ITERS Lloyd rounds (loop discipline:
    // per-round localCheckpoint, centroids fed back) ----
    Query("q94_kmeans_iterated", Sim.kmeansIterated, OracleTwins.kmeansIterated),
    // ---- PR_ITERS-round PageRank, all-BIGINT rank recurrence ----
    Query("q95_pagerank_iterated", Graph.pageRankIterated, OracleTwins.pageRankIterated),

    // ---- round 5: scan-pruning index structures ----
    // The oracle is the plain join with no bitmap — the bloom pre-filter
    // must be semantics-preserving (false positives die in the exact
    // semi join; bucket-miss pruning only drops definite non-matches).
    Query("q96_bloom_prejoin", Indexing.bloomPrejoin,
      """SELECT l_returnflag, count(*) AS n_items,
        | CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    Query("q97_triangle_count", Graph.triangleCount, OracleTwins.triangleCount),

    Query("q98_minmax_skipping", Indexing.minmaxSkipping,
      s"""WITH bd AS (
        | SELECT l_shipdate, CAST(count(*) AS BIGINT) AS n_d
        | FROM lineitem GROUP BY 1),
        |cum AS (
        | SELECT a.l_shipdate, a.n_d,
        |  CAST(coalesce(SUM(b.n_d), 0) AS BIGINT) AS cum_before
        | FROM bd a LEFT JOIN bd b ON b.l_shipdate < a.l_shipdate
        | GROUP BY a.l_shipdate, a.n_d),
        |cm AS (
        | SELECT l_shipdate, n_d,
        |  cum_before // ${Indexing.CHUNK_ROWS} AS chunk FROM cum),
        |stats AS (
        | SELECT chunk, min(l_shipdate) AS mn, max(l_shipdate) AS mx,
        |  CAST(SUM(n_d) AS BIGINT) AS n
        | FROM cm GROUP BY 1),
        |surv AS (
        | SELECT chunk FROM stats
        | WHERE mx >= TIMESTAMP '${Indexing.SKIP_LO}'
        |   AND mn < TIMESTAMP '${Indexing.SKIP_HI}'),
        |sd AS (SELECT l_shipdate, chunk FROM cm JOIN surv USING (chunk)),
        |sc AS (
        | SELECT l.l_shipdate,
        |  CAST(round(l_extendedprice*100) AS BIGINT) AS pc, sd.chunk
        | FROM lineitem l JOIN sd USING (l_shipdate))
        |SELECT (SELECT count(*) FROM stats) AS n_chunks,
        | (SELECT count(DISTINCT chunk) FROM sc) AS n_chunks_scanned,
        | (SELECT count(*) FROM sc) AS rows_scanned,
        | (SELECT CAST(coalesce(SUM(CASE WHEN l_shipdate >= TIMESTAMP '${Indexing.SKIP_LO}'
        |    AND l_shipdate < TIMESTAMP '${Indexing.SKIP_HI}' THEN 1 ELSE 0 END), 0)
        |   AS BIGINT) FROM sc) AS n_matching,
        | (SELECT CAST(coalesce(SUM(CASE WHEN l_shipdate >= TIMESTAMP '${Indexing.SKIP_LO}'
        |    AND l_shipdate < TIMESTAMP '${Indexing.SKIP_HI}' THEN pc ELSE 0 END), 0)
        |   AS DOUBLE)/CAST(100 AS DOUBLE) FROM sc) AS revenue""".stripMargin),

    Query("q99_zorder_locality", Indexing.zorderLocality, OracleTwins.zorderLocality),

    // ---- round 5: exact statistical analytics ----
    // HUGEINT ≡ Spark decimal(38,0): the quadratic forms need ~1e26.
    Query("q100_outlier_zscore", Analytics.outlierZscore,
      """WITH d AS (
        | SELECT l_returnflag,
        |  CAST(round(l_extendedprice*100) AS BIGINT) AS pc
        | FROM lineitem),
        |s AS (
        | SELECT l_returnflag, count(*) AS n, SUM(pc) AS sx,
        |  SUM(pc::HUGEINT * pc::HUGEINT) AS sxx
        | FROM d GROUP BY 1),
        |f AS (
        | SELECT d.l_returnflag, d.pc FROM d JOIN s USING (l_returnflag)
        | WHERE (n*pc - sx)::HUGEINT * (n*pc - sx)::HUGEINT >
        |  9::HUGEINT * (n::HUGEINT * sxx - sx::HUGEINT * sx::HUGEINT)),
        |o AS (
        | SELECT l_returnflag, count(*) AS n_outliers,
        |  CAST(min(pc) AS DOUBLE)/CAST(100 AS DOUBLE) AS outlier_lo,
        |  CAST(max(pc) AS DOUBLE)/CAST(100 AS DOUBLE) AS outlier_hi
        | FROM f GROUP BY 1)
        |SELECT s.l_returnflag, s.n AS n_rows,
        | coalesce(o.n_outliers, 0) AS n_outliers, o.outlier_lo, o.outlier_hi
        |FROM s LEFT JOIN o USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin),

    Query("q101_numeric_histogram", Analytics.numericHistogram,
      s"""WITH long4 AS (
        | SELECT 'quantity' AS metric, CAST(l_quantity AS BIGINT) AS v
        | FROM lineitem
        | UNION ALL SELECT 'price_cents',
        |  CAST(round(l_extendedprice*100) AS BIGINT) FROM lineitem
        | UNION ALL SELECT 'discount_bp',
        |  CAST(round(l_discount*10000) AS BIGINT) FROM lineitem
        | UNION ALL SELECT 'tax_bp',
        |  CAST(round(l_tax*10000) AS BIGINT) FROM lineitem),
        |r AS (
        | SELECT metric, min(v) AS mn,
        |  (max(v) - min(v)) // ${Analytics.HIST_BUCKETS} + 1 AS width
        | FROM long4 GROUP BY 1)
        |SELECT l.metric, (v - mn) // width AS bucket,
        | count(*) AS n, min(v) AS lo, max(v) AS hi
        |FROM long4 l JOIN r ON l.metric = r.metric
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // The oracle is the quadratic NOT-EXISTS dominance definition — the
    // O(n log n) sweep must reproduce it exactly.
    Query("q102_skyline", Analytics.skylineParts,
      """WITH p AS (
        | SELECT p_partkey, CAST(round(p_retailprice*100) AS BIGINT) AS pc,
        |  CAST(p_size AS BIGINT) AS sz
        | FROM part)
        |SELECT c.p_partkey,
        | CAST(c.pc AS DOUBLE)/CAST(100 AS DOUBLE) AS price,
        | c.sz AS p_size
        |FROM p c
        |WHERE NOT EXISTS (
        | SELECT 1 FROM p d
        | WHERE d.pc <= c.pc AND d.sz >= c.sz
        |  AND (d.pc < c.pc OR d.sz > c.sz))
        |ORDER BY price, p_size DESC, p_partkey""".stripMargin),

    Query("q103_attribution", Analytics.attribution,
      s"""WITH e AS (
        | SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
        |  CAST(round(value*100) AS BIGINT) AS vc
        | FROM events),
        |x AS (
        | SELECT *, max(CASE WHEN event_type = 'click' THEN us END) OVER (
        |   PARTITION BY user_id ORDER BY us, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
        | FROM e),
        |p AS (
        | SELECT *, (last_click_us IS NOT NULL
        |   AND us - last_click_us <= ${Analytics.ATTR_WINDOW_US}) AS attributed
        | FROM x WHERE event_type = 'purchase')
        |SELECT attributed,
        | CASE WHEN attributed THEN (us - last_click_us) // ${86400L * 1000000L}
        |      ELSE -1 END AS lag_days,
        | count(*) AS n_purchases,
        | CAST(SUM(vc) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue
        |FROM p GROUP BY 1, 2 ORDER BY attributed, lag_days""".stripMargin),

    // ---- round 5: graph communities, drift monitoring, market basket ----
    Query("q104_label_propagation", Graph.labelPropagation, OracleTwins.labelPropagation),

    Query("q105_distribution_drift", Analytics.distributionDrift,
      s"""WITH o AS (
        | SELECT year(o_orderdate) <= ${Analytics.DRIFT_SPLIT_YEAR} AS base,
        |  least(CAST(round(o_totalprice*100) AS BIGINT)
        |   // ${Analytics.DRIFT_BUCKET_CENTS}, ${Analytics.DRIFT_MAX_BUCKET})
        |   AS bucket
        | FROM orders),
        |c AS (
        | SELECT bucket,
        |  CAST(SUM(CASE WHEN base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
        |  CAST(SUM(CASE WHEN NOT base THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_current
        | FROM o GROUP BY 1),
        |t AS (
        | SELECT CAST(SUM(n_base) AS BIGINT) AS ta,
        |  CAST(SUM(n_current) AS BIGINT) AS tb FROM c)
        |SELECT bucket, n_base, n_current,
        | CAST(abs(CAST(n_base AS HUGEINT) * tb - CAST(n_current AS HUGEINT) * ta)
        |  * 1000000 // (CAST(ta AS HUGEINT) * tb) AS BIGINT) AS drift_ppm
        |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin),

    Query("q106_copurchase", Analytics.coPurchase,
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |pairs AS (
        | SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_co
        | FROM li a JOIN li b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= ${Analytics.COP_MIN}),
        |po AS (SELECT l_partkey, count(*) AS n_orders FROM li GROUP BY 1)
        |SELECT p1, p2, n_co, a.n_orders AS n_p1, b.n_orders AS n_p2,
        | n_co * 1000000 // least(a.n_orders, b.n_orders) AS overlap_ppm
        |FROM pairs
        | JOIN po a ON p1 = a.l_partkey
        | JOIN po b ON p2 = b.l_partkey
        |ORDER BY n_co DESC, p1, p2 LIMIT ${Analytics.COP_TOP}""".stripMargin),

    // ---- round 5: robust stats + scale-correct global binning ----
    // 2·median and 2·MAD of integers are integers (interpolation only at
    // .5), so the robust rule is pure BIGINT in both engines.
    Query("q107_mad_outliers", Analytics.madOutliers,
      s"""WITH d AS (
        | SELECT l_returnflag,
        |  CAST(round(l_extendedprice*100) AS BIGINT) AS pc
        | FROM lineitem),
        |m AS (
        | SELECT l_returnflag,
        |  CAST(quantile_cont(pc, 0.5)*2 AS BIGINT) AS med2
        | FROM d GROUP BY 1),
        |dev AS (
        | SELECT d.l_returnflag, abs(pc*2 - med2) AS adev2, med2
        | FROM d JOIN m USING (l_returnflag)),
        |s AS (
        | SELECT l_returnflag,
        |  CAST(quantile_cont(adev2, 0.5)*2 AS BIGINT) AS mad4,
        |  count(*) AS n_rows
        | FROM dev GROUP BY 1)
        |SELECT dev.l_returnflag, CAST(max(s.n_rows) AS BIGINT) AS n_rows,
        | CAST(SUM(CASE WHEN adev2*2 > ${Analytics.MAD_K}*mad4
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        | CAST(max(med2) AS DOUBLE)/2/CAST(100 AS DOUBLE) AS median,
        | CAST(max(mad4) AS DOUBLE)/4/CAST(100 AS DOUBLE) AS mad
        |FROM dev JOIN s USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // Eighth-quantile positions are dyadic, so the interpolated edges are
    // exactly-representable doubles in both engines; 8·edge is bit-exact.
    Query("q108_equidepth_global", Analytics.equidepthGlobal,
      s"""WITH d AS (
        | SELECT CAST(round(o_totalprice*100) AS BIGINT) AS pc FROM orders),
        |e AS (
        | SELECT list_transform(quantile_cont(pc,
        |   [${(1 until Analytics.EQUIDEPTH_BINS)
               .map(k => (k.toDouble / Analytics.EQUIDEPTH_BINS).toString)
               .mkString(", ")}]),
        |  x -> CAST(x*8 AS BIGINT)) AS edge8
        | FROM d),
        |b AS (
        | SELECT CAST(len(list_filter(edge8, v -> v < pc*8)) AS BIGINT)
        |  AS bin, pc
        | FROM d CROSS JOIN e)
        |SELECT bin, count(*) AS n_orders,
        | CAST(min(pc) AS DOUBLE)/CAST(100 AS DOUBLE) AS lo,
        | CAST(max(pc) AS DOUBLE)/CAST(100 AS DOUBLE) AS hi
        |FROM b GROUP BY 1 ORDER BY bin""".stripMargin),

    // ---- round 5: behavioral analytics (paths, multi-touch, seasonal) ----
    Query("q109_event_paths", Analytics.eventPaths,
      s"""WITH r AS (
        | SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |   ORDER BY epoch_us(ts), event_id) AS rk
        | FROM events),
        |p AS (
        | SELECT user_id, string_agg(event_type, '>' ORDER BY rk) AS path
        | FROM r WHERE rk <= ${Analytics.PATH_LEN} GROUP BY 1)
        |SELECT path, count(*) AS n_users FROM p GROUP BY 1
        |ORDER BY n_users DESC, path LIMIT ${Analytics.PATH_TOP}""".stripMargin),

    Query("q110_multitouch", Analytics.multiTouchAttribution,
      s"""WITH e AS (
        | SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
        |  CAST(hour(ts) AS BIGINT) AS hr,
        |  CAST(round(value*100) AS BIGINT) AS vc
        | FROM events),
        |pu AS (
        | SELECT user_id, pus, pid, vc, k FROM (
        |  SELECT user_id, event_type, us AS pus, event_id AS pid, vc,
        |   coalesce(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY us
        |     RANGE BETWEEN ${Analytics.ATTR_WINDOW_US} PRECEDING
        |      AND 1 PRECEDING), 0) AS k
        |  FROM e) x
        | WHERE event_type = 'purchase'),
        |ck AS (
        | SELECT user_id, us AS cus, event_id AS cid, hr FROM e
        | WHERE event_type = 'click'),
        |cr AS (
        | SELECT hr,
        |  vc // k + CASE WHEN rn = 1 THEN vc - k*(vc // k) ELSE 0 END
        |   AS credit
        | FROM (
        |  SELECT pu.pid, pu.vc, pu.k, ck.hr,
        |   row_number() OVER (PARTITION BY pu.pid
        |    ORDER BY ck.cus, ck.cid) AS rn
        |  FROM pu JOIN ck ON pu.user_id = ck.user_id
        |   AND ck.cus >= pu.pus - ${Analytics.ATTR_WINDOW_US}
        |   AND ck.cus < pu.pus
        |  WHERE pu.k > 0) j),
        |dr AS (
        | SELECT CAST(-1 AS BIGINT) AS hr, vc AS credit FROM pu
        | WHERE k = 0)
        |SELECT hr AS click_hour, count(*) AS n_credits,
        | CAST(SUM(credit) AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue
        |FROM (SELECT * FROM cr UNION ALL SELECT * FROM dr) u
        |GROUP BY 1 ORDER BY click_hour""".stripMargin),

    Query("q111_seasonal_residuals", Analytics.seasonalResiduals,
      s"""WITH p AS (
        | SELECT event_id, user_id, CAST(isodow(ts) AS BIGINT) AS dow,
        |  CAST(round(value*100) AS BIGINT) AS vc
        | FROM events WHERE event_type = 'purchase'),
        |s AS (
        | SELECT dow, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(vc) AS BIGINT) AS sx
        | FROM p GROUP BY 1)
        |SELECT event_id, user_id, dow,
        | CAST(vc AS DOUBLE)/CAST(100 AS DOUBLE) AS value,
        | n AS n_dow, n*vc - sx AS resid_scaled
        |FROM p JOIN s USING (dow)
        |ORDER BY abs(n*vc - sx) DESC, event_id
        |LIMIT ${Analytics.SEASONAL_TOP}""".stripMargin),

    // ---- round 5: native sorted-merge as-of join (custom LogicalPlan +
    // SparkStrategy + SparkPlan; q41's semantics, O(n+m) execution) ----
    // same oracle on purpose: the native sorted-merge operator must be
    // indistinguishable from the window form, row for row
    Query("q112_asof_native", Kpis.eventOrderAsofNative, asofOracle),

    // ---- round 5: UDTF-class Generator through the SQL registry ----
    // The oracle rebuilds the capped pair fan-out relationally — the
    // generator must be just an execution strategy, not new semantics.
    Query("q113_pair_generator", Graph.coSupplyTopEdges,
      s"""WITH sp0 AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |sp AS (
        | SELECT l_partkey, l_suppkey FROM (
        |  SELECT l_partkey, l_suppkey,
        |   row_number() OVER (PARTITION BY l_partkey ORDER BY l_suppkey)
        |    AS srk
        |  FROM sp0) c
        | WHERE srk <= ${Graph.COSUPPLY_CAP})
        |SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS w
        |FROM sp a JOIN sp b
        | ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
        |GROUP BY 1, 2
        |ORDER BY w DESC, s1, s2 LIMIT ${Graph.COSUPPLY_TOP}""".stripMargin),

    // ---- round 5: time-constrained funnel + native XML round-trip ----
    Query("q114_windowed_funnel", Kpis.windowedFunnel,
      s"""WITH e AS (
        | SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (
        | SELECT user_id, min(us) AS t1 FROM e
        | WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (
        | SELECT e.user_id, min(us) AS t2, min(t1) AS t1
        | FROM e JOIN s1 USING (user_id)
        | WHERE event_type = 'click'
        |  AND us > t1 AND us <= t1 + ${Kpis.FUNNEL_WINDOW_US}
        | GROUP BY 1),
        |s3 AS (
        | SELECT e.user_id, min(us) AS t3, min(t1) AS t1
        | FROM e JOIN s2 USING (user_id)
        | WHERE event_type = 'purchase'
        |  AND us > t2 AND us <= t2 + ${Kpis.FUNNEL_WINDOW_US}
        | GROUP BY 1)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_signup,
        | (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n_click,
        | (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n_purchase,
        | (SELECT CAST(coalesce(SUM(t3 - t1), 0) AS BIGINT) FROM s3)
        |  AS conv_us_sum""".stripMargin),

    // The oracle aggregates the parquet ORIGINAL — any escaping or
    // numeric loss in the XML text boundary breaks the hash (q65's rule).
    Query("q115_xml_roundtrip", SourceOps.xmlRoundtrip,
      """SELECT CAST(s_nationkey AS BIGINT) AS nation_key,
        | count(*) AS n_suppliers,
        | CAST(SUM(CAST(round(s_acctbal*100) AS BIGINT)) AS DOUBLE)/CAST(100 AS DOUBLE) AS total_balance,
        | min(s_name) AS first_name, max(s_name) AS last_name
        |FROM supplier GROUP BY 1 ORDER BY nation_key""".stripMargin),

    // ---- round 5: exact-moment model fits ----
    // HUGEINT ≡ decimal(38,0); the one float derivation replays in the
    // same operation order, then round6 — q69's moment discipline.
    Query("q116_ols_regression", Analytics.olsRegression,
      """WITH d AS (
        | SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |  CAST(round(l_extendedprice*100) AS BIGINT) AS y
        | FROM lineitem),
        |s AS (
        | SELECT l_returnflag, count(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |  SUM(x::HUGEINT * y::HUGEINT) AS sxy,
        |  SUM(x::HUGEINT * x::HUGEINT) AS sxx,
        |  SUM(y::HUGEINT * y::HUGEINT) AS syy
        | FROM d GROUP BY 1),
        |c AS (
        | SELECT l_returnflag, n, sx, sy,
        |  (n::HUGEINT * sxy - sx::HUGEINT * sy::HUGEINT) AS num,
        |  (n::HUGEINT * sxx - sx::HUGEINT * sx::HUGEINT) AS denx,
        |  (n::HUGEINT * syy - sy::HUGEINT * sy::HUGEINT) AS deny
        | FROM s),
        |b AS (
        | SELECT *, CAST(num AS DOUBLE) / CAST(denx AS DOUBLE) AS slope
        | FROM c)
        |SELECT l_returnflag, n AS n_rows,
        | CAST(round(slope*1000000) AS BIGINT)/CAST(1000000 AS DOUBLE)
        |  AS slope_cents_per_unit,
        | CAST(round(((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE))
        |   / CAST(n AS DOUBLE))*1000000) AS BIGINT)/CAST(1000000 AS DOUBLE)
        |  AS intercept_cents,
        | CAST(round((CAST(num AS DOUBLE) * CAST(num AS DOUBLE) /
        |   (CAST(denx AS DOUBLE) * CAST(deny AS DOUBLE)))*1000000)
        |  AS BIGINT)/CAST(1000000 AS DOUBLE) AS r2
        |FROM b ORDER BY l_returnflag""".stripMargin),

    Query("q117_chi_square", Analytics.chiSquare,
      """WITH d AS (
        | SELECT event_type, CAST(hour(ts) // 6 AS BIGINT) AS day_part
        | FROM events),
        |cells AS (
        | SELECT event_type, day_part, count(*) AS o FROM d GROUP BY 1, 2),
        |rm AS (SELECT event_type, count(*) AS rn FROM d GROUP BY 1),
        |cm AS (SELECT day_part, count(*) AS cn FROM d GROUP BY 1),
        |t AS (SELECT count(*) AS nn FROM d)
        |SELECT cells.event_type, cells.day_part, o,
        | CAST(round((CAST(o::HUGEINT * nn - rn::HUGEINT * cn AS DOUBLE) *
        |   CAST(o::HUGEINT * nn - rn::HUGEINT * cn AS DOUBLE) /
        |   (CAST(rn AS DOUBLE) * CAST(cn AS DOUBLE) * CAST(nn AS DOUBLE)))
        |  *1000000) AS BIGINT)/CAST(1000000 AS DOUBLE) AS contrib
        |FROM cells
        | JOIN rm ON cells.event_type = rm.event_type
        | JOIN cm ON cells.day_part = cm.day_part
        | CROSS JOIN t
        |ORDER BY cells.event_type, cells.day_part""".stripMargin),

    // ---- round 5: two-phase exact heavy hitters (scale path of q48) ----
    // The oracle is the PLAIN top-k — candidate pruning must be an
    // execution detail, invisible in the result (q61/q96's rule).
    Query("q118_heavy_hitters", TextOps.heavyHitters,
      s"""WITH w AS (
        | SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
        | FROM documents)
        |SELECT word, count(*) AS n FROM w WHERE len(word) > 0
        |GROUP BY 1 ORDER BY n DESC, word LIMIT ${TextOps.HH_TOP_K}""".stripMargin),

    // ---- round 5: ANN index evaluation (recall@k vs brute force) ----
    Query("q119_ann_recall", Sim.annRecall, OracleTwins.annRecall),

    // ---- round 5: weighted median + revenue-concentration (Gini) ----
    Query("q120_weighted_median", Analytics.weightedMedian,
      """WITH d AS (
        | SELECT l_returnflag,
        |  CAST(round(l_extendedprice*100) AS BIGINT) AS pc,
        |  CAST(l_quantity AS BIGINT) AS wt
        | FROM lineitem),
        |bv AS (
        | SELECT l_returnflag, pc, CAST(SUM(wt) AS BIGINT) AS w
        | FROM d GROUP BY 1, 2),
        |cw AS (
        | SELECT l_returnflag, pc,
        |  CAST(SUM(w) OVER (PARTITION BY l_returnflag ORDER BY pc
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cumw,
        |  CAST(SUM(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS totw
        | FROM bv)
        |SELECT l_returnflag, max(totw) AS total_weight,
        | CAST(min(pc) AS DOUBLE)/CAST(100 AS DOUBLE) AS weighted_median
        |FROM cw WHERE cumw * 2 >= totw
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin),

    Query("q121_gini_by_nation", Analytics.giniByNation,
      """WITH rev AS (
        | SELECT o_custkey,
        |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS x
        | FROM orders GROUP BY 1),
        |r AS (
        | SELECT n_name, x, o_custkey,
        |  CAST(row_number() OVER (PARTITION BY n_name
        |   ORDER BY x, o_custkey) AS BIGINT) AS i
        | FROM rev
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |g AS (
        | SELECT n_name, count(*) AS n_customers,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(i*x) AS BIGINT) AS six
        | FROM r GROUP BY 1)
        |SELECT n_name, n_customers,
        | CAST(sx AS DOUBLE)/CAST(100 AS DOUBLE) AS revenue,
        | CAST(round(((2.0 * CAST(six AS DOUBLE) -
        |   CAST(n_customers + 1 AS DOUBLE) * CAST(sx AS DOUBLE))
        |  / (CAST(n_customers AS DOUBLE) * CAST(sx AS DOUBLE)))*1000000)
        |  AS BIGINT)/CAST(1000000 AS DOUBLE) AS gini
        |FROM g ORDER BY n_name""".stripMargin),

    // ---- round 6: grouped equal-frequency binning, scale path of q93
    // (exact ntile output via run-level rank arithmetic over the
    // distinct-value aggregate — one sharded window, no data sort) ----
    // q122 computes the SAME result as q93 through the scale path —
    // the oracle is deliberately the identical grouped-ntile twin.
    Query("q122_quantile_bins_grouped", Analytics.quantileBinsGrouped,
      s"""WITH o AS (
        | SELECT o_orderpriority, o_orderkey,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS pc
        | FROM orders),
        |b AS (
        | SELECT o_orderpriority, pc,
        |  CAST(ntile(${Kpis.N_BINS}) OVER (
        |    PARTITION BY o_orderpriority ORDER BY pc, o_orderkey)
        |   AS BIGINT) AS bin
        | FROM o)
        |SELECT o_orderpriority, bin, count(*) AS n_orders,
        | CAST(min(pc) AS DOUBLE)/CAST(100 AS DOUBLE) AS lo,
        | CAST(max(pc) AS DOUBLE)/CAST(100 AS DOUBLE) AS hi
        |FROM b GROUP BY 1, 2 ORDER BY o_orderpriority, bin""".stripMargin),

    // ---- round 6: direction + tolerance knobs on the native as-of
    // operator (kdb aj / pandas merge_asof parity) ----
    // direction/tolerance knobs of the native operator, each against an
    // independent window-form twin (expand within tolerance + rank)
    Query("q123_asof_forward", Kpis.eventOrderAsofForward,
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_event_id, user_id AS p_user_id,
        |       ts AS p_ts FROM events WHERE event_type = 'purchase'),
        |j AS (
        | SELECT c.event_id, c.user_id, p.p_event_id, p.p_ts,
        |  row_number() OVER (PARTITION BY c.event_id
        |    ORDER BY p.p_ts ASC NULLS LAST, p.p_event_id ASC NULLS LAST) AS rn
        | FROM c LEFT JOIN p
        |   ON c.user_id = p.p_user_id AND p.p_ts >= c.ts
        |    AND epoch_us(p.p_ts) - epoch_us(c.ts) <= 86400000000)
        |SELECT event_id, user_id, p_event_id AS purchase_id,
        | strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin),

    // nearest: rank by |Δt|, backward preferred on a distance tie; among
    // equal times the backward side takes the max tie (event_id DESC,
    // hence the negated CASE branch), the forward side the min
    Query("q124_asof_nearest", Kpis.eventOrderAsofNearest,
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_event_id, user_id AS p_user_id,
        |       ts AS p_ts FROM events WHERE event_type = 'purchase'),
        |j AS (
        | SELECT c.event_id, c.user_id, p.p_event_id, p.p_ts,
        |  row_number() OVER (PARTITION BY c.event_id
        |    ORDER BY abs(epoch_us(p.p_ts) - epoch_us(c.ts)) ASC,
        |     (p.p_ts > c.ts) ASC,
        |     CASE WHEN p.p_ts > c.ts THEN p.p_event_id
        |          ELSE -p.p_event_id END ASC) AS rn
        | FROM c LEFT JOIN p
        |   ON c.user_id = p.p_user_id
        |    AND abs(epoch_us(p.p_ts) - epoch_us(c.ts)) <= 86400000000)
        |SELECT event_id, user_id, p_event_id AS purchase_id,
        | strftime(p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin),

    // ---- round 6: selective salted join (join twin of q61's salted
    // agg; oracle is the unsalted join, proving semantics preserved) ----
    // the UNSALTED join: hot-path + cold-path + union must be invisible
    Query("q125_salted_skew_join", Skew.saltedSkewJoin,
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        | CAST(SUM(CAST(round((l_extendedprice)*100) AS BIGINT)) AS DOUBLE)
        |  / CAST(100 AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ---- round 6: broadcast as-of strategy (zero probe-side shuffle),
    // round 7: re-pointed at its contract shape — the broadcast side is
    // a reference table bounded by CONSTRUCTION, not a scale-growing
    // fact (the broadcast≡merge equality proof stays in AsOfJoinSpec) ----
    // the broadcast strategy, held to the same as-of semantics as the
    // window (q41) and sorted-merge (q112) forms: broadcast as-of on its
    // contract shape: bounded nation×epoch rate book, latest epoch ≤ ts
    // per event, aggregated per nation (the window twin mirrors q41's
    // rank form)
    Query("q126_asof_broadcast", Kpis.eventNationRateAsof,
      s"""WITH e AS (
        | SELECT event_id, user_id % ${Kpis.RATE_NATIONS} AS nk, ts
        | FROM events),
        |r AS (
        | SELECT nk.v AS rnk, ep.v AS ep,
        |  TIMESTAMP '${Kpis.RATE_START}' + INTERVAL (ep.v) DAY AS rate_from,
        |  nk.v * 1000 + ep.v AS rate_id
        | FROM (SELECT unnest(range(0, ${Kpis.RATE_NATIONS})) AS v) nk
        | CROSS JOIN (SELECT unnest(range(0, ${Kpis.RATE_EPOCHS})) AS v) ep),
        |j AS (
        | SELECT e.event_id, e.nk, r.rate_id,
        |  row_number() OVER (PARTITION BY e.event_id
        |    ORDER BY r.rate_from DESC, r.rate_id DESC) AS rn
        | FROM e LEFT JOIN r ON e.nk = r.rnk AND r.rate_from <= e.ts)
        |SELECT nk, CAST(count(*) AS BIGINT) AS n_events,
        | CAST(count(rate_id) AS BIGINT) AS n_matched,
        | CAST(sum(rate_id) AS BIGINT) AS sum_rate_ids
        |FROM j WHERE rn = 1 GROUP BY nk ORDER BY nk""".stripMargin),

    // ---- round 6: multi-column-key as-of (kdb aj by-columns parity) ----
    // multi-key as-of with a NATIVE STRING key (no code map): the
    // reference epochs are synthesized identically (EXACTLY ONE per
    // supplier × flag, so the backward winner is that row iff its epoch
    // has started — no rank needed, which also sidesteps the synthetic
    // lineitem's non-unique (orderkey, line#))
    Query("q127_asof_multikey", Kpis.lineitemRateAsof,
      """WITH r AS (
        | SELECT s_suppkey, fc,
        |  CASE fc WHEN 1 THEN 'A' WHEN 2 THEN 'N' ELSE 'R' END AS rf,
        |  TIMESTAMP '1995-01-01'
        |   + INTERVAL ((s_suppkey * 7 + fc * 11) % 1000) DAY AS rate_from,
        |  s_suppkey * 10 + fc AS rate_id
        | FROM supplier CROSS JOIN (SELECT unnest([1, 2, 3]) AS fc)),
        |l AS (
        | SELECT l_suppkey, l_returnflag, l_shipdate FROM lineitem)
        |SELECT l.l_suppkey, l.l_returnflag,
        | CAST(count(*) AS BIGINT) AS n_items,
        | CAST(count(r.rate_id) AS BIGINT) AS n_matched,
        | CAST(sum(r.rate_id) AS BIGINT) AS sum_rate_ids
        |FROM l LEFT JOIN r ON l.l_suppkey = r.s_suppkey
        |  AND l.l_returnflag = r.rf
        |  AND r.rate_from <= l.l_shipdate
        |GROUP BY l.l_suppkey, l.l_returnflag
        |ORDER BY l.l_suppkey, l.l_returnflag""".stripMargin),

    // ---- round 7: incremental near-dup against a PERSISTED band index
    // (build once, probe each delta — no corpus signature recompute) ----
    Query("q128_incremental_neardup", Dedup.incrementalNearDup, OracleTwins.incrementalNearDup),
    // ---- round 7: persisted IVF index lifecycle (train once, append
    // deltas against frozen centroids, cell-pruned probes) ----
    Query("q129_ivf_index_probe", Sim.ivfIndexProbe, OracleTwins.ivfIndexProbe),
    // ---- round 7: C4-style cross-document boilerplate accounting
    // (relative-df heavy grams, broadcast back — corpus never shuffled) --
    Query("q130_boilerplate_ngrams", TextOps.boilerplateNgrams, OracleTwins.boilerplateNgrams),
    // ---- round 8: IVF recall@k as a function of nprobe on one persisted
    // index — the measurement behind probeIvfIndex's multi-cell knob ----
    Query("q131_ivf_nprobe_recall", Sim.ivfNprobeRecall, OracleTwins.ivfNprobeRecall),

    // ---- round 8: the heavy-gram drift monitor's table (same operator
    // streams in DocsStream.heavyGramMonitor; StreamingSpec pins ≡) ----
    Query("q132_heavy_gram_monitor", ((s, dir) =>
      graft.streaming.DocsStream.heavyGramMonitor(
        Tables.documents(s, dir), TextOps.heavyGramSet(s, dir))
        .orderBy("g")),
      OracleTwins.heavyGramMonitor),

    // ---- round 8: exact-substring (repeated-span) dedup signal —
    // position-kept window fingerprints, cross-document df≥2 ----
    Query("q133_repeated_spans", TextOps.repeatedSpans, OracleTwins.repeatedSpans),
    // ---- round 8: the dedup keep/drop decision over q43's clusters ----
    Query("q134_dedup_keep_list", Dedup.dedupKeepList, OracleTwins.dedupKeepList),
    // ---- round 8: tokenizer-sizing signal — top-N vocab coverage ----
    Query("q135_vocab_coverage", TextOps.vocabCoverage, OracleTwins.vocabCoverage),
    // ---- round 8: composed IVF-PQ search (coarse cells → ADC scan of
    // compressed codes → exact rerank of the shortlist) ----
    Query("q136_ivfpq_topk", Sim.ivfpqTopK, OracleTwins.ivfpqTopK),
    // ---- round 8: RRF fusion of lexical + dense similar-doc rankings ----
    Query("q137_hybrid_retrieval", TextOps.hybridRetrieval, OracleTwins.hybridRetrieval),
    // ---- round 8: bigram-LM fluency scoring (CCNet-style quality) ----
    Query("q138_lm_score", TextOps.lmScore, OracleTwins.lmScore),
    // ---- round 8: persisted inverted-index lifecycle (lexical twin of
    // the MinHash/IVF indexes — build/append/probe/compact) ----
    Query("q139_term_index_probe", TermIndex.termIndexProbe,
      OracleTwins.retrievalSql(engine.TermIndex.TI_TERMS)),
    // ---- round 8: LSH banding-geometry recall/precision sweep ----
    Query("q140_lsh_recall", Dedup.lshRecall, OracleTwins.lshRecall),
    // ---- round 8: temperature-flattened mixture sampling (α=0.5) ----
    Query("q141_temperature_sample", TextOps.temperatureSample, OracleTwins.temperatureSample),
    // ---- round 8: leakage-proof split keyed on near-dup clusters ----
    Query("q142_cluster_split", Dedup.clusterAwareSplit, OracleTwins.clusterAwareSplit),
    // ---- round 8: deterministic global training shuffle manifest ----
    Query("q143_training_shards", TextOps.trainingShards, OracleTwins.trainingShards),
    // ---- round 8: embedding drift vs frozen baseline centroids ----
    Query("q144_embedding_drift", Sim.embeddingDrift, OracleTwins.embeddingDrift),
    // ---- round 8: 13-gram benchmark decontamination ----
    Query("q145_ngram_decontamination", Dedup.ngramDecontamination,
      OracleTwins.ngramDecontamination),
    // ---- round 8: doc-in-doc containment dedup (bottom-k sketch) ----
    Query("q146_containment_dedup", Dedup.containmentDedup, OracleTwins.containmentDedup),
    // ---- round 8: end-to-end curation pipeline in one plan ----
    Query("q147_curation_pipeline", TextOps.curationPipeline, OracleTwins.curationPipeline),
    // ---- round 8: cluster-stratified coverage sample ----
    Query("q148_cell_coverage_sample", Sim.cellCoverageSample, OracleTwins.cellCoverageSample),
    // ---- round 8: persisted IVF-PQ compressed-index lifecycle ----
    Query("q149_ivfpq_index_probe", Sim.ivfpqIndexProbe, OracleTwins.ivfpqIndexProbe),
    // ---- round 8: source-pair duplication matrix ----
    Query("q150_source_pair_dups", Dedup.sourcePairDups, OracleTwins.sourcePairDups),
    // ---- round 8: token-budget mixture via exact waterfilling ----
    Query("q151_token_budget_mixture", TextOps.tokenBudgetMixture,
      OracleTwins.tokenBudgetMixture),
    // ---- round 8: exact phrase search via positioned span hashes ----
    Query("q152_phrase_search", TextOps.phraseSearch, OracleTwins.phraseSearch),
    // ---- round 9: steady-state consumers of the maintained label
    //      table (merge, never re-cluster) — same oracles as the full
    //      recomputes they replace (q134/q142) ----
    Query("q153_lifecycle_keep_list", Dedup.lifecycleKeepList, OracleTwins.dedupKeepList),
    Query("q154_lifecycle_cluster_split", Dedup.lifecycleClusterSplit,
      OracleTwins.clusterAwareSplit),
    // ---- round 9: containment head-fingerprint index lifecycle ----
    Query("q155_containment_increment", Dedup.containmentIncrementProbe,
      OracleTwins.containmentIncrementProbe),
    // ---- round 9: the remaining closure consumers, lifecycle-served
    //      (same oracles as q147/q43) ----
    Query("q156_lifecycle_curation", TextOps.lifecycleCuration, OracleTwins.curationPipeline),
    Query("q157_lifecycle_dup_clusters", Dedup.lifecycleDupClusters, OracleTwins.dupClusters),
    // ---- round 9: the DECREMENTAL paths, oracle-gated — forget must
    //      arrive at the closure/scoring of a corpus the deleted docs
    //      were never in ----
    Query("q158_forget_clusters", Dedup.forgetClustersProbe, OracleTwins.forgetClusters),

    Query("q159_term_forget_probe", TermIndex.termForgetProbe,
      OracleTwins.retrievalSql(
        engine.TermIndex.TI_TERMS,
        docWhere = s"doc_id % ${engine.Dedup.FORGET_MOD} <> 0")),

    // ---- round 9: soft dedup — weight, don't drop ----
    Query("q160_soft_dedup_weights", Dedup.softDedupWeights, OracleTwins.softDedupWeights),
    Query("q161_lifecycle_soft_weights", Dedup.lifecycleSoftWeights,
      OracleTwins.softDedupWeights),
    // ---- round 9: funnel ledger + quality-ranked canonicals ----
    Query("q162_curation_funnel", TextOps.curationFunnel, OracleTwins.curationFunnel),
    Query("q163_quality_canonicals", Dedup.qualityCanonicals, OracleTwins.qualityCanonicals),
    Query("q164_quality_keep_list", Dedup.qualityKeepList, OracleTwins.qualityKeepList),
    Query("q165_weighted_mixture", TextOps.weightedTokenMixture,
      OracleTwins.weightedTokenMixture),
    Query("q166_lifecycle_semdedup", Sim.lifecycleSemanticDedup,
      OracleTwins.lifecycleSemanticDedup),
    Query("q167_source_token_cap", TextOps.sourceTokenCap, OracleTwins.sourceTokenCap),
    Query("q168_stratified_eval", TextOps.stratifiedEvalSample,
      OracleTwins.stratifiedEvalSample),
    Query("q169_length_percentiles", TextOps.lengthPercentiles, OracleTwins.lengthPercentiles),
    // ---- round 9: winnowing fingerprints (local-overlap dedup channel)
    //      + BPE tokenizer training over the word histogram ----
    Query("q170_winnow_neardup", Dedup.winnowNearDup, OracleTwins.winnowNearDup),
    Query("q171_bpe_merges", TextOps.bpeMerges, OracleTwins.bpeMerges),
    Query("q172_bpe_fertility", TextOps.bpeFertility, OracleTwins.bpeFertility),
    Query("q173_winnow_increment", Dedup.winnowIncrementProbe,
      OracleTwins.winnowIncrementProbe),
    // ---- round 10: sampling-theory + sketch-calibration operators ----
    Query("q174_weighted_sample", TextOps.weightedSample, OracleTwins.weightedSample),
    Query("q175_random_projection_audit", Sim.randomProjectionAudit,
      OracleTwins.randomProjectionAudit),
    Query("q176_source_overlap", Dedup.sourceOverlap, OracleTwins.sourceOverlap),
    Query("q177_dsir_weights", TextOps.dsirWeights, OracleTwins.dsirWeights),
    // ---- round 10: REAL image decode (PPM/P6 wire round trip) ----
    Query("q178_image_decode", graft.multimodal.Multimodal.imageDecodeStats,
      OracleTwins.imageDecodeStats),
    Query("q179_image_resize", graft.multimodal.Multimodal.imageResizeStats,
      OracleTwins.imageResizeStats),
    // ---- round 10: the streaming lineage, oracle-gated end-to-end ----
    Query("q180_stream_curated", graft.streaming.DocsStream.streamCuratedProbe,
      OracleTwins.streamCurated),
    // ---- round 10: the reference's availability-JSON schedule parse ----
    Query("q181_availability_json", SourceOps.availabilityJson, OracleTwins.availabilityJson),
    // ---- round 10: persisted exact-hash "seen-before" admission gate ----
    Query("q182_hash_index_probe", Dedup.hashIndexProbe, OracleTwins.hashIndexProbe),
    // ---- round 10: REAL audio decode (RIFF/WAVE PCM wire round trip)
    //      + oracle-gated video frame sampling ----
    Query("q183_audio_decode", graft.multimodal.Multimodal.audioDecodeStats,
      OracleTwins.audioDecodeStats),
    Query("q184_audio_resample", graft.multimodal.Multimodal.audioResampleStats,
      OracleTwins.audioResampleStats),
    Query("q185_video_frames", graft.multimodal.Multimodal.videoFrameStats,
      OracleTwins.videoFrameStats),
    // ---- round 10: perceptual image dedup (dHash over the real codec) ----
    Query("q186_image_dhash", graft.multimodal.Multimodal.imageDHash, OracleTwins.imageDHash),
    Query("q187_image_pdup_groups", graft.multimodal.Multimodal.imagePdupGroups,
      OracleTwins.imagePdupGroups),
    Query("q188_image_pdup_pairs", graft.multimodal.Multimodal.imagePdupPairs,
      OracleTwins.imagePdupPairs),
    // ---- round 10: crawl-scale URL identity + frame-level audio features ----
    Query("q189_url_canonical", SourceOps.urlCanonicalDedup, OracleTwins.urlCanonicalDedup),
    Query("q190_audio_frames", graft.multimodal.Multimodal.audioFrameStats,
      OracleTwins.audioFrameStats),
    // ---- round 10: domain-grain curation gate (blocklist + quality) ----
    Query("q191_domain_gate", SourceOps.domainGate, OracleTwins.domainGate),
    // ---- round 10: fastText-shaped hashed-linear quality classifier ----
    Query("q192_quality_classifier", TextOps.qualityClassifier, OracleTwins.qualityClassifier),
    // ---- round 10: CCNet line-level dedup with doc reconstruction ----
    Query("q193_line_dedup", TextOps.lineDedup, OracleTwins.lineDedup),
    // ---- round 10: audio perceptual fingerprint near-dup ----
    Query("q194_audio_pdup_pairs", graft.multimodal.Multimodal.audioPdupPairs,
      OracleTwins.audioPdupPairs),
    // ---- round 10: deterministic KMV cardinality sketch + merge ----
    Query("q195_kmv_distinct", TextOps.kmvDistinctShingles, OracleTwins.kmvDistinctShingles),
    // ---- round 10: video near-dup via frame-fingerprint matching ----
    Query("q196_video_pdup_pairs", graft.multimodal.Multimodal.videoPdupPairs,
      OracleTwins.videoPdupPairs),
    // ---- round 10: streaming near-dup lifecycle, oracle-gated ----
    Query("q197_stream_neardup", graft.streaming.DedupStream.streamNearDupProbe,
      OracleTwins.streamNearDup),
    // ---- round 10: KMV sketch-store lifecycle (build/append/serve) ----
    Query("q198_kmv_lifecycle", TextOps.kmvLifecycle, OracleTwins.kmvLifecycle),
    // ---- round 10: contrastive hard-negative mining band ----
    Query("q199_hard_negatives", Sim.hardNegatives, OracleTwins.hardNegatives),
    // ---- round 10: watermarked windowed agg, oracle-gated ----
    Query("q200_stream_hourly", graft.streaming.EventsStream.streamHourlyProbe,
      OracleTwins.streamHourly),
    // ---- round 11: flatMapGroupsWithState sessionizer, oracle-gated ----
    Query("q201_stream_sessions", graft.streaming.EventsStream.streamSessionsProbe,
      OracleTwins.streamSessions),
    // ---- round 11: stream-stream as-of join, all 3 directions ----
    Query("q202_stream_asof", graft.streaming.AsOfStream.streamAsOfProbe,
      OracleTwins.streamAsOf),
    // ---- round 11: REAL BMP codec (wire-layout pins) ----
    Query("q203_bmp_decode", graft.multimodal.Multimodal.bmpDecodeStats,
      OracleTwins.bmpDecodeStats),
    // ---- round 11: mixed-format sniffing decode + resize ----
    Query("q204_mixed_decode", graft.multimodal.Multimodal.mixedDecodeStats,
      OracleTwins.mixedDecodeStats),
    // ---- round 11: session_window merge under out-of-order arrival ----
    Query("q205_stream_session_windows", graft.streaming.EventsStream.streamSessionWindowsProbe,
      OracleTwins.streamSessionWindows),
    // ---- round 11: KMV pairwise source-overlap estimation ----
    Query("q206_kmv_source_overlap", TextOps.kmvSourceOverlap, OracleTwins.kmvSourceOverlap),
    // ---- round 11: k-core decomposition (iterative peeling) ----
    Query("q207_kcore", Graph.kCore, OracleTwins.kCore),
    // ---- round 11: stream-stream interval join, emission-law gated ----
    Query("q208_stream_interval_join", graft.streaming.EventsStream.streamIntervalJoinProbe,
      OracleTwins.streamIntervalJoin),
    // ---- round 11: stream-static as-of sink, row-grain gated ----
    Query("q209_stream_asof_sink", graft.streaming.AsOfStream.streamAsOfSinkProbe,
      OracleTwins.streamAsOfSink),
    // ---- round 11: complete-mode drift histogram ----
    Query("q210_stream_drift", graft.streaming.EventsStream.streamDriftProbe,
      OracleTwins.streamDrift),
    // ---- round 11: term-index ingest stream (+ mid-stream compaction) ----
    Query("q211_stream_term_index", graft.streaming.TermIndexStream.streamTermIndexProbe,
      OracleTwins.retrievalSql(graft.streaming.TermIndexStream.ST_TERMS)),
    // ---- round 11: vec-index ingest + probe-serving streams ----
    // same oracle as q129 on purpose (the q41/q112 device): streamed
    // ingest + streamed serving must be indistinguishable from the
    // batch index lifecycle, row for row
    Query("q212_stream_vec_index", graft.streaming.VecIndexStream.streamVecIndexProbe,
      OracleTwins.ivfIndexProbe),
    // ---- round 11: sorted-neighbourhood linkage (bounded-pair ER) ----
    Query("q213_sorted_neighbourhood", Dedup.sortedNeighbourhood,
      OracleTwins.sortedNeighbourhood),
    // ---- round 11: drift-cell ingest stream, (batch, cell) grain ----
    Query("q214_stream_drift_cells", graft.streaming.DriftStream.streamDriftCellsProbe,
      OracleTwins.streamDriftCells),
    // ---- round 11: built-in exact streaming dedup under replayed feed ----
    Query("q215_stream_dedup", graft.streaming.EventsStream.streamDedupProbe,
      OracleTwins.streamDedup),
    // ---- round 11: stream-stream LEFT OUTER interval join ----
    Query("q216_stream_outer_join", graft.streaming.EventsStream.streamOuterJoinProbe,
      OracleTwins.streamOuterJoin),
    // ---- round 11: stream-stream FULL OUTER interval join ----
    Query("q217_stream_full_outer_join", graft.streaming.EventsStream.streamFullOuterJoinProbe,
      OracleTwins.streamFullOuterJoin),
    // ---- round 12: REAL PNG codec — hand-rolled DEFLATE inflate + the
    // five scanline unfilters; compressed mainstream format coverage ----
    Query("q218_png_decode", graft.multimodal.Multimodal.pngDecodeStats,
      OracleTwins.pngDecodeStats),
    // ---- round 12: deterministic bottom-k-sample quantiles (vs q55's
    // merge-order-sensitive percentile_approx) ----
    Query("q219_quantile_sketch", TextOps.quantileSketch, OracleTwins.quantileSketch),
    // ---- round 12: the reference's OWN 13-table schema end-to-end —
    // CSV fixtures → bronze → silver → gold, then its 8 KPI queries ----
    Query("q220_v2_active_categories", V2Demo.kpiActiveCategories,
      OracleTwins.v2ActiveCategories),
    Query("q221_v2_top_providers", V2Demo.kpiTopProviders, OracleTwins.v2TopProviders),
    Query("q222_v2_disputed_providers", V2Demo.kpiDisputedProviders,
      OracleTwins.v2DisputedProviders),
    Query("q223_v2_demand_by_area", V2Demo.kpiDemandByArea, OracleTwins.v2DemandByArea),
    Query("q224_v2_avg_rating", V2Demo.kpiAvgRating, OracleTwins.v2AvgRating),
    Query("q225_v2_monthly_revenue", V2Demo.kpiMonthlyRevenue, OracleTwins.v2MonthlyRevenue),
    Query("q226_v2_ai_usage", V2Demo.kpiAiUsage, OracleTwins.v2AiUsage),
    Query("q227_v2_top_rated", V2Demo.kpiTopRated, OracleTwins.v2TopRated),
    // ---- round 13: baseline JPEG — the dominant real-corpus format;
    // entropy decode + IDCT hash-gated via coefficient-constructed
    // exactly-rational blocks (VERDICT r12 ask #1) ----
    Query("q228_jpeg_decode", graft.multimodal.Multimodal.jpegDecodeStats,
      OracleTwins.jpegDecodeStats),
    // ---- round 13: PROGRESSIVE JPEG (SOF2) — multi-scan spectral
    // selection + EOBn runs, same exact-integer oracle device ----
    Query("q229_jpeg_progressive", graft.multimodal.Multimodal.jpegProgressiveStats,
      OracleTwins.jpegProgressiveStats),
    // ---- round 13: crawl-archive ingestion — .warc.gz member decode
    // (RFC 1952 over the hand-rolled inflate), WARC/HTTP envelopes,
    // HTML→text extraction; md5(text) gated cross-engine ----
    Query("q230_warc_ingest", Crawl.warcIngest, OracleTwins.warcIngest),
    Query("q231_crawl_host_stats", Crawl.crawlHostStats, OracleTwins.crawlHostStats),
    // ---- round 13: GIF — fifth image format, third hand-rolled
    // compression family (LZW: variable-width codes, dict growth,
    // KwKwK, interlace) ----
    Query("q232_gif_decode", graft.multimodal.Multimodal.gifDecodeStats,
      OracleTwins.gifDecodeStats),
    // ---- round 13: charset-aware page decode — Content-Type charset
    // parameter honored (UTF-8 / latin-1 / cp1252), wrong-charset
    // decodes cannot hash-match ----
    Query("q233_charset_pages", Crawl.charsetPages, OracleTwins.charsetPages),
    // ---- round 13: robots.txt (RFC 9309) frontier gate — broadcast
    // per-host rules, longest-match precedence, map-side verdicts ----
    Query("q234_robots_gate", ((s, d) => Crawl.robotsGate(s, d)), OracleTwins.robotsGate),
    // ---- round 13: crawl → curation end-to-end — wire bytes through
    // the decode chain into the shared quality gates and per-verdict
    // corpus accounting ----
    Query("q235_crawl_curation", Crawl.crawlCuration, OracleTwins.crawlCuration),
    // ---- round 14: PDF text extraction, dependency-free ISO 32000
    // subset (xref table → object graph → page tree → FlateDecode zlib
    // inflate → Tj/TJ/'/" operator machine), reached through the crawl
    // ingest's Content-Type DISPATCH next to HTML (VERDICT r13 ask #1) ----
    Query("q236_pdf_text", Crawl.pdfTextIngest, OracleTwins.pdfTextIngest),
    // ---- round 14: MAIN-CONTENT extraction — the jusText-shaped
    // block classifier (chrome ancestry / main-container override /
    // integer length+link-density law); q235's corpus gained chrome and
    // its gate rides the same extractor (VERDICT r13 ask #4) ----
    Query("q237_main_content", Crawl.mainContentExtract, OracleTwins.mainContentExtract),
    // ---- round 14: CDX record-grain index — response captures indexed
    // (urlkey, archive, member byte span) at ingest; a URL probe decodes
    // ONLY matched members by random access (VERDICT r13 ask #5) ----
    Query("q238_cdx_probe", Crawl.cdxProbe, OracleTwins.cdxProbe),
    // ---- round 14: the beyond-broadcast robots gate — rules as a
    // host-keyed TABLE met in a sort-merge join (the 10⁷-host regime's
    // shape); same oracle as q234 (VERDICT r13 ask #2) ----
    // q239 shares q234's oracle STRING (the q41/q112 device): one
    // decision algebra, two execution strategies — broadcast map-side
    // vs host-keyed sort-merge join — provably interchangeable.
    Query("q239_robots_gate_joined", Crawl.robotsGateJoined, OracleTwins.robotsGate),
    // ---- round 14: sitemap discovery (sitemaps.org protocol) — each
    // host's sitemapindex fetched and parsed, child urlsets fetched BY
    // THE PARSED LOCS; namespace-prefixed and default forms, CDATA,
    // entities, extension elements with decoy locs all on the wire ----
    Query("q240_sitemap_discover", Crawl.sitemapDiscover, OracleTwins.sitemapDiscover),
    // ---- round 14: crawl-frontier construction — the composition the
    // crawl surface exists for: sitemap-discovered ∖ seen-before ∩
    // robots-allowed, scheduled into per-host politeness waves ----
    Query("q241_crawl_frontier", Crawl.crawlFrontier, OracleTwins.crawlFrontier),
    // ---- round 14: WebDataset-style tar shard ingest — the ustar
    // distribution wrapper of real multimodal training corpora: shard
    // bytes parsed, members grouped into samples by key, text + class +
    // image members decoded map-side (the file IS the row) ----
    Query("q242_tar_shard_samples", graft.multimodal.Multimodal.tarShardSamples,
      OracleTwins.tarShardSamples),
    // ---- round 14: ZIP document-dump probe — central-directory
    // listing (an archive-tail read) + selective CRC-checked extraction
    // of seed members only: the container whose record-grain random
    // access is native to the wire ----
    Query("q243_zip_probe", Crawl.zipArchiveProbe, OracleTwins.zipArchiveProbe),
    // ---- round 14: WET emission — the crawl surface gains its EMIT
    // side: extracted text serialized as real conversion records
    // (WARC envelope + gzip member framing) and read back through the
    // hand-rolled decode; gate columns are the q230 text law's ----
    Query("q244_wet_roundtrip", Crawl.wetRoundTrip, OracleTwins.wetRoundTrip),
    // ---- round 14: the frontier SCHEDULE — q241's politeness waves
    // paced by each host's Crawl-delay (surfaced from robots.txt, the
    // de-facto extension real fleets honor) into fetch times ----
    Query("q245_frontier_schedule", Crawl.frontierSchedule, OracleTwins.frontierSchedule),
    // ---- round 14: recrawl-due — the frontier's other half: seen URLs
    // whose sitemap lastmod is strictly newer than their LATEST
    // capture's WARC-Date (read through the real archive decode) ----
    Query("q246_recrawl_due", Crawl.recrawlDue, OracleTwins.recrawlDue),
    // ---- round 14: discovery via robots.txt Sitemap lines — the real
    // frontier's entry point; same oracle as q240 ----
    // q247 shares q240's oracle STRING; q248 shares q242's (the
    // q41/q112 device: one semantics, two execution paths, one oracle)
    Query("q247_sitemap_via_robots", Crawl.sitemapDiscoverViaRobots,
      OracleTwins.sitemapDiscover),
    // ---- round 14: tar reshard — loader-parallelism resharding of
    // WebDataset corpora through the real ustar writer; same oracle as
    // q242 (resharding must be invisible to the sample set) ----
    Query("q248_tar_reshard", graft.multimodal.Multimodal.tarReshard,
      OracleTwins.tarShardSamples),
    // ---- round 14: Avro OCF round trip — the row-oriented interchange
    // container, hand-rolled (the distribution has no spark-avro):
    // embedded JSON schema, zigzag varints, deflate blocks, sync law ----
    Query("q249_avro_roundtrip", Crawl.avroRoundTrip, OracleTwins.avroRoundTrip),
    // ---- round 14: sitemap REWRITE — the emit side of discovery:
    // parsed urlsets written back (entity re-encoding, optional-field
    // preservation) and re-parsed; same oracle as q240 ----
    // q250 shares q240's oracle STRING: the write→parse round trip
    // must be invisible to the discovered entries (the q244 device)
    Query("q250_sitemap_rewrite", Crawl.sitemapRewrite, OracleTwins.sitemapDiscover),
    // ---- round 15: PDF 1.5+ layout — cross-reference STREAMS
    // (W-typed binary rows, PNG-predicted on half the corpus)
    // resolving objects INTO object streams; the modern layout the
    // majority of real-world PDFs use (VERDICT r14 ask #1) ----
    Query("q251_pdf_xref_stream", Crawl.pdfXrefStreamIngest, OracleTwins.pdfXrefStreamIngest),
    // ---- round 15: PDF Form XObjects — text riding /Subtype /Form
    // draws (headers/footers/stamps): form-scoped resources (name
    // shadowing), nested forms, Do's implicit state save/restore, the
    // form-boundary separator law (VERDICT r14 ask #6) ----
    Query("q252_pdf_forms", Crawl.pdfFormTextIngest, OracleTwins.pdfFormTextIngest),
    // ---- round 15: the politeness window at HOST-SKEW scale — a
    // planted Zipf-head host, two-path on measured cardinalities (the
    // q125/q61 device): cold hosts keep the plain window, hot hosts
    // decompose the rank over the bounded leading sort key
    // (VERDICT r14 ask #8) ----
    // q253's twin computes the PLAIN per-host window — the two-path
    // decomposition must be exactly rank-equal to it
    Query("q253_frontier_skew", Crawl.frontierSkewedWaves, OracleTwins.frontierSkewedWaves),
    // ---- round 15: Type0/CID fonts — Identity-H 2-byte CIDs through
    // a /ToUnicode CMap (bfchar singles incl. a surrogate pair,
    // incrementing bfrange), the composite-font layout CJK documents
    // and subset-embedded fonts ship (VERDICT r14 missing #2) ----
    Query("q254_pdf_cid_text", Crawl.pdfCidTextIngest, OracleTwins.pdfCidTextIngest),
    // ---- round 15: incremental updates — /Prev xref chains (classic
    // AND xref-stream sections), newest-section-wins shadowing, freed
    // entries masking older generations; the append-only save layout
    // editors actually write ----
    Query("q255_pdf_incremental", Crawl.pdfIncrementalIngest, OracleTwins.pdfIncrementalIngest),
    // ---- round 15: Unicode normalization as a native codegen
    // expression (Spark has no built-in): NFC for dedup-ahead
    // canonicalization, NFKC for compatibility folding; NFC gated
    // against DuckDB's independent utf8proc implementation ----
    Query("q256_unicode_normalize", TextOps.unicodeNormalize, OracleTwins.unicodeNormalize),
    // ---- round 15: BOM-precedence HTML decode (HTML5 sniffing step
    // 1): the byte-order mark outranks a lying Content-Type charset
    // header; four transport arms under ONE arithmetic text law ----
    Query("q257_bom_charset", Crawl.bomCharsetPages, OracleTwins.bomCharsetPages),
    // ---- round 15: chunked transfer-coding decode (RFC 9112 §7.1):
    // WARC stores the raw wire, so chunked captures are common; the
    // framing must be removed (sizes, extensions) and trailers kept,
    // under one text law shared with the Content-Length control ----
    Query("q258_chunked_http", Crawl.chunkedPages, OracleTwins.chunkedPages),
  ))

  /** Returns `qs` unchanged; throws if two entries share a name. */
  def checkUnique(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, v) if v.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    qs
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracleSql).toMap

  /** The queries a `SPARK_GRAFT_ONLY` value selects: all of them when
    * unset, else every query whose name contains one of the
    * comma-separated patterns (`q218` selects `q218_png_decode`). A
    * pattern list that selects nothing throws. */
  def select(only: Option[String]): Seq[Query] = only match {
    case None => registry
    case Some(spec) =>
      val pats = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val hit = registry.filter(q => pats.exists(q.name.contains))
      require(hit.nonEmpty, s"SPARK_GRAFT_ONLY='$spec' selects no query")
      hit
  }
}
