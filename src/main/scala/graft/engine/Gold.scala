package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gold-layer star-schema builders (SURVEY.md §2.2–§2.3, ref
  * gold_data_curation_script.py).
  *
  * Domain mapping (SURVEY.md §7): orders≈bookings (fact), customer≈users,
  * supplier≈service_providers, part≈services, nation/region≈locations.
  *
  * Scale notes: broadcast hints go only on genuinely-bounded dimensions
  * (nation/region/supplier). Customer is NOT one — it grows linearly with
  * the fact (~150 GB at the 100 TB point), so the orders⟕customer join is
  * left unhinted and AQE picks the strategy (broadcast at small SF,
  * sort-merge/shuffled-hash at scale). Derived `year`/`month` columns feed
  * the hive-partitioned write ([[writePartitioned]]), the same layout the
  * reference uses (ref gold_data_curation_script.py:83) so downstream reads
  * get partition pruning.
  */
object Gold {
  import Tables._

  /** Fact table: orders ⟕ customer with aliased projection, derived
    * year/month/date_key, null-PK filter (J1 + P1–P4 + P7 + F1/F3). */
  def factOrders(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir).alias("o")
    val c = customer(spark, dir).alias("c")
    o.join(c, col("o.o_custkey") === col("c.c_custkey"), "left")
      .select(
        col("o.o_orderkey").as("order_id"),
        col("o.o_custkey").as("customer_id"),
        col("c.c_name").as("customer_name"),
        col("c.c_mktsegment").as("segment"),
        col("c.c_nationkey").as("nation_key"),
        col("o.o_orderstatus").as("order_status"),
        col("o.o_orderpriority").as("order_priority"),
        col("o.o_totalprice").as("total_price"),
        col("o.o_orderdate").cast("date").as("order_date"))
      .withColumn("year", year(col("order_date")).cast("long"))
      .withColumn("month", month(col("order_date")).cast("long"))
      .withColumn("date_key", date_format(col("order_date"), "yyyyMMdd").cast("long"))
      .filter(col("order_id").isNotNull)
  }
  // NOTE: no global orderBy here — a total sort of the fact table would be a
  // needless full-shuffle at 100 TB. Verify-time determinism is added at the
  // SparkEntry layer, on the (small) query outputs.

  /** Calendar dimension via sequence + explode (F4/F5, ref
    * gold_data_curation_script.py:96–111), covering the orders date range. */
  def dimDate(spark: SparkSession, dir: String): DataFrame = {
    spark.range(1)
      .select(explode(sequence(
        to_date(lit("1995-01-01")), to_date(lit("2001-12-31")),
        expr("interval 1 day"))).as("d"))
      .select(
        col("d").as("cal_date"),
        date_format(col("d"), "yyyyMMdd").cast("long").as("date_key"),
        year(col("d")).cast("long").as("year"),
        month(col("d")).cast("long").as("month"),
        quarter(col("d")).cast("long").as("quarter"),
        dayofmonth(col("d")).cast("long").as("day_of_month"),
        date_format(col("d"), "MMMM").as("month_name"),
        date_format(col("d"), "EEEE").as("day_name"),
        dayofweek(col("d")).isin(1, 7).as("is_weekend"))
      .orderBy("cal_date")
  }

  /** Customer dimension: customer ⟕ nation ⟕ region with a concat-derived
    * label (J2 + F6, ref gold_data_curation_script.py:120–145). */
  def dimCustomer(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir).alias("c")
    val n = nation(spark, dir).alias("n")
    val r = region(spark, dir).alias("r")
    c.join(broadcast(n), col("c.c_nationkey") === col("n.n_nationkey"), "left")
      .join(broadcast(r), col("n.n_regionkey") === col("r.r_regionkey"), "left")
      .select(
        col("c.c_custkey").as("customer_id"),
        col("c.c_name").as("name_raw"),
        col("n.n_name").as("nation"),
        col("r.r_name").as("region"),
        col("c.c_mktsegment").as("segment"),
        col("c.c_acctbal").as("account_balance"))
      // derive-then-drop, the reference's concat full_name idiom
      // (P2+P3, ref gold_data_curation_script.py:139–142)
      .withColumn("customer_label",
        concat(col("name_raw"), lit(" ["), col("nation"), lit("]")))
      .drop("name_raw")
      .select(col("customer_id"), col("customer_label"), col("nation"),
        col("region"), col("segment"), col("account_balance"))
      .orderBy("customer_id")
  }

  /** Location dimension: DISTINCT projection (A6, ref
    * gold_data_curation_script.py:176–185). */
  def dimRegionNation(spark: SparkSession, dir: String): DataFrame = {
    val n = nation(spark, dir).alias("n")
    val r = region(spark, dir).alias("r")
    n.join(broadcast(r), col("n.n_regionkey") === col("r.r_regionkey"), "left")
      .select(col("r.r_name").as("region"), col("n.n_name").as("nation"))
      .distinct()
      .orderBy("region", "nation")
  }

  /** Service dimension analog (J3, ref gold_data_curation_script.py:150–167)
    * — including the reference's **deliberately never-matching left join**:
    * the reference joins free-text `service_type` against UUID `category_id`
    * (ref :155), which can never match in v2 data, yielding all-null category
    * fields. Reproduced behaviorally (SURVEY.md §7 risk 7): part.p_type (a
    * type phrase) ⟕ region.r_name (a region name) — disjoint domains, so the
    * category columns are null for every row, as in the reference. */
  def dimPart(spark: SparkSession, dir: String): DataFrame = {
    val p = part(spark, dir).alias("p")
    val r = region(spark, dir).alias("r")
    p.join(broadcast(r), col("p.p_type") === col("r.r_name"), "left")
      .select(
        col("p.p_partkey").as("part_id"),
        col("p.p_name").as("part_name"),
        col("p.p_type").as("part_type"),
        col("p.p_brand").as("brand"),
        col("p.p_size").as("size_units"),
        col("p.p_retailprice").as("retail_price"),
        col("r.r_regionkey").as("category_id"),
        col("r.r_name").as("category_name"))
      .orderBy("part_id")
  }

  /** Dispute dimension analog (ref gold_data_curation_script.py:190–205):
    * error events ⟕ customer, aliased projection, derived status, null-PK
    * filter. Filter pushes to the events scan; customer join is unhinted
    * (it scales with users). */
  def dimDispute(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).alias("e")
    val c = customer(spark, dir).alias("c")
    e.filter(col("e.event_type") === "error")
      .join(c, col("e.user_id") === col("c.c_custkey"), "left")
      .select(
        col("e.event_id").as("dispute_id"),
        col("e.user_id").as("user_id"),
        col("c.c_name").as("customer_name"),
        col("c.c_mktsegment").as("segment"),
        col("e.value").as("amount"),
        when(col("e.value") > 50, "open").otherwise("resolved").as("status"),
        date_format(col("e.ts"), "yyyy-MM-dd HH:mm:ss").as("created_at"))
      .filter(col("dispute_id").isNotNull)
      .orderBy("dispute_id")
  }

  /** Review dimension with sentiment join (J4, ref
    * gold_data_curation_script.py:211–228): documents-as-reviews ⟕
    * embeddings-as-sentiment on doc_id=vec_id, with the sentiment fields
    * (`sentiment_label`/`sentiment_score`/`is_suspicious`, ref
    * transformations_script.py:130–135) derived deterministically from the
    * embedding label. At sf>0.01 some reviews have no sentiment row —
    * genuine left-join nulls. */
  def dimReview(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).alias("d")
    val e = embeddings(spark, dir).alias("e")
    d.join(e, col("d.doc_id") === col("e.vec_id"), "left")
      .select(
        col("d.doc_id").as("review_id"),
        col("d.lang").as("lang"),
        col("d.source").as("source"),
        col("d.n_chars").as("comment_chars"),
        when(col("e.label") % 3 === 0, "negative")
          .when(col("e.label") % 3 === 1, "neutral")
          .when(col("e.label") % 3 === 2, "positive").as("sentiment_label"),
        (col("e.label").cast("double") / lit(10.0)).as("sentiment_score"),
        (col("e.label") === 9).as("is_suspicious"))
      .orderBy("review_id")
  }

  /** S4 — hive-partitioned fact write (ref gold_data_curation_script.py:83–84).
    * year/month partitioning bounds file counts and enables partition pruning
    * for the time-ranged KPI queries. */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").partitionBy("year", "month").parquet(path)

  /** S5 — unpartitioned dimension write (ref gold_data_curation_script.py:111). */
  def writeDim(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Idempotent partition-level re-run: rewrite ONLY the (year, month)
    * partitions present in `updated`, leaving every other partition's files
    * untouched (dynamic partition overwrite). This is the 100 TB backfill
    * primitive — re-running one bad day replaces that day's directories
    * and nothing else, so the job is safely re-runnable and never rewrites
    * the table ([[writePartitioned]]'s static overwrite would truncate all
    * partitions first). */
  def overwritePartitions(updated: DataFrame, path: String): Unit =
    IndexMaintenance.replacePartitions(updated, path, "year", "month")
}
