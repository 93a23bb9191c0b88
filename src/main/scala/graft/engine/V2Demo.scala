package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Sources

/** End-to-end parity demo on the REFERENCE'S OWN schema shape (r11
  * verdict ask #4): the 13-table service-marketplace fixture set
  * (headers per FIXTURES.md §A; DDL `/root/reference/sql/table_creation_2:
  * 14–237`), generated DETERMINISTICALLY from the driver testdata, landed
  * as real CSV files (headers, quoting, multi-line text — the
  * `dummy_data_v2` wire shape), then run bronze → silver → gold → the
  * reference's eight KPI queries (`sql/admin_kip_script`,
  * `sql/service_provider_kpis`, `sql/service_seeker_kpis`) through the
  * same staged runner discipline as [[Pipeline]].
  *
  * Because every fixture column is a pure projection of a testdata table
  * (booking_id = o_orderkey, provider_id = s_suppkey, rating =
  * l_partkey%5+1, …), the DuckDB twins restate the mapping as CTEs over
  * the original parquet and recompute each KPI arithmetically — so the
  * full CSV → bronze → silver → KPI lineage is hash-gated per round
  * (q220–q227), not demonstrated once in a spec. Two reference
  * faithfulness notes, both deterministic-ized the house way:
  * the KPIs' bare `LIMIT 5` gets a key tie-break in BOTH engines, and
  * `date_trunc('week', CURRENT_DATE)` anchors to the corpus's latest
  * scheduled day instead of the wall clock.
  *
  * Scale shape: bronze/silver are per-table narrow rewrites; every KPI is
  * a broadcast-dim star join (providers/services/categories are bounded
  * dims) over the bookings fact — the same plans the TPC-H analogs run,
  * here under the reference's own column names.
  */
object V2Demo {

  /** Fixture epoch for tables whose testdata source has no timestamp. */
  private val BASE_TS = "2025-01-01 00:00:00"

  // ------------------------------------------------------ enum domains

  val BOOKING_STATUS = Seq("pending", "accepted", "In Progress",
    "completed", "declined")
  val PAYMENT_STATUS = Seq("pending", "paid", "failed", "refunded")
  val DISPUTE_STATUS = Seq("open", "resolved", "closed")
  val VERIFICATION = Seq("verified", "pending", "rejected")

  private def pick(k: org.apache.spark.sql.Column,
      domain: Seq[String]): org.apache.spark.sql.Column =
    domain.zipWithIndex.tail.foldLeft(
      when(pmod(k, lit(domain.size)) === 0, domain.head)) {
      case (acc, (v, i)) => acc.when(pmod(k, lit(domain.size)) === i, v)
    }.otherwise(domain.last)

  private def baseTsPlusDays(days: org.apache.spark.sql.Column) =
    to_timestamp(date_add(to_date(lit("2025-01-01")), days.cast("int")))

  // --------------------------------- fixture generators (13 v2 tables)

  def users(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey").as("user_id"),
      concat(lit("user"), col("c_custkey"), lit("@prox.test")).as("email"),
      lit("x").as("password"),
      col("c_name").as("first_name"),
      col("c_mktsegment").as("last_name"),
      when(col("c_custkey") % 15 === 0, "provider").otherwise("seeker")
        .as("role"),
      lit(null).cast("string").as("profile_picture"),
      concat(lit("555-"), col("c_custkey")).as("phone_number"),
      when(col("c_custkey") % 7 === 0, "inactive").otherwise("active")
        .as("status"),
      lit(null).cast("string").as("googleId"),
      baseTsPlusDays(col("c_custkey") % 365).as("created_at"),
      baseTsPlusDays(col("c_custkey") % 365).as("updated_at"))

  def serviceProviders(spark: SparkSession, dir: String): DataFrame =
    Tables.supplier(spark, dir).select(
      col("s_suppkey").as("provider_id"),
      (col("s_suppkey") * 15).as("user_id"),
      col("s_name").as("business_name"),
      concat(lit("biz"), col("s_suppkey"), lit("@prox.test")).as("email"),
      concat(lit("555-9"), col("s_suppkey")).as("phone_number"),
      concat(lit("Provider of nation "), col("s_nationkey"))
        .as("description"),
      concat(lit("LOC-"), col("s_nationkey")).as("location"),
      pick(col("s_suppkey"), VERIFICATION).as("verificationStatus"),
      (col("s_suppkey") % 4 === 0).as("is_ai_generated"),
      baseTsPlusDays(col("s_suppkey")).as("created_at"),
      baseTsPlusDays(col("s_suppkey")).as("updated_at"))

  def categories(spark: SparkSession, dir: String): DataFrame =
    Tables.nation(spark, dir).filter(col("n_nationkey") < 10).select(
      col("n_nationkey").as("category_id"),
      col("n_name").as("category_name"),
      lit(BASE_TS).cast("timestamp").as("created_at"),
      lit(BASE_TS).cast("timestamp").as("updated_at"))

  def providerCategories(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
    val primary = s.select(col("s_suppkey").as("provider_id"),
      (col("s_suppkey") % 10).as("category_id"))
    val secondary = s.filter(col("s_suppkey") % 2 === 0)
      .select(col("s_suppkey").as("provider_id"),
        ((col("s_suppkey") + 5) % 10).as("category_id"))
    primary.unionByName(secondary)
      .withColumn("created_at", lit(BASE_TS).cast("timestamp"))
  }

  def services(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey").as("service_id"),
      (col("p_partkey") % 100).as("provider_id"),
      (col("p_partkey") % 10).as("category_id"),
      col("p_name").as("service_name"),
      col("p_type").as("description"),
      col("p_retailprice").as("price"),
      // the availability JSON the reference stores and never parses
      // (q181 parses the analog; here it rides the CSV round trip)
      concat(lit("{\"mon\": \"9-"), col("p_size") % 8 + 1,
        lit("\", \"tue\": \"9-5\"}")).as("availability"),
      baseTsPlusDays(col("p_partkey") % 365).as("created_at"),
      baseTsPlusDays(col("p_partkey") % 365).as("updated_at"))

  def bookings(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_orderkey").as("booking_id"),
      (col("o_orderkey") % 2000).as("service_id"),
      col("o_custkey").as("user_id"),
      when(col("o_orderkey") % 2 === 0, col("o_orderkey"))
        .otherwise(lit(null).cast("long")).as("quote_id"),
      lit(null).cast("long").as("image_id"),
      col("o_orderpriority").as("description"),
      pick(col("o_orderkey"), BOOKING_STATUS).as("status"),
      col("o_orderdate").as("scheduled_date"),
      col("o_orderstatus").as("comment"),
      col("o_orderdate").as("created_at"))

  def paymentRecords(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderkey") % 5 =!= 4).select(
      col("o_orderkey").as("payment_record_id"),
      col("o_orderkey").as("booking_id"),
      col("o_orderkey").as("payment_id"),
      col("o_totalprice").as("amount"),
      pick(col("o_orderkey"), PAYMENT_STATUS).as("status"),
      col("o_orderdate").as("created_at"),
      col("o_orderdate").as("updated_at"))

  def providerReviews(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).filter(col("l_linenumber") === 1).select(
      col("l_orderkey").as("review_id"),
      col("l_suppkey").as("provider_id"),
      (col("l_orderkey") % 1500).as("user_id"),
      (col("l_partkey") % 5 + 1).cast("int").as("rating"),
      concat(col("l_returnflag"), lit("-"), col("l_linestatus"))
        .as("comment"),
      col("l_shipdate").as("created_at"))

  def jobReviews(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).filter(col("l_linenumber") === 2).select(
      col("l_orderkey").as("review_id"),
      col("l_orderkey").as("booking_id"),
      col("l_returnflag").as("comment"),
      col("l_shipdate").as("created_at"))

  def disputeRequests(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderkey") % 10 === 0).select(
      col("o_orderkey").as("dispute_id"),
      col("o_orderkey").as("booking_id"),
      col("o_custkey").as("user_id"),
      col("o_orderpriority").as("reason"),
      pick(col("o_orderkey"), DISPUTE_STATUS).as("status"),
      col("o_orderdate").as("created_at"),
      col("o_orderdate").as("updated_at"))

  def quoteRequests(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderkey") % 2 === 0).select(
      col("o_orderkey").as("quote_request_id"),
      col("o_custkey").as("user_id"),
      (col("o_orderkey") % 10).as("category_id"),
      lit(null).cast("long").as("image_id"),
      col("o_orderpriority").as("title"),
      // multi-line quoted text — the dummy_data_v2 CSV grammar the S8
      // reader's multiLine option exists for
      concat(lit("Need "), col("o_orderpriority"), lit(" help\nsecond line"))
        .as("description"),
      concat((col("o_orderkey") % 5) * 100, lit("-"),
        (col("o_orderkey") % 5) * 100 + 99).as("budget_range"),
      lit("2 weeks").as("timeline"),
      col("o_orderdate").as("scheduled_date"),
      col("o_orderdate").as("created_at"),
      lit("open").as("status"))

  def quotes(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).filter(col("o_orderkey") % 2 === 0).select(
      col("o_orderkey").as("quote_id"),
      col("o_orderkey").as("quote_request_id"),
      (col("o_orderkey") % 100).as("provider_id"),
      col("o_totalprice").as("amount"),
      col("o_orderpriority").as("details"),
      to_timestamp(date_add(col("o_orderdate").cast("date"), 30))
        .as("expire_date"),
      // 10% tax in exact integer cents (cross-engine float discipline)
      Num.dollars(expr("CAST(round(o_totalprice * 100) AS BIGINT) div 10"))
        .as("tax"),
      col("o_orderdate").as("created_at"),
      lit("sent").as("status"))

  def calendarBlocks(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).filter(col("event_id") % 33 === 0).select(
      col("event_id").as("block_id"),
      (col("event_id") % 100).as("provider_id"),
      date_trunc("minute", col("ts")).as("start_time"),
      (date_trunc("minute", col("ts")) + expr("INTERVAL 1 HOUR"))
        .as("end_time"),
      col("event_type").as("description"),
      date_trunc("minute", col("ts")).as("created_at"))

  /** Every fixture table, in the reference's naming. */
  def fixtures(spark: SparkSession, dir: String): Seq[(String, DataFrame)] =
    Seq(
      "users" -> users(spark, dir),
      "service_providers" -> serviceProviders(spark, dir),
      "categories" -> categories(spark, dir),
      "provider_categories" -> providerCategories(spark, dir),
      "services" -> services(spark, dir),
      "bookings" -> bookings(spark, dir),
      "payment_records" -> paymentRecords(spark, dir),
      "provider_reviews" -> providerReviews(spark, dir),
      "job_reviews" -> jobReviews(spark, dir),
      "dispute_requests" -> disputeRequests(spark, dir),
      "quote_requests" -> quoteRequests(spark, dir),
      "quotes" -> quotes(spark, dir),
      "calendar_blocks" -> calendarBlocks(spark, dir))

  // ------------------------------------------------------- the pipeline

  /** Land the fixtures as CSV — real headers, quoting, embedded newlines.
    * Timestamps are written as `yyyy-MM-dd HH:mm:ss` text (the reference
    * CSVs' shape); bronze parses them back under the declared schema. */
  def writeCsvFixtures(spark: SparkSession, dir: String,
      root: String): Unit =
    Pipeline.concurrently("v2-fixtures",
      fixtures(spark, dir).map { case (name, df) =>
        name -> (() => csvOf(df, root, name))
      })

  private def csvOf(df: DataFrame, root: String, name: String): Unit = {
    val out = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == TimestampType)
        d.withColumn(f.name,
          date_format(col(f.name), "yyyy-MM-dd HH:mm:ss"))
      else d
    }
    Sources.writeCsv(out.coalesce(1), s"$root/csv/$name")
  }

  private def bronzeOf(spark: SparkSession, root: String, t: String): Unit =
    Sources.readCsv(spark, s"$root/csv/$t", schemas(t))
      .write.mode("overwrite").parquet(s"$root/bronze/$t")

  private val silverEnums = Map(
    "bookings" -> ("status", BOOKING_STATUS),
    "payment_records" -> ("status", PAYMENT_STATUS),
    "dispute_requests" -> ("status", DISPUTE_STATUS),
    "service_providers" -> ("verificationStatus", VERIFICATION))

  private def silverOf(spark: SparkSession, root: String, t: String): Unit = {
    val df = spark.read.parquet(s"$root/bronze/$t")
    Silver.validate(df, schemas(t))
    val clean = Silver.enforce(df, schemas(t))
    silverEnums.get(t).foreach { case (c, domain) =>
      val bad = Silver.enumViolations(clean, c, domain.toSet).count()
      require(bad == 0L, s"$t.$c: $bad enum violations")
    }
    clean.write.mode("overwrite").parquet(s"$root/silver/$t")
  }

  /** Declared silver schemas (`table_creation_2` types, Spark-typed):
    * schema inference on 100 TB of CSV is not a plan. */
  private def ts(n: String) = StructField(n, TimestampType)
  private def str(n: String) = StructField(n, StringType)
  private def lng(n: String) = StructField(n, LongType)

  val schemas: Map[String, StructType] = Map(
    "users" -> StructType(Seq(lng("user_id"), str("email"), str("password"),
      str("first_name"), str("last_name"), str("role"),
      str("profile_picture"), str("phone_number"), str("status"),
      str("googleId"), ts("created_at"), ts("updated_at"))),
    "service_providers" -> StructType(Seq(lng("provider_id"),
      lng("user_id"), str("business_name"), str("email"),
      str("phone_number"), str("description"), str("location"),
      str("verificationStatus"), StructField("is_ai_generated", BooleanType),
      ts("created_at"), ts("updated_at"))),
    "categories" -> StructType(Seq(lng("category_id"), str("category_name"),
      ts("created_at"), ts("updated_at"))),
    "provider_categories" -> StructType(Seq(lng("provider_id"),
      lng("category_id"), ts("created_at"))),
    "services" -> StructType(Seq(lng("service_id"), lng("provider_id"),
      lng("category_id"), str("service_name"), str("description"),
      StructField("price", DoubleType), str("availability"),
      ts("created_at"), ts("updated_at"))),
    "bookings" -> StructType(Seq(lng("booking_id"), lng("service_id"),
      lng("user_id"), lng("quote_id"), lng("image_id"), str("description"),
      str("status"), ts("scheduled_date"), str("comment"),
      ts("created_at"))),
    "payment_records" -> StructType(Seq(lng("payment_record_id"),
      lng("booking_id"), lng("payment_id"),
      StructField("amount", DoubleType), str("status"), ts("created_at"),
      ts("updated_at"))),
    "provider_reviews" -> StructType(Seq(lng("review_id"),
      lng("provider_id"), lng("user_id"), StructField("rating", IntegerType),
      str("comment"), ts("created_at"))),
    "job_reviews" -> StructType(Seq(lng("review_id"), lng("booking_id"),
      str("comment"), ts("created_at"))),
    "dispute_requests" -> StructType(Seq(lng("dispute_id"),
      lng("booking_id"), lng("user_id"), str("reason"), str("status"),
      ts("created_at"), ts("updated_at"))),
    "quote_requests" -> StructType(Seq(lng("quote_request_id"),
      lng("user_id"), lng("category_id"), lng("image_id"), str("title"),
      str("description"), str("budget_range"), str("timeline"),
      ts("scheduled_date"), ts("created_at"), str("status"))),
    "quotes" -> StructType(Seq(lng("quote_id"), lng("quote_request_id"),
      lng("provider_id"), StructField("amount", DoubleType), str("details"),
      ts("expire_date"), StructField("tax", DoubleType), ts("created_at"),
      str("status"))),
    "calendar_blocks" -> StructType(Seq(lng("block_id"), lng("provider_id"),
      ts("start_time"), ts("end_time"), str("description"),
      ts("created_at"))))

  /** Bronze: CSV → parquet per table under the declared schema (ref
    * bronze_ingestion_script.py's land-as-is stage, S8 reader). */
  def bronze(spark: SparkSession, root: String): Unit =
    Pipeline.concurrently("v2-bronze", schemas.keys.toSeq.sorted.map { t =>
      t -> (() => bronzeOf(spark, root, t))
    })

  /** Silver: enforce + validate + enum-domain fail-fast (the reference's
    * transformations stage). A non-empty violation set aborts the stage
    * — the V3 error channel. */
  def silver(spark: SparkSession, root: String): Unit =
    Pipeline.concurrently("v2-silver", schemas.keys.toSeq.sorted.map { t =>
      t -> (() => silverOf(spark, root, t))
    })

  /** Gold: the reference's star schema under its own names
    * (gold_data_curation_script.py:60–236) — fact_booking (bookings ⟕
    * quotes, year/month partitioned), dim_user (users ⟕ providers),
    * dim_service (services ⟕ categories), dim_location (distinct provider
    * locations), dim_review (reviews + derived sentiment), dim_date (the
    * 2025 calendar). */
  def gold(spark: SparkSession, root: String): Unit = {
    def sv(t: String) = spark.read.parquet(s"$root/silver/$t")
    val fact = sv("bookings").alias("b")
      .join(sv("quotes").alias("q"), col("b.quote_id") === col("q.quote_id"),
        "left")
      .select(col("b.booking_id"), col("b.user_id").as("seeker_id"),
        col("q.provider_id"), col("b.service_id"), col("b.quote_id"),
        col("q.amount").as("amount_before_tax"),
        col("q.tax").as("tax_amount"),
        col("b.status").as("booking_status"), col("b.created_at"),
        date_format(col("b.created_at"), "yyyyMMdd").as("date_key"))
      .withColumn("year", year(col("created_at")))
      .withColumn("month", month(col("created_at")))
      .filter(col("booking_id").isNotNull)
    val writes = Seq[(String, () => Unit)](
    "fact_booking" -> (() =>
    fact.write.mode("overwrite").partitionBy("year", "month")
      .parquet(s"$root/gold/fact_booking")),

    "dim_user" -> (() =>
    sv("users").alias("u")
      .join(sv("service_providers").alias("sp"),
        col("u.user_id") === col("sp.user_id"), "left")
      .select(col("u.user_id"), col("u.role"), col("u.email"),
        col("sp.provider_id"), col("sp.business_name"),
        col("sp.verificationStatus"), col("u.status").as("user_status"),
        concat(col("u.first_name"), lit(" "), col("u.last_name"))
          .as("full_name"), col("u.created_at"))
      .write.mode("overwrite").parquet(s"$root/gold/dim_user")),

    "dim_service" -> (() =>
    sv("services").alias("s")
      .join(sv("categories").alias("c"), Seq("category_id"), "left")
      .select(col("s.service_id"), col("s.provider_id"),
        col("category_id"), col("c.category_name"), col("s.service_name"),
        col("s.price"), col("s.created_at"))
      .write.mode("overwrite").parquet(s"$root/gold/dim_service")),

    "dim_location" -> (() =>
    sv("service_providers")
      .select(col("location").as("location_name"))
      .filter(col("location_name").isNotNull).distinct()
      .write.mode("overwrite").parquet(s"$root/gold/dim_location")),

    "dim_review" -> (() =>
    sv("provider_reviews")
      .withColumn("sentiment_label",
        when(col("rating") >= 4, "positive")
          .when(col("rating") === 3, "neutral").otherwise("negative"))
      .write.mode("overwrite").parquet(s"$root/gold/dim_review")),

    "dim_date" -> (() =>
    spark.sql(
      "SELECT explode(sequence(to_date('2025-01-01'), to_date('2025-12-31'), interval 1 day)) AS date")
      .select(col("date"),
        date_format(col("date"), "yyyyMMdd").cast("int").as("date_key"),
        dayofmonth(col("date")).as("day"), month(col("date")).as("month"),
        quarter(col("date")).as("quarter"), year(col("date")).as("year"),
        dayofweek(col("date")).as("day_of_week"),
        dayofweek(col("date")).isin(1, 7).as("is_weekend"))
      .write.mode("overwrite").parquet(s"$root/gold/dim_date")))
    Pipeline.concurrently("v2-gold", writes)
  }

  // -------------------------------------------------- staged runner

  /** Materialize the whole demo once per corpus dir (generate CSVs →
    * bronze → silver → gold under the [[Pipeline.retry]] policy); every
    * KPI query serves from the landed silver. */
  def ensure(spark: SparkSession, dir: String): String =
    Lineages.out(lineage, spark, dir)

  private[graft] val lineage = Lineages.Lineage("v2", build)

  private def build(spark: SparkSession, dir: String): String = {
    val root = IndexMaintenance.scratchIndexDir(spark, "v2-demo")
    // Per-TABLE pipelining (r15, guide §2.6): a table's fixture →
    // bronze → silver chain is independent of every other table's —
    // only gold joins across silver tables. One barrier instead of
    // three: wall = max(per-table chain) + gold, where the stage-
    // barrier form paid max(fixtures) + max(bronze) + max(silver).
    // The chains run through the shared fan-out,
    // [[Pipeline.concurrently]]; the first failed chain rethrows after
    // every chain has finished, so a silver enum violation still
    // aborts loudly. Retry stays per unit of work (one table's chain,
    // then gold), and every write is an overwrite, so a retried chain
    // replaces itself — the same idempotence the stage form had.
    Pipeline.concurrently("v2-chain",
      fixtures(spark, dir).map { case (t, df) =>
        t -> (() => Pipeline.retry() {
          csvOf(df, root, t)
          bronzeOf(spark, root, t)
          silverOf(spark, root, t)
        })
      })
    Pipeline.retry()(gold(spark, root))
    root
  }

  private def sv(spark: SparkSession, dir: String, t: String): DataFrame =
    spark.read.parquet(s"${ensure(spark, dir)}/silver/$t")

  // ------------------------------------------- the 8 reference KPIs

  /** q220 — admin KPI 1 (`admin_kip_script:1–11`): most active service
    * categories "this week", anchored to the corpus's latest scheduled
    * day (CURRENT_DATE is not oracle-able); LIMIT 5 with a name
    * tie-break in both engines. */
  def kpiActiveCategories(spark: SparkSession, dir: String): DataFrame = {
    val b = sv(spark, dir, "bookings")
    val anchor = b.agg(date_trunc("week", max(col("scheduled_date")))
      .as("wk"))
    b.crossJoin(broadcast(anchor)) // 1-row bounded-agg scalar attach
      .filter(col("scheduled_date") >= col("wk"))
      .join(broadcast(sv(spark, dir, "services")), Seq("service_id"))
      .join(broadcast(sv(spark, dir, "categories")), Seq("category_id"))
      .groupBy(col("category_name"))
      .agg(count(col("booking_id")).as("total_bookings"))
      .orderBy(col("total_bookings").desc, col("category_name"))
      .limit(5)
  }

  /** q221 — admin KPI 2: top service providers by bookings. */
  def kpiTopProviders(spark: SparkSession, dir: String): DataFrame =
    sv(spark, dir, "bookings")
      .join(broadcast(sv(spark, dir, "services")), Seq("service_id"))
      .join(broadcast(sv(spark, dir, "service_providers")),
        Seq("provider_id"))
      .groupBy(col("provider_id"), col("business_name"))
      .agg(count(col("booking_id")).as("total_bookings"))
      .orderBy(col("total_bookings").desc, col("provider_id"))
      .limit(5)

  /** q222 — admin KPI 3: top disputed providers (4-way star join). */
  def kpiDisputedProviders(spark: SparkSession, dir: String): DataFrame =
    sv(spark, dir, "dispute_requests")
      .join(sv(spark, dir, "bookings"), Seq("booking_id"))
      .join(broadcast(sv(spark, dir, "services")), Seq("service_id"))
      .join(broadcast(sv(spark, dir, "service_providers")),
        Seq("provider_id"))
      .groupBy(col("provider_id"), col("business_name"))
      .agg(count(col("dispute_id")).as("dispute_count"))
      .orderBy(col("dispute_count").desc, col("provider_id"))
      .limit(5)

  /** q223 — provider KPI 1: most in-demand services per area. */
  def kpiDemandByArea(spark: SparkSession, dir: String): DataFrame =
    sv(spark, dir, "bookings")
      .join(broadcast(sv(spark, dir, "services")), Seq("service_id"))
      .join(broadcast(sv(spark, dir, "service_providers")),
        Seq("provider_id"))
      .groupBy(col("location"), col("service_name"))
      .agg(count(col("booking_id")).as("request_count"))
      .orderBy(col("request_count").desc, col("location"),
        col("service_name"))

  /** q224 — provider KPI 2: average customer rating per provider. */
  def kpiAvgRating(spark: SparkSession, dir: String): DataFrame =
    sv(spark, dir, "provider_reviews")
      .groupBy(col("provider_id"))
      .agg(avg(col("rating")).as("avg_rating"))
      .orderBy(col("provider_id"))

  /** q225 — provider KPI 3: monthly revenue trend per provider (money in
    * exact integer cents; the reference's double SUM drifts with
    * aggregation order). */
  def kpiMonthlyRevenue(spark: SparkSession, dir: String): DataFrame =
    sv(spark, dir, "payment_records").alias("pr")
      .join(sv(spark, dir, "bookings").alias("b"), Seq("booking_id"))
      .join(broadcast(sv(spark, dir, "services").alias("s")),
        Seq("service_id"))
      .groupBy(date_trunc("month", col("pr.created_at")).as("month"),
        col("provider_id"))
      .agg(Num.dollars(sum(Num.cents(col("amount")))).as("revenue"))
      .orderBy(col("month"), col("provider_id"))

  /** q226 — provider KPI 4: % of providers with AI-generated profiles
    * (2-dp rounding through the integer path, the Num device). */
  def kpiAiUsage(spark: SparkSession, dir: String): DataFrame =
    sv(spark, dir, "service_providers")
      .agg(Num.round2(lit(100.0) *
        sum(when(col("is_ai_generated"), 1L).otherwise(0L)) /
        count(lit(1))).as("ai_usage_percentage"))

  /** q227 — seeker KPI: highest-rated providers. */
  def kpiTopRated(spark: SparkSession, dir: String): DataFrame =
    sv(spark, dir, "service_providers")
      .join(sv(spark, dir, "provider_reviews"), Seq("provider_id"))
      .groupBy(col("business_name"), col("location"))
      .agg(avg(col("rating")).as("avg_rating"))
      .orderBy(col("avg_rating").desc, col("business_name"))
      .limit(5)
}
