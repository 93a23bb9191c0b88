package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.engine.{IndexMaintenance, Kpis, Tables}
import graft.streaming.{DocsStream, EventsStream, Replay}

/** §2.9 — the streaming hourly aggregate must agree with its batch twin on
  * a static directory (same operator, same results). */
class StreamingSpec extends SparkSpecBase {

  test("streamed hourly window agg equals the batch eventsHourly") {
    // stage the events file into a stream-source directory
    val dir = tmpDir("graft-stream")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val q = EventsStream.hourly(spark, dir)
      .writeStream
      .format("memory")
      .queryName("events_hourly_stream")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("events_hourly_stream")
        .orderBy("hour_start", "event_type").collect()
      val batch = Kpis.eventsHourly(spark, sf).collect()
      assert(streamed.length == batch.length)
      assert(streamed.map(_.toSeq).sameElements(batch.map(_.toSeq)))
    } finally q.stop()
  }

  test("hourly stream is physical-type-agnostic: micros and nanos files agree") {
    // the testdata ships ts as TIMESTAMP(MICROS); stage it as-is, then
    // re-write the same rows with ts as a raw-nanos LONG (how a
    // TIMESTAMP(NANOS) file scans under nanosAsLong). readEvents must
    // probe each directory's footer and normalize both physical types to
    // the identical hourly answer — a hard-coded unit assumption shifts
    // one of them ×1000 into 1970 and fails this equality
    val microsDir = tmpDir("graft-stream-us")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$microsDir/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val nanosDir = tmpDir("graft-stream-ns")
    spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
      .write.mode("overwrite").parquet(nanosDir)
    assert(spark.read.parquet(nanosDir).schema("ts").dataType ==
      org.apache.spark.sql.types.LongType)

    def run(dir: String, name: String): Array[Seq[Any]] = {
      val q = EventsStream.hourly(spark, dir)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      try {
        q.processAllAvailable()
        spark.table(name).orderBy("hour_start", "event_type")
          .collect().map(_.toSeq)
      } finally q.stop()
    }
    val us = run(microsDir, "events_hourly_us")
    val ns = run(nanosDir, "events_hourly_ns")
    val batch = Kpis.eventsHourly(spark, sf).collect().map(_.toSeq)
    assert(us.length == batch.length && us.nonEmpty)
    assert(us.sameElements(batch))
    assert(ns.sameElements(batch))
  }

  test("streamed fixed-edge value histogram equals the batch histogram") {
    val dir = tmpDir("graft-stream-hist")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = EventsStream.valueHistogram(spark, dir)
      .writeStream.format("memory").queryName("events_hist_stream")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("events_hist_stream")
        .orderBy("event_type", "bucket").collect()
      val batch = Tables.events(spark, sf)
        .select(col("event_type"),
          expr(s"least(CAST(round(value*100) AS BIGINT) div " +
            s"${EventsStream.DRIFT_BUCKET_CENTS}L, " +
            s"${EventsStream.DRIFT_MAX_BUCKET}L)").as("bucket"))
        .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bucket").collect()
      assert(streamed.length == batch.length && streamed.nonEmpty)
      assert(streamed.map(_.toSeq).sameElements(batch.map(_.toSeq)))
    } finally q.stop()
  }

  test("streaming dedup drops a full replay of the corpus") {
    // the same corpus lands twice (a re-crawl): every document is a
    // duplicate the second time and must not be emitted again
    val dir = tmpDir("graft-stream-dedup")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/batch2.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val q = DocsStream.dedupedDocs(spark, dir)
      .writeStream
      .format("memory")
      .queryName("docs_dedup_stream")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("docs_dedup_stream").count()
      val batchDistinct = Tables.documents(spark, sf)
        .select(sha2(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 256))
        .distinct().count()
      assert(streamed == batchDistinct)
    } finally q.stop()
  }

  test("foreachBatch sink lands deduped lang-partitioned parquet") {
    val dir = tmpDir("graft-stream-sink-in")
    val out = tmpDir("graft-stream-sink-out") + "/curated"
    val ckpt = tmpDir("graft-stream-sink-ckpt")
    // replayed corpus: the sink must land each distinct doc exactly once
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/batch2.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = DocsStream.curatedSink(spark, dir, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val landed = spark.read.parquet(out)
    val batchDistinct = Tables.documents(spark, sf)
      .select(sha2(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 256))
      .distinct().count()
    assert(landed.count() == batchDistinct)
    // lang partitioning survived (hive directories, column reconstructed)
    assert(new java.io.File(out).listFiles()
      .exists(_.getName.startsWith("lang=")))
    assert(landed.select("lang").distinct().count() ==
      Tables.documents(spark, sf).select("lang").distinct().count())
    // compaction folds the batch= retry partitions; rows + langs intact
    val rowsBefore = spark.read.parquet(out)
      .select("doc_id", "lang", "content_hash")
      .collect().map(_.toSeq).sortBy(_.toString)
    graft.streaming.DocsStream.compactCurated(spark, out)
    val after = spark.read.parquet(out)
    assert(after.select("doc_id", "lang", "content_hash")
      .collect().map(_.toSeq).sortBy(_.toString).sameElements(rowsBefore),
      "compaction changed the curated rows")
    val batches = after.select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(batches == Seq(0L), s"batch partitions must fold to 0: $batches")
  }

  test("watermark-bounded dedup drops in-horizon replays") {
    // both copies of the corpus carry identical synthetic arrival times,
    // so every replayed doc is inside the dedup horizon and must drop —
    // emission count equals the batch distinct count, with state bounded
    // by the watermark instead of global
    val dir = tmpDir("graft-stream-dedup-wm")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/batch2.parquet"), StandardCopyOption.REPLACE_EXISTING)

    val q = DocsStream.dedupedDocsBounded(spark, dir)
      .writeStream
      .format("memory")
      .queryName("docs_dedup_wm_stream")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("docs_dedup_wm_stream").count()
      val batchDistinct = Tables.documents(spark, sf)
        .select(sha2(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 256))
        .distinct().count()
      assert(streamed == batchDistinct)
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch interval join") {
    val dir = tmpDir("graft-stream-ssj")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val q = EventsStream.clickPurchase(spark, dir)
      .writeStream
      .format("memory")
      .queryName("click_purchase_stream")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("click_purchase_stream")
        .orderBy("click_id", "purchase_id")
        .select("click_id", "purchase_id", "user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val ev = Tables.events(spark, sf)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"),
          col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      val batch = clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .orderBy("click_id", "purchase_id")
        .select("click_id", "purchase_id", "user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(batch.nonEmpty)
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  test("stream-static dimension join equals the batch join") {
    val dir = tmpDir("graft-stream-join")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val q = EventsStream.segmentTotals(spark, dir, sf)
      .writeStream
      .format("memory")
      .queryName("events_segment_stream")
      .outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("events_segment_stream")
        .orderBy("segment").collect()
      val batch = Tables.events(spark, sf)
        .join(Tables.customer(spark, sf).select(col("c_custkey"), col("c_mktsegment")),
          col("user_id") === col("c_custkey"), "left")
        .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
        .agg(count(lit(1)).as("n_events"),
          graft.engine.Num.dollars(
            sum(graft.engine.Num.cents(col("value")))).as("total_value"))
        .orderBy("segment").collect()
      assert(streamed.map(_.toSeq).sameElements(batch.map(_.toSeq)))
    } finally q.stop()
  }

  test("session_window gap sessions agree with the lag-window session counts") {
    // same operator in batch and streaming; batch mode pins the semantics
    val windows = EventsStream.sessionWindowCounts(Tables.events(spark, sf))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = Kpis.eventSessions(spark, sf)
      .select("user_id", "n_sessions", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(windows.sameElements(batch))
  }

  test("stateful flatMapGroupsWithState sessionization equals the batch lag-window") {
    val dir = tmpDir("graft-stream-sess")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)

    val q = EventsStream.sessionize(spark, dir)
      .writeStream
      .format("memory")
      .queryName("events_sessions_stream")
      .outputMode("update")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("events_sessions_stream")
        .orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val batch = Kpis.eventSessions(spark, sf)
        .select("user_id", "n_events", "n_sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(streamed.sameElements(batch))
    } finally q.stop()
  }

  // SURVEY §9's unbounded-state story names the RocksDB state store
  // (spill-to-disk keyed state instead of executor-heap HDFSBacked maps);
  // prove the same stateful queries run — and produce identical results —
  // under BOTH providers, not just the default
  private val stateStoreProviders = Seq(
    "default" ->
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    "rocksdb" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  test("streaming dedup is provider-agnostic: HDFSBacked and RocksDB agree") {
    val dir = tmpDir("graft-stream-dedup-prov")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/batch1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/batch2.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val batchDistinct = Tables.documents(spark, sf)
      .select(sha2(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 256))
      .distinct().count()
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    try {
      stateStoreProviders.foreach { case (tag, providerClass) =>
        spark.conf.set(confKey, providerClass)
        val q = DocsStream.dedupedDocs(spark, dir)
          .writeStream
          .format("memory")
          .queryName(s"docs_dedup_$tag")
          .outputMode("append")
          .start()
        try {
          q.processAllAvailable()
          val streamed = spark.table(s"docs_dedup_$tag").count()
          assert(streamed == batchDistinct,
            s"provider $tag emitted $streamed of $batchDistinct distinct docs")
          // the provider actually engaged: the running query's state
          // operators must report implementation-specific custom metrics
          // (a conf that silently failed to switch would still count right)
          val customKeys = q.recentProgress.toSeq
            .flatMap(_.stateOperators.toSeq)
            .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
            .toSet
          assert(customKeys.nonEmpty,
            s"provider $tag: no state operator progress recorded")
          if (tag == "rocksdb")
            assert(customKeys.exists(_.toLowerCase.contains("rocksdb")),
              s"RocksDB leg ran without RocksDB state metrics: $customKeys")
          else
            assert(customKeys.exists(_.contains("loadedMapCache")),
              s"HDFSBacked leg missing its map-cache metrics: $customKeys")
        } finally q.stop()
      }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("stream-static as-of join equals the batch operator, all directions") {
    // the temporal-join lifecycle: an unbounded click stream resolves
    // each row against a static purchase reference through the broadcast
    // as-of index, micro-batch by micro-batch (maxFilesPerTrigger=1
    // forces >1 batch) — and the landed union is row-for-row the batch
    // operator's answer on the same data, for every direction knob
    import graft.plans.AsOf
    import graft.streaming.AsOfStream
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"),
        col("user_id").as("p_user_id"), col("ts").as("p_ts"))
    val probeDir = tmpDir("graft-stream-asof-in")
    clicks.repartition(2).write.mode("overwrite").parquet(probeDir)
    val probeSchema = spark.read.parquet(probeDir).schema
    for (dir <- Seq("backward", "forward", "nearest")) {
      val out = tmpDir(s"graft-stream-asof-out-$dir") + "/landed"
      val ckpt = tmpDir(s"graft-stream-asof-ckpt-$dir")
      val probe = spark.readStream.schema(probeSchema)
        .option("maxFilesPerTrigger", "1").parquet(probeDir)
      val q = AsOfStream.asOfSink(probe, purchases,
        Seq("user_id" -> "p_user_id"), "ts", "p_ts", "p_event_id",
        direction = dir, tolerance = Some(Kpis.ASOF_TOLERANCE_US),
        outDir = out, checkpointDir = ckpt)
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.read.parquet(out).drop("batch")
        .orderBy("event_id").collect().map(_.toSeq)
      val batch = AsOf.join(clicks, purchases, "user_id", "p_user_id",
          "ts", "p_ts", "p_event_id", direction = dir,
          tolerance = Some(Kpis.ASOF_TOLERANCE_US))
        .orderBy("event_id").collect().map(_.toSeq)
      assert(streamed.length == batch.length && streamed.nonEmpty,
        s"direction=$dir: ${streamed.length} streamed vs ${batch.length}")
      assert(streamed.sameElements(batch), s"direction=$dir mismatch")
      assert(batch.exists(_.last != null) && batch.exists(_.last == null),
        s"direction=$dir: both matched and unmatched paths must be real")
    }
  }

  test("stream-STREAM as-of join equals the batch as-of, multi-batch and single-batch") {
    // both sides unbounded: clicks and purchases ride one tagged stream;
    // a probe finalizes only once the watermark passes its event time, so
    // the accumulated output must equal the batch backward-as-of exactly
    import graft.plans.AsOf
    import graft.streaming.AsOfStream
    import graft.streaming.AsOfStream.SSIn
    import spark.implicits._
    val tol = Kpis.ASOF_TOLERANCE_US
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"),
        col("user_id").as("p_user_id"), col("ts").as("p_ts"))
    val expected = AsOf.join(clicks, purchases, "user_id", "p_user_id",
        "ts", "p_ts", "p_event_id", "backward", Some(tol))
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("p_event_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .sortBy(t => (t._1, t._2, t._3))
    assert(expected.exists(_._4.isDefined) && expected.exists(_._4.isEmpty),
      "both matched and unmatched probes must be real")

    // multi-batch: value-ranged files arrive time-monotone (each append
    // gets a later mtime, and the file source orders by mtime), so the
    // watermark climbs between batches and state carries across them
    val inDir = tmpDir("graft-ss-asof-in")
    val tagged = ev.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
    val mm = tagged.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
    val lo = mm.getLong(0)
    val width = (mm.getLong(1) - lo) / 3 + 1
    for (b <- 0 until 3) {
      tagged.filter(floor((unix_micros(col("ts")) - lo) / width) === b)
        .coalesce(1).write.mode("append").parquet(inDir)
      Thread.sleep(1100)
    }
    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
      .withWatermark("ts", "0 seconds")
      .select(col("user_id").as("k"), unix_micros(col("ts")).as("ts_us"),
        (col("event_type") === "purchase").as("is_ref"),
        col("event_id").as("id"), col("ts"))
      .as[SSIn]
    val q = AsOfStream.streamStreamAsOf(stream, Some(tol))
      .writeStream.format("memory").queryName("ss_asof")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ss_asof").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Long])))
        .sortBy(t => (t._1, t._2, t._3))
      assert(streamed.length == expected.length,
        s"${streamed.length} streamed vs ${expected.length} expected")
      assert(streamed.sameElements(expected), "multi-batch mismatch")
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        "must have processed >= 3 data micro-batches")
      // state cannot hoard the stream: every probe finalized (the
      // watermark passed them all) and refs are pruned per key, so the
      // keyed state holds at most one row per user that ever produced a
      // reference — not one per event
      val stateRows = q.recentProgress.toSeq.reverse
        .flatMap(_.stateOperators.toSeq).headOption.map(_.numRowsTotal)
      val refUsers = ev.filter(col("event_type") === "purchase")
        .select("user_id").distinct().count()
      assert(stateRows.exists(n => n > 0 && n <= refUsers),
        s"state rows $stateRows outside (0, $refUsers]")
    } finally q.stop()

    // single-batch regime through the events-table convenience wrapper,
    // every direction knob pinned to its batch twin
    val dir2 = tmpDir("graft-ss-asof-single")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dir2/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    // forward/nearest probes near the end of the feed have windows
    // reaching past the last real event; a far-future flush reference
    // (key -1, filtered from the output) advances the watermark past
    // every probe's finalization instant — the same role a heartbeat
    // event plays in a production feed
    spark.read.parquet(s"$sf/events.parquet")
      .orderBy(col("ts").desc).limit(1)
      .withColumn("ts", col("ts") + expr("INTERVAL 72 HOURS"))
      .withColumn("event_type", lit("purchase"))
      .withColumn("user_id", lit(-1L))
      .withColumn("event_id", lit(-1L))
      .coalesce(1).write.mode("append").parquet(dir2)
    for (dirn <- Seq("backward", "forward", "nearest")) {
      val exp = AsOf.join(clicks, purchases, "user_id", "p_user_id",
          "ts", "p_ts", "p_event_id", dirn, Some(tol))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("p_event_id"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .sortBy(t => (t._1, t._2, t._3))
      val q2 = AsOfStream.clickPurchaseAsOf(spark, dir2, Some(tol), dirn)
        .filter(col("k") >= 0)
        .writeStream.format("memory").queryName(s"ss_asof_$dirn")
        .outputMode("append").start()
      try {
        q2.processAllAvailable()
        val streamed2 = spark.table(s"ss_asof_$dirn").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            Option(r.get(3)).map(_.asInstanceOf[Long])))
          .sortBy(t => (t._1, t._2, t._3))
        assert(streamed2.sameElements(exp), s"direction=$dirn mismatch " +
          s"(${streamed2.length} streamed vs ${exp.length})")
      } finally q2.stop()
    }
  }

  test("stream-stream as-of rejects unbounded-lookahead directions") {
    // forward/nearest finalize at probe time + tolerance; without the
    // bound a probe could wait forever on a future reference — the
    // operator must refuse rather than silently never emit
    import graft.streaming.AsOfStream
    val dirG = tmpDir("graft-ss-asof-guard")
    Files.copy(Paths.get(s"$sf/events.parquet"),
      Paths.get(s"$dirG/events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    for (dirn <- Seq("forward", "nearest")) {
      val e = intercept[IllegalArgumentException] {
        AsOfStream.clickPurchaseAsOf(spark, dirG, tolerance = None, dirn)
      }
      assert(e.getMessage.contains("tolerance"), e.getMessage)
    }
  }

  test("streamed incremental near-dup equals the batch recompute across appended increments") {
    // the index lifecycle as a stream: build the band index over 4/5 of
    // the corpus, then stream the held-out delta through in single-file
    // micro-batches. Each batch probes the index (which, via the
    // per-batch increment appends, contains the base AND every earlier
    // batch), self-dedups within the batch, and joins the index. The
    // accumulated pairs must equal the FULL-corpus batch recompute
    // restricted to pairs touching a delta doc — delta-delta pairs can
    // only come from the within-batch join or a cross-batch index probe,
    // so a skipped append or self-join loses them and fails the equality
    import graft.engine.Dedup
    import graft.streaming.DedupStream
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0)
    val delta = docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0)
    val indexDir = tmpDir("graft-stream-ndx") + "/index"
    Dedup.buildMinhashIndex(base, indexDir)
    val inDir = tmpDir("graft-stream-ndx-in")
    delta.repartition(3).write.mode("overwrite").parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    val out = tmpDir("graft-stream-ndx-out") + "/pairs"
    val ckpt = tmpDir("graft-stream-ndx-ckpt")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = DedupStream.nearDupSink(stream, indexDir, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val expected = Dedup.minhashNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) =>
        a % Dedup.DELTA_MOD == 0 || b % Dedup.DELTA_MOD == 0 }
      .sorted
    assert(streamed.length == expected.length,
      s"${streamed.length} streamed vs ${expected.length} expected")
    assert(streamed.sameElements(expected))
    // non-vacuity: some pair must have BOTH ends in the delta (i.e. the
    // base-probe alone could not have produced it)
    assert(expected.exists { case (a, b, _) =>
      a % Dedup.DELTA_MOD == 0 && b % Dedup.DELTA_MOD == 0 },
      "the delta split must contain delta-internal near-dup pairs")
    // and the index must have actually grown one increment per batch
    val incs = spark.read.parquet(indexDir)
      .select(col("increment").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(incs.length > 2 && incs.head == 0L,
      s"index must hold the build plus one increment per batch: ${incs.toSeq}")
  }

  test("streaming heavy-gram monitor equals batch accounting; state stays bounded") {
    import graft.engine.{Schemas, TextOps}
    import graft.functions.TextFns
    val dir = tmpDir("graft-stream-boiler")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val watched = TextOps.heavyGramSet(spark, sf)
    val nWatched = watched.count()
    assert(nWatched > 0, "corpus must have heavy grams for the monitor to watch")
    val stream = spark.readStream.schema(Schemas.documents).parquet(dir)
    val q = DocsStream.heavyGramMonitor(stream, watched)
      .writeStream.format("memory").queryName("heavy_gram_monitor")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("heavy_gram_monitor").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      // the same operator in batch mode over the same static corpus
      val batch = DocsStream.heavyGramMonitor(
          Tables.documents(spark, sf), watched).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(streamed.nonEmpty && streamed.sameElements(batch))
      // the sentinel row carries total docs streamed
      val sentinel = streamed.find(_._1 == DocsStream.DOC_SENTINEL)
      assert(sentinel.map(_._2).contains(Tables.documents(spark, sf).count()))
      // and per-gram counts are the true document frequencies
      val dfMap = Tables.documents(spark, sf)
        .select(col("doc_id"),
          explode(TextFns.shingleHashes(col("text"))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("n"))
        .join(watched, col("g") === col("bg"), "left_semi")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      streamed.filter(_._1 != DocsStream.DOC_SENTINEL).foreach { case (g, n) =>
        assert(dfMap(g) == n, s"gram $g: streamed $n vs batch ${dfMap(g)}")
      }
      // the state bound: complete-mode state holds one row per watched
      // gram plus the sentinel, regardless of stream length
      val stateRows = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal)
      assert(stateRows.nonEmpty && stateRows.max <= nWatched + 1,
        s"monitor state must stay bounded: ${stateRows.max} rows " +
          s"for $nWatched watched grams")
    } finally q.stop()
  }

  test("dedup stream pairs sink is exactly-once: a retried micro-batch replaces its pairs") {
    // dedupIncrement is the unit foreachBatch runs; re-running it with the
    // same increment IS the micro-batch retry. Both sinks — pairs and
    // index — must land identically, not doubled
    import graft.engine.Dedup
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0)
    val delta = docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0)
    val indexDir = tmpDir("graft-pairs-idem") + "/index"
    Dedup.buildMinhashIndex(base, indexDir)
    val out = tmpDir("graft-pairs-idem-out") + "/pairs"
    Dedup.dedupIncrement(delta, indexDir, increment = 1L, outDir = out)
    val once = spark.read.parquet(out)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(_.toString).sorted.toSeq
    val idxOnce = spark.read.parquet(indexDir).count()
    assert(once.nonEmpty)
    Dedup.dedupIncrement(delta, indexDir, increment = 1L, outDir = out)
    val twice = spark.read.parquet(out)
      .select("doc_a", "doc_b", "jaccard")
      .collect().map(_.toString).sorted.toSeq
    assert(twice == once, s"retry changed the pairs sink: ${once.length} " +
      s"rows -> ${twice.length}")
    assert(spark.read.parquet(indexDir).count() == idxOnce,
      "retry changed the index")
  }

  test("compaction trigger policy folds the index mid-stream, results unchanged") {
    // compactEvery=1 with four single-file micro-batches: the trigger must
    // fire at least once (else the increment pile reaches build+4), and the
    // accumulated pairs must still equal the full-corpus batch recompute
    // restricted to delta-touching pairs — folding mid-stream is invisible
    import graft.engine.{Dedup, IndexMaintenance}
    import graft.streaming.DedupStream
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0)
    val delta = docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0)
    val indexDir = tmpDir("graft-stream-compact") + "/index"
    Dedup.buildMinhashIndex(base, indexDir)
    val inDir = tmpDir("graft-stream-compact-in")
    delta.repartition(4).write.mode("overwrite").parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    val out = tmpDir("graft-stream-compact-out") + "/pairs"
    val ckpt = tmpDir("graft-stream-compact-ckpt")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = DedupStream.nearDupSink(stream, indexDir, out, ckpt,
      compactEvery = 1)
    try q.processAllAvailable() finally q.stop()
    val nIncs = IndexMaintenance.incrementCount(spark, indexDir)
    assert(nIncs <= 3, s"compaction never fired: $nIncs increment partitions")
    val streamed = spark.read.parquet(out)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val expected = Dedup.minhashNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) =>
        a % Dedup.DELTA_MOD == 0 || b % Dedup.DELTA_MOD == 0 }
      .sorted
    assert(streamed.length == expected.length && streamed.nonEmpty,
      s"${streamed.length} streamed vs ${expected.length} expected")
    assert(streamed.sameElements(expected))
  }

  test("LM quality gate stream equals the batch score against the frozen model") {
    import graft.engine.TextOps
    // model frozen on the full reference corpus
    val ref = Tables.documents(spark, sf)
    val vocab = TextOps.lmVocab(ref).localCheckpoint()
    val model = TextOps.lmModel(ref, vocab).localCheckpoint()
    // feed the same corpus as two files → two micro-batches
    val dir = tmpDir("graft-lmgate-in")
    ref.filter(col("doc_id") % 2 === 0).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/half0")
    ref.filter(col("doc_id") % 2 === 1).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/half1")
    val out = tmpDir("graft-lmgate-out") + "/scored"
    val ckpt = tmpDir("graft-lmgate-ckpt")
    val stream = spark.readStream
      .schema(graft.engine.Schemas.documents)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val q = DocsStream.lmGateSink(stream, vocab, model, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val landed = spark.read.parquet(out)
    // the stateless gate scored each doc exactly as the batch operator
    // that trains AND scores on the same corpus (model is identical)
    val streamed = landed
      .select("doc_id", "lang", "n_pairs", "oov_pairs", "lm_score")
      .collect().map(_.toSeq).sortBy(_.toString)
    val batch = TextOps.lmScore(spark, sf)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(streamed.length == batch.length && streamed.nonEmpty)
    assert(streamed.sameElements(batch), "stream scores != batch scores")
    // the verdict column is exactly the threshold applied to the score
    assert(landed.filter(col("kept") =!=
      (col("lm_score") >= DocsStream.LM_GATE_MIN)).count() == 0)
    // the feed really arrived as multiple micro-batches
    assert(landed.select(col("batch").cast("long")).distinct().count() >= 2,
      "expected a multi-batch feed")
    // retry idempotence: replaying a batch id replaces its partition
    val n = spark.read.parquet(out).count()
    IndexMaintenance.landBatch(
      TextOps.lmScoreAgainst(ref.filter(col("doc_id") % 2 === 0), vocab, model)
        .withColumn("kept", col("lm_score") >= DocsStream.LM_GATE_MIN),
      0L, out)
    assert(spark.read.parquet(out).count() == n,
      "replayed LM-gate batch duplicated rows")
  }

  test("source-cap admission gate: greedy budget arithmetic holds over the " +
      "arrival sequence, state is one counter per source, replay idempotent") {
    val ref = Tables.documents(spark, sf)
    val nSrc = ref.select(countDistinct("source")).collect().head.getLong(0)
    val total = ref.select(sum(size(
        graft.functions.TextFns.tokens(col("text")))).cast("long"))
      .collect().head.getLong(0)
    val cap = total / (graft.engine.TextOps.SRC_CAP_DIV * nSrc)
    val dir = tmpDir("graft-srccap-in")
    (0 to 2).foreach { i =>
      ref.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/third$i")
    }
    val out = tmpDir("graft-srccap-out") + "/verdicts"
    val ckpt = tmpDir("graft-srccap-ckpt")
    val stream = spark.readStream
      .schema(graft.engine.Schemas.documents)
      .option("maxFilesPerTrigger", 1)
      .option("recursiveFileLookup", "true")
      .parquet(dir)
    val q = DocsStream.sourceCapSink(stream, cap, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val landed = spark.read.parquet(out)
      .select(col("batch").cast("long"), col("doc_id"), col("source"),
        col("n_tokens"), col("admitted")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getBoolean(4)))
    assert(landed.length == ref.count(), "every doc must get a verdict")
    assert(landed.map(_._1).distinct.length >= 3, "expected a multi-batch feed")
    // replay the gate's contract over the actual arrival sequence
    // (batches in id order, doc_id order within a batch): admitted iff
    // the source's spent counter was under the cap at that point
    val spent = scala.collection.mutable.Map.empty[String, Long]
    landed.sortBy(v => (v._1, v._2)).foreach {
      case (_, docId, src, nTok, admitted) =>
        val s = spent.getOrElse(src, 0L)
        assert(admitted == (s < cap),
          s"doc $docId of $src: admitted=$admitted but spent=$s vs cap=$cap")
        if (admitted) spent(src) = s + nTok
    }
    // the cap must bite: some source saw rejections, none stopped short
    val rejectedSrcs = landed.filter(!_._5).map(_._3).toSet
    assert(rejectedSrcs.nonEmpty, "cap must bite at this geometry")
    rejectedSrcs.foreach { s =>
      assert(spent(s) >= cap, s"$s rejected docs before exhausting its budget")
    }
    // replay idempotence: re-landing batch 0's own rows must not duplicate
    val n = spark.read.parquet(out).count()
    val b0 = spark.read.parquet(out).filter(col("batch") === 0).drop("batch")
    IndexMaintenance.landBatch(b0, 0L, out)
    assert(spark.read.parquet(out).count() == n,
      "replayed source-cap batch duplicated rows")
  }

  test("curated and as-of sinks are exactly-once: a replayed batch replaces its partitions") {
    // both sinks land under batch=<id> with dynamic partition overwrite —
    // re-running the landing half with the same batch id (the micro-batch
    // retry) must leave the landed row count unchanged
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source"),
        sha2(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 256)
          .as("content_hash"))
    val out1 = tmpDir("graft-sink-idem-curated") + "/curated"
    DocsStream.landCurated(docs, 3L, out1)
    val once1 = spark.read.parquet(out1).count()
    assert(once1 > 0)
    DocsStream.landCurated(docs, 3L, out1)
    assert(spark.read.parquet(out1).count() == once1,
      "replayed curated batch duplicated rows")
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"),
        col("user_id").as("p_user_id"), col("ts").as("p_ts"))
    val enriched = graft.plans.AsOf.joinMulti(clicks, purchases,
      Seq("user_id" -> "p_user_id"), "ts", "p_ts", "p_event_id",
      "backward", Some(Kpis.ASOF_TOLERANCE_US), broadcastRight = true)
    val out2 = tmpDir("graft-sink-idem-asof") + "/landed"
    IndexMaintenance.landBatch(enriched, 5L, out2)
    val once2 = spark.read.parquet(out2).count()
    assert(once2 > 0)
    IndexMaintenance.landBatch(enriched, 5L, out2)
    assert(spark.read.parquet(out2).count() == once2,
      "replayed as-of batch duplicated rows")
  }

  test("Replay.landSlices: one file per slice in pinned arrival order; a " +
      "refused rename onto an existing slice throws and names both paths") {
    val inDir = tmpDir("graft-replay-slices") + "/in"
    val tag = "replay-spec-" + java.util.UUID.randomUUID().toString.take(8)
    Replay.landSlices(spark, inDir, tag,
      (0 to 2).map(s => s -> spark.range(s * 10L, s * 10L + 5L).toDF("id")))
    val landed = new java.io.File(inDir).list().filterNot(_.startsWith("."))
    assert(landed.sorted.toSeq == (0 to 2).map(s => s"slice-$s.parquet"))
    val mtimes = (0 to 2).map(s =>
      new java.io.File(s"$inDir/slice-$s.parquet").lastModified())
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b },
      s"slice mtimes not strictly ascending: $mtimes")
    (0 to 2).foreach { s =>
      assert(spark.read.parquet(s"$inDir/slice-$s.parquet").collect()
        .map(_.getLong(0)).sorted.toSeq == (s * 10L until s * 10L + 5L))
    }
    val tmpRoot = new java.io.File(sys.props("java.io.tmpdir"))
    assert(!tmpRoot.list().exists(_.startsWith(s"graft-$tag-slice")),
      "a slice tmp dir was left behind")
    // landing slice 0 again: the file: class refuses to rename onto the
    // existing slice, and the writer must say so instead of keeping the
    // old file and deleting the new one
    val e = intercept[IllegalStateException] {
      Replay.landSlices(spark, inDir, tag, Seq(0 -> spark.range(1).toDF("id")))
    }
    assert(e.getMessage.contains(s"$inDir/slice-0.parquet"), e.getMessage)
    assert(e.getMessage.contains(s"graft-$tag-slice0-") &&
      e.getMessage.contains("part-"), e.getMessage)
    assert(spark.read.parquet(s"$inDir/slice-0.parquet").count() == 5L,
      "the refused landing must leave the old slice as it was")
  }

  test("index append is idempotent: a retried increment replaces, not duplicates") {
    import graft.engine.Dedup
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0)
    val delta = docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0)
    val indexDir = tmpDir("graft-ndx-idem") + "/index"
    Dedup.buildMinhashIndex(base, indexDir)
    Dedup.appendMinhashIndex(delta, indexDir, increment = 1L)
    val once = spark.read.parquet(indexDir).count()
    // the retry: same increment written again — dynamic partition
    // overwrite must replace increment=1, leaving the total unchanged
    Dedup.appendMinhashIndex(delta, indexDir, increment = 1L)
    val twice = spark.read.parquet(indexDir).count()
    assert(once == twice, s"retried append duplicated rows: $once -> $twice")
    // and a rebuild clears stale increments (static overwrite)
    Dedup.buildMinhashIndex(base, indexDir)
    val incs = spark.read.parquet(indexDir)
      .select(col("increment").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(incs == Seq(0L), s"rebuild must clear old increments: $incs")
  }

  test("flatMapGroupsWithState sessionization runs on RocksDB state store") {
    val dir = tmpDir("graft-stream-sess-rocks")
    Files.copy(Paths.get(s"$sf/events.parquet"), Paths.get(s"$dir/events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q = EventsStream.sessionize(spark, dir)
      .writeStream
      .format("memory")
      .queryName("events_sessions_rocks")
      .outputMode("update")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("events_sessions_rocks")
        .orderBy("user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val batch = Kpis.eventSessions(spark, sf)
        .select("user_id", "n_events", "n_sessions").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(streamed.sameElements(batch))
      // the custom-state operator genuinely ran on RocksDB: its progress
      // must carry RocksDB-specific custom metrics, not just any state op
      val customKeys = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq)
        .flatMap(_.customMetrics.keySet().toArray.map(_.toString))
        .toSet
      assert(customKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"sessionization ran without RocksDB state metrics: $customKeys")
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("streamed label maintenance: cluster state after the stream equals " +
      "the full-corpus transitive closure") {
    import graft.engine.Dedup
    import graft.streaming.DedupStream
    import org.apache.spark.sql.Row
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0)
    val delta = docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0)
    val indexDir = tmpDir("graft-stream-lbl") + "/index"
    val labelDir = tmpDir("graft-stream-lbl") + "/labels"
    Dedup.buildMinhashIndex(base, indexDir)
    // seed labels from the build corpus's internal pairs
    val allPairs = Dedup.minhashNearDup(spark, sf)
      .select("doc_a", "doc_b").localCheckpoint()
    Dedup.buildClusterLabels(
      allPairs.filter(col("doc_a") % Dedup.DELTA_MOD =!= 0 &&
        col("doc_b") % Dedup.DELTA_MOD =!= 0), labelDir)
    val inDir = tmpDir("graft-stream-lbl-in")
    delta.repartition(3).write.mode("overwrite").parquet(inDir)
    val q = DedupStream.nearDupSink(
      spark.readStream.schema(spark.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      indexDir, tmpDir("graft-stream-lbl-out") + "/pairs",
      tmpDir("graft-stream-lbl-ckpt"), labelDir = labelDir)
    try q.processAllAvailable() finally q.stop()
    val streamed = Dedup.readClusterLabels(spark, labelDir)
      .collect().map { case Row(id: Long, label: Long) => (id, label) }
      .sorted.toSeq
    val full = Dedup.dupClusters(spark, sf)
      .select("doc_id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed == full,
      "streamed label merges must reproduce the full-corpus closure")
    // the steady-state consumers: keep-list and cluster-aware split
    // SERVED from the maintained labels must equal the full in-plan
    // recomputes row-for-row (the q134/q142 operators, closure cost gone)
    assert(Dedup.dedupKeepListFrom(spark, sf, labelDir)
      .collect().map(_.toSeq).toSeq ==
      Dedup.dedupKeepList(spark, sf).collect().map(_.toSeq).toSeq,
      "lifecycle keep-list must equal the full recompute")
    assert(Dedup.clusterAwareSplitFrom(spark, sf, labelDir)
      .collect().map(_.toSeq).toSeq ==
      Dedup.clusterAwareSplit(spark, sf).collect().map(_.toSeq).toSeq,
      "lifecycle cluster split must equal the full recompute")
  }

  test("streamed containment channel: a half-doc prefix copy pairs with " +
      "its source; the band channel alone would miss it") {
    import graft.engine.Dedup
    import graft.streaming.DedupStream
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // the streamed delta: half-doc prefix copies of every
    // CONT_PLANT_MOD-th document — the truncation-re-ingest case
    val plants = docs.filter(col("doc_id") % Dedup.CONT_PLANT_MOD === 0)
      .select((col("doc_id") + 50000000L).as("doc_id"),
        col("text").substr(lit(1),
          floor(length(col("text")) / 2).cast("int")).as("text"))
    val root = tmpDir("graft-stream-cont")
    Dedup.buildMinhashIndex(docs, s"$root/band_index")
    Dedup.buildHeadIndex(docs, s"$root/head_index")
    val inDir = tmpDir("graft-stream-cont-in")
    plants.repartition(2).write.mode("overwrite").parquet(inDir)
    val q = DedupStream.nearDupSink(
      spark.readStream.schema(spark.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      s"$root/band_index", s"$root/pairs",
      tmpDir("graft-stream-cont-ckpt"),
      headDir = s"$root/head_index", contOutDir = s"$root/cont_pairs")
    try q.processAllAvailable() finally q.stop()
    val cont = spark.read.parquet(s"$root/cont_pairs")
      .select("doc_a", "doc_b", "jaccard", "containment").collect()
    val contPairs = cont.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(contPairs.distinct.length == contPairs.length,
      "containment sink must not emit duplicate pairs")
    // the streamed (original, plant) pairs equal the one-shot batch
    // probe of the same plants against an originals-only head index —
    // batching/ordering of the stream must be invisible (plant-plant
    // cross-batch pairs are excluded: the batch probe can't see them)
    val expIdx = tmpDir("graft-stream-cont-exp") + "/head_index"
    Dedup.buildHeadIndex(docs, expIdx)
    val expected = Dedup.probeHeadIndex(spark, plants, expIdx)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "the plant geometry must produce pairs")
    val streamedCross = cont
      .filter(r => r.getLong(0) < 50000000L && r.getLong(1) >= 50000000L)
      .map(_.toString).sorted.toSeq
    assert(streamedCross == expected,
      "streamed cross containment pairs must equal the batch probe")
    // every landed pair passed the containment gate, and the planted
    // pairs sit BELOW the band channel's 0.8 Jaccard gate — the case
    // this channel exists for
    cont.foreach(r => assert(r.getDouble(3) >= Dedup.CONT_T))
    val planted = cont.filter(r => r.getLong(1) == r.getLong(0) + 50000000L)
    assert(planted.exists(_.getDouble(2) < 0.8),
      "a caught pair below the Jaccard near-dup gate must exist")
    // the band channel's sink may be entirely empty here (every planted
    // pair sits near J ≈ 0.5) — an empty dynamic-overwrite write lands
    // no parquet files, so guard the read
    val band: Set[(Long, Long)] =
      if (!new java.io.File(s"$root/pairs").exists() ||
          graft.engine.IndexMaintenance
            .parquetFileCount(spark, s"$root/pairs") == 0L)
        Set.empty
      else spark.read.parquet(s"$root/pairs")
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.exists(r => !band.contains((r.getLong(0), r.getLong(1)))),
      "the band channel alone must have missed a planted prefix copy")
  }

  test("streaming probe serving: batched probes equal the one-shot " +
      "batch probe; metrics land per batch; a replayed batch is invisible") {
    import graft.engine.Sim
    import graft.streaming.VecIndexStream
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val indexDir = tmpDir("graft-probe-serve") + "/index"
    Sim.buildIvfIndex(e.filter(col("vec_id") % Sim.ANN_DELTA_MOD =!= 0),
      indexDir, avoid = Sim.ANN_DELTA_MOD)
    Sim.appendIvfIndex(e.filter(col("vec_id") % Sim.ANN_DELTA_MOD === 0),
      indexDir, increment = 1L)
    val probes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val inDir = tmpDir("graft-probe-serve-in")
    probes.repartition(2).write.mode("overwrite").parquet(inDir)
    val out = tmpDir("graft-probe-serve-out")
    val q = VecIndexStream.probeSink(
      spark.readStream.schema(spark.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      indexDir, out, tmpDir("graft-probe-serve-ckpt"), nprobe = 2)
    try q.processAllAvailable() finally q.stop()
    // per-probe results are independent, so batching must be invisible
    val streamed = spark.read.parquet(s"$out/results")
      .select("probe_id", "rank", "neighbor_id", "cosine")
      .collect().map(_.toString).sorted.toSeq
    val batch = Sim.probeIvfIndex(probes, indexDir, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch, "streamed probe serving must equal batch")
    // serving metrics landed per micro-batch and account every probe:
    // assignment rows sum to |probes| × nprobe across batches
    val m = spark.read.parquet(s"$out/metrics")
    assert(m.select(col("batch").cast("long")).distinct().count() >= 2)
    assert(m.agg(sum("assignment_rows")).collect()(0).getLong(0)
      == probes.count() * 2, "metrics must account |probes| × nprobe")
    // replay: re-landing the same batch id replaces both sinks
    VecIndexStream.landProbeBatch(probes, indexDir, out,
      increment = 1L, k = Sim.IVF_TOP_K, nprobe = 2)
    val once = spark.read.parquet(s"$out/results")
      .collect().map(_.toString).sorted.toSeq
    val mOnce = spark.read.parquet(s"$out/metrics").count()
    VecIndexStream.landProbeBatch(probes, indexDir, out,
      increment = 1L, k = Sim.IVF_TOP_K, nprobe = 2)
    assert(spark.read.parquet(s"$out/results")
      .collect().map(_.toString).sorted.toSeq == once,
      "replayed probe batch must replace, not append")
    assert(spark.read.parquet(s"$out/metrics").count() == mOnce,
      "replayed metrics row must replace, not append")
  }

  test("streaming day loop: each micro-batch runs the whole curation " +
      "lifecycle; final state equals the full recompute") {
    import graft.engine.{CurationLoop, Dedup}
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val base = docs.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0)
    val delta = docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0)
    val root = tmpDir("graft-stream-day")
    CurationLoop.seed(spark, base, root)
    val inDir = tmpDir("graft-stream-day-in")
    delta.repartition(2).write.mode("overwrite").parquet(inDir)
    val q = CurationLoop.daySink(
      spark.readStream.schema(spark.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      root, tmpDir("graft-stream-day-ckpt"))
    try q.processAllAvailable() finally q.stop()
    // labels after the stream = the full-corpus transitive closure, so
    // the lifecycle consumers serve the full-recompute decisions
    assert(Dedup.readClusterLabels(spark, s"$root/labels")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Dedup.dupClusters(spark, sf).select("doc_id", "cluster_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      "day-loop labels must equal the full-corpus closure")
    assert(Dedup.dedupKeepListFrom(spark, sf, s"$root/labels")
      .collect().map(_.toSeq).toSeq ==
      Dedup.dedupKeepList(spark, sf).collect().map(_.toSeq).toSeq)
    // the audit trail: one report per micro-batch, ingest accounted
    val reports = spark.read.parquet(s"$root/reports")
    assert(reports.select(col("batch").cast("long")).distinct().count() >= 2,
      "expected a multi-batch feed")
    assert(reports.agg(sum("batchDocs")).collect()(0).getLong(0)
      == delta.count(), "reports must account every ingested doc")
    val last = reports.orderBy(col("batch").cast("long").desc).collect()(0)
    def f(n: String): Long = last.getLong(last.fieldIndex(n))
    assert(f("keptDocs") + f("droppedDocs") == docs.count(),
      "final keep-list must partition the post-ingest corpus")
    assert(f("shardRows") == f("keptDocs"),
      "final shard refresh must hold exactly the kept corpus")
    assert(spark.read.parquet(s"$root/shards").count() == f("keptDocs"))
    // the document store is itself a batch-keyed exactly-once sink
    assert(spark.read.parquet(s"$root/docs").count() == docs.count())
  }

  test("streamed winnow channel: an embedded-paragraph copy pairs with " +
      "its source; the band channel alone would miss it") {
    import graft.engine.Dedup
    import graft.streaming.DedupStream
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // the streamed delta: fresh-prefix docs embedding each source's
    // first WINNOW_PLANT_CHARS characters — shared PARAGRAPH, not a
    // shared prefix (the head channel's first-tokens hash differs) and
    // a diluted whole-doc Jaccard (the band channel's gate misses it)
    val plants = docs.filter(col("doc_id") % Dedup.WINNOW_PLANT_MOD === 0)
      .select((col("doc_id") + 60000000L).as("doc_id"),
        concat(lit("zq"), col("doc_id").cast("string"), lit(" "),
          col("text").substr(lit(1), lit(Dedup.WINNOW_PLANT_CHARS)))
          .as("text"))
    val root = tmpDir("graft-stream-winnow")
    Dedup.buildMinhashIndex(docs, s"$root/band_index")
    Dedup.buildWinnowIndex(docs, s"$root/winnow_index")
    val inDir = tmpDir("graft-stream-winnow-in")
    // ONE file → one micro-batch: the df boilerplate gate reads the
    // index state at the batch's arrival, so a single batch is bit-equal
    // to the one-shot probe; split batches drift by design at the
    // DF_CAP edge (winnowIncrement's documented corpus-df semantics)
    plants.repartition(1).write.mode("overwrite").parquet(inDir)
    val q = DedupStream.nearDupSink(
      spark.readStream.schema(spark.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      s"$root/band_index", s"$root/pairs",
      tmpDir("graft-stream-winnow-ckpt"),
      winnowDir = s"$root/winnow_index",
      winnowOutDir = s"$root/winnow_pairs")
    try q.processAllAvailable() finally q.stop()
    val wp = spark.read.parquet(s"$root/winnow_pairs")
      .select("doc_a", "doc_b", "n_shared", "n_fp_a", "n_fp_b", "overlap")
      .collect()
    val wpPairs = wp.map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(wpPairs.distinct.length == wpPairs.length,
      "winnow sink must not emit duplicate pairs")
    // the streamed (original, plant) pairs equal the one-shot batch
    // probe of all plants against an originals-only winnow index —
    // batching must be invisible (plant-plant pairs excluded: the
    // one-shot probe's index never contains plants)
    val expIdx = tmpDir("graft-stream-winnow-exp") + "/winnow_index"
    Dedup.buildWinnowIndex(docs, expIdx)
    val expected = Dedup.probeWinnowIndex(spark, plants, expIdx)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.nonEmpty, "the plant geometry must produce pairs")
    val streamedCross = wp
      .filter(r => r.getLong(0) < 60000000L && r.getLong(1) >= 60000000L)
      .map(_.toString).sorted.toSeq
    assert(streamedCross == expected,
      "streamed cross winnow pairs must equal the batch probe")
    // the planted pairs must include sources the band channel's sink
    // does not pair (whole-doc Jaccard of a 240-char excerpt inside a
    // full-length doc sits far below 0.8)
    val planted = wp.filter(r => r.getLong(1) == r.getLong(0) + 60000000L)
    assert(planted.nonEmpty, "plants must pair with their sources")
    val band: Set[(Long, Long)] =
      if (!new java.io.File(s"$root/pairs").exists() ||
          graft.engine.IndexMaintenance
            .parquetFileCount(spark, s"$root/pairs") == 0L)
        Set.empty
      else spark.read.parquet(s"$root/pairs")
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.exists(r => !band.contains((r.getLong(0), r.getLong(1)))),
      "the band channel alone must have missed an embedded-paragraph copy")
  }

  test("winnow increment sinks are exactly-once: a retried batch " +
      "replaces its pairs and its fingerprint rows") {
    import graft.engine.Dedup
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val plants = docs.filter(col("doc_id") % Dedup.WINNOW_PLANT_MOD === 0)
      .select((col("doc_id") + 60000000L).as("doc_id"),
        concat(lit("zq"), col("doc_id").cast("string"), lit(" "),
          col("text").substr(lit(1), lit(Dedup.WINNOW_PLANT_CHARS)))
          .as("text"))
    val winnowDir = tmpDir("graft-winnow-idem") + "/winnow_index"
    Dedup.buildWinnowIndex(docs, winnowDir)
    val out = tmpDir("graft-winnow-idem-out") + "/pairs"
    Dedup.winnowIncrement(plants, winnowDir, increment = 1L, outDir = out)
    val once = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val idxOnce = spark.read.parquet(winnowDir).count()
    assert(once.nonEmpty)
    Dedup.winnowIncrement(plants, winnowDir, increment = 1L, outDir = out)
    assert(spark.read.parquet(out).collect()
      .map(_.toString).sorted.toSeq == once,
      "retry changed the winnow pairs sink")
    assert(spark.read.parquet(winnowDir).count() == idxOnce,
      "retry changed the winnow index")
  }

  test("containment increment sinks are exactly-once: a retried batch " +
      "replaces its pairs and its head rows") {
    import graft.engine.Dedup
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val plants = docs.filter(col("doc_id") % Dedup.CONT_PLANT_MOD === 0)
      .select((col("doc_id") + 50000000L).as("doc_id"),
        col("text").substr(lit(1),
          floor(length(col("text")) / 2).cast("int")).as("text"))
    val headDir = tmpDir("graft-cont-idem") + "/head_index"
    Dedup.buildHeadIndex(docs, headDir)
    val out = tmpDir("graft-cont-idem-out") + "/pairs"
    Dedup.containmentIncrement(plants, headDir, increment = 1L, outDir = out)
    val once = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    val idxOnce = spark.read.parquet(headDir).count()
    assert(once.nonEmpty)
    Dedup.containmentIncrement(plants, headDir, increment = 1L, outDir = out)
    assert(spark.read.parquet(out).collect()
      .map(_.toString).sorted.toSeq == once,
      "retry changed the containment pairs sink")
    assert(spark.read.parquet(headDir).count() == idxOnce,
      "retry changed the head index")
  }

  test("streaming phrase monitor equals batch phrase search; state stays " +
      "bounded") {
    import graft.engine.{Schemas, TextOps}
    import graft.functions.TextFns
    val dir = tmpDir("graft-stream-phrase")
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    import spark.implicits._
    val phrases = TextOps.PHRASES.toDF("phrase")
      .select(col("phrase"), TextFns.polyHash(col("phrase")).as("ph"))
      .localCheckpoint()
    val stream = spark.readStream.schema(Schemas.documents).parquet(dir)
    val q = DocsStream.phraseMonitor(stream, phrases)
      .writeStream.format("memory").queryName("phrase_monitor")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("phrase_monitor").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      // sentinel carries total docs streamed
      assert(streamed.get(DocsStream.DOC_SENTINEL)
        .contains(Tables.documents(spark, sf).count()))
      // per-phrase counts equal the batch q152 occurrence counts
      val batch = TextOps.phraseSearch(spark, sf).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      val hashOf = phrases.collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      TextOps.PHRASES.foreach { p =>
        val n = streamed.getOrElse(hashOf(p), 0L)
        assert(n == batch(p), s"phrase '$p': streamed $n vs batch ${batch(p)}")
      }
      // a zero-hit phrase must exist so the absent-row path is exercised
      assert(batch.values.exists(_ == 0L))
      val stateRows = q.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal)
      assert(stateRows.nonEmpty &&
        stateRows.max <= TextOps.PHRASES.length + 1,
        s"monitor state must stay bounded: ${stateRows.max}")
    } finally q.stop()
  }

  test("streaming drift monitor: accumulated histograms equal the batch " +
      "assignment; a replayed batch replaces its histogram") {
    import graft.engine.{Sim, Tables}
    import graft.streaming.DriftStream
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val live = e.filter(col("vec_id") % Sim.DRIFT_MOD === 0)
    // frozen baseline centroids — materialized once, never retrained
    val cents = Sim.driftBaselineCentroids(spark, sf).localCheckpoint()
    val inDir = tmpDir("graft-drift-in")
    live.repartition(3).write.mode("overwrite").parquet(inDir)
    val schema = spark.read.parquet(inDir).schema
    val out = tmpDir("graft-drift-out") + "/cells"
    val ckpt = tmpDir("graft-drift-ckpt")
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = DriftStream.driftSink(stream, cents, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    val nBatches = spark.read.parquet(out)
      .select(col("batch").cast("long")).distinct().count()
    assert(nBatches >= 2, s"want multiple micro-batches, got $nBatches")
    // histograms summed over batches ≡ one batch assignment of the
    // whole live feed against the same frozen centroids
    val streamed = spark.read.parquet(out).groupBy("cent_id")
      .agg(sum("n").as("n"), sum("s_fp6").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val expected =
      Sim.cellHistogram(Sim.assignTo(Sim.withNorm(live), cents))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    assert(streamed == expected,
      "summed per-batch histograms must equal the batch histogram")
    // exactly-once under retry: the same batch landing twice replaces
    // its partition instead of doubling the counters
    val out2 = tmpDir("graft-drift-retry") + "/cells"
    val slice = live.limit(20)
    DriftStream.landDriftCells(slice, 7L, cents, out2)
    val once = spark.read.parquet(out2)
      .agg(sum("n")).collect()(0).getLong(0)
    DriftStream.landDriftCells(slice, 7L, cents, out2)
    val twice = spark.read.parquet(out2)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(once == twice, s"replayed batch duplicated counters: $once -> $twice")
  }

  test("streaming IVF ingest: in-distribution batches accrue increments " +
      "with frozen centroids; a drifted feed triggers the recluster " +
      "mid-stream") {
    import graft.engine.{Sim, Tables}
    import graft.streaming.VecIndexStream
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val base = e.filter(col("vec_id") % Sim.ANN_DELTA_MOD =!= 0)
    val delta = e.filter(col("vec_id") % Sim.ANN_DELTA_MOD === 0)
    // --- in-distribution stream: increments accrue, centroids frozen
    val idx1 = tmpDir("graft-vec-stream-a") + "/index"
    Sim.buildIvfIndex(base, idx1)
    val cents1 = spark.read.parquet(s"$idx1/centroids")
      .select("cent_id").collect().map(_.getLong(0)).sorted.toSeq
    val in1 = tmpDir("graft-vec-stream-a-in")
    delta.repartition(3).write.mode("overwrite").parquet(in1)
    val ckpt1 = tmpDir("graft-vec-stream-a-ckpt")
    val q1 = VecIndexStream.indexSink(
      spark.readStream.schema(spark.read.parquet(in1).schema)
        .option("maxFilesPerTrigger", "1").parquet(in1),
      idx1, ckpt1,
      driftThresholdPpm = 900000L)
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(s"$idx1/centroids")
      .select("cent_id").collect().map(_.getLong(0)).sorted.toSeq == cents1,
      "in-distribution stream must never retrain the centroids")
    val incs1 = spark.read.parquet(s"$idx1/vectors")
      .select(col("increment").cast("long")).distinct().count()
    assert(incs1 > 2, "one increment per micro-batch must accrue")
    assert(spark.read.parquet(s"$idx1/vectors").count() == e.count(),
      "index must hold build + every streamed vector exactly once")
    // streamed appends against frozen centroids ≡ one batch append
    val idx2 = tmpDir("graft-vec-stream-b") + "/index"
    Sim.buildIvfIndex(base, idx2)
    Sim.appendIvfIndex(delta, idx2, increment = 1L)
    val probes = e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    assert(Sim.probeIvfIndex(probes, idx1).collect().map(_.toString).toSeq ==
      Sim.probeIvfIndex(probes, idx2).collect().map(_.toString).toSeq,
      "streamed ingest must serve exactly the batch-append results")
    // --- the SAME stream lineage's feed drifts: the policy must fire.
    // (Same checkpoint: batch ids are unique only within one lineage —
    // a fresh checkpoint would restart at 0 and its increment=1 would
    // replace the earlier stream's. The ownership contract in
    // VecIndexStream's scaladoc; this spec exercises the correct use.)
    val one = e.filter(col("vec_id") === 1).select(col("embedding").as("e1"))
    val drifted = e.filter(col("vec_id") % 5 === 0)
      .crossJoin(broadcast(one))
      .select((col("vec_id") + 10000000L).as("vec_id"),
        col("e1").as("embedding"))
    drifted.repartition(2).write.mode("append").parquet(in1)
    val q2 = VecIndexStream.indexSink(
      spark.readStream.schema(spark.read.parquet(in1).schema)
        .option("maxFilesPerTrigger", "1").parquet(in1),
      idx1, ckpt1,
      driftThresholdPpm = 400000L)
    try q2.processAllAvailable() finally q2.stop()
    assert(spark.read.parquet(s"$idx1/centroids")
      .select("cent_id").collect().map(_.getLong(0)).sorted.toSeq != cents1,
      "a concentrated drifted feed must trigger the recluster")
    assert(spark.read.parquet(s"$idx1/vectors").count() ==
      e.count() + drifted.count(),
      "recluster + further appends must keep every vector exactly once")
    assert(Sim.probeIvfIndex(probes, idx1).collect().nonEmpty,
      "probes must serve from the reclustered index")
  }

  test("hash-gate sink: persisted-store admission — fresh content admitted " +
      "exactly once, full replays dropped, replayed batch re-derives " +
      "identical verdicts against the rolled-back store") {
    import graft.engine.{Dedup, Schemas}
    val dir = tmpDir("graft-hashgate-in")
    val out = tmpDir("graft-hashgate-out") + "/verdicts"
    val ckpt = tmpDir("graft-hashgate-ckpt")
    val store = tmpDir("graft-hashgate-store") + "/hashidx"
    val d = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val nAll = d.count()
    val nEven = d.filter(col("doc_id") % 2 === 0).count()
    // bootstrap register: the even half is already known (increment 0)
    Dedup.buildHashIndex(d.filter(col("doc_id") % 2 === 0), store)
    // feed: the FULL corpus twice (re-crawl) as two micro-batches
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/b1.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"$sf/documents.parquet"),
      Paths.get(s"$dir/b2.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val feed = spark.readStream.schema(Schemas.documents)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = DocsStream.hashGateSink(feed, store, out, ckpt)
    try q.processAllAvailable() finally q.stop()
    // the register holds every distinct doc exactly once — the odd half
    // was admitted by whichever batch saw it first, the replay added none
    val storeRows = spark.read.parquet(store)
    assert(storeRows.count() == nAll)
    assert(storeRows.select("content_hash").distinct().count() == nAll)
    // verdict audit: one batch admitted the odd half, the other nothing
    val v = spark.read.parquet(out)
    assert(v.count() == 2 * nAll, "every arrival gets a verdict row")
    val freshPerBatch = v.filter(col("verdict") === "fresh")
      .groupBy("batch").count().collect()
      .map(r => r.getLong(1)).sorted.toSeq
    assert(freshPerBatch == Seq(nAll - nEven),
      s"exactly one batch admits the odd half: $freshPerBatch")
    assert(v.filter(col("verdict") === "dup_of_corpus").count() ==
      2 * nAll - (nAll - nEven))
    assert(v.filter(col("verdict") === "dup_in_batch").count() == 0,
      "the corpus is internally distinct")
    // replay: re-probing with the batch's own increment excluded and
    // re-appending its admitted rows must change nothing and re-derive
    // the landed verdicts byte-identically
    val freshBatch = v.filter(col("verdict") === "fresh")
      .select(col("batch").cast("long")).distinct()
      .collect()(0).getLong(0)
    val replayed = Dedup.probeHashIndex(spark, d, store,
      excludeIncrement = freshBatch)
    val landed = v.filter(col("batch") === freshBatch)
      .select("doc_id", "content_hash", "verdict", "canonical_doc_id")
    assert(replayed.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
      landed.orderBy("doc_id").collect().map(_.toSeq).toSeq)
    Dedup.appendHashIndex(
      d.join(replayed.filter(col("verdict") === "fresh").select("doc_id"),
        Seq("doc_id"), "left_semi"), store, freshBatch)
    assert(spark.read.parquet(store).count() == nAll,
      "a replayed append replaces its increment, never duplicates")
  }

  test("checkpoint recovery: the q215 lineage dies mid-run (after batch " +
      "2's write, before its commit) and a NEW query resumed from the " +
      "same checkpoint lands the lake the uninterrupted law predicts") {
    import graft.streaming.EventsStream
    val before = EventsStream.dedupCrashCount.get()
    val rows = EventsStream.streamDedupProbe(spark, sf).collect()
    // the lineage is the restarted one — if it came from this session's
    // cache, a prior test already paid the crash; either way ≥1 recorded
    assert(EventsStream.dedupCrashCount.get() >= math.max(before, 1),
      "the lineage must actually have crashed and recovered")
    // uninterrupted-run expectation, derived independently from the
    // batch table: every event EXACTLY once, stamped with the slice of
    // its first arrival (event_id mod 3); the replay slice (batch 3)
    // contributes nothing. A restart that lost batch 2's offsets,
    // double-landed its rows, or skipped batch 3 breaks one of these.
    val ev = graft.engine.Tables.events(spark, sf)
      .select(col("event_id"), pmod(col("event_id"), lit(3)).cast("long")
        .as("expected_batch")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.length == ev.size, "every event exactly once")
    rows.foreach { r =>
      assert(r.getAs[Long]("batch") == ev(r.getAs[Long]("event_id")),
        "emission must come from the first-arrival slice")
    }
  }

  // -------- Trigger.AvailableNow drain on the term-index ingest (r13) --

  test("term-index ingest under Trigger.AvailableNow: drains exactly the " +
      "pre-landed backlog then STOPS; a later run resumes from the " +
      "checkpoint and drains only the new arrivals") {
    import graft.engine.{IndexMaintenance, TermIndex, TextOps}
    import graft.streaming.TermIndexStream
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val indexDir = tmpDir("graft-ti-an") + "/index"
    val inDir = tmpDir("graft-ti-an-in")
    val ckpt = tmpDir("graft-ti-an-ckpt")
    TermIndex.buildTermIndex(docs.filter(col("doc_id") % 4 === 0), indexDir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(inDir).getFileSystem(conf)
    def land(d: org.apache.spark.sql.DataFrame, name: String,
        mtime: Long): Unit = {
      val tmp = tmpDir("graft-ti-an-slice")
      d.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
      val dst = new Path(s"$inDir/$name.parquet")
      fs.rename(part, dst)
      fs.delete(new Path(tmp), true)
      fs.setTimes(dst, mtime, -1L)
    }
    // the pre-landed BACKLOG: three slice files, the state a scheduled
    // nightly drain wakes up to
    (1 to 3).foreach(sl => land(docs.filter(col("doc_id") % 4 === sl),
      s"slice-$sl", 1000000L + sl * 60000L))
    val schema = spark.read.parquet(inDir).schema
    def drain(): Unit = {
      val q = TermIndexStream.indexSink(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(inDir),
        indexDir, ckpt, availableNow = true)
      // AvailableNow terminates ITSELF once the backlog is drained -
      // no processAllAvailable/stop pair
      assert(q.awaitTermination(180000),
        "AvailableNow drain must stop on its own")
      assert(!q.isActive)
    }
    drain()
    // exactly the backlog: one increment per file batch, nothing more
    assert(IndexMaintenance.maxIncrement(spark, s"$indexDir/postings") == 3L,
      "three backlog files at maxFilesPerTrigger=1 = increments 1..3")
    // the drained store serves EXACTLY what a batch-built index over the
    // full corpus serves (the q211 equivalence, now through the drain)
    val fullDir = tmpDir("graft-ti-an-full") + "/index"
    TermIndex.buildTermIndex(docs, fullDir)
    def serve(ix: String): Seq[String] =
      TermIndex.probeTermIndex(spark, TermIndexStream.ST_TERMS, ix,
        TextOps.RETRIEVAL_TOP_K).collect().map(_.toString).toSeq
    assert(serve(indexDir) == serve(fullDir),
      "drained store must serve identically to the batch-built index")
    // a NEW arrival lands after the drain; the next scheduled drain
    // processes ONLY it (checkpoint resume), as increment 4
    land(docs.filter(col("doc_id") % 4 === 1)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text")),
      "slice-4", 1300000L)
    drain()
    assert(IndexMaintenance.maxIncrement(spark, s"$indexDir/postings") == 4L,
      "the second drain must process exactly the one new file")
    assert(spark.read.parquet(s"$indexDir/postings")
      .filter(col("increment") === 4L)
      .filter(col("doc_id") < 10000000L).count() == 0L,
      "increment 4 must hold only the new arrivals")
  }

  test("band-index ingest under Trigger.AvailableNow: drains the backlog, " +
      "stops on its own, and the drained index equals build+append") {
    import graft.engine.{Dedup, IndexMaintenance}
    import graft.streaming.DedupStream
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 4 === 0)
    val rest = docs.filter(col("doc_id") % 4 =!= 0)
    val indexDir = tmpDir("graft-dd-an") + "/index"
    val inDir = tmpDir("graft-dd-an-in")
    val outDir = tmpDir("graft-dd-an-out") + "/pairs"
    val ckpt = tmpDir("graft-dd-an-ckpt")
    Dedup.buildMinhashIndex(base, indexDir)
    val fs = new Path(inDir).getFileSystem(spark.sessionState.newHadoopConf())
    (1 to 3).foreach { sl =>
      val tmp = tmpDir("graft-dd-an-slice")
      docs.filter(col("doc_id") % 4 === sl).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new Path(s"$inDir/slice-$sl.parquet"))
      fs.delete(new Path(tmp), true)
    }
    val schema = spark.read.parquet(inDir).schema
    val q = DedupStream.nearDupSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      indexDir, outDir, ckpt, availableNow = true)
    assert(q.awaitTermination(180000),
      "AvailableNow drain must stop on its own")
    assert(!q.isActive)
    assert(IndexMaintenance.maxIncrement(spark, indexDir) == 3L)
    // drained store ≡ build + one batch append over the same slices,
    // modulo the increment layout column
    val refDir = tmpDir("graft-dd-an-ref") + "/index"
    Dedup.buildMinhashIndex(base, refDir)
    Dedup.dedupIncrement(rest, refDir, increment = 1L,
      outDir = tmpDir("graft-dd-an-refout") + "/pairs")
    def bandSet(d: String): Set[String] =
      spark.read.parquet(d).drop("increment")
        .collect().map(_.toString).toSet
    assert(bandSet(indexDir) == bandSet(refDir),
      "drained band index must equal the batch build+append store")
  }

  test("vector-index ingest under Trigger.AvailableNow: drains the " +
      "backlog, stops on its own, and the drained index equals " +
      "build+append") {
    import graft.engine.{IndexMaintenance, Sim}
    import graft.streaming.VecIndexStream
    import org.apache.hadoop.fs.Path
    val vecs = Tables.embeddings(spark, sf)
    val base = vecs.filter(col("vec_id") % 4 === 0)
    val rest = vecs.filter(col("vec_id") % 4 =!= 0)
    val indexDir = tmpDir("graft-vec-an") + "/index"
    val inDir = tmpDir("graft-vec-an-in")
    val ckpt = tmpDir("graft-vec-an-ckpt")
    Sim.buildIvfIndex(base, indexDir)
    val fs = new Path(inDir).getFileSystem(spark.sessionState.newHadoopConf())
    (1 to 3).foreach { sl =>
      val tmp = tmpDir("graft-vec-an-slice")
      vecs.filter(col("vec_id") % 4 === sl).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
      fs.rename(part, new Path(s"$inDir/slice-$sl.parquet"))
      fs.delete(new Path(tmp), true)
    }
    val schema = spark.read.parquet(inDir).schema
    val q = VecIndexStream.indexSink(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir),
      indexDir, ckpt, availableNow = true)
    assert(q.awaitTermination(180000),
      "AvailableNow drain must stop on its own")
    assert(!q.isActive)
    assert(IndexMaintenance.maxIncrement(spark, s"$indexDir/vectors") == 3L)
    // same base ⇒ same centroids ⇒ cell assignments comparable: the
    // drained store must equal build + one batch append
    val refDir = tmpDir("graft-vec-an-ref") + "/index"
    Sim.buildIvfIndex(base, refDir)
    Sim.appendIvfIndex(rest, refDir, increment = 1L)
    def cellSet(d: String): Set[(Long, Long)] =
      spark.read.parquet(s"$d/vectors")
        .select(col("vec_id").cast("long"), col("cell").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cellSet(indexDir) == cellSet(refDir),
      "drained vector index must equal the batch build+append store")
  }

  test("rate-sourced hourly lineage equals the file-replay twin " +
      "row-for-row: the gated streaming surface is not " +
      "file-replay-specific") {
    // the q200 gate rides the file replay (unchanged); this pins that
    // the SAME transform fed from a rate-micro-batch source — a
    // non-file source with its own offset/commit machinery — lands the
    // identical final set under the identical watermark construction
    val fromFiles = graft.streaming.EventsStream
      .streamHourlyProbe(spark, sf).collect().map(_.toString).toSeq
    val fromRate = graft.streaming.EventsStream
      .runHourlyFromRate(spark, sf).collect().map(_.toString).toSeq
    assert(fromFiles.nonEmpty)
    assert(fromRate == fromFiles,
      s"rate-sourced landed set diverged: ${fromRate.length} rows vs " +
        s"${fromFiles.length}")
  }
}
