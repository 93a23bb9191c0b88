package graft

import org.apache.spark.sql.functions._

import graft.engine.{Dedup, Kpis, Lineages, Tables}
import graft.streaming.{AsOfStream, EventsStream}

/** The gated streaming replay lineages against their batch twins: the
  * q180 curated sink, the q197 near-dup lifecycle, the q200 watermark
  * replay, and q201/q202/q205/q208–q212. Each probe is lineage-cached
  * per corpus dir (the q180 contract), so these tests share the build
  * with the Verify run when executed in one JVM. */
class StreamLineageSpec extends SparkSpecBase {

  test("streamCuratedProbe: the fixed 3-batch replay lands batch " +
      "semantics exactly once and compaction folds to batch 0") {
    import graft.streaming.DocsStream
    val rows = DocsStream.streamCuratedProbe(spark, sf).collect()
    val docs = Tables.documents(spark, sf).count()
    assert(rows.length == docs,
      "every distinct doc exactly once — the planted in-slice dups dropped")
    assert(rows.map(_.getString(3)).distinct.length == rows.length)
    assert(rows.forall(_.getLong(4) == 0L), "compaction folded to batch 0")
    // the replay really was multi-batch: one checkpoint offset per slice
    val ckpt = s"${Lineages.out(DocsStream.curatedLineage, spark, sf)}/ckpt"
    val offsets = new java.io.File(s"$ckpt/offsets").list()
      .filter(_.forall(_.isDigit))
    assert(offsets.length == DocsStream.STREAM_SLICES,
      s"expected ${DocsStream.STREAM_SLICES} micro-batches, " +
        s"saw ${offsets.toSeq}")
    // second call reuses the landed lineage and is byte-identical
    val again = DocsStream.streamCuratedProbe(spark, sf).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("streamNearDupProbe: landed pairs equal the batch recompute minus " +
      "base-internal pairs, each in its later member's micro-batch") {
    import graft.streaming.DedupStream
    val rows = DedupStream.streamNearDupProbe(spark, sf).collect()
    assert(rows.nonEmpty)
    val expected = Dedup.minhashNearDup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a % 3 != 0 || b % 3 != 0 }
      .sortBy(p => (p._1, p._2))
    val got = rows.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(p => (p._1, p._2))
    assert(got.toSeq == expected.toSeq,
      s"${got.length} streamed vs ${expected.length} expected")
    // the emission law: a pair lands in its LATER member's batch
    rows.foreach { r =>
      assert(r.getLong(3) ==
        math.max(r.getLong(0) % 3, r.getLong(1) % 3))
    }
    // non-vacuity: both micro-batches emitted, and some batch-2 pair has
    // a batch-1 member (so it could ONLY come from an index increment
    // appended by the earlier micro-batch — a lost append loses it)
    assert(rows.map(_.getLong(3)).distinct.sorted.toSeq == Seq(1L, 2L))
    assert(rows.exists(r => r.getLong(3) == 2 &&
      (r.getLong(0) % 3 == 1 || r.getLong(1) % 3 == 1)))
    // second call reuses the landed lineage and is byte-identical
    val again = DedupStream.streamNearDupProbe(spark, sf).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("streamHourlyProbe: the watermark replay equals the batch hourly " +
      "aggregate under the final-watermark cutoff, tail held in state") {
    import graft.streaming.EventsStream
    val rows = EventsStream.streamHourlyProbe(spark, sf).collect()
    assert(rows.nonEmpty)
    val maxTs = Tables.events(spark, sf)
      .agg(max(unix_micros(col("ts")))).collect()(0).getLong(0)
    val cutoffUs = maxTs - 2L * 3600L * 1000000L
    val batch = graft.engine.Kpis.eventsHourly(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    def emitted(hourStart: String): Boolean = {
      val startUs = java.time.LocalDateTime.parse(hourStart, fmt)
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L
      startUs + 3600L * 1000000L <= cutoffUs
    }
    // every streamed row is a closed window and equals its batch twin
    rows.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      assert(emitted(k._1), s"$k emitted though inside the watermark tail")
      val (n, tv, av) = batch(k)
      assert(r.getLong(2) == n && r.getDouble(3) == tv &&
        r.getDouble(4) == av)
    }
    // and every closed batch window was streamed — nothing dropped late
    val streamedKeys = rows.map(r => (r.getString(0), r.getString(1))).toSet
    val closed = batch.keys.filter(k => emitted(k._1)).toSet
    assert(streamedKeys == closed)
    // non-vacuity: the tail really is held back
    assert(closed.size < batch.size, "cutoff must hold back a tail")
    // the replay really was multi-batch, and the re-serve is stable
    val (_) = {
      val out = Lineages.out(EventsStream.hourlyLineage, spark, sf)
      val batches = spark.read.parquet(out)
        .select(col("batch").cast("long")).distinct().count()
      assert(batches >= 2, s"expected multi-batch emission, saw $batches")
    }
    val again = EventsStream.streamHourlyProbe(spark, sf).collect()
    assert(again.map(_.toSeq).toSeq == rows.map(_.toSeq).toSeq)
  }

  test("q201 probe: totals equal the batch sessionization; batches are 0..2") {
    val got = EventsStream.streamSessionsProbe(spark, sf).collect()
    assert(got.nonEmpty)
    assert(got.forall(r => r.getLong(3) >= 0 && r.getLong(3) <= 2),
      "last_batch outside the three-slice replay")
    val batch = Kpis.eventSessions(spark, sf)
      .select("user_id", "n_events", "n_sessions").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gotTriples = got.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(gotTriples.sorted.sameElements(batch.sorted),
      "streamed per-user totals must equal the lag-window batch query")
  }

  test("q202 probe: every click answered once per direction; matches obey the contract") {
    val got = AsOfStream.streamAsOfProbe(spark, sf).collect()
    val ev = graft.engine.Tables.events(spark, sf)
    val nClicks = ev.filter(col("event_type") === "click").count()
    val byDir = got.groupBy(_.getString(0))
    assert(byDir.keySet == Set("backward", "forward", "nearest"))
    byDir.foreach { case (d, rows) =>
      assert(rows.length == nClicks,
        s"direction=$d: ${rows.length} emissions != $nClicks clicks (flush " +
          "heartbeat must finalize every probe exactly once)")
    }
    // contract spot-check: backward matches are purchases at-or-before
    // the click within tolerance, on the same user
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    byDir("backward").filter(!_.isNullAt(4)).foreach { r =>
      val (user, clickUs, m) = (r.getLong(1), r.getLong(3), r.getLong(4))
      val (pUser, pUs) = purch(m)
      assert(pUser == user && pUs <= clickUs &&
        clickUs - pUs <= AsOfStream.SS_TOL_US)
    }
  }

  test("q205 probe: scrambled-arrival session windows equal the batch session counts") {
    val got = EventsStream.streamSessionWindowsProbe(spark, sf).collect()
    assert(got.nonEmpty)
    val perUser = got.groupBy(_.getLong(0))
      .map { case (u, rows) => (u, rows.length.toLong, rows.map(_.getLong(3)).sum) }
    val batch = Kpis.eventSessions(spark, sf)
      .select("user_id", "n_sessions", "n_events").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(perUser.toSeq.sorted.sameElements(batch.toSeq.sorted),
      "per-user (n_sessions, n_events) must survive out-of-order replay")
  }

  private def sliceBounds(): (Long, Long) = {
    val ev = graft.engine.Tables.events(spark, sf)
    val r = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head()
    (r.getLong(0), r.getLong(1) - r.getLong(0) + 1)
  }

  private def sliceOf(us: Long, tmin: Long, span: Long): Long =
    math.min(2L, (us - tmin) * 3 / span)

  test("q208 probe: pairs equal the batch interval join; batch stamps the later member") {
    val got = EventsStream.streamIntervalJoinProbe(spark, sf).collect()
    assert(got.nonEmpty)
    val ev = graft.engine.Tables.events(spark, sf)
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("cid"), col("user_id").as("cu"),
        unix_micros(col("ts")).as("cus"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("pid"), col("user_id").as("pu"),
        unix_micros(col("ts")).as("pus"))
    val batch = c.join(p, col("cu") === col("pu") &&
        col("pus") >= col("cus") &&
        col("pus") <= col("cus") + 3600L * 1000000L)
      .select("cid", "pid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(r => (r.getLong(0), r.getLong(1))).sorted
      .sameElements(batch.sorted), "streamed pair set != batch interval join")
    val (tmin, span) = sliceBounds()
    got.foreach { r =>
      val want = math.max(sliceOf(r.getLong(3), tmin, span),
        sliceOf(r.getLong(4), tmin, span))
      assert(r.getLong(6) == want,
        s"pair (${r.getLong(0)},${r.getLong(1)}) emitted in batch " +
          s"${r.getLong(6)}, later member arrived in $want")
    }
  }

  test("q209 probe: row-grain as-of sink aggregates back to q126") {
    val got = AsOfStream.streamAsOfSinkProbe(spark, sf)
    val agg = got.groupBy(col("nk"))
      .agg(count(lit(1)).as("n_events"),
        count(col("rate_id")).as("n_matched"),
        sum(col("rate_id")).as("sum_rate_ids"))
      .orderBy("nk").collect().map(_.toSeq)
    val q126 = Kpis.eventNationRateAsof(spark, sf).collect().map(_.toSeq)
    assert(agg.sameElements(q126),
      "per-nk aggregates of the streamed rows must equal the batch as-of")
    // arrival-batch law: each probe answered in its own slice's batch
    val (tmin, span) = sliceBounds()
    val tsById = graft.engine.Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.collect().foreach { r =>
      assert(r.getLong(3) == sliceOf(tsById(r.getLong(0)), tmin, span))
    }
  }

  test("q210 probe: complete-mode final state equals the batch histogram") {
    val got = EventsStream.streamDriftProbe(spark, sf).collect().map(_.toSeq)
    val batch = graft.engine.Tables.events(spark, sf)
      .select(col("event_type"),
        expr(s"least(CAST(round(value * 100) AS BIGINT) div " +
          s"${EventsStream.DRIFT_BUCKET_CENTS}L, " +
          s"${EventsStream.DRIFT_MAX_BUCKET}L)").as("bucket"))
      .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
      .orderBy("event_type", "bucket").collect().map(_.toSeq)
    assert(got.sameElements(batch))
  }

  test("q211: streamed postings + mid-stream compaction serve == one batch-built index") {
    import graft.streaming.TermIndexStream
    import graft.engine.{TermIndex, TextOps}
    val streamed = TermIndexStream.streamTermIndexProbe(spark, sf)
      .collect().map(_.toSeq)
    val batchDir = graft.engine.IndexMaintenance
      .scratchIndexDir(spark, "r11-ti-batch")
    TermIndex.buildTermIndex(
      graft.engine.Tables.documents(spark, sf).select("doc_id", "text"),
      batchDir)
    val batch = TermIndex.probeTermIndex(spark, TermIndexStream.ST_TERMS,
      batchDir, TextOps.RETRIEVAL_TOP_K).collect().map(_.toSeq)
    assert(streamed.nonEmpty && streamed.sameElements(batch),
      "streamed ingest (3 increments + a compaction) must serve exactly " +
        "what a single batch build serves")
  }

  test("q212: streamed ingest+serving == the batch index lifecycle row-for-row") {
    import graft.streaming.VecIndexStream
    import graft.engine.Sim
    val streamed = VecIndexStream.streamVecIndexProbe(spark, sf)
      .collect().map(_.toSeq)
    val batch = Sim.ivfIndexProbe(spark, sf).collect().map(_.toSeq)
    assert(streamed.nonEmpty && streamed.sameElements(batch))
  }
}
