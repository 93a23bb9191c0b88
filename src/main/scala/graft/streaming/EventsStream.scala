package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import graft.engine.{IndexMaintenance, Lineages, Num}
import graft.engine.Lineages.Lineage

/** Structured Streaming surface (SURVEY.md §2.9 — optional in the
  * reference, which is batch-only; this is the streaming twin of
  * [[graft.engine.Kpis.eventsHourly]]).
  *
  * `groupBy(window(...))` is the *same* operator in batch and streaming —
  * the plan below is byte-for-byte the batch aggregation plus a watermark,
  * which is what lets StreamingSpec assert stream ≡ batch on a static
  * directory.
  *
  * At scale: the file source lists new files incrementally; the watermark
  * bounds state (closed hour windows are evicted); `event_type` cardinality
  * keys the state store. For a 100 TB/day stream the only knobs that change
  * are trigger interval and state-store provider (RocksDB).
  */
object EventsStream {

  /** Physical-type-agnostic events stream source. A file stream needs its
    * schema declared up front, but the `ts` column's *physical* parquet type
    * varies by writer: TIMESTAMP(NANOS) files scan as raw-nanos long under
    * `nanosAsLong` ([[graft.engine.Sessions.tune]]), TIMESTAMP(MICROS) files
    * scan as TimestampType directly. Hard-coding either assumption silently
    * shifts every event time ×1000 on the other kind of file — so probe the
    * directory's footer once with a *batch* schema read (metadata only, no
    * data scan), declare the stream schema from what is actually there, and
    * normalize `ts` to TimestampType(µs) the same way the batch path does
    * ([[graft.engine.Tables]] events loader: nanos → exact integer `div
    * 1000`, micros untouched). Every events-file stream in the package
    * (here and in [[AsOfStream]]) goes through this one helper, so a new
    * physical type is a one-place change; the other lineages' slice dirs
    * carry no `ts` and stream through [[Replay.sliceStream]]. */
  def readEvents(spark: SparkSession, dir: String,
      filesPerTrigger: Option[Int] = None): DataFrame = {
    val physical = spark.read.parquet(dir).schema
    val reader = spark.readStream.schema(physical)
    val stream = filesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(dir)
    physical("ts").dataType match {
      // TIMESTAMP(NANOS) under nanosAsLong: raw nanos → exact µs division
      case LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // TIMESTAMP(MICROS, isAdjustedToUTC=false): value-preserving cast
      // under the session's pinned UTC zone (Sessions.tune) — the same
      // reconciliation Silver.enforce applies on the batch path
      case TimestampNTZType =>
        stream.withColumn("ts", col("ts").cast(TimestampType))
      case _ => stream
    }
  }

  /** Hourly tumbling-window aggregate over a parquet file stream, 2-hour
    * watermark for late data. Columns match Kpis.eventsHourly exactly. */
  def hourly(spark: SparkSession, dir: String,
      filesPerTrigger: Option[Int] = None): DataFrame =
    hourlyOf(readEvents(spark, dir, filesPerTrigger))

  /** The hourly transform over ANY streaming events relation (needs
    * `ts`, `event_type`, `value`) — the file reader above and the
    * rate-source twin ([[runHourlyFromRate]]) share it, so the gated
    * plan is provably source-independent. */
  private[graft] def hourlyOf(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        Num.dollars(sum(Num.cents(col("value")))).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n_events"), col("total_value"))
      .withColumn("avg_value", col("total_value") / col("n_events"))

  /** Streaming drift monitor — the stream side of
    * [[graft.engine.Analytics.distributionDrift]]: per-type value
    * histogram on FIXED integer bucket edges (data-derived edges would
    * make early micro-batches disagree with the final answer; fixed
    * edges make the complete-mode state at any point exactly the batch
    * histogram of everything seen so far — what a serving-skew monitor
    * compares against its training baseline). State is |types|×|buckets|
    * rows, bounded regardless of stream length. */
  val DRIFT_BUCKET_CENTS = 2000L
  val DRIFT_MAX_BUCKET = 15L

  def valueHistogram(spark: SparkSession, dir: String,
      filesPerTrigger: Option[Int] = None): DataFrame =
    readEvents(spark, dir, filesPerTrigger)
      .select(col("event_type"), Num.cents(col("value")).as("vc"))
      .select(col("event_type"), expr(
        s"least(vc div ${DRIFT_BUCKET_CENTS}L, ${DRIFT_MAX_BUCKET}L)")
        .as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Stream-static enrichment join — the standard streaming dimension
    * lookup: each micro-batch of events joins the (static, broadcast)
    * customer dimension, then aggregates per segment. The static side is
    * re-planned per micro-batch, so a dimension refresh is picked up
    * without restarting the query; at scale the dimension stays broadcast
    * (it is bounded) and the stream side never shuffles for the join. */
  def segmentTotals(spark: SparkSession, eventsDir: String,
      tablesDir: String): DataFrame = {
    val cust = graft.engine.Tables.customer(spark, tablesDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    readEvents(spark, eventsDir)
      .join(broadcast(cust), col("user_id") === col("c_custkey"), "left")
      .groupBy(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
      .agg(
        count(lit(1)).as("n_events"),
        Num.dollars(sum(Num.cents(col("value")))).as("total_value"))
  }

  /** Stream-stream interval join — click→purchase attribution with both
    * sides unbounded: purchases join the click that preceded them by at
    * most ATTRIB_WINDOW, equi-keyed on user. Watermarks on *both* sides
    * let the join evict buffered state once the time-range condition can
    * no longer match (clicks older than watermark + window are dropped
    * from the join buffer) — without them, a stream-stream join buffers
    * forever. The equi-key (user_id) drives the shuffle; the range
    * predicate filters within the key's buffered rows — the same
    * shape as the batch interval join ([[graft.engine.Kpis]] q64).
    * StreamingSpec asserts the streamed pairs equal the batch join. */
  val ATTRIB_WINDOW = "1 hour"
  def clickPurchase(spark: SparkSession, dir: String,
      filesPerTrigger: Option[Int] = None,
      joinType: String = "inner"): DataFrame = {
    def side(t: String): DataFrame =
      readEvents(spark, dir, filesPerTrigger).filter(col("event_type") === t)
    val clicks = side("click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = side("purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $ATTRIB_WINDOW"),
      joinType)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  final case class SessEvent(event_id: Long, user_id: Long, ts_us: Long)
  final case class SessState(lastUs: Long, nEvents: Long, nSessions: Long)
  final case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** Gap-based sessionization via the built-in `session_window` — the
    * watermark-aware form: out-of-order events are buffered and merged
    * into their session until the watermark closes it, so this one is
    * correct for late-arriving feeds where [[sessionize]]'s carried state
    * assumes time-ordered batches. The same 30-minute gap as the batch
    * lag-window query; works identically in batch (StreamingSpec pins
    * per-user window counts ≡ Kpis.eventSessions n_sessions). */
  def sessionWindowCounts(df: DataFrame): DataFrame =
    df.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))

  /** Custom-state sessionization via `flatMapGroupsWithState` — the
    * streaming twin of [[graft.engine.Kpis.eventSessions]]'s lag-window
    * gaps-and-islands: per-user state carries (last event time, counts)
    * across micro-batches; a >30-minute silence starts a new session.
    *
    * Same semantics as the batch query (events ordered by (ts, event_id),
    * exact integer-µs gap arithmetic), which is what StreamingSpec asserts.
    * State is O(1) per user; at scale the state store shards on user_id —
    * the same key the batch window partitions by.
    *
    * Ordering contract: events are sorted *within* each micro-batch, so the
    * stream ≡ batch equality holds when batches arrive time-ordered (the
    * file-backfill case tested here). A feed that delivers late events in
    * later micro-batches needs the watermark-aware built-in instead —
    * `session_window` ([[sessionWindowCounts]]), which buffers and merges
    * out-of-order events until the watermark closes the session. */
  def sessionize(spark: SparkSession, dir: String,
      filesPerTrigger: Option[Int] = None): Dataset[UserSessions] = {
    import spark.implicits._
    val GAP_US = 1800L * 1000000L
    readEvents(spark, dir, filesPerTrigger)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        (uid: Long, batch: Iterator[SessEvent], st: GroupState[SessState]) => {
          // events within a micro-batch arrive unordered: sort by event time
          // (tie-break event_id) before folding into the carried state
          val evs = batch.toArray.sortBy(e => (e.ts_us, e.event_id))
          var s = st.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          evs.foreach { e =>
            val newSession = s.lastUs == Long.MinValue || e.ts_us - s.lastUs > GAP_US
            s = SessState(e.ts_us, s.nEvents + 1,
              s.nSessions + (if (newSession) 1L else 0L))
          }
          st.update(s)
          Iterator.single(UserSessions(uid, s.nEvents, s.nSessions))
        })
  }

  private[graft] val hourlyLineage = Lineage("hourly", runHourlyLineage)

  /** q200: the watermarked windowed aggregate, oracle-gated end-to-end.
    * The events table is sliced into three TIME-ORDERED files (thirds of
    * the [tmin, tmax] range — the realistic arrival order, and the
    * construction that makes append-mode emission deterministic AND
    * lossless: every batch's events are newer than every earlier
    * watermark, so nothing is ever dropped as late) and streamed through
    * the REAL [[hourly]] plan — watermark advancement across
    * micro-batches, stateful window merge for hour windows spanning a
    * slice boundary, append-mode eviction, batch-keyed exactly-once
    * landing. The final landed set is every (hour, type) row whose
    * window closed under the final watermark `max(ts) − 2 hours`; the
    * tail stays in state by design, and the DuckDB twin applies the
    * identical cutoff to the batch aggregate — so a dropped late row, a
    * double emission, or a wrong watermark all flip hashed cells. */
  def streamHourlyProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Lineages.out(hourlyLineage, spark, dir))
      .select(col("hour_start"), col("event_type"), col("n_events"),
        col("total_value"), col("avg_value"))
      .orderBy("hour_start", "event_type")

  /** Slice-set cache: the time-thirds slicing of a corpus is a pure
    * function of (corpus dir, flush variant), and EIGHT replay probes
    * consume it — each lineage re-deriving its own copy cost a full
    * events pass per probe. Consumers read the shared files read-only;
    * checkpoints and landings stay per-probe. */
  private val sliceDirCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write the events table as three TIME-ORDERED slice files (thirds of
    * the [tmin, tmax] range, pinned mtimes) under a fresh scratch dir —
    * the deterministic-and-lossless arrival construction shared by the
    * q200/q201 watermark replays: every batch's events are newer than
    * every earlier watermark, so nothing is ever dropped as late. The
    * range bounds come from two bounded scalars, never a global sort. */
  private[streaming] def writeTimeSlices(spark: SparkSession, dir: String,
      tag: String, flushHeartbeat: Boolean = false,
      flushTypes: Seq[String] = Nil): String = {
    val key = dir + "|" +
      (if (flushTypes.nonEmpty) flushTypes.mkString(",")
       else if (flushHeartbeat) "purchase" else "")
    sliceDirCache.computeIfAbsent(key, _ =>
      writeTimeSlicesUncached(spark, dir, tag, flushHeartbeat, flushTypes))
  }

  private def writeTimeSlicesUncached(spark: SparkSession, dir: String,
      tag: String, flushHeartbeat: Boolean,
      flushTypes: Seq[String]): String = {
    import graft.engine.Tables
    val inDir = IndexMaintenance.scratchIndexDir(spark, s"$tag-in")
    val ev = Tables.events(spark, dir)
    val (tmin, tmax) = eventRangeUs(ev)
    val span = tmax - tmin + 1L
    // Exact integer division (`div`), not Column `/` (floating Divide):
    // the q201/q208/q209 twins restate this slice id with integer `//`,
    // so the cross-engine equivalence must hold by construction, not by
    // double-mantissa luck at realistic spans.
    val sliceCol = least(lit(2L),
      expr(s"(unix_micros(ts) - ${tmin}L) * 3L div ${span}L")).cast("int")
    // The optional 4th slice carries far-future flush reference rows (key
    // −1, +72h — the heartbeat a production feed carries): their arrival
    // advances the final watermark past every real probe's finalization
    // instant, so a watermarked consumer EMITS its entire backlog and the
    // twin needs no cutoff clause (the q202 construction; same device as
    // StreamingSpec's single-batch directions test). A consumer whose
    // watermark is the MIN over several per-type sides (a stream-stream
    // outer join) needs one flush row PER side — `flushTypes`.
    val types =
      if (flushTypes.nonEmpty) flushTypes
      else if (flushHeartbeat) Seq("purchase")
      else Nil
    val slices: Seq[(Int, DataFrame)] =
      (0 to 2).map(s => s -> ev.filter(sliceCol === s)) ++
        (if (types.nonEmpty)
          Seq(3 -> types.map(t => flushRow(ev, "INTERVAL 72 HOURS", t))
            .reduce(_ unionByName _))
        else Nil)
    Replay.landSlices(spark, inDir, tag, slices)
    inDir
  }

  /** (min, max) event time of `ev` in exact µs: two bounded scalars from
    * one aggregate, never a global sort. */
  private def eventRangeUs(ev: DataFrame): (Long, Long) = {
    val Seq(lo, hi) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .collect()(0).toSeq.map(_.asInstanceOf[Long])
    (lo, hi)
  }

  /** A single far-future reference row (key −1) whose arrival advances
    * the watermark past every real row — the heartbeat a production feed
    * carries. Schema-identical to the events table. */
  private def flushRow(ev: DataFrame, ahead: String,
      eventType: String = "purchase"): DataFrame =
    ev.orderBy(col("ts").desc).limit(1)
      .withColumn("ts", col("ts") + expr(ahead))
      .withColumn("event_type", lit(eventType))
      .withColumn("user_id", lit(-1L))
      .withColumn("event_id", lit(-1L))

  /** The OUT-OF-ORDER replay: slices keyed by `event_id mod 3` — each
    * user's events arrive interleaved across micro-batches in
    * time-scrambled order, the adversarial case for any watermark-merge
    * operator. Returns (inDir, spanUs): a consumer must declare a
    * watermark delay ≥ span so no scrambled row is ever late, and the
    * flush heartbeat rides `span + 72h` ahead so the FINAL watermark
    * still clears every real row's emission horizon. */
  private[streaming] def writeUnorderedSlices(spark: SparkSession,
      dir: String, tag: String): (String, Long) = {
    import graft.engine.Tables
    val inDir = IndexMaintenance.scratchIndexDir(spark, s"$tag-in")
    val ev = Tables.events(spark, dir)
    val (tmin, tmax) = eventRangeUs(ev)
    val spanUs = tmax - tmin
    val aheadSec = spanUs / 1000000L + 259200L // span + 72h
    val slices: Seq[(Int, DataFrame)] =
      (0 to 2).map(s => s -> ev.filter(pmod(col("event_id"), lit(3)) === s)) :+
        (3 -> flushRow(ev, s"INTERVAL $aheadSec SECONDS"))
    Replay.landSlices(spark, inDir, tag, slices)
    (inDir, spanUs)
  }

  private[graft] val sessionsLineage = Lineage("sessions", runSessionsLineage)

  /** q201: the flatMapGroupsWithState sessionizer, oracle-gated
    * end-to-end. Same time-sliced deterministic replay as q200: three
    * TIME-ORDERED slice files, one per micro-batch, so the per-user
    * carried state folds events in exactly the batch window's
    * (ts, event_id) order — within a batch [[sessionize]] sorts, and
    * across batches the slices are disjoint ascending time ranges (equal
    * timestamps land in the same slice, so no cross-batch tie exists).
    *
    * Update-mode landing keyed by micro-batch: each batch's emitted
    * per-user rows land under `batch=<id>`; the served answer is each
    * user's LATEST update (`max_by(…, batch)` — counts are cumulative),
    * and `last_batch` itself is part of the gated output. The DuckDB twin
    * recomputes n_events/n_sessions from the lag-window gaps-and-islands
    * (q17's arithmetic) and last_batch from the slice formula — so a
    * dropped batch, stale state after replay, a wrong fold order, or an
    * update emitted from the wrong micro-batch all flip hashed cells. */
  def streamSessionsProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Lineages.out(sessionsLineage, spark, dir))
      .groupBy(col("user_id"))
      .agg(
        max_by(struct(col("n_events"), col("n_sessions")), col("batch")).as("s"),
        max(col("batch")).cast("long").as("last_batch"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        col("s.n_sessions").as("n_sessions"), col("last_batch"))
      .orderBy("user_id")

  private def runSessionsLineage(spark: SparkSession, dir: String): String = {
    val inDir = writeTimeSlices(spark, dir, "stream-sess")
    runLineage(spark, dir, "stream-sess", "update")(
      sessionize(_, inDir, filesPerTrigger = Some(1)).toDF)
  }

  private[graft] val sessionWindowsLineage =
    Lineage("sesswin", runSessionWindowsLineage)

  /** q205: the built-in watermark-aware `session_window` aggregate under
    * OUT-OF-ORDER arrival — the case [[sessionize]]/q201 explicitly
    * cannot handle (its carried state assumes time-ordered batches).
    * The replay slices events by `event_id mod 3` ([[writeUnorderedSlices]]),
    * so every user's events arrive time-scrambled across micro-batches;
    * a watermark delay ≥ the corpus time-span makes nothing late (the
    * state operator must BUFFER and MERGE partial sessions instead), and
    * the span+72h flush heartbeat then pushes the final watermark past
    * every session's emission horizon — append mode must emit the
    * complete merged session set, exactly once.
    *
    * The DuckDB twin is the lag-window gaps-and-islands sessionization
    * at SESSION grain (per-session start / end=last+gap / count): a
    * session split that failed to merge across batches, a late-dropped
    * row, a double emission, or wrong gap arithmetic all flip hashed
    * cells. */
  def streamSessionWindowsProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Lineages.out(sessionWindowsLineage, spark, dir))
      .filter(col("user_id") >= 0) // drop the key-−1 flush heartbeat
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")

  private def runSessionWindowsLineage(spark: SparkSession, dir: String): String = {
    val (inDir, spanUs) = writeUnorderedSlices(spark, dir, "stream-sesswin")
    val delaySec = spanUs / 1000000L + 60L // ≥ span: scrambled rows never late
    runLineage(spark, dir, "stream-sesswin", "append") { bs =>
      readEvents(bs, inDir, filesPerTrigger = Some(1))
        .withWatermark("ts", s"$delaySec seconds")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("session_start"),
          date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
            .as("session_end"),
          col("n_events"))
    }
  }

  private[graft] val intervalJoinLineage =
    Lineage("ivj", runIntervalJoinLineage)

  /** q208: the stream-stream INTERVAL join ([[clickPurchase]]) under the
    * time-sliced replay, emission law included: an inner stream-stream
    * join emits a pair in the micro-batch that processes its
    * later-arriving member, so under time-thirds slices every pair's
    * `batch` must equal `greatest(slice(click), slice(purchase))` — the
    * q197 stamp for the built-in join. State-eviction safety is by
    * construction: a click a future purchase can still match is at most
    * ATTRIB_WINDOW older, and the 2-hour watermark delay keeps it
    * buffered across the slice boundary. A lost buffer row, an eager or
    * repeated emission, or wrong watermark eviction all flip cells. */
  def streamIntervalJoinProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Lineages.out(intervalJoinLineage, spark, dir))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"),
        col("value"), col("batch").cast("long").as("batch"))
      .orderBy("click_id", "purchase_id")

  private def runIntervalJoinLineage(spark: SparkSession, dir: String): String = {
    val inDir = writeTimeSlices(spark, dir, "stream-ivj")
    runLineage(spark, dir, "stream-ivj", "append")(
      clickPurchase(_, inDir, filesPerTrigger = Some(1)))
  }

  private[graft] val driftLineage = Lineage("drift", runDriftLineage)

  /** q210: the COMPLETE-mode streaming aggregate ([[valueHistogram]])
    * under incremental arrival — fixed integer bucket edges make the
    * accumulated state at any point exactly the batch histogram of
    * everything seen (the monitor's design contract), so the final
    * complete-mode emission must equal the full-corpus histogram. Each
    * batch's complete output OVERWRITES the landing wholesale (that is
    * what complete mode means — and what makes the landing trivially
    * idempotent under retry); the oracle checks the final state. */
  def streamDriftProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Lineages.out(driftLineage, spark, dir))
      .select(col("event_type"), col("bucket"), col("n"))
      .orderBy("event_type", "bucket")

  private def runDriftLineage(spark: SparkSession, dir: String): String = {
    val inDir = writeTimeSlices(spark, dir, "stream-drift")
    val outDir = IndexMaintenance.scratchIndexDir(spark, "stream-drift-out")
    val ckpt = IndexMaintenance.scratchIndexDir(spark, "stream-drift-ckpt")
    val bs = Replay.buildSession(spark, s"$dir/events.parquet")
    val q = valueHistogram(bs, inDir, filesPerTrigger = Some(1))
      .writeStream
      .outputMode("complete")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(outDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    outDir
  }

  private[graft] val outerJoinLineage = Lineage("loj", runOuterJoinLineage)

  /** q216: the stream-stream LEFT OUTER interval join — the unmatched
    * side of q208's attribution, where correctness hinges on the state
    * -eviction machinery: a click's NULL row may be emitted only once
    * the join watermark proves no purchase can still match, and a click
    * matched later must never ALSO have emitted a null (double
    * emission). The replay is q200's time slices plus a TWO-row flush
    * heartbeat — one far-future purchase AND one far-future click —
    * because the outer join's watermark is the MIN over both sides: a
    * purchase-only heartbeat would leave the click side's watermark at
    * max(click ts) − delay and strand every late click's null row in
    * state forever. The twin is the plain batch LEFT interval join, no
    * cutoff clause. */
  def streamOuterJoinProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Lineages.out(outerJoinLineage, spark, dir))
      .filter(col("user_id") >= 0) // drop the key-−1 flush pair
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"), col("value"))
      .orderBy(col("click_id"), coalesce(col("purchase_id"), lit(-1L)))

  private def runOuterJoinLineage(spark: SparkSession, dir: String): String = {
    val inDir = writeTimeSlices(spark, dir, "stream-loj",
      flushTypes = Seq("purchase", "click"))
    runLineage(spark, dir, "stream-loj", "append")(
      clickPurchase(_, inDir, filesPerTrigger = Some(1),
        joinType = "left_outer"))
  }

  private[graft] val fullOuterJoinLineage =
    Lineage("foj", runFullOuterJoinLineage)

  /** q217: the FULL OUTER stream-stream interval join — BOTH unmatched
    * sides ride the gate, so both state machines' evictions are pinned:
    * a click's null row only after no purchase can match (q216's side)
    * AND a purchase's null row only after no click can match (a
    * purchase matches clicks in `[ts − window, ts]`, so its horizon is
    * its own timestamp on the click watermark). Same two-row flush
    * heartbeat as q216; twin = the plain batch FULL join. */
  def streamFullOuterJoinProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Lineages.out(fullOuterJoinLineage, spark, dir))
      .filter(coalesce(col("user_id"), lit(0L)) >= 0 &&
        coalesce(col("purchase_id"), lit(0L)) >= 0) // drop flush rows
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("purchase_ts")).as("purchase_us"), col("value"))
      .orderBy(coalesce(col("click_id"), lit(-1L)),
        coalesce(col("purchase_id"), lit(-1L)))

  private def runFullOuterJoinLineage(spark: SparkSession, dir: String): String = {
    val inDir = writeTimeSlices(spark, dir, "stream-foj",
      flushTypes = Seq("purchase", "click"))
    runLineage(spark, dir, "stream-foj", "append")(
      clickPurchase(_, inDir, filesPerTrigger = Some(1),
        joinType = "full_outer"))
  }

  private[graft] val dedupLineage = Lineage("dedup", runDedupLineage)

  /** The deliberate mid-stream failure of the q215 lineage (see
    * [[runDedupLineage]]) — typed so the lineage catches exactly its own
    * crash and anything else still fails the run. */
  private[graft] final class SimulatedCrash extends RuntimeException(
    "simulated mid-stream crash (q215 checkpoint-recovery demo)")

  /** Times the q215 lineage actually died and recovered from its
    * checkpoint this session (specs assert ≥ 1 once the lineage ran). */
  private[graft] val dedupCrashCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** q215: the built-in EXACT streaming dedup
    * (`dropDuplicatesWithinWatermark`) oracle-gated with its emission
    * law. The replay streams the events table in three scrambled slices
    * (`event_id mod 3` — q205's device) and then a 4th slice that is a
    * byte-identical REPLAY of slice 0 (the at-least-once upstream every
    * production dedup exists to absorb); the watermark delay ≥ corpus
    * span keeps all dedup state live until the feed ends, so every
    * duplicate arrives "within the watermark" by construction.
    *
    * Append-mode dedup emits a key's FIRST arrival and filters the
    * rest, so the landed pile must be every event exactly once, stamped
    * `batch = event_id mod 3` (its first-arrival slice) — and batch 3
    * must contribute NOTHING (every replayed row was already seen). A
    * duplicate leaking through, a first arrival suppressed, or an
    * emission from the wrong batch all flip hashed cells. */
  def streamDedupProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Lineages.out(dedupLineage, spark, dir))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"),
        col("batch").cast("long").as("batch"))
      .orderBy("event_id")

  private def runDedupLineage(spark: SparkSession, dir: String): String = {
    import graft.engine.Tables
    import org.apache.hadoop.fs.{FileUtil, Path}
    val inDir = IndexMaintenance.scratchIndexDir(spark, "stream-dd-in")
    val outDir = IndexMaintenance.scratchIndexDir(spark, "stream-dd-out")
    val ckpt = IndexMaintenance.scratchIndexDir(spark, "stream-dd-ckpt")
    val ev = Tables.events(spark, dir)
    val (tmin, tmax) = eventRangeUs(ev)
    val delaySec = (tmax - tmin) / 1000000L + 60L
    Replay.landSlices(spark, inDir, "stream-dd",
      (0 to 2).map(s => s -> ev.filter(pmod(col("event_id"), lit(3)) === s)))
    // slice 3: a byte-identical replay of slice 0, arriving last
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(inDir).getFileSystem(conf)
    val replayed = new Path(s"$inDir/slice-3.parquet")
    if (!FileUtil.copy(fs, new Path(s"$inDir/slice-0.parquet"), fs, replayed,
        false, conf))
      throw new IllegalStateException(
        s"q215 replay slice copy to $replayed failed")
    fs.setTimes(replayed, Replay.arrivalMtime(3), -1L)
    // The lineage is run as a KILL-AND-RESTART pair on purpose (r11
    // verdict ask #3): the first query dies mid-run — AFTER batch 2's
    // sink write but BEFORE its commit, the worst spot — and a brand-new
    // query resumes from the same checkpoint. The file source replays
    // batch 2 from its offset WAL byte-identically (the batch-keyed
    // dynamic overwrite swallows the duplicate landing) and carries on
    // to batch 3, so the landed lake the driver's q215 gate hashes is
    // the RESTARTED lineage — checkpoint recovery is oracle-gated on
    // every round, not demonstrated once in a spec.
    val bs = Replay.buildSession(spark, s"$dir/events.parquet")
    def sinkQuery(killAtBatch: Long): StreamingQuery =
      readEvents(bs, inDir, filesPerTrigger = Some(1))
        .withWatermark("ts", s"$delaySec seconds")
        .dropDuplicatesWithinWatermark("event_id")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          IndexMaintenance.landBatch(batch, batchId, outDir)
          if (batchId == killAtBatch) throw new SimulatedCrash
        }
        .start()
    val q1 = sinkQuery(killAtBatch = 2L)
    try {
      q1.processAllAvailable()
      throw new IllegalStateException(
        "q215 lineage was supposed to crash at batch 2 and did not")
    } catch {
      case e: Throwable if hasSimulatedCrash(e) =>
        dedupCrashCount.incrementAndGet()
    } finally q1.stop()
    val q2 = sinkQuery(killAtBatch = -1L)
    try q2.processAllAvailable() finally q2.stop()
    outDir
  }

  /** Whether `e`'s cause chain (or message trail — Spark re-wraps the
    * foreachBatch user exception across the query-execution thread)
    * carries the [[SimulatedCrash]] marker. */
  private def hasSimulatedCrash(e: Throwable): Boolean = {
    var cur: Throwable = e
    var depth = 0
    while (cur != null && depth < 16) {
      if (cur.isInstanceOf[SimulatedCrash] ||
          (cur.getMessage != null &&
            cur.getMessage.contains("simulated mid-stream crash")))
        return true
      cur = cur.getCause
      depth += 1
    }
    false
  }

  private def runHourlyLineage(spark: SparkSession, dir: String): String = {
    val inDir = writeTimeSlices(spark, dir, "stream-hr")
    runLineage(spark, dir, "stream-hr", "append")(
      hourly(_, inDir, filesPerTrigger = Some(1)))
  }

  /** The shared body of the events replay lineages: fresh `<tag>-out`
    * and `<tag>-ckpt` dirs, the size-derived build session, `stream`
    * built on it and drained to completion, each micro-batch landed
    * through [[IndexMaintenance.landBatch]]. Append-mode rows are final
    * and update-mode rows supersede earlier ones; either way the
    * batch-keyed landing is exactly-once under micro-batch retry. Returns
    * the landing dir. q210 (complete mode overwrites wholesale) and q215
    * (kill-and-restart) keep their own bodies. */
  private def runLineage(spark: SparkSession, dir: String, tag: String,
      outputMode: String)(stream: SparkSession => DataFrame): String = {
    val outDir = IndexMaintenance.scratchIndexDir(spark, s"$tag-out")
    val ckpt = IndexMaintenance.scratchIndexDir(spark, s"$tag-ckpt")
    val bs = Replay.buildSession(spark, s"$dir/events.parquet")
    val q = stream(bs).writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IndexMaintenance.landBatch(batch, batchId, outDir)
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    outDir
  }

  /** The q200 lineage from a NON-FILE streaming source (r13 ask #3):
    * a `rate-micro-batch` stream — the deterministic rate source, fixed
    * rows per batch — whose `value` column indexes into the STATIC
    * time-ordered event corpus via a stream-static join, feeding the
    * SAME [[hourlyOf]] transform and the same batch-keyed exactly-once
    * landing. Batch k carries values [k·perBatch, (k+1)·perBatch), and
    * perBatch = ⌈n/3⌉ of the time-ordered index, so batch contents —
    * and therefore watermark advancement and append-mode emission —
    * reproduce the file replay's three time-thirds slices exactly;
    * values past the corpus join to nothing and later batches only
    * flush the final watermark. StreamingSpec pins the landed set
    * row-for-row equal to [[streamHourlyProbe]] (whose q200 gate is
    * unchanged) — the streaming surface is not file-replay-specific.
    * Spec-scale only: the dense `row_number` index is a global sort. */
  private[graft] def runHourlyFromRate(spark: SparkSession,
      dir: String): DataFrame = {
    import graft.engine.Tables
    import org.apache.spark.sql.expressions.Window
    val indexed = Tables.events(spark, dir)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("ts"), col("event_id"))).cast("long") - 1L)
      .localCheckpoint() // freeze the index; re-planning per batch must
                         // not re-derive it
    val n = indexed.count()
    val perBatch = (n + 2L) / 3L
    val outDir = IndexMaintenance.scratchIndexDir(spark, "rate-hr-out")
    val ckpt = IndexMaintenance.scratchIndexDir(spark, "rate-hr-ckpt")
    val stream = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", perBatch.toString)
      .option("numPartitions", "4")
      .load()
      // the rate source's own `value` is the row INDEX; rename before
      // the join so events' money `value` column stays unambiguous
      .select(col("value").as("idx"))
      .join(indexed, col("idx") === col("rn"))
      .select(col("ts"), col("event_type"), col("value"))
    val q = hourlyOf(stream).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IndexMaintenance.landBatch(batch, batchId, outDir)
      }
      .start()
    // the rate source never ends: run until the corpus batches (0..2)
    // plus two flush batches have committed, then stop
    try {
      val deadline = System.currentTimeMillis() + 120000L
      while ((Option(q.lastProgress).map(_.batchId).getOrElse(-1L) < 5L)
          && System.currentTimeMillis() < deadline) {
        Thread.sleep(100L)
      }
      require(Option(q.lastProgress).map(_.batchId).getOrElse(-1L) >= 5L,
        "rate-sourced lineage did not reach the flush batches in time")
    } finally q.stop()
    spark.read.parquet(outDir)
      .select(col("hour_start"), col("event_type"), col("n_events"),
        col("total_value"), col("avg_value"))
      .orderBy("hour_start", "event_type")
  }
}
