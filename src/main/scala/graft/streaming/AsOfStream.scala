package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.engine.{IndexMaintenance, Lineages}
import graft.engine.Lineages.Lineage

/** Streaming as-of (temporal) join — the canonical production consumer of
  * "latest rate ≤ event time" is a stream, not a batch (Flink calls this a
  * temporal table join; kdb runs `aj` against a ticker feed). The
  * stream-static form here bridges each micro-batch through the native
  * broadcast as-of strategy ([[graft.plans.BroadcastAsOfJoinExec]]):
  *
  *  - the probe side is the unbounded stream — per micro-batch it is a
  *    plain DataFrame, probed map-side with NO shuffle and NO sort, which
  *    is exactly the broadcast strategy's contract;
  *  - the static side is a bounded reference table (rates, config epochs,
  *    dimension versions); it is re-planned per micro-batch, so a slowly
  *    changing reference picks up updates between batches without a query
  *    restart — the cheap half of a Flink temporal join, with the
  *    broadcast row guard ([[graft.plans.AsOf.BROADCAST_MAX_ROWS_KEY]])
  *    keeping it honest;
  *  - all three directions and the tolerance knob pass straight through
  *    to the operator, so stream ≡ batch row-for-row on the same data
  *    (StreamingSpec pins all three directions against the batch run).
  *
  * Delivery is exactly-once under micro-batch retry: each batch lands
  * under its own `batch=<id>` partition with dynamic partition
  * overwrite ([[IndexMaintenance.landBatch]]), so a replayed batch
  * replaces itself instead of re-appending (StreamingSpec simulates the
  * retry). Readers
  * that don't care about provenance just read `outDir`; `batch` is one
  * more hive column. */
object AsOfStream {

  // ---- stream-STREAM as-of: both sides unbounded ----

  /** One tagged row of the union stream: probe (click-like) or reference
    * (rate-like), keyed on `k`, event time in exact µs. `ts` is the
    * watermarked TimestampType twin of `ts_us` — the event-time timeout
    * requires the watermark column to reach the state operator (which
    * also gives the exec's standard late-row drop: rows older than the
    * watermark are gone before the handler, the watermark contract's
    * documented loss); all arithmetic stays on the exact µs long. */
  final case class SSIn(k: Long, ts_us: Long, is_ref: Boolean, id: Long,
    ts: java.sql.Timestamp)

  /** Per-key carried state: reference rows a future probe may still
    * match, and probes awaiting finalization (their answer isn't final
    * until the watermark passes their event time). */
  final case class SSBuf(refs: List[(Long, Long)], probes: List[(Long, Long)])

  /** A finalized probe: the latest reference at-or-before its time
    * (within tolerance), or None. */
  final case class SSOut(k: Long, ts_us: Long, id: Long, ref_id: Option[Long])

  /** Stream-stream as-of (temporal) join — BOTH sides unbounded: probes
    * and references ride one union stream (tagged rows, same key), and a
    * probe's match is the reference maximizing (ts, id) among refs ≤ its
    * time within `tolerance` — exactly [[graft.plans.AsOf]]'s backward
    * (time, tie)-max contract, which is what lets StreamingSpec pin
    * stream ≡ batch row-for-row.
    *
    * Why custom state: Spark's stream-stream joins are interval joins —
    * "latest row ≤ t" is not an interval predicate (without a tolerance
    * it is unbounded-lookback; with one, it is still an argmax within
    * the window, not a cross product). `flatMapGroupsWithState` holds
    * per-key buffers instead:
    *
    *  - a probe FINALIZES only once the watermark passes its event time
    *    (any not-yet-arrived reference must be later than the watermark,
    *    hence later than the probe — the match can no longer change);
    *    pending probes re-awake via an event-time timeout;
    *  - reference state is pruned to what a future (> watermark) probe
    *    could still match: everything above `wm − tolerance`, or with no
    *    tolerance the single (ts, id)-max reference at-or-below wm plus
    *    everything above — bounded by the lateness horizon × arrival
    *    rate, never stream length;
    *  - out-of-order arrival WITHIN the lateness horizon is handled by
    *    construction (finalization waits for the watermark); data later
    *    than that is the watermark contract's documented loss, as in any
    *    watermarked operator. State shards on the join key — the same
    *    key a shuffle-based join would partition by.
    *
    * `events` must carry [[SSIn]]'s fields with the watermark declared
    * on `ts` upstream (see [[clickPurchaseAsOf]] for the wiring). */
  def streamStreamAsOf(events: Dataset[SSIn], tolerance: Option[Long],
      direction: String = "backward"): Dataset[SSOut] = {
    import events.sparkSession.implicits._
    require(Seq("backward", "forward", "nearest").contains(direction),
      s"unknown direction $direction")
    // forward/nearest look AHEAD of the probe: without a tolerance the
    // probe could wait on an arbitrarily-late future reference and never
    // finalize — the stream-stream forms of those directions require the
    // bound (the batch operator does not, it can see the whole table)
    require(direction == "backward" || tolerance.isDefined,
      s"stream-stream direction=$direction requires a tolerance")
    // a probe's answer is final once the watermark passes the last
    // instant a qualifying reference could carry: its own time
    // (backward) or its time + tolerance (forward / nearest)
    val finalizeLag = if (direction == "backward") 0L else tolerance.get
    def resolve(pts: Long, refs: List[(Long, Long)]): Option[Long] =
      direction match {
        case "backward" =>
          val c = refs.filter(r => r._1 <= pts &&
            tolerance.forall(t => pts - r._1 <= t))
          if (c.isEmpty) None else Some(c.max._2)
        case "forward" =>
          val c = refs.filter(r => r._1 >= pts && r._1 - pts <= tolerance.get)
          if (c.isEmpty) None else Some(c.min._2)
        case "nearest" =>
          // batch contract: best-backward vs the sweep's stop row (first
          // strictly-later (time, tie)), closer wins, backward on ties
          val t = tolerance.get
          val b = refs.filter(r => r._1 <= pts && pts - r._1 <= t)
          val f = refs.filter(r => r._1 > pts && r._1 - pts <= t)
          (b.nonEmpty, f.nonEmpty) match {
            case (false, false) => None
            case (true, false)  => Some(b.max._2)
            case (false, true)  => Some(f.min._2)
            case (true, true) =>
              val (bb, ff) = (b.max, f.min)
              Some(if (pts - bb._1 <= ff._1 - pts) bb._2 else ff._2)
          }
      }
    events.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (k: Long, it: Iterator[SSIn], state: GroupState[SSBuf]) => {
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val buf = state.getOption.getOrElse(SSBuf(Nil, Nil))
          val in = it.toArray
          val refs = buf.refs ++ in.filter(_.is_ref).map(e => (e.ts_us, e.id))
          val (ready, pending) =
            (buf.probes ++ in.filter(!_.is_ref).map(e => (e.ts_us, e.id)))
              .partition(_._1 + finalizeLag <= wmUs)
          val out = ready.sorted.map { case (pts, pid) =>
            SSOut(k, pts, pid, resolve(pts, refs))
          }
          // prune refs no future probe can need: unfinalized probes have
          // pts > wm − finalizeLag, and their candidate window reaches
          // back at most `tolerance` before pts (backward without a
          // tolerance instead keeps the single (ts, id)-max at-or-below
          // the watermark — the unbounded-lookback fallback)
          val keptRefs = tolerance match {
            case Some(t) => refs.filter(_._1 > wmUs - finalizeLag - t)
            case None =>
              val (below, above) = refs.partition(_._1 <= wmUs)
              (if (below.isEmpty) Nil else List(below.max)) ++ above
          }
          if (keptRefs.isEmpty && pending.isEmpty) state.remove()
          else {
            state.update(SSBuf(keptRefs, pending))
            // re-awake when the watermark passes the earliest pending
            // probe's finalization instant (strictly future by the
            // partition above)
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(
                (pending.map(_._1).min + finalizeLag) / 1000L + 1L)
          }
          out.iterator
        })
  }

  /** The events-table instantiation of [[streamStreamAsOf]]: clicks probe
    * the purchase stream (same shape as the batch q41 family). `lateness`
    * is the watermark delay — the disorder horizon the state buffers
    * absorb. */
  def clickPurchaseAsOf(spark: SparkSession, dir: String,
      tolerance: Option[Long], direction: String = "backward",
      lateness: String = "0 seconds",
      filesPerTrigger: Option[Int] = None): Dataset[SSOut] = {
    import spark.implicits._
    val ev = EventsStream.readEvents(spark, dir, filesPerTrigger)
      .filter(col("event_type").isin("click", "purchase"))
      .withWatermark("ts", lateness)
      .select(col("user_id").as("k"), unix_micros(col("ts")).as("ts_us"),
        (col("event_type") === "purchase").as("is_ref"),
        col("event_id").as("id"), col("ts"))
      .as[SSIn]
    streamStreamAsOf(ev, tolerance, direction)
  }

  /** q202 tolerance: 1 hour in exact µs — wide enough that matches exist
    * at the test SFs, bounded so forward/nearest can finalize. */
  val SS_TOL_US = 3600L * 1000000L

  private[graft] val asofLineage = Lineage("asof", runAsOfLineage)

  /** q202: the stream-stream as-of join, oracle-gated across ALL THREE
    * direction knobs. The events table rides q200's time-sliced
    * deterministic replay (three ascending-time slice files, pinned
    * mtimes, one per micro-batch — nothing is ever late under the
    * 0-second watermark delay) plus a 4th flush-heartbeat slice (one
    * far-future key-−1 reference) that advances the final watermark past
    * every real probe's finalization instant; clicks probe the purchase
    * stream via [[streamStreamAsOf]] once per direction, each run
    * landing batch-keyed under its own `direction=<d>` partition.
    *
    * What the twin pins: with the flush heartbeat, EVERY click must be
    * emitted exactly once (a probe stuck pending, finalized early before
    * its refs arrived, or double-emitted across batches changes the
    * set), and its match is the batch as-of contract per direction —
    * backward: (ts,id)-max at-or-before within tol; forward: (ts,id)-min
    * at-or-after within tol; nearest: closer of best-backward vs first
    * strictly-later within tol, backward on ties. The key-−1 heartbeat
    * matches nothing (no click carries key −1) and emits nothing (refs
    * never emit). */
  def streamAsOfProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Lineages.out(asofLineage, spark, dir))
      .select(col("direction").cast("string").as("direction"),
        col("k").as("user_id"), col("id").as("click_id"),
        col("ts_us"), col("ref_id").as("matched_id"))
      .orderBy("direction", "user_id", "click_id")

  private def runAsOfLineage(spark: SparkSession, dir: String): String = {
    val inDir = EventsStream.writeTimeSlices(spark, dir, "stream-asof",
      flushHeartbeat = true)
    val outDir = IndexMaintenance.scratchIndexDir(spark, "stream-asof-out")
    // the three direction runs are independent streams over the same
    // read-only slices (own checkpoint, own landing partition) — start
    // them CONCURRENTLY and drain each: wall cost ≈ the slowest run
    // instead of the sum (each run is micro-batch-scheduling-bound, not
    // CPU-bound, so they overlap almost perfectly)
    val bs = Replay.buildSession(spark, s"$dir/events.parquet")
    val qs = Seq("backward", "forward", "nearest").map { d =>
      val ckpt = IndexMaintenance.scratchIndexDir(spark, s"stream-asof-ckpt-$d")
      clickPurchaseAsOf(bs, inDir, Some(SS_TOL_US), d,
          filesPerTrigger = Some(1)).toDF
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          IndexMaintenance.landBatch(batch, batchId, s"$outDir/direction=$d")
        }
        .start()
    }
    try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    outDir
  }

  private[graft] val asofSinkLineage = Lineage("asink", runAsOfSinkLineage)

  /** q209: the stream-STATIC as-of sink ([[asOfSink]] → the broadcast
    * as-of strategy per micro-batch) oracle-gated at ROW grain. The
    * events stream rides the time-sliced replay and probes q126's
    * bounded nation×epoch rate book; a stream-static join answers every
    * probe IN its arrival micro-batch, so the landed `batch` must equal
    * the probe's slice index — pinning both the per-batch broadcast
    * as-of result AND the batch-keyed exactly-once landing. */
  def streamAsOfSinkProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Lineages.out(asofSinkLineage, spark, dir))
      .select(col("event_id"), col("nk"), col("rate_id"),
        col("batch").cast("long").as("batch"))
      .orderBy("event_id")

  private def runAsOfSinkLineage(spark: SparkSession, dir: String): String = {
    import graft.engine.Kpis
    val inDir = EventsStream.writeTimeSlices(spark, dir, "stream-asink")
    val outDir = IndexMaintenance.scratchIndexDir(spark, "stream-asink-out")
    val ckpt = IndexMaintenance.scratchIndexDir(spark, "stream-asink-ckpt")
    val bs = Replay.buildSession(spark, s"$dir/events.parquet")
    val probe = EventsStream.readEvents(bs, inDir, filesPerTrigger = Some(1))
      .select(col("event_id"),
        (col("user_id") % Kpis.RATE_NATIONS).as("nk"), col("ts"))
    val q = asOfSink(probe, Kpis.nationRateBook(bs),
      Seq("nk" -> "rnk"), "ts", "rate_from", "rate_id",
      outDir = outDir, checkpointDir = ckpt)
    try q.processAllAvailable() finally q.stop()
    outDir
  }

  /** Start a stream-static as-of join landing batch-partitioned parquet
    * at `outDir`. `probe` must be a streaming DataFrame; `reference` a
    * batch (static) one. Key/time/tie/direction/tolerance semantics are
    * those of [[graft.plans.AsOf.joinMulti]]. */
  def asOfSink(probe: DataFrame, reference: DataFrame,
               keys: Seq[(String, String)],
               leftTime: String, rightTime: String, rightTie: String,
               direction: String = "backward",
               tolerance: Option[Long] = None,
               outDir: String = null, checkpointDir: String = null)
      : StreamingQuery =
    probe.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IndexMaintenance.landBatch(
          graft.plans.AsOf.joinMulti(batch, reference, keys,
            leftTime, rightTime, rightTie, direction, tolerance,
            broadcastRight = true),
          batchId, outDir)
      }
      .start()
}
