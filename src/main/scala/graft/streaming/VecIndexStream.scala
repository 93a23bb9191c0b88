package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.{IndexMaintenance, Lineages, Sim}

/** Streaming ingest for the persisted IVF index — closes the set: all
  * three index modalities (MinHash bands via [[DedupStream]], postings
  * via [[TermIndexStream]], vector cells here) now run the same
  * steady-state stream shape: one idempotent `increment=<batchId+1>`
  * partition per micro-batch against FROZEN artifacts, probes servable
  * between batches, maintenance off the ingest path.
  *
  * The maintenance hook here is the drift policy rather than a file
  * count: after each append, [[Sim.maintainIvfIndex]] measures per-cell
  * occupancy drift of the accumulated increments against the build
  * partition (from the index's own partitions — no corpus read) and
  * retrains + reassigns ONLY if it exceeds `driftThresholdPpm`. A feed
  * that stays in distribution accrues increments indefinitely (cheap,
  * correct); a feed that genuinely moved triggers one atomic swap.
  * foreachBatch is sequential, so no probe in this stream races the
  * swap; external probes see old-or-new atomically.
  *
  * Delivery: the append is exactly-once under micro-batch retry
  * (batch-keyed dynamic overwrite). A crash between a recluster and
  * the batch checkpoint replays the batch as a re-append onto the
  * reclustered index — still idempotent because the recluster NEVER
  * folds the newest increment (the only partition a replay can
  * rewrite; [[Sim.maintainIvfIndex]]'s replay-safety contract): the
  * replayed append re-assigns against the now-persisted new centroids
  * and dynamic-overwrites that same partition with bit-identical rows.
  * Folding it would strand the batch's vectors in `increment=0` AND
  * re-land them under `increment=batchId+1` on replay — the
  * duplication the exclusion exists to prevent.
  *
  * OWNERSHIP CONTRACT (all three index streams): batch ids are unique
  * only within one checkpoint lineage, so an index is owned by exactly
  * one ingest stream. Restarting with the SAME checkpoint continues
  * the lineage (ids keep rising — correct); pointing a FRESH
  * checkpoint at an index that already holds live increments restarts
  * ids at 0 and the new stream's `increment=1` would silently REPLACE
  * the old stream's. Compact first (folds everything to increment=0,
  * which batch appends never collide with) if an index must change
  * hands. */
object VecIndexStream {

  /** Start the vector-index ingest over an embedding stream (needs
    * `vec_id`, `embedding`). `driftThresholdPpm = 0` disables the
    * maintenance hook (append-only ingest). */
  def indexSink(vecs: DataFrame, indexDir: String, checkpointDir: String,
      driftThresholdPpm: Long = 0L,
      availableNow: Boolean = false): StreamingQuery = {
    val w = vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Sim.appendIvfIndex(batch, indexDir, increment = batchId + 1L)
        if (driftThresholdPpm > 0L) {
          Sim.maintainIvfIndex(batch.sparkSession, indexDir,
            driftThresholdPpm)
          ()
        }
      }
    // `availableNow = true` is the scheduled-DRAIN form (r13, shared
    // with TermIndexStream.indexSink): drain the backlog, stop on its
    // own, resume from the checkpoint next run.
    (if (availableNow)
      w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else w).start()
  }

  /** The SERVING half as a stream — probe batches arrive continuously
    * and each micro-batch is answered from the persisted index
    * ([[Sim.probeIvfIndexObserved]]: DPP-pruned cells, serving metrics
    * riding the probe job): top-k results land at `$outDir/results`
    * and the per-batch metrics row (assignment_rows, cells_probed) at
    * `$outDir/metrics`, both under `batch=<id+1>` dynamic overwrite —
    * a replayed probe batch re-lands identically ([[landProbeBatch]]
    * is the retry unit, spec-pinned idempotent).
    *
    * Visibility vs a concurrent ingest stream: an append commits its
    * increment's (increment, cell) partitions at job commit; a probe
    * planned mid-commit can see a PREFIX of the new increment's cells
    * (never partial files, never mixed generations — maintenance
    * rewrites still swap atomically). Probes therefore serve
    * read-committed-per-partition data: the new increment becomes
    * fully visible at the next planning after its commit. */
  def probeSink(probes: DataFrame, indexDir: String, outDir: String,
      checkpointDir: String, k: Int = Sim.IVF_TOP_K,
      nprobe: Int = 1): StreamingQuery =
    probes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landProbeBatch(batch, indexDir, outDir, batchId + 1L, k, nprobe)
      }
      .start()

  private[graft] val lineage = Lineages.Lineage("vec", runVecLineage)

  /** q212: the vector-index INGEST and PROBE-SERVING streams oracle
    *-gated together — the third index modality's streamed lifecycle
    * after q197 (bands) and q211 (postings). Build the base IVF index
    * over the `vec_id % ANN_DELTA_MOD != 0` slice (q129's split, so the
    * oracle's centroid geometry is IDENTICAL), stream the held-out
    * delta through the REAL [[indexSink]] as two pinned single-file
    * micro-batches (frozen centroids — append-only ingest), then run
    * q129's probes through the REAL [[probeSink]] serving stream (one
    * probe micro-batch, DPP-pruned cells, batch-keyed landing).
    *
    * The gated output drops the batch column and must equal q129's
    * output exactly — the SAME oracle on purpose (the q41/q112 device):
    * streamed ingest + streamed serving must be indistinguishable from
    * the batch lifecycle, row for row. A missed increment, a centroid
    * retrain on append, or a probe landing lost under retry all
    * hash-mismatch. */
  def streamVecIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(Lineages.out(lineage, spark, dir))
      .select(col("probe_id"), col("rank"), col("neighbor_id"),
        col("cosine"))
      .orderBy("probe_id", "rank")
  }

  private def runVecLineage(spark: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.{col, expr}
    import graft.engine.Tables
    val indexDir = IndexMaintenance.scratchIndexDir(spark, "stream-vec-index")
    val inDir = IndexMaintenance.scratchIndexDir(spark, "stream-vec-in")
    val outDir = IndexMaintenance.scratchIndexDir(spark, "stream-vec-out")
    // the one-time base-index build is lineage-build work like the
    // stream itself: run it on the size-derived session too (r15 §1)
    val bs = Replay.buildSession(spark, s"$dir/embeddings.parquet")
    val e = Tables.embeddings(bs, dir).select("vec_id", "embedding")
    Sim.buildIvfIndex(e.filter(col("vec_id") % Sim.ANN_DELTA_MOD =!= 0),
      indexDir, avoid = Sim.ANN_DELTA_MOD)
    Replay.landSlices(spark, inDir, "stream-vec", (0 to 1).map(s =>
      s -> e.filter(col("vec_id") % Sim.ANN_DELTA_MOD === 0 &&
        expr(s"(vec_id div ${Sim.ANN_DELTA_MOD}) % 2") === s)))
    val ingest = indexSink(Replay.sliceStream(bs, inDir), indexDir,
      IndexMaintenance.scratchIndexDir(spark, "stream-vec-ckpt"))
    try ingest.processAllAvailable() finally ingest.stop()
    // serve q129's probes through the REAL probe stream (one batch file)
    val probeDir = IndexMaintenance.scratchIndexDir(spark, "stream-vec-probes")
    e.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(probeDir)
    val serve = probeSink(Replay.sliceStream(bs, probeDir), indexDir, outDir,
      IndexMaintenance.scratchIndexDir(spark, "stream-vec-pckpt"))
    try serve.processAllAvailable() finally serve.stop()
    s"$outDir/results"
  }

  /** One probe micro-batch: serve + land results and metrics, batch-
    * keyed (the retry unit — dynamic overwrite replaces both sinks). */
  def landProbeBatch(batch: DataFrame, indexDir: String, outDir: String,
      increment: Long, k: Int, nprobe: Int): Unit = {
    val spark = batch.sparkSession
    val (res, obs) = Sim.probeIvfIndexObserved(
      batch.select("probe_id", "embedding"), indexDir, k, nprobe)
    IndexMaintenance.landBatch(res, increment, s"$outDir/results")
    import spark.implicits._
    IndexMaintenance.landBatch(
      Seq((obs.get("assignment_rows").asInstanceOf[Long],
          obs.get("cells_probed").asInstanceOf[Long]))
        .toDF("assignment_rows", "cells_probed").coalesce(1),
      increment, s"$outDir/metrics")
  }
}
