package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.{IndexMaintenance, Lineages}

/** Streaming incremental near-dup — the steady state of a training-data
  * ingest pipeline as a STREAM: documents arrive continuously, and each
  * micro-batch is deduplicated against everything ever indexed (the
  * build-time corpus plus every earlier batch) without recomputing a
  * single corpus signature, then joins the index itself.
  *
  * Per micro-batch ([[graft.engine.Dedup.dedupIncrement]]):
  *  - the batch's MinHash band rows broadcast into the persisted band
  *    index — only matching band buckets are read (file-level band
  *    min/max pruning), the index is never shuffled or re-hashed;
  *  - within-batch pairs come from a broadcast banded self-join over the
  *    same persisted band rows;
  *  - verified pairs land at `outDir` under partition `batch=<batchId+1>`
  *    via dynamic partition overwrite;
  *  - the batch's band rows are appended as index partition
  *    `increment=<batchId+1>` (the build is increment 0) the same way.
  *
  * Delivery contract: BOTH sinks are exactly-once under micro-batch
  * retry — each is keyed by the batch id and dynamic partition overwrite
  * replaces rather than appends, so a replayed batch lands once no matter
  * how many times it runs (StreamingSpec simulates the retry and asserts
  * both sinks unchanged). Pairs are globally unique across batches
  * because a pair is emitted only by the batch containing its LATER
  * document. StreamingSpec pins the accumulated stream output equal to
  * the full-corpus batch recompute restricted to pairs touching the
  * streamed delta — cross-batch pairs exist only if the per-batch index
  * appends actually happened. */
object DedupStream {

  /** Start the incremental near-dup stream: probe + self-dedup each
    * micro-batch of `docs` (needs `doc_id`, `text`) against the band
    * index at `indexDir`, landing verified pairs at `outDir`.
    *
    * `appendToIndex=false` degrades to probe-only against a frozen
    * index (no cross-batch pairs, no index growth).
    *
    * `compactEvery > 0` arms the compaction trigger policy: once the
    * index holds more than `compactEvery` delta increments beyond the
    * build, [[graft.engine.Dedup.compactMinhashIndex]] folds them into
    * `increment=0` before the next batch — bounding the probe-side file
    * count at (compactEvery + 1) increments' worth regardless of stream
    * length. The check is one directory listing; the fold runs inside
    * foreachBatch, which is sequential, so no probe in THIS stream races
    * the staging swap (external readers see old-or-new atomically — the
    * [[IndexMaintenance.rewrite]] contract). Probe results are
    * bit-identical across the fold (spec-pinned mid-stream). If the
    * process dies between a compaction and the batch's checkpoint, the
    * replayed batch re-appends band rows that were already folded —
    * duplicate index rows, which cost storage until the next fold but
    * cannot change output: pair emission dedups on (doc_a, doc_b). */
  /** `labelDir` (optional, empty = off) keeps the GLOBAL cluster state
    * current as pairs stream: after each batch's pairs land, they merge
    * into the persisted labels via
    * [[graft.engine.Dedup.mergeClusterIncrement]] — cost bounded by the
    * batch's edges, never the corpus. Seed the labels from the build
    * corpus's internal pairs ([[graft.engine.Dedup.buildClusterLabels]]);
    * every corpus pair is then base-internal (seeded), cross-batch, or
    * within-batch (both streamed), so the label state after the stream
    * equals the full-corpus transitive closure (spec-pinned). A
    * replayed batch re-merges edges that are now internal — the merge's
    * documented no-op path, so label maintenance is idempotent too. */
  /** `headDir`/`contOutDir` (optional, both empty = off) arm the
    * CONTAINMENT channel in the same micro-batch: the batch probes the
    * persisted head-fingerprint index
    * ([[graft.engine.Dedup.containmentIncrement]]) and appends its own
    * head rows — so a truncation/prefix copy arriving in an increment
    * pairs with its source (a case the band channel's J ≈ 0.5 geometry
    * misses) through the same batch-keyed exactly-once sinks. */
  /** `winnowDir`/`winnowOutDir` (optional, both empty = off) arm the
    * WINNOW channel the same way
    * ([[graft.engine.Dedup.winnowIncrement]]): embedded-paragraph copies
    * — shared mid-document spans the band channel dilutes and the head
    * channel's first-tokens hash misses — pair with their sources in the
    * increment that delivers them, through identical batch-keyed
    * exactly-once sinks. */
  def nearDupSink(docs: DataFrame, indexDir: String, outDir: String,
                  checkpointDir: String, appendToIndex: Boolean = true,
                  compactEvery: Int = 0, labelDir: String = "",
                  headDir: String = "", contOutDir: String = "",
                  winnowDir: String = "", winnowOutDir: String = "",
                  availableNow: Boolean = false): StreamingQuery = {
    val w = docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (compactEvery > 0 &&
            IndexMaintenance.incrementCount(spark, indexDir) > compactEvery + 1L)
          graft.engine.Dedup.compactMinhashIndex(spark, indexDir)
        graft.engine.Dedup.dedupIncrement(batch, indexDir,
          increment = batchId + 1L, outDir = outDir,
          appendToIndex = appendToIndex)
        if (headDir.nonEmpty && contOutDir.nonEmpty)
          graft.engine.Dedup.containmentIncrement(batch, headDir,
            increment = batchId + 1L, outDir = contOutDir,
            appendToIndex = appendToIndex)
        if (winnowDir.nonEmpty && winnowOutDir.nonEmpty)
          graft.engine.Dedup.winnowIncrement(batch, winnowDir,
            increment = batchId + 1L, outDir = winnowOutDir,
            appendToIndex = appendToIndex)
        if (labelDir.nonEmpty) {
          // the just-landed batch partition, file-pruned by the batch key
          import org.apache.spark.sql.functions.col
          graft.engine.Dedup.mergeClusterIncrement(spark, labelDir,
            spark.read.parquet(outDir)
              .filter(col("batch") === batchId + 1L)
              .select("doc_a", "doc_b"))
        }
      }
    // `availableNow = true` is the scheduled-DRAIN form (r13, shared
    // with TermIndexStream.indexSink): process exactly the backlog
    // present at start, stop on its own, resume from the checkpoint
    // next run — the restart pattern a nightly dedup ingest uses.
    (if (availableNow)
      w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else w).start()
  }

  private[graft] val lineage = Lineages.Lineage("neardup", runNearDupLineage)

  /** q197: the streaming near-dup lifecycle, oracle-gated end-to-end. A
    * FIXED micro-batch sequence is forced from the static corpus — the
    * band index builds over the `doc_id %3 == 0` slice (increment 0),
    * then slices 1 and 2 stream through [[nearDupSink]] as single-file
    * micro-batches in pinned arrival order (distinct mtimes + name
    * order) — exercising the REAL lifecycle: per-batch index probe
    * (file-pruned band buckets), within-batch self-dedup, exactly-once
    * batch-keyed pair landing, per-batch index append. The read-back is
    * every landed pair WITH its batch key; the DuckDB twin is the batch
    * semantics — the full-corpus near-dup pair set minus base-internal
    * pairs, each pair stamped `greatest(doc_a%3, doc_b%3)` — so the gate
    * pins not just the final pair SET (a lost index append or skipped
    * self-join drops rows) but the exactly-once emission LAW: every pair
    * must land in (and only in) the micro-batch that delivered its
    * later-arriving member. */
  def streamNearDupProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(Lineages.out(lineage, spark, dir))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("batch").cast("long").as("batch"))
      .orderBy("doc_a", "doc_b")

  private def runNearDupLineage(spark: SparkSession, dir: String): String = {
    import graft.engine.{Dedup, Tables}
    val indexDir = IndexMaintenance.scratchIndexDir(spark, "stream-nd-index")
    val inDir = IndexMaintenance.scratchIndexDir(spark, "stream-nd-in")
    val outDir = IndexMaintenance.scratchIndexDir(spark, "stream-nd-out")
    val ckpt = IndexMaintenance.scratchIndexDir(spark, "stream-nd-ckpt")
    // base-index build on the size-derived session too (r15 §1)
    val bs = Replay.buildSession(spark, s"$dir/documents.parquet")
    val docs = Tables.documents(bs, dir).select("doc_id", "text")
    Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 3 === 0), indexDir)
    Replay.landSlices(spark, inDir, "stream-nd",
      (1 to 2).map(s => s -> docs.filter(col("doc_id") % 3 === s)))
    val q = nearDupSink(Replay.sliceStream(bs, inDir), indexDir, outDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    outDir
  }
}
