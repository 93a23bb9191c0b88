package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.{IndexMaintenance, Lineages, TermIndex, TextOps}

/** Streaming ingest for the persisted inverted index — the lexical twin
  * of [[DedupStream]] (MinHash band index) and the third index modality
  * to get the streaming lifecycle: each micro-batch of documents lands
  * as its own `increment=<batchId+1>` postings partition plus a stats
  * sidecar row, so retrieval probes ([[graft.engine.TermIndex
  * .probeTermIndex]]) serve the corpus-so-far between batches with the
  * BM25 constants always in sync with the postings.
  *
  * Delivery: exactly-once under micro-batch retry — both the postings
  * and the stats sidecar are batch-keyed partitions under dynamic
  * overwrite ([[TermIndex.appendTermIndex]]'s contract), so a replayed
  * batch replaces itself in BOTH (a stats row landing twice would skew
  * every score's n_docs/avg-length).
  *
  * `compactEvery > 0` arms the same trigger policy as the dedup
  * stream: once the increment pile exceeds the threshold,
  * [[TermIndex.compactTermIndex]] folds it into the build partition
  * through the staging swap before the next batch — probe results
  * bit-identical, file count bounded at (compactEvery + 1) increments'
  * worth regardless of stream length. foreachBatch is sequential, so
  * no probe in this stream races the swap; external probes see
  * old-or-new atomically. */
object TermIndexStream {

  /** Start the index ingest over a document stream (needs `doc_id`,
    * `text`). `availableNow = true` runs it as a DRAIN: the production
    * restart pattern a SCHEDULED ingest uses — process exactly the
    * backlog that exists at start (micro-batched by the source's own
    * maxFilesPerTrigger sizing, so bounded batches, same exactly-once
    * landing), then stop on its own; the next scheduled run resumes
    * from the checkpoint and drains only what arrived since
    * (StreamingSpec pins both halves). */
  def indexSink(docs: DataFrame, indexDir: String, checkpointDir: String,
      compactEvery: Int = 0, availableNow: Boolean = false): StreamingQuery = {
    val w = docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        if (compactEvery > 0 && IndexMaintenance.incrementCount(spark,
            s"$indexDir/postings") > compactEvery + 1L)
          TermIndex.compactTermIndex(spark, indexDir)
        TermIndex.appendTermIndex(batch, indexDir, increment = batchId + 1L)
      }
    (if (availableNow)
      w.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    else w).start()
  }

  /** Probe terms of the q211 streamed-ingest gate — distinct from
    * TI_TERMS/PROBE_TERMS so its posting lists differ from q139/q81's. */
  val ST_TERMS: Seq[String] = Seq("data", "spark")

  private[graft] val lineage = Lineages.Lineage("ti", runIngestLineage)

  /** q211: the term-index INGEST STREAM oracle-gated end-to-end — the
    * lexical analog of q197's gated band-index lineage. Build the base
    * index over the `doc_id % 4 == 0` slice, stream the other three
    * quarters through the REAL [[indexSink]] in pinned arrival order
    * (single-file micro-batches), with `compactEvery = 1` so a REAL
    * mid-stream compaction (staging swap, increments folded into the
    * build partition) also sits on the gated path. Serve [[ST_TERMS]]
    * from the resulting store.
    *
    * The oracle scores the WHOLE corpus in one pass and never mentions
    * increments, batches, or layout — so a lost append, a stats sidecar
    * row landing twice (n_docs/avg-len skew every score), or a
    * compaction that dropped/duplicated postings all hash-mismatch. */
  def streamTermIndexProbe(spark: SparkSession, dir: String): DataFrame =
    TermIndex.probeTermIndex(spark, ST_TERMS,
      Lineages.out(lineage, spark, dir), TextOps.RETRIEVAL_TOP_K)

  private def runIngestLineage(spark: SparkSession, dir: String): String = {
    import graft.engine.Tables
    val indexDir = IndexMaintenance.scratchIndexDir(spark, "stream-ti-index")
    val inDir = IndexMaintenance.scratchIndexDir(spark, "stream-ti-in")
    val ckpt = IndexMaintenance.scratchIndexDir(spark, "stream-ti-ckpt")
    // base-index build on the size-derived session too (r15 §1)
    val bs = Replay.buildSession(spark, s"$dir/documents.parquet")
    val docs = Tables.documents(bs, dir).select("doc_id", "text")
    TermIndex.buildTermIndex(docs.filter(col("doc_id") % 4 === 0), indexDir)
    Replay.landSlices(spark, inDir, "stream-ti",
      (1 to 3).map(s => s -> docs.filter(col("doc_id") % 4 === s)))
    val q = indexSink(Replay.sliceStream(bs, inDir), indexDir, ckpt,
      compactEvery = 1)
    try q.processAllAvailable() finally q.stop()
    indexDir
  }
}
