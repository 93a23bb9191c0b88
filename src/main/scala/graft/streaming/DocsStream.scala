package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{IndexMaintenance, Lineages, Schemas}
import graft.engine.Lineages.Lineage
import graft.functions.TextFns

/** Streaming ingest-time deduplication of a document feed — the streaming
  * twin of [[graft.engine.Dedup.exactDedup]]'s content-hash identity: a
  * document that arrives again (re-crawl, replayed upstream, duplicate
  * shard) is dropped inside the stream before it ever reaches storage.
  *
  * `dropDuplicates` on the normalized content hash keeps one state entry
  * per distinct document (the 64-hex hash, not the text). That state is
  * global-exact and therefore unbounded — correct for a bounded backfill.
  * For an unbounded 100 TB/day feed the same pipeline switches to
  * `dropDuplicatesWithinWatermark` keyed on the feed's event time, bounding
  * state to the dedup horizon; the operator and hash column are unchanged.
  * StreamingSpec replays the corpus twice and asserts exactly one
  * emission per distinct document, agreeing with the batch distinct count.
  */
object DocsStream {

  def dedupedDocs(spark: SparkSession, dir: String): DataFrame =
    dedupedDocsFrom(spark, dir, None)

  /** [[dedupedDocs]] with an explicit micro-batch granularity
    * (`maxFilesPerTrigger`) — how [[streamCuratedProbe]] forces a fixed
    * multi-batch replay out of a static directory. */
  def dedupedDocsFrom(spark: SparkSession, dir: String,
      filesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.schema(Schemas.documents)
    filesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader.parquet(dir)
      .select(col("doc_id"), col("lang"), col("source"),
        sha2(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 256)
          .as("content_hash"))
      .dropDuplicates("content_hash")
  }

  /** Dedup horizon for the watermark-bounded variant: a duplicate arriving
    * more than this long after the original may be re-emitted (state for
    * older keys has been evicted). The 100 TB/day trade: bounded state for
    * bounded-lookback dedup. */
  val DEDUP_HORIZON = "1 hour"

  /** The unbounded-feed form of [[dedupedDocs]]:
    * `dropDuplicatesWithinWatermark` keyed on the same content hash, with
    * state bounded by the watermark instead of growing forever. The feed's
    * arrival time here derives deterministically from doc_id (the testdata
    * has no ingest timestamp; a real feed supplies its own) — the operator,
    * key and eviction semantics are exactly what a production crawler feed
    * runs. Re-crawls inside the horizon are dropped; state size is
    * O(distinct docs per horizon), not O(corpus). */
  def dedupedDocsBounded(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(Schemas.documents)
      .parquet(dir)
      .select(col("doc_id"), col("lang"), col("source"),
        sha2(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 256)
          .as("content_hash"),
        timestamp_seconds(lit(1700000000L) + col("doc_id")).as("arrival_ts"))
      .withWatermark("arrival_ts", DEDUP_HORIZON)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Sentinel "gram" every document contributes exactly once, so the doc
    * count rides the monitor's single aggregation (a second streaming
    * aggregation in the same query would be unsupported). Real gram
    * hashes are non-negative (mod-P), so -1 cannot collide. */
  val DOC_SENTINEL = -1L

  /** Streaming heavy-gram (boilerplate) drift monitor — the ingest-path
    * extension of [[graft.engine.TextOps.boilerplateNgrams]]: the batch
    * job elects the corpus's heavy set
    * ([[graft.engine.TextOps.heavyGramSet]], bounded at S·100/pct grams
    * at ANY corpus size); the stream counts, per watched gram, how many
    * streamed documents contain it — whether yesterday's boilerplate is
    * still today's, and whether new docs keep arriving (the sentinel row
    * carries total docs streamed). Divergence between a gram's streamed
    * share and its reference share is the curation drift alarm.
    *
    * Scale shape: the watched set is bounded ⇒ broadcast; the semi join
    * is map-only on the stream; the complete-mode aggregation state is
    * ≤ |watched|+1 rows no matter how long the stream runs (spec-pinned
    * via the state-operator progress metrics). The monitor is the same
    * operator in batch mode — StreamingSpec asserts stream ≡ batch over
    * a static corpus. */
  def heavyGramMonitor(docs: DataFrame, watched: DataFrame): DataFrame = {
    val w = watched.select(col("bg"))
      .unionByName(docs.sparkSession.range(1)
        .select(lit(DOC_SENTINEL).as("bg")))
    docs
      .select(explode(concat(array(lit(DOC_SENTINEL)),
        TextFns.shingleHashes(col("text")))).as("g"))
      .join(broadcast(w), col("g") === col("bg"), "left_semi")
      .groupBy("g")
      .agg(count(lit(1)).as("n_docs_stream"))
  }

  /** Streaming phrase monitor — [[graft.engine.TextOps.phraseSearch]] as
    * a live watch: every streamed document's positioned window hashes
    * meet the broadcast watched-phrase hashes, and the complete-mode
    * aggregate holds per-phrase occurrence counts (plus the sentinel
    * doc counter). THE contamination alarm: benchmark phrases appearing
    * in the ingest feed page before the corpus ships. Same bounded-state
    * law as [[heavyGramMonitor]]: ≤ |phrases|+1 rows forever.
    *
    * `phrases` needs a `ph` column of phrase hashes
    * (`TextFns.polyHash` of the phrase string). */
  def phraseMonitor(docs: DataFrame, phrases: DataFrame): DataFrame = {
    val w = phrases.select(col("ph"))
      .unionByName(docs.sparkSession.range(1)
        .select(lit(DOC_SENTINEL).as("ph")))
    docs
      .select(explode(concat(array(lit(DOC_SENTINEL)),
        TextFns.spanHashes(col("text"), graft.engine.TextOps.PHRASE_W)))
        .as("h"))
      .join(broadcast(w), col("h") === col("ph"), "left_semi")
      .groupBy("h")
      .agg(count(lit(1)).as("n_occurrences_stream"))
  }

  /** The landing half of [[curatedSink]], exposed for retry simulation:
    * lang-partitioned with a `batch=<id>` sub-partition under dynamic
    * overwrite, so re-running a batch replaces exactly its own
    * (lang, batch) leaves — idempotent per (batchId, out). */
  private[graft] def landCurated(batch: DataFrame, batchId: Long,
      out: String): Unit =
    IndexMaintenance.replacePartitions(batch.withColumn("batch", lit(batchId)),
      out, "lang", "batch")

  /** Fold the curated sink's accumulated `batch=<id>` sub-partitions into
    * `batch=0` per language — the lake-side twin of
    * [[graft.engine.IndexMaintenance]]'s index compaction: the batch
    * partitions exist for retry idempotence, but a checkpoint-committed
    * batch is never replayed, so folding history is safe and bounds the
    * per-lang file pile. Runs through the same staging-swap (readers see
    * old-or-new, never a mix); rows and the lang partitioning are
    * untouched. Run off the ingest path, or between batches like
    * [[DedupStream]]'s `compactEvery`. */
  def compactCurated(spark: SparkSession, out: String): Unit =
    graft.engine.IndexMaintenance.rewrite(spark, out) { staging =>
      spark.read.parquet(out)
        .withColumn("batch", lit(0L))
        .write.partitionBy("lang", "batch")
        .mode("overwrite").parquet(staging)
    }

  /** Streaming → lake sink via `foreachBatch`: each micro-batch of deduped
    * documents lands as lang-partitioned parquet — the streaming half of
    * the medallion write path ([[graft.engine.Gold.writePartitioned]] is
    * the batch half). `foreachBatch` hands every micro-batch to the batch
    * writer, so layout options (partitioning, file sizing, compaction)
    * are exactly the batch ones. Delivery is exactly-once under
    * micro-batch retry: the checkpoint dedups batch DELIVERY, and
    * [[landCurated]]'s batch-keyed dynamic partition overwrite makes a
    * replayed batch replace its own partitions instead of re-appending
    * (the [[DedupStream]] device; StreamingSpec simulates the retry). */
  def curatedSink(spark: SparkSession, dir: String, out: String,
      checkpoint: String,
      filesPerTrigger: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    dedupedDocsFrom(spark, dir, filesPerTrigger)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landCurated(batch, batchId, out)
      }
      .start()

  /** Slice count of [[streamCuratedProbe]]'s fixed replay — one file per
    * slice, one micro-batch per file. */
  val STREAM_SLICES = 3

  /** The q180 lineage lays its input slices, landed lake and checkpoint
    * under one root, as `in/`, `out/` and `ckpt/`: spec code reads the
    * checkpoint to assert the batch count. */
  private[graft] val curatedLineage = Lineage("curated", runCuratedLineage)

  /** q180: the streaming medallion lineage, oracle-gated end-to-end. A
    * FIXED micro-batch sequence is forced from the static corpus — three
    * content-disjoint doc_id-sliced files (each slice also re-carrying its
    * own `%7` rows, the exact-dup plant, as identical full rows), streamed
    * with `maxFilesPerTrigger=1` so each file is its own micro-batch —
    * through the REAL ingest path: [[dedupedDocs]]' content-hash streaming
    * dedup → [[curatedSink]]'s foreachBatch batch-keyed dynamic-overwrite
    * landing → [[compactCurated]]'s staging-swap fold to `batch=0`. The
    * returned DataFrame is the landed lake directory read back; the DuckDB
    * twin is the BATCH semantics (every distinct document exactly once,
    * with its content hash, batch 0), so a dropped/duplicated/misplaced
    * row anywhere in the streaming lineage breaks the driver's hash gate.
    * Deterministic by construction: slices are content-disjoint (batch
    * order cannot matter) and in-slice duplicates are identical rows
    * (whichever arrives first, the emitted row is byte-identical). */
  def streamCuratedProbe(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"${Lineages.out(curatedLineage, spark, dir)}/out")
      .select(col("doc_id"), col("lang"), col("source"), col("content_hash"),
        col("batch").cast("long").as("batch"))
      .orderBy("doc_id")

  private def runCuratedLineage(spark: SparkSession, dir: String): String = {
    import graft.engine.Tables
    val root = IndexMaintenance.scratchIndexDir(spark, "stream")
    val (inDir, outDir, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    val docs = Tables.documents(spark, dir)
    Replay.landSlices(spark, inDir, "stream", (0 until STREAM_SLICES).map { s =>
      val slice = docs.filter(col("doc_id") % STREAM_SLICES === s)
      s -> slice.unionByName(slice.filter(col("doc_id") % 7 === 0))
    })
    val bs = Replay.buildSession(spark, s"$dir/documents.parquet")
    val q = curatedSink(bs, inDir, outDir, ckpt, filesPerTrigger = Some(1))
    try q.processAllAvailable() finally q.stop()
    compactCurated(spark, outDir)
    root
  }

  /** Streaming admission against the PERSISTED seen-before store
    * ([[graft.engine.Dedup.probeHashIndex]]'s register) — the
    * cross-restart form of [[dedupedDocs]]' in-memory `dropDuplicates`
    * state: each micro-batch is probed against the store
    * (dup_of_corpus / dup_in_batch / fresh), the admitted rows (fresh =
    * new content + batch-first carriers) are appended as the batch's own
    * increment, and the full verdict set lands batch-keyed for audit.
    *
    * Identity state lives in the STORE, not the checkpoint: a restarted
    * stream resumes with the complete register at zero state-rebuild
    * cost, the register is shared with the batch pipeline (one identity,
    * two ingest paths), and its size is one row per distinct document —
    * never resident in executor state-store memory. Replay safety: the
    * probe excludes the batch's own increment (a crashed attempt may
    * have landed it), verdicts within the batch are (doc_id)-ordered,
    * and both writes are increment/batch-keyed dynamic overwrites — a
    * replayed batch re-derives byte-identical verdicts and replaces its
    * own partitions. */
  def hashGateSink(docs: DataFrame, hashDir: String, outDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val inc = batchId + 1L // the store's increment 0 is the bootstrap
        val verdicts = graft.engine.Dedup.probeHashIndex(spark,
            batch.select(col("doc_id"), col("text")), hashDir,
            excludeIncrement = inc)
          .localCheckpoint() // feeds the audit landing AND the admit join
        IndexMaintenance.landBatch(verdicts, inc, outDir)
        val admitted = batch
          .join(verdicts.filter(col("verdict") === "fresh")
            .select(col("doc_id")), Seq("doc_id"), "left_semi")
        graft.engine.Dedup.appendHashIndex(admitted, hashDir, inc)
      }
      .start()

  /** One admission verdict per streamed document — the output row of
    * [[sourceCapSink]]'s stateful gate. */
  private[graft] case class CapVerdict(doc_id: Long, source: String,
    n_tokens: Long, admitted: Boolean)
  private[graft] case class CapDoc(doc_id: Long, source: String,
    n_tokens: Long)

  /** Streaming per-source token-budget ADMISSION — the ingest-path form
    * of [[graft.engine.TextOps.sourceTokenCap]]: every source holds a
    * persistent spent-tokens counter, and an arriving document is
    * admitted iff its source's budget is unexhausted (the batch gate's
    * exact greedy contract: admit while spent < cap, the one
    * overshooting document included). Order is ARRIVAL order — the
    * production semantics; a crawler cannot reorder its feed by content
    * hash, so the batch operator is the retrospective re-run-
    * deterministic form and this is the online one. Within a
    * micro-batch, documents are admitted in (doc_id) order so a
    * replayed batch re-derives byte-identical verdicts against the
    * rolled-back state version (the checkpoint restores state to the
    * pre-batch snapshot on retry — determinism within the batch is what
    * makes the replay land identically).
    *
    * Scale shape: state is ONE long per source (bounded by source
    * cardinality — domains, not documents); each batch shuffles only
    * its own rows by source. The cap is frozen at sink construction
    * (derive it from a reference corpus via the batch aggregate), like
    * [[lmGateSink]]'s frozen model — an admission gate that re-derived
    * its cap from the stream would admit differently on every replay. */
  def sourceCapGate(docs: DataFrame, cap: Long): DataFrame = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    docs
      .select(col("doc_id"), col("source"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .as[CapDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout)(
        (source: String, it: Iterator[CapDoc],
            st: org.apache.spark.sql.streaming.GroupState[Long]) => {
          var spent = st.getOption.getOrElse(0L)
          val out = it.toSeq.sortBy(_.doc_id).map { d =>
            val keep = spent < cap
            if (keep) spent += d.n_tokens
            CapVerdict(d.doc_id, source, d.n_tokens, keep)
          }
          st.update(spent)
          out.iterator
        })
      .toDF()
  }

  /** [[sourceCapGate]] → lake: verdict rows land batch-keyed under
    * dynamic overwrite ([[IndexMaintenance.landBatch]]), so a replayed
    * micro-batch replaces its own partition with the identical rows the
    * rolled-back state re-derives. */
  def sourceCapSink(docs: DataFrame, cap: Long, out: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    sourceCapGate(docs, cap)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IndexMaintenance.landBatch(batch, batchId, out)
      }
      .start()

  /** Minimum mean-bigram-probability a streamed document must score to
    * pass the quality gate ([[graft.engine.TextOps.lmScore]] semantics;
    * calibrate against the reference corpus's score distribution). */
  val LM_GATE_MIN = 0.03

  /** Streaming bigram-LM quality gate — the ingest-path form of
    * [[graft.engine.TextOps.lmScore]]: the model trains ONCE on a
    * reference corpus (pass the [[graft.engine.TextOps.lmVocab]] /
    * [[graft.engine.TextOps.lmModel]] outputs, checkpointed), and every
    * micro-batch of arriving documents scores against that frozen model
    * via [[graft.engine.TextOps.lmScoreAgainst]] — a map-only pass
    * (pairs join the broadcast model; the per-doc aggregation is
    * complete within the batch because a document arrives whole).
    * Docs land with their score and a `kept` verdict
    * (≥ [[LM_GATE_MIN]]); per-doc scores depend only on (doc, model),
    * so stream ≡ batch exactly — StreamingSpec pins the landed scores
    * against the batch recompute across a multi-batch feed.
    *
    * Scale shape: the model is counting-bounded at (V+1)² rows
    * (broadcast at any corpus size); no streaming state at all — the
    * gate is stateless per doc, so an unbounded feed runs at constant
    * memory. Exactly-once under retry via [[IndexMaintenance.landBatch]]. */
  def lmGateSink(docs: DataFrame, vocab: DataFrame, model: DataFrame,
      out: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        IndexMaintenance.landBatch(
          graft.engine.TextOps.lmScoreAgainst(batch, vocab, model)
            .withColumn("kept", col("lm_score") >= LM_GATE_MIN),
          batchId, out)
      }
      .start()
}
