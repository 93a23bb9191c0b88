package graft.engine

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The steady-state "day loop" — one ingest increment through the FULL
  * curation lifecycle as a single operational unit, the run a 100 TB
  * training-data pipeline schedules daily. Every stage is the
  * already-proven incremental operator; this object is the composition
  * plus the per-stage `observe()` row accounting ([[Pipeline.silver]]'s
  * discipline — audits ride the stage jobs, never a second corpus pass):
  *
  *  1. band-channel dedup increment ([[Dedup.dedupIncrement]]): the
  *     batch probes the persisted MinHash band index, lands verified
  *     pairs, appends itself to the index;
  *  2. containment head-channel increment
  *     ([[Dedup.containmentIncrement]]): same shape over the head
  *     fingerprint index — truncation/prefix copies caught; and the
  *     winnow-channel increment ([[Dedup.winnowIncrement]]) over the
  *     winnowing fingerprint index — embedded-paragraph copies caught;
  *  3. incremental CC merge ([[Dedup.mergeClusterIncrement]]): the
  *     batch's landed band pairs fold into the persisted cluster labels
  *     at increment-bounded cost — never a corpus re-cluster;
  *  4. lifecycle keep-list ([[Dedup.dedupKeepListFrom]]): the keep/drop
  *     audit served from the maintained labels (bounded label join, no
  *     pair graph, no closure);
  *  5. shard refresh ([[TextOps.writeShards]]): the kept corpus lands
  *     re-sharded in the deterministic training order.
  *
  * Exactly-once: stages 1–2 land under batch-keyed dynamic partition
  * overwrite (a replayed increment replaces itself), stage 3's merge of
  * now-internal edges is its documented no-op path, and stages 4–5 are
  * deterministic functions of the (unchanged) label table and corpus —
  * so REPLAYING a day leaves every sink byte-stable and returns the
  * same [[DayReport]] (PipelineSpec pins this).
  *
  * Round 13 adds the DAY-COMMIT MANIFEST: each sink heals individually
  * under replay, but an external reader arriving mid-crash could see
  * day N in some stores and day N−1 in others — the `day=<n>` marker
  * written LAST by [[runDay]] plus the as-of-committed readers
  * ([[docsAsOfCommitted]], [[labelsAsOfCommitted]],
  * [[keepListAsOfCommitted]], [[shardsAsOfCommitted]],
  * [[indexAsOfCommitted]], [[pairsAsOfCommitted]]) make the whole
  * composition read-atomic at day grain (PipelineSpec crashes a day
  * between its last sink and its marker and pins every view).
  */
object CurationLoop {

  /** Per-day audit line: row accounting at every stage. */
  case class DayReport(
      batchDocs: Long,   // documents ingested this increment
      bandPairs: Long,   // near-dup pairs landed by the band channel
      contPairs: Long,   // containment pairs landed by the head channel
      winnowPairs: Long, // local-overlap pairs landed by the winnow channel
      keptDocs: Long,    // corpus docs surviving dedup (post-merge labels)
      droppedDocs: Long, // corpus docs dropped for a cluster canonical
      shardRows: Long)   // rows laid down by the shard refresh

  /** Bootstrap day-0 state at `root` from the base corpus (needs
    * doc_id, lang, text): land the documents as `batch=0` of the
    * document store, build both dedup indexes, and seed the label table
    * from the base's internal near-dup pairs. After this, every
    * [[runDay]] (or [[daySink]] micro-batch) maintains all five pieces
    * incrementally. */
  def seed(spark: SparkSession, base: DataFrame, root: String): Unit = {
    base.withColumn("batch", lit(0L))
      .write.partitionBy("batch").mode("overwrite")
      .parquet(s"$root/docs")
    Dedup.buildMinhashIndex(base.select(col("doc_id"), col("text")),
      s"$root/band_index")
    Dedup.buildHeadIndex(base.select(col("doc_id"), col("text")),
      s"$root/head_index")
    Dedup.buildWinnowIndex(base.select(col("doc_id"), col("text")),
      s"$root/winnow_index")
    Dedup.buildClusterLabels(
      Dedup.nearDupPairsOf(base.select(col("doc_id"), col("text")))
        .select(col("doc_a"), col("doc_b")),
      s"$root/labels")
    commitDay(spark, root, 0L) // day 0 = the seeded state
  }

  // ------------------- day-commit manifest (round 13) -------------------
  //
  // Every sink in [[runDay]] is individually idempotent and a restarted
  // day heals all of them — but an EXTERNAL reader arriving mid-crash
  // could see day N in some stores and day N−1 in others. The manifest
  // makes the composition atomic FOR READERS: one empty `day=<n>` marker
  // lands LAST in runDay, and the as-of-committed readers below key every
  // store view on the last marker (batch/increment partition filters for
  // the day-keyed stores, the day-versioned shard set, and the label
  // table's pre-merge undo copies). Readers pay only partition pruning.

  /** Write day `n`'s commit marker — the LAST write of a day. Idempotent
    * (a replayed day re-creates the same marker). */
  def commitDay(spark: SparkSession, root: String, day: Long): Unit =
    DayCommit.mark(spark, root, day)

  /** Highest committed day (−1 before [[seed]]). One directory listing —
    * compositions reading several stores should resolve it ONCE and use
    * the day-parameterized readers (or [[asOfCommitted]]), not call a
    * per-store `*AsOfCommitted` five times (each pays a listing — a
    * billable round trip against an object store). */
  def committedDay(spark: SparkSession, root: String): Long =
    DayCommit.highest(spark, root)

  /** The document store as of day `day`: `batch` partitions beyond it
    * (a crashed day's stage-0 landing) are pruned at the scan. */
  def docsAsOf(spark: SparkSession, root: String, day: Long): DataFrame =
    spark.read.parquet(s"$root/docs").filter(col("batch") <= day)

  def docsAsOfCommitted(spark: SparkSession, root: String): DataFrame =
    docsAsOf(spark, root, committedDay(spark, root))

  /** A pair sink (`pairs`, `cont_pairs`, `winnow_pairs`) as of day
    * `day` — same batch-partition pruning. Missing/empty sinks read as
    * zero pairs (a corpus can legitimately land none). */
  def pairsAsOf(spark: SparkSession, root: String, sink: String,
      day: Long): Option[DataFrame] = {
    val path = s"$root/$sink"
    if (IndexMaintenance.holdsParquet(spark, path))
      Some(spark.read.parquet(path).filter(col("batch") <= day))
    else None
  }

  def pairsAsOfCommitted(spark: SparkSession, root: String,
      sink: String = "pairs"): Option[DataFrame] =
    pairsAsOf(spark, root, sink, committedDay(spark, root))

  /** A dedup index (`band_index`, `head_index`, `winnow_index`) as of
    * day `day`: `increment` partitions beyond it are pruned — the
    * as-of form of a probe serve. */
  def indexAsOf(spark: SparkSession, root: String, index: String,
      day: Long): DataFrame =
    spark.read.parquet(s"$root/$index").filter(col("increment") <= day)

  def indexAsOfCommitted(spark: SparkSession, root: String,
      index: String): DataFrame =
    indexAsOf(spark, root, index, committedDay(spark, root))

  /** The label table as of day `day`: if day `day+1`'s merge already
    * landed (the crash window), its touched buckets are served from the
    * pre-merge undo copies. */
  def labelsAsOf(spark: SparkSession, root: String, day: Long): DataFrame =
    Dedup.readClusterLabelsAsOf(spark, s"$root/labels",
      s"$root/labels_undo/day=${day + 1}")

  def labelsAsOfCommitted(spark: SparkSession, root: String): DataFrame =
    labelsAsOf(spark, root, committedDay(spark, root))

  /** The keep/drop audit as of day `day` — that day's corpus against
    * its labels. */
  def keepListAsOf(spark: SparkSession, root: String,
      day: Long): DataFrame =
    Dedup.keepListOfLabels(
      docsAsOf(spark, root, day).select("doc_id", "lang", "text"),
      labelsAsOf(spark, root, day))

  def keepListAsOfCommitted(spark: SparkSession, root: String): DataFrame =
    keepListAsOf(spark, root, committedDay(spark, root))

  /** The training shard set of day `day` — [[runDay]] lands each day's
    * refresh under `shards/day=<n>`, so a committed day's set is
    * immutable while the next day writes its own. */
  def shardsAsOf(spark: SparkSession, root: String, day: Long): DataFrame =
    spark.read.parquet(s"$root/shards/day=$day")

  def shardsAsOfCommitted(spark: SparkSession, root: String): DataFrame =
    shardsAsOf(spark, root, committedDay(spark, root))

  /** One consistent reader snapshot across every store — the committed
    * day resolved by ONE listing and threaded through all six views
    * (the composition form; round 14, closing r13 "what's wrong" #3). */
  final case class CurationView(day: Long, docs: DataFrame,
      labels: DataFrame, keepList: DataFrame, shards: DataFrame,
      bandIndex: DataFrame, pairs: Option[DataFrame])

  def asOfCommitted(spark: SparkSession, root: String): CurationView =
    asOf(spark, root, committedDay(spark, root))

  /** The day-parameterized form of [[asOfCommitted]] — compositions
    * that pin the day EXTERNALLY (e.g. [[ComposedDay]]'s cross-loop
    * marker) resolve it once and thread it here. */
  def asOf(spark: SparkSession, root: String, day: Long): CurationView =
    CurationView(day,
      docs = docsAsOf(spark, root, day),
      labels = labelsAsOf(spark, root, day),
      keepList = keepListAsOf(spark, root, day),
      shards = shardsAsOf(spark, root, day),
      bandIndex = indexAsOf(spark, root, "band_index", day),
      pairs = pairsAsOf(spark, root, "pairs", day))

  /** Drop superseded day-versioned artifacts once day `n` is committed:
    * shard sets of earlier days and label-undo copies for days ≤ n (the
    * as-of reader only ever consults undo for day n+1). Runs AFTER the
    * marker; a crash between marker and prune just leaves garbage the
    * next day's prune removes. */
  private def pruneCommitted(spark: SparkSession, root: String,
      retainFrom: Long): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    def sweep(dir: String, keepFrom: Long): Unit = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.listStatus(p).foreach { s =>
        val n = s.getPath.getName
        if (n.startsWith("day=") &&
            n.stripPrefix("day=").toLong < keepFrom)
          fs.delete(s.getPath, true)
      }
    }
    // keep shard sets a reader pinned at `retainFrom` still serves,
    // and the undo copies its labelsAsOf consults (day retainFrom+1)
    sweep(s"$root/shards", retainFrom)
    sweep(s"$root/labels_undo", retainFrom + 1)
  }

  /** Spec-only failpoint: invoked just before the commit marker lands,
    * so PipelineSpec can simulate a crash AFTER every sink wrote but
    * BEFORE the day committed — the window the manifest exists for. */
  private[graft] var testFailpointBeforeCommit: () => Unit = () => ()

  /** Run one day: `batch` (needs doc_id, lang, text) against the state
    * rooted at `root` (band index, head index, pair sinks, labels,
    * shards — all previously seeded), with `corpus` the post-ingest
    * document set stages 4–5 serve. `retainAsOf` is the oldest day a
    * reader may still be PINNED at (a composition commits its own
    * marker after this loop's — [[ComposedDay]] passes its committed
    * day): day-versioned artifacts at or above it survive the
    * post-commit prune. Standalone callers keep the default (this
    * day), which prunes everything superseded — the pre-r15
    * behavior. */
  def runDay(spark: SparkSession, corpus: DataFrame, batch: DataFrame,
      increment: Long, root: String,
      retainAsOf: Long = Long.MaxValue): DayReport = {
    // stage 1+2: both channels consume ONE observed batch projection —
    // the ingest count rides the channels' own jobs
    val obsBatch = Observation()
    val counted = batch.select(col("doc_id"), col("text"))
      .observe(obsBatch, count(lit(1)).as("n"))
    Dedup.dedupIncrement(counted, s"$root/band_index", increment,
      s"$root/pairs")
    Dedup.containmentIncrement(counted, s"$root/head_index", increment,
      s"$root/cont_pairs")
    Dedup.winnowIncrement(counted, s"$root/winnow_index", increment,
      s"$root/winnow_pairs")
    // stage 3: merge THIS batch's landed band pairs (file-pruned by the
    // batch key) into the persisted labels. Pair counts come from
    // file-pruned partition scans, NOT an observe on the merge input:
    // the merge's bounded control decision (`contracted.isEmpty`) is a
    // limit-short-circuited job, and an Observation keeps its FIRST
    // query's metrics — a partial scan would report a partial count.
    // a batch that produced zero pairs lands no parquet files (an empty
    // dynamic-overwrite write is only _SUCCESS), so an empty sink must
    // read as the empty pair set, not a schema-inference failure
    def landedPairs(path: String): Option[DataFrame] =
      if (IndexMaintenance.holdsParquet(spark, path))
        Some(spark.read.parquet(path).filter(col("batch") === increment))
      else None
    val landed = landedPairs(s"$root/pairs")
      .map(_.select("doc_a", "doc_b"))
    landed.foreach(p =>
      Dedup.mergeClusterIncrement(spark, s"$root/labels", p,
        undoDir = Some(s"$root/labels_undo/day=$increment")))
    val bandPairs = landed.fold(0L)(_.count())
    // containment and winnow pairs stay separate relations (they gate
    // re-ingest, not cluster membership), so no stage job consumes them
    // here either
    val contPairs = landedPairs(s"$root/cont_pairs").fold(0L)(_.count())
    val winnowPairs = landedPairs(s"$root/winnow_pairs").fold(0L)(_.count())
    // stage 4: keep-list from the maintained labels — the audit is the
    // (bounded, per-lang) result itself
    val keepList = Dedup.keepListOfLabels(corpus,
      Dedup.readClusterLabels(spark, s"$root/labels"))
      .agg(sum("n_kept").as("kept"), sum("n_dropped").as("dropped"))
      .collect()(0)
    // stage 5: shard refresh of the kept corpus, row count riding the
    // write job. DAY-VERSIONED: the committed day's shard set stays
    // immutable while this day writes its own, so shard readers are
    // atomic across a mid-day crash (shardsAsOfCommitted).
    val obsShards = Observation()
    TextOps.writeShards(
      Dedup.keptDocsFrom(corpus,
          Dedup.readClusterLabels(spark, s"$root/labels"))
        .observe(obsShards, count(lit(1)).as("n")),
      s"$root/shards/day=$increment")
    val report = DayReport(
      batchDocs = obsBatch.get("n").asInstanceOf[Long],
      bandPairs = bandPairs,
      contPairs = contPairs,
      winnowPairs = winnowPairs,
      keptDocs = keepList.getLong(0),
      droppedDocs = keepList.getLong(1),
      shardRows = obsShards.get("n").asInstanceOf[Long])
    // the day COMMITS last: until the marker lands, as-of readers serve
    // day N−1 from every store; a crash anywhere above heals by replay
    // (idempotent sinks) and re-lands the same marker
    testFailpointBeforeCommit()
    commitDay(spark, root, increment)
    pruneCommitted(spark, root, math.min(increment, retainAsOf))
    report
  }

  /** Per-artifact removal counts of one [[forget]] run. */
  case class ForgetReport(
      docsRemoved: Long,        // document-store rows removed
      bandRowsRemoved: Long,    // MinHash band index rows removed
      headRowsRemoved: Long,    // head-fingerprint index rows removed
      winnowRowsRemoved: Long,  // winnow fingerprint index rows removed
      pairsRemoved: Long,       // landed band pairs touching a deleted id
      contPairsRemoved: Long,   // landed containment pairs likewise
      winnowPairsRemoved: Long, // landed winnow pairs likewise
      clustersRebuilt: Long,  // affected clusters whose closure was re-derived
      shardRows: Long)        // rows in the refreshed shard set

  /** Right-to-be-forgotten: propagate the deletion of `ids` (one
    * `doc_id` column; a bounded request batch) through EVERY maintained
    * artifact — the decremental twin of [[runDay]]'s incremental
    * maintenance. No corpus-sized RECOMPUTE runs (no hashing pass, no
    * closure); locating matches costs one narrow columnar id scan per
    * store (at deployment scale a doc_id min/max or bloom layout prunes
    * that scan too), and every REWRITE is bounded by the partitions
    * that actually contain a match:
    *
    *  - document store, all three dedup indexes (band, head, winnow),
    *    and the three pair sinks drop
    *    the ids by REWRITING ONLY the partitions that contain them
    *    (located by a broadcast semi-join collecting the bounded
    *    partition-key set; a partition emptied entirely is deleted
    *    explicitly, since a dynamic overwrite writes nothing for it);
    *  - cluster labels go through [[Dedup.forgetClusterMembers]]:
    *    connectivity is re-derived WITHIN the affected clusters only
    *    (a deleted doc can be the bridge or the canonical), bounded by
    *    the affected components;
    *  - the shard set is refreshed from the post-deletion kept corpus.
    *
    * Idempotent: a replayed forget finds nothing left to remove and
    * rewrites nothing but the (deterministic) shard refresh.
    *
    * The other two index modalities have the same device as standalone
    * ops (their stores live outside the day-loop root and key on their
    * own id spaces): [[TermIndex.forgetDocs]] (postings + re-derived
    * stats sidecar) and [[Sim.forgetVectors]] (IVF/IVF-PQ vector
    * store, frozen artifacts untouched). */
  def forget(spark: SparkSession, ids: DataFrame, root: String)
      : ForgetReport = {
    val docsRemoved = purge(spark, s"$root/docs", "batch", "doc_id", ids)
    val bandRemoved = purge(spark, s"$root/band_index", "increment",
      "doc_id", ids, IndexMaintenance.clusterBy("band"))
    val headRemoved = purge(spark, s"$root/head_index", "increment",
      "doc_id", ids, IndexMaintenance.clusterBy("hh"))
    val winnowRemoved = purge(spark, s"$root/winnow_index", "increment",
      "doc_id", ids, IndexMaintenance.clusterBy("f"))
    val pairsRemoved = purgePairs(spark, s"$root/pairs", ids)
    val contRemoved = purgePairs(spark, s"$root/cont_pairs", ids)
    val winnowPairsRemoved = purgePairs(spark, s"$root/winnow_pairs", ids)
    val remaining = spark.read.parquet(s"$root/docs")
      .select("doc_id", "lang", "text")
    val rebuilt = Dedup.forgetClusterMembers(spark, s"$root/labels", ids,
      remaining)
    val obsShards = Observation()
    // deletion corrects the COMMITTED state in place (a forget must
    // propagate to serving immediately, not at the next day commit), so
    // the refresh replaces the committed day's versioned shard set
    TextOps.writeShards(
      Dedup.keptDocsFrom(remaining,
          Dedup.readClusterLabels(spark, s"$root/labels"))
        .observe(obsShards, count(lit(1)).as("n")),
      s"$root/shards/day=${math.max(0L, committedDay(spark, root))}")
    ForgetReport(docsRemoved, bandRemoved, headRemoved, winnowRemoved,
      pairsRemoved, contRemoved, winnowPairsRemoved, rebuilt,
      obsShards.get("n").asInstanceOf[Long])
  }

  /** Remove rows matching `ids` on `idCol` from a `partCol`-partitioned
    * store, rewriting only partitions that contain a match. Returns the
    * number of rows removed. Empty or missing stores purge zero rows. */
  private def purge(spark: SparkSession, path: String, partCol: String,
      idCol: String, ids: DataFrame,
      layout: DataFrame => DataFrame = identity): Long =
    IndexMaintenance.purgePartitions(spark, path, Seq(partCol),
      df => df.join(broadcast(ids.select(col("doc_id").as(idCol))),
        Seq(idCol), "left_semi"),
      df => df.join(broadcast(ids.select(col("doc_id").as(idCol))),
        Seq(idCol), "left_anti"),
      layout).removed

  /** Pair-sink purge: a pair dies if EITHER endpoint is deleted. */
  private def purgePairs(spark: SparkSession, path: String,
      ids: DataFrame): Long = {
    val idc = broadcast(ids.select(col("doc_id")))
    def hit(df: DataFrame): DataFrame =
      df.join(idc, df("doc_a") === idc("doc_id") ||
        df("doc_b") === idc("doc_id"), "left_semi")
    def keep(df: DataFrame): DataFrame =
      df.join(idc, df("doc_a") === idc("doc_id") ||
        df("doc_b") === idc("doc_id"), "left_anti")
    IndexMaintenance.purgePartitions(spark, path, Seq("batch"), hit, keep)
      .removed
  }

  /** State audit — the invariant check a pipeline schedules at audit
    * cadence (weekly, after incident recovery) while the daily path
    * never pays for it: recompute the transitive closure from the
    * document store (the source of truth) and diff the MAINTAINED
    * label table row-for-row. Divergence zero is exactly the
    * merged-≡-closure / forget-≡-closure invariant the specs pin; in
    * production this operator is how you notice a lost increment, a
    * half-applied forget, or label corruption before a split/keep-list
    * consumes it. One row: maintained/recomputed/divergent counts
    * (divergent = id present on only one side OR labeled differently). */
  def auditLabels(spark: SparkSession, root: String): DataFrame = {
    val expected = Dedup.closureOfDocs(
      spark.read.parquet(s"$root/docs").select(col("doc_id"), col("text")))
      .select(col("id"), col("label").as("elabel"))
    val actual = Dedup.readClusterLabels(spark, s"$root/labels")
      .select(col("id"), col("label").as("alabel"))
    actual.join(expected, Seq("id"), "full_outer")
      .agg(count(col("alabel")).as("n_maintained"),
        count(col("elabel")).as("n_recomputed"),
        sum(when(col("alabel").isNull || col("elabel").isNull ||
          col("alabel") =!= col("elabel"), 1L).otherwise(0L))
          .as("n_divergent"))
  }

  /** The day loop as a STREAM — the whole curation lifecycle in the
    * steady-state stream shape the three index families already run:
    * each micro-batch is one "day". Stage 0 lands the batch's documents
    * as `batch=<id+1>` of the document store (the ingest itself is a
    * batch-keyed exactly-once sink, like everything downstream), the
    * post-ingest corpus is the store read back, and [[runDay]] drives
    * stages 1–5. The per-day [[DayReport]] lands at `$root/reports`
    * under the same batch key — the idempotent audit trail an operator
    * reads. Seed `root` with [[seed]] first; the index OWNERSHIP
    * contract (one index, one checkpoint lineage — see
    * [[graft.streaming.VecIndexStream]]) applies to the whole root. */
  def daySink(docs: DataFrame, root: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        IndexMaintenance.landBatch(batch, batchId + 1L, s"$root/docs")
        val corpus = spark.read.parquet(s"$root/docs")
          .select("doc_id", "lang", "text")
        val report = runDay(spark, corpus, batch, batchId + 1L, root)
        import spark.implicits._
        IndexMaintenance.landBatch(Seq(report).toDS().toDF().coalesce(1),
          batchId + 1L, s"$root/reports")
      }
      .start()
}
