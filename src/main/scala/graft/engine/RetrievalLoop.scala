package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The retrieval-side "day loop" — [[CurationLoop]]'s operational
  * composition applied to the OTHER two index modalities: one ingest
  * increment maintains the persisted lexical (postings) and vector
  * (IVF) indexes, then the day's probes are served FROM the freshly
  * maintained state with their serving metrics landed alongside — the
  * run a retrieval platform schedules per ingest window:
  *
  *  1. postings append ([[TermIndex.appendTermIndex]]): the day's
  *     documents land as `increment=<n>` with the stats-sidecar row
  *     derived from the increment's own postings;
  *  2. vector append ([[Sim.appendIvfIndex]]): the day's embeddings
  *     assign against the FROZEN centroids (the add-vectors contract)
  *     and land as the same increment key;
  *  3. lexical probe serving ([[TermIndex.probeTermIndexObserved]]):
  *     the watched query set scores against the updated postings,
  *     results + (postings_rows, terms_hit) land batch-keyed;
  *  4. vector probe serving ([[Sim.probeIvfIndexObserved]]): the probe
  *     batch answers from the updated cells, results +
  *     (assignment_rows, cells_probed) land batch-keyed.
  *
  * Exactly-once: stages 1–2 are increment-keyed dynamic overwrites (a
  * replayed day replaces its own partitions bit-identically — the
  * centroids are frozen, so re-assignment is deterministic), and
  * stages 3–4 are deterministic functions of the post-append state
  * landed under the same batch key — so replaying a day leaves every
  * sink byte-stable and returns the same report (PipelineSpec pins
  * this, plus: the day-loop-served probes equal the standalone
  * lifecycle demos q129/q139 built over the same split).
  *
  * Scale shape: each stage is the already-audited incremental
  * operator; the report's counts ride `observe()` on the probe jobs
  * and file-pruned scans of the just-written increment partitions
  * (bounded by the increment) — never a second corpus pass.
  *
  * Round 14 adds the DAY-COMMIT MANIFEST ([[DayCommit]], the protocol
  * [[CurationLoop]] proved in round 13): the `day=<n>` marker lands
  * LAST in [[runDay]], and [[asOfCommitted]] hands readers one
  * consistent view across all six sinks — postings, stats sidecar,
  * vector store, both serving sinks, reports — resolved by ONE
  * listing. PipelineSpec crashes a day between its last sink and the
  * marker and pins every view at day N−1, then heals to day N. */
object RetrievalLoop {

  /** Per-day audit line across both modalities. */
  case class RetrievalDayReport(
      batchPostings: Long,     // postings rows the increment landed
      batchDocs: Long,         // distinct docs in the increment (sidecar row)
      batchVectors: Long,      // vectors the increment landed
      lexPostingsScanned: Long, // postings rows the lexical probe fetched
      lexTermsHit: Long,       // probed terms with ≥1 posting
      vecAssignRows: Long,     // assignment rows the vector probe scanned
      vecCellsProbed: Long)    // distinct cells the vector probe touched

  /** Bootstrap day-0 state: both indexes built over the base corpus,
    * committed as day 0. */
  def seed(spark: SparkSession, baseDocs: DataFrame, baseVecs: DataFrame,
      root: String): Unit = {
    TermIndex.buildTermIndex(baseDocs, s"$root/term_index")
    Sim.buildIvfIndex(baseVecs, s"$root/vec_index")
    DayCommit.mark(spark, root, 0L)
  }

  // ------------------- day-commit manifest (round 14) -------------------
  //
  // The r13 manifest covered the curation loop only; a mid-crash
  // external reader of THIS loop could see the postings index at day N
  // and the vector index at day N−1 (r13 "what's missing" #4). Same
  // protocol ([[DayCommit]]): the `day=<n>` marker lands LAST in
  // [[runDay]]; as-of readers key every store on it. All six sinks are
  // increment/batch-keyed, so the as-of view is pure partition pruning.
  // The committed day resolves with ONE listing per composition
  // ([[asOfCommitted]] threads it through all six views).

  /** Highest committed day (−1 before [[seed]]). One listing. */
  def committedDay(spark: SparkSession, root: String): Long =
    DayCommit.highest(spark, root)

  /** One consistent reader snapshot across all six retrieval sinks —
    * postings + stats sidecar, vector store, both serving sinks, and
    * the report trail — as of one committed day, resolved by ONE
    * listing. */
  final case class RetrievalView(day: Long, postings: DataFrame,
      stats: DataFrame, vectors: DataFrame, lexResults: DataFrame,
      vecResults: DataFrame, reports: DataFrame)

  def asOfCommitted(spark: SparkSession, root: String): RetrievalView =
    asOf(spark, root, DayCommit.highest(spark, root))

  /** The day-parameterized form of [[asOfCommitted]] — compositions
    * that pin the day EXTERNALLY (e.g. [[ComposedDay]]'s cross-loop
    * marker) resolve it once and thread it here. */
  def asOf(spark: SparkSession, root: String,
      day: Long): RetrievalView = {
    def inc(path: String) =
      spark.read.parquet(path).filter(col("increment") <= day)
    def bat(path: String) =
      spark.read.parquet(path).filter(col("batch") <= day)
    RetrievalView(day,
      postings = inc(s"$root/term_index/postings"),
      stats = inc(s"$root/term_index/stats"),
      vectors = inc(s"$root/vec_index/vectors"),
      lexResults = bat(s"$root/lex_serving/results"),
      vecResults = bat(s"$root/vec_serving/results"),
      reports = bat(s"$root/reports"))
  }

  /** Spec-only failpoint: invoked just before the commit marker lands
    * (after every sink wrote) — the window the manifest exists for. */
  private[graft] var testFailpointBeforeCommit: () => Unit = () => ()

  /** Run one day: append `docsBatch` (doc_id, text) and `vecsBatch`
    * (vec_id, embedding) as `increment`, then serve `terms` and
    * `probes` (probe_id, embedding) from the maintained state, landing
    * results and metrics under `batch=<increment>`. */
  def runDay(spark: SparkSession, docsBatch: DataFrame,
      vecsBatch: DataFrame, probes: DataFrame, terms: Seq[String],
      increment: Long, root: String): RetrievalDayReport = {
    TermIndex.appendTermIndex(docsBatch, s"$root/term_index", increment)
    Sim.appendIvfIndex(vecsBatch, s"$root/vec_index", increment)
    // increment accounting: file-pruned reads of the partitions just
    // written (bounded by the increment, never the index)
    val inc = spark.read.parquet(s"$root/term_index/postings")
      .filter(col("increment") === increment)
      .agg(count(lit(1)).as("n")).collect()(0).getLong(0)
    val incDocs = spark.read.parquet(s"$root/term_index/stats")
      .filter(col("increment") === increment)
      .agg(sum("n_docs").cast("long")).collect()(0).getLong(0)
    val incVecs = spark.read.parquet(s"$root/vec_index/vectors")
      .filter(col("increment") === increment)
      .agg(count(lit(1)).as("n")).collect()(0).getLong(0)
    // serve the day's probes from the post-append state, batch-keyed
    val (lexRes, lexObs) = TermIndex.probeTermIndexObserved(spark, terms,
      s"$root/term_index", TextOps.RETRIEVAL_TOP_K)
    IndexMaintenance.landBatch(lexRes, increment, s"$root/lex_serving/results")
    val (vecRes, vecObs) = Sim.probeIvfIndexObserved(probes,
      s"$root/vec_index")
    IndexMaintenance.landBatch(vecRes, increment, s"$root/vec_serving/results")
    val report = RetrievalDayReport(
      batchPostings = inc,
      batchDocs = incDocs,
      batchVectors = incVecs,
      lexPostingsScanned = lexObs.get("postings_rows").asInstanceOf[Long],
      lexTermsHit = lexObs.get("terms_hit").asInstanceOf[Long],
      vecAssignRows = vecObs.get("assignment_rows").asInstanceOf[Long],
      vecCellsProbed = vecObs.get("cells_probed").asInstanceOf[Long])
    import spark.implicits._
    IndexMaintenance.landBatch(Seq(report).toDS().toDF(), increment,
      s"$root/reports")
    // the day COMMITS last: until the marker lands, as-of readers serve
    // day N−1 from every sink; a crash anywhere above heals by replay
    // (idempotent sinks) and re-lands the same marker
    testFailpointBeforeCommit()
    DayCommit.mark(spark, root, increment)
    report
  }

  /** Per-modality removal counts of one [[forget]] run. */
  case class RetrievalForgetReport(
      postingsRemoved: Long, // postings rows purged from the lexical index
      vectorsRemoved: Long)  // vector rows purged from the IVF store

  /** Right-to-be-forgotten across the retrieval state —
    * [[CurationLoop.forget]]'s decremental twin for the other two
    * modalities, composed from the per-index ops: `docIds` purge the
    * postings (stats sidecar re-derived for touched increments —
    * [[TermIndex.forgetDocs]]) and `vecIds` purge the vector store
    * (frozen centroids/codebook untouched — [[Sim.forgetVectors]]);
    * both rewrite only the partitions that contain a match. Probes
    * served afterwards score as if the ids were never ingested
    * (TermIndexSpec/DedupSimSpec pin the per-index halves; the
    * PipelineSpec loop test pins the composition + replay). Idempotent:
    * a replayed forget finds nothing to remove. */
  def forget(spark: SparkSession, docIds: DataFrame, vecIds: DataFrame,
      root: String): RetrievalForgetReport =
    RetrievalForgetReport(
      postingsRemoved =
        TermIndex.forgetDocs(spark, docIds, s"$root/term_index"),
      vectorsRemoved =
        Sim.forgetVectors(spark, vecIds, s"$root/vec_index"))
}
