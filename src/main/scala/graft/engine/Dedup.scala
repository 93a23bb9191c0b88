package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Document deduplication operators over the `documents` table — the
  * LLM-training-data-pipeline surface (brief north star; beyond-reference,
  * no file:line cites because the reference has no text dedup).
  *
  * Three families, each with the 100 TB shape:
  *  - exact: content-hash groupBy — one shuffle on a 64-hex-char key, the
  *    canonical web-scale dedup pass.
  *  - MinHash/LSH near-dup: shingle → signature → banded buckets →
  *    candidate pairs *within buckets only* → exact-Jaccard verify of
  *    candidates. Never all-pairs: cost is O(docs × bands) + O(candidates),
  *    and candidates are vanishingly rare for dissimilar docs
  *    (P[candidate | j=0.1] ≈ 0.4%).
  *  - SimHash near-dup: 48-bit fingerprint from token hashes, 12-bit-banded
  *    buckets, Hamming-distance verify via bit_count(xor).
  *
  * All hashing is [[TextFns]] deterministic integer arithmetic, so the
  * DuckDB oracle ([[graft.OracleTwins]]) replicates every result exactly.
  */
object Dedup {
  import Tables._

  /** Corpus with planted duplicates: every 7th doc repeated once. Dedup over
    * pristine all-distinct testdata would be vacuous; the union gives the
    * operator real dup groups while staying a pure function of the input. */
  private def corpus(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(documents(spark, dir))
    d.unionAll(d.filter(col("doc_id") % 7 === 0))
  }

  /** Exact dedup: normalize (lowercase, collapse whitespace) → sha2-256 →
    * hash groupBy. Output = the duplicate groups with their canonical
    * (min) doc_id — what a pipeline would keep. */
  def exactDedup(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .select(col("doc_id"),
        sha2(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 256)
          .as("content_hash"))
      .groupBy("content_hash")
      .agg(count(lit(1)).as("n_copies"), min("doc_id").as("canonical_doc_id"))
      .filter(col("n_copies") > 1)
      .orderBy("content_hash")

  /** MinHash + banded-LSH near-duplicate pairs (word-3-gram shingles,
    * NH=12 signature, 4 bands × 3 rows), exact-Jaccard-verified at ≥ 0.8.
    *
    * Plan shape at scale: one map-only pass computes shingle-hash sets and
    * band keys; the self-join shuffles on the band key (bucket join, the LSH
    * point); the verify joins shuffle on doc_id carrying only (id, hash-set).
    * Skew guard: a pathological bucket (all-identical corpus) would
    * concentrate one key — cap or salt the bucket in that regime. */
  def minhashNearDup(spark: SparkSession, dir: String): DataFrame =
    nearDupPairs(spark, dir).orderBy("doc_a", "doc_b")

  /** Banded MinHash signature rows of a document set — one row per
    * (doc_id, sh, band): the unit of both the self-join dedup and the
    * persisted index.
    *
    * Compute the (expensive) shingle-hash set once per doc and carry it
    * through the band join — re-joining the doc table per side would
    * re-evaluate the hashing subtree for every reference. The set is
    * ~shingles×8 bytes per row, cheap to shuffle next to the band key.
    * The signature must be its own projected column: feeding
    * minhashSig(...) straight into bandKeys would splice the whole
    * signature computation into every element_at — BANDS×R evaluations
    * per document (visible as 12 minhash_sig calls in the plan). */
  private def bandRows(docs: DataFrame): DataFrame = {
    val sh = docs
      .select(col("doc_id"), TextFns.shingleHashes(col("text")).as("sh"))
    val sig = sh.select(col("doc_id"), col("sh"),
      TextFns.minhashSig(col("sh")).as("sig"))
    sig.select(col("doc_id"), col("sh"),
      explode(TextFns.bandKeys(col("sig"))).as("band"))
  }

  /** [[minhashNearDup]] without the presentation sort — the composable form
    * the cluster/curation operators build on. */
  private[engine] def nearDupPairs(spark: SparkSession, dir: String): DataFrame =
    nearDupPairsOf(spread(documents(spark, dir)))

  /** Full closure of an explicit corpus DataFrame — the audit-side
    * recompute ([[CurationLoop.auditLabels]]). */
  private[engine] def closureOfDocs(docs: DataFrame): DataFrame =
    connectedComponents(undirected(
      nearDupPairsOf(docs).select(col("doc_a"), col("doc_b"))))

  /** The banded-LSH pair pass over an explicit corpus DataFrame (needs
    * doc_id, text) — the form [[CurationLoop.seed]] bootstraps from. */
  private[engine] def nearDupPairsOf(docs: DataFrame): DataFrame = {
    val bands = bandRows(docs)
    // hint("merge"): a corpus self-join can never broadcast at scale, and
    // under sort-merge both sides are identical band-key shuffles →
    // ReusedExchange evaluates the hashing subtree exactly once (a
    // broadcast plan would compute it per side).
    bands.as("x")
      .join(bands.as("y").hint("merge"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        TextFns.jaccard(col("x.sh"), col("y.sh")).as("jaccard"))
      .distinct() // a pair can collide in several bands; jaccard is a pure function of the pair
      .filter(col("jaccard") >= 0.8)
  }

  /** SimHash geometry: 48-bit fingerprint in 4 bands of 12 bits, Hamming ≤
    * HAM_T. Each bit draws an **independent** affine rehash of the token
    * hash (`(A(b)*h+B(b)) mod P mod 2`) — using raw bits of a mod-P hash
    * would leave bits ≥30 constant, collapsing the upper bands into one
    * all-docs bucket (an O(n²) scale bug caught by band-occupancy checks). */
  val SIMHASH_BITS = 48
  val SIM_BANDS = 4
  val BAND_WIDTH = 12
  val HAM_T = 3

  /** Per-document 48-bit SimHash — one map-only pass via the codegen
    * [[graft.functions.SimHashE]] (tokenize → hash → 48 ±1 counters →
    * sign vector, zero shuffle). [[simhashAgg]] is the declarative
    * explode/groupBy spec twin; DedupSimSpec pins them equal. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    spread(documents(spark, dir))
      .select(col("doc_id"),
        graft.functions.TextHashExprs.simHash(col("text"), SIMHASH_BITS)
          .as("simhash"))

  /** Declarative SimHash: explode tokens (with multiplicity — the
    * weighting), hash each, then one groupBy(doc_id) with 48 narrow
    * conditional sums. Semantically the reference form (and the shape the
    * DuckDB twin replicates); [[simhash]] computes the same counters
    * per-document without the explode/shuffle. */
  private[graft] def simhashAgg(spark: SparkSession, dir: String): DataFrame = {
    val th = spread(documents(spark, dir))
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), TextFns.polyHash(col("tok")).as("h"))
    val sumCols = (0 until SIMHASH_BITS).map(b =>
      sum((((lit(TextFns.A(b)) * col("h") + lit(TextFns.B(b))) % TextFns.P) % 2)
        * 2 - 1).as(s"s$b"))
    th.groupBy("doc_id")
      .agg(sumCols.head, sumCols.tail: _*)
      .select(col("doc_id"),
        (0 until SIMHASH_BITS)
          .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Winnowing geometry (Schleimer/Wilkerson/Aiken, MOSS): character
    * [[WINNOW_K]]-gram rolling hashes, local minimum over every
    * [[WINNOW_W]] consecutive gram hashes. The guarantee: any shared
    * substring of ≥ WINNOW_W + WINNOW_K − 1 characters contributes at
    * least one shared fingerprint, while the selected set is ~2/(W+1) of
    * the gram stream — a position-robust channel that catches partial
    * overlap (shared paragraphs) MinHash's whole-document Jaccard dilutes
    * away and [[exactDedup]]'s whole-document hash misses entirely. */
  val WINNOW_K = 8
  val WINNOW_W = 6

  /** A fingerprint present in more than this many documents is corpus
    * boilerplate (shared headers/licenses), not evidence of copying —
    * dropped before pairing, which also BOUNDS the per-fingerprint bucket
    * join at df² ≤ 2500 candidate pairs (the same cap device as the LSH
    * band join's bucket bound). */
  val WINNOW_DF_CAP = 50

  /** Report a pair when the shared fingerprints cover at least half of
    * the smaller document's fingerprint set. */
  val WINNOW_T = 0.5

  /** Per-document winnowing fingerprint set, exploded with the set size
    * carried on every row (the [[bandRows]] device — no separate sizes
    * join later). The fingerprint selection is one codegen'd expression
    * ([[TextFns.winnowHashes]]: O(n) monotonic-deque sliding minima —
    * the declarative transform/slice form allocated one W-slice per
    * character and cost 19s at sf0.1; the kernel runs it in 0.6s) — a
    * map-only pass with zero explode/Window shuffle; at 100 TB the
    * fingerprint stream (≈ 2/(W+1) of grams before dedup) is all that
    * ever leaves the scan stage. */
  private[graft] def winnowRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextFns.winnowHashes(col("text"), WINNOW_K, WINNOW_W).as("fps"))
      .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
        explode(col("fps")).as("f"))

  /** q170: winnowing-fingerprint near-duplicate pairs — the local-overlap
    * dedup channel next to [[minhashNearDup]] (global Jaccard) and
    * [[containmentDedup]] (prefix/truncation).
    *
    * Plan shape at scale: one map-only fingerprint pass; one shuffle on
    * the fingerprint for the df gate (partial agg combines map-side — the
    * per-doc sets are distinct, so count(*) IS document frequency); the
    * kept-fingerprint stream self-joins per fingerprint bucket (bounded
    * by [[WINNOW_DF_CAP]]² per key, never all-pairs) under the same
    * merge-hint/ReusedExchange discipline as [[nearDupPairsOf]]; one
    * final shuffle on the pair for the shared count. The overlap
    * denominator rides the rows (n_fp), so no doc-table re-join. */
  def winnowNearDup(spark: SparkSession, dir: String): DataFrame =
    winnowPairsOf(spread(documents(spark, dir))).orderBy("doc_a", "doc_b")

  /** The winnowing pair pass over an explicit corpus DataFrame (needs
    * doc_id, text) — the composable/testable form; DedupSimSpec drives it
    * with planted substring overlaps to pin the winnowing guarantee. */
  private[graft] def winnowPairsOf(docs: DataFrame): DataFrame = {
    val fp = winnowRows(docs)
    val df = fp.groupBy("f")
      .agg(count(lit(1)).as("fdf"))
      .filter(col("fdf") >= 2 && col("fdf") <= WINNOW_DF_CAP)
      .select("f")
    val kept = fp.join(df, Seq("f"))
    kept.as("x")
      .join(kept.as("y").hint("merge"),
        col("x.f") === col("y.f") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        first(col("x.n_fp")).as("n_fp_a"), first(col("y.n_fp")).as("n_fp_b"))
      .withColumn("overlap", Num.round6(col("n_shared").cast("double") /
        least(col("n_fp_a"), col("n_fp_b")).cast("double")))
      .filter(col("overlap") >= WINNOW_T)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_fp_a"), col("n_fp_b"), col("overlap"))
  }

  /** Connected components over an undirected edge list (`src`, `dst` — one
    * row per direction): min-label propagation with pointer doubling. Each
    * round a node adopts the smallest label among itself and its neighbours
    * (one shuffle-join on `dst` + one groupBy), then labels are compressed
    * one hop (`label := label(label)` — every label value is itself a node
    * id, so a self-join resolves it). The compression halves remaining path
    * lengths, so rounds = O(log diameter) instead of O(diameter) — a chain
    * of 10^6 near-dups converges in ~20 rounds, not 10^6. `localCheckpoint`
    * severs per-round lineage so the plan doesn't grow with iterations.
    *
    * Returns (`id`, `label`) with `label` = min node id of the component.
    * Throws if maxIters rounds don't reach the fixpoint — a truncated CC is
    * a silently-wrong dedup, never return one. */
  def connectedComponents(edges: DataFrame, maxIters: Int = 50): DataFrame = {
    // Cache the edge list already hash-partitioned on the per-round join key:
    // every iteration's join against `labels` then satisfies its distribution
    // requirement from the cache (no re-shuffle of the — at scale, huge —
    // edge side per round; only the small label table moves).
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("dst")).persist()
    var labels = e.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < maxIters) {
      // Per-node min neighbour label, keyed by the node it updates.
      val nmin = e.join(labels, e("dst") === labels("id"))
        .groupBy(e("src").as("nid")).agg(min("label").as("nlabel"))
      // Carry the round's starting label ("old") through the whole round:
      // change detection then reads the checkpointed result directly — no
      // extra next⟗labels join (two shuffles per round) just to diff.
      val stepped = labels
        .join(nmin, col("id") === col("nid"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"))
      // Pointer-doubling hop; disjoint column names dodge self-join
      // attribute dedup pitfalls.
      val hop = stepped.select(col("id").as("cid"), col("label").as("clabel"))
      // convergence count rides the checkpoint job via observe() — the
      // round's change detection costs zero extra jobs (previously one
      // filter().count() job per round)
      val obs = new org.apache.spark.sql.Observation(s"cc_changed_$iters")
      val next = stepped
        .join(hop, col("label") === col("cid"), "left")
        .select(col("id"), col("old"),
          coalesce(col("clabel"), col("label")).as("label"))
        .observe(obs, sum(when(col("label") =!= col("old"), 1L)
          .otherwise(0L)).as("changed"))
        .localCheckpoint()
      changed = obs.get("changed").asInstanceOf[Long]
      labels = next.select(col("id"), col("label"))
      iters += 1
    }
    e.unpersist()
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds")
    labels
  }

  // ------------------------------ incremental cluster labels (lifecycle)

  /** Id-bucket fanout of the persisted label table. Partitioning keys on
    * the IMMUTABLE id (never the label): a relabel changes `label`, so
    * label-keyed partitions would have rows MIGRATE between partitions
    * on every merge — and a dynamic-overwrite rewrite of a partition all
    * of whose rows left would silently leave the stale copy behind.
    * Id-keyed partitions never lose rows, so a touched partition is
    * always rewritten in place. */
  val LABEL_BUCKETS = 64

  private def labelBucket(idCol: Column): Column =
    pmod(idCol, lit(LABEL_BUCKETS.toLong)).cast("int")

  /** Build-once half of the CLUSTER lifecycle: full
    * [[connectedComponents]] over `pairs`, persisted at `labelDir`
    * partitioned by [[LABEL_BUCKETS]] id-buckets (so
    * [[mergeClusterIncrement]] rewrites only touched buckets) and
    * label-sorted within files (so row-group min/max stats prune
    * label-keyed probe scans). */
  def buildClusterLabels(pairs: DataFrame, labelDir: String): Unit =
    connectedComponents(undirected(pairs))
      .withColumn("lb", labelBucket(col("id")))
      .repartition(col("lb")).sortWithinPartitions("label")
      .write.partitionBy("lb").mode("overwrite").parquet(labelDir)

  /** The persisted label table as its consumers read it: (id, label).
    * A missing or file-less dir reads as the EMPTY table (a corpus with
    * zero near-dups writes no parquet files — an empty partitioned
    * write lands only `_SUCCESS` — and an all-singleton label state is
    * a legitimate bootstrap state, not an error). */
  def readClusterLabels(spark: SparkSession, labelDir: String): DataFrame =
    labelsOrEmpty(spark, labelDir).select(col("id"), col("label"))

  /** The label table AS OF a day commit: when `undoDir` holds the
    * pre-merge copies of an UNCOMMITTED day's touched buckets
    * ([[mergeClusterIncrement]]'s undo form), those copies override the
    * live buckets — an external reader in the crash window between the
    * merge and the day marker sees the last COMMITTED label state, not
    * a torn one. No undo dir (the steady state) reads the live table
    * directly; the plan stays partition-pruned either way (live buckets
    * minus the ≤[[LABEL_BUCKETS]] touched set, plus the bounded undo
    * copies). */
  def readClusterLabelsAsOf(spark: SparkSession, labelDir: String,
      undoDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(undoDir)
    val fs = IndexMaintenance.fileSystem(spark, p)
    if (!fs.exists(p)) return readClusterLabels(spark, labelDir)
    def names(sub: String): Seq[String] = {
      val d = new org.apache.hadoop.fs.Path(s"$undoDir/$sub")
      if (fs.exists(d)) fs.listStatus(d).map(_.getPath.getName).toSeq
      else Nil
    }
    val touched =
      names("data").filter(_.startsWith("lb="))
        .map(_.stripPrefix("lb=").toInt) ++
      names("absent").filter(_.startsWith("lb_"))
        .map(_.stripPrefix("lb_").toInt)
    val live = labelsOrEmpty(spark, labelDir)
      .filter(!col("lb").cast("int").isin(touched: _*))
      .select(col("id"), col("label"))
    if (IndexMaintenance.parquetFileCount(spark, s"$undoDir/data") == 0L) live
    else live.unionByName(
      spark.read.parquet(s"$undoDir/data").select(col("id"), col("label")))
  }

  private def labelsOrEmpty(spark: SparkSession, labelDir: String): DataFrame =
    if (IndexMaintenance.holdsParquet(spark, labelDir))
      spark.read.parquet(labelDir)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("label",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lb",
            org.apache.spark.sql.types.IntegerType))))

  private def undirected(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))

  /** Merge an increment's near-dup pairs into the persisted labels
    * WITHOUT re-clustering the corpus — the missing piece between the
    * incremental pair stream ([[dedupIncrement]]) and the cluster-level
    * decisions (keep-lists, cluster-aware splits): daily increments kept
    * re-running the full transitive closure; this folds them in at a
    * cost bounded by the INCREMENT, not the corpus.
    *
    * The device is graph contraction: each new edge's endpoints map to
    * their current component roots (themselves if unlabeled), giving a
    * component-level graph whose size is bounded by the increment's edge
    * count; [[connectedComponents]] runs on THAT. Fresh ids enter with
    * their merged root. Because every old root is already the min of its
    * component, min-over-roots = min-over-members, so the merged labels
    * are EXACTLY the full recompute's (spec-pinned across
    * multi-increment merges against [[clusterLabels]]).
    *
    * Cost, honestly itemized: LOCATING work costs a handful of narrow
    * columnar passes over the table (root resolution for each endpoint
    * column, fresh-id detection, and the touched-bucket locate —
    * id/label columns only, the label-keyed ones row-group-prunable via
    * the label-sorted layout); the REWRITE — the
    * expensive half, and the whole table before this layout — is
    * partition-pruned to the touched id-buckets and lands via dynamic
    * partition overwrite, so bytes written track the touched components
    * plus the increment, never the corpus. Untouched buckets are neither
    * read in full nor rewritten. The touched-bucket set (≤
    * [[LABEL_BUCKETS]] values) is the one driver-side collect — the
    * bounded control decision that drives partition pruning, the
    * [[Sim.maintainIvfIndex]] discipline. Atomicity is the increment
    * appends': per-partition replace at job commit (the old
    * staging-swap device rewrote — and double-stored — the whole table
    * to get whole-table atomicity the consumers don't need). */
  def mergeClusterIncrement(spark: SparkSession, labelDir: String,
      newPairs: DataFrame): Unit =
    mergeClusterIncrement(spark, labelDir, newPairs, None)

  /** [[mergeClusterIncrement]] with an UNDO copy for the day-commit
    * manifest ([[CurationLoop.runDay]]): before the touched buckets are
    * overwritten, their CURRENT contents are copied to `undoDir` (a
    * bucket born by this merge is recorded with a hidden
    * `_absent_lb=<b>` marker instead). [[readClusterLabelsAsOf]] can
    * then serve the PRE-merge label state to a reader that arrives
    * between this merge and the day's commit marker — the crash window
    * in which the composition would otherwise be torn. Cost is bounded
    * by the merge's own touched-bucket set, never the label table.
    * Crash-safe: copies are create-once (`exists` guard), so a replay
    * after a mid-write crash preserves the FIRST attempt's pre-state —
    * and a bucket the first attempt never wrote still holds its
    * pre-state, so copying it on the retry is equally correct. */
  private[graft] def mergeClusterIncrement(spark: SparkSession,
      labelDir: String, newPairs: DataFrame,
      undoDir: Option[String]): Unit = {
    // empty-table bootstrap is legal: merging into no labels = the
    // increment's own closure, all ids fresh ([[labelsOrEmpty]])
    val l = labelsOrEmpty(spark, labelDir)
    val contracted = newPairs.select("doc_a", "doc_b")
      .join(l.select(col("id").as("doc_a"), col("label").as("ra")),
        Seq("doc_a"), "left")
      .join(l.select(col("id").as("doc_b"), col("label").as("rb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ra"), col("doc_a")).as("doc_a"),
        coalesce(col("rb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    // maintenance-path control decision (the maintainIvfIndex
    // discipline): one bounded action on the increment-sized set decides
    // whether any write happens at all
    if (contracted.isEmpty) return // all edges internal to existing clusters
    val rootMap = connectedComponents(undirected(contracted))
      .select(col("id").as("old_root"), col("label").as("new_root"))
      .localCheckpoint()
    val ids = newPairs.select(col("doc_a").as("id"))
      .unionAll(newPairs.select(col("doc_b").as("id"))).distinct()
    val fresh = ids.join(l.select("id"), Seq("id"), "left_anti")
      .join(rootMap, col("id") === col("old_root"), "left")
      .select(col("id"), coalesce(col("new_root"), col("id")).as("label"))
      .localCheckpoint() // feeds both the bucket locate and the write
    // the touched id-buckets: those holding a row whose label merges,
    // plus the fresh ids' own buckets — ≤ LABEL_BUCKETS values
    val touched = l.join(broadcast(rootMap), col("label") === col("old_root"))
      .select(col("lb").cast("int").as("lb"))
      .unionByName(fresh.select(labelBucket(col("id")).as("lb")))
      .distinct().collect().map(_.getInt(0)).toSeq
    undoDir.foreach { u =>
      val conf = spark.sessionState.newHadoopConf()
      val fs = new org.apache.hadoop.fs.Path(u).getFileSystem(conf)
      // parquet copies under data/, absence markers under absent/ — the
      // marker files must never sit in a dir a parquet reader lists
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$u/data"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$u/absent"))
      touched.foreach { b =>
        val src = new org.apache.hadoop.fs.Path(s"$labelDir/lb=$b")
        if (fs.exists(src)) {
          val dst = new org.apache.hadoop.fs.Path(s"$u/data/lb=$b")
          if (!fs.exists(dst) &&
              !org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
                false, conf))
            throw new IllegalStateException(s"undo copy $src -> $dst failed")
        } else {
          fs.create(new org.apache.hadoop.fs.Path(s"$u/absent/lb_$b"), true)
            .close()
        }
      }
    }
    val part = l.filter(col("lb").isin(touched: _*))
    val updated = part
      .join(broadcast(rootMap), col("label") === col("old_root"), "left")
      .select(col("id"), coalesce(col("new_root"), col("label")).as("label"))
    // localCheckpoint severs the read-from-the-write-target lineage
    // (bounded: touched buckets only) — the rewrite below must never
    // re-scan labelDir files mid-replacement ([[forgetClusterMembers]]
    // and the purge rewrites follow the same discipline)
    IndexMaintenance.replacePartitions(updated.unionByName(fresh)
      .withColumn("lb", labelBucket(col("id")))
      .localCheckpoint()
      .repartition(col("lb")).sortWithinPartitions("label"), labelDir, "lb")
  }

  /** DECREMENTAL cluster maintenance — deletion's twin of
    * [[mergeClusterIncrement]]: remove `ids` from the persisted labels
    * and restore the closure invariant for the clusters they leave.
    * Deleting a member can do more than shrink a cluster: it can
    * remove the BRIDGE holding a component together (the surviving
    * members split) and it can remove the CANONICAL (the min id the
    * cluster is labeled by). Both need connectivity re-derived — but
    * only within the affected clusters: docs outside them share no
    * pair with any member (that is what a connected component is), so
    * the rebuild is bounded by the affected components, never the
    * corpus. Surviving members' pairs are recomputed from their TEXTS
    * (`remainingDocs`, the post-deletion corpus — a broadcast-semi-
    * joined, affected-members-only slice) through the same banded pass
    * the labels were built from; members left with no surviving pair
    * drop their label row (the [[clusterLabels]] ≥1-pair semantics).
    *
    * The rewrite touches only the affected members' id-buckets, and a
    * bucket emptied entirely is deleted
    * ([[IndexMaintenance.rewritePartitions]], the purge's rewrite step).
    * Returns the number of affected clusters rebuilt. */
  def forgetClusterMembers(spark: SparkSession, labelDir: String,
      ids: DataFrame, remainingDocs: DataFrame): Long = {
    val l = labelsOrEmpty(spark, labelDir)
    // ≤ one label per deleted id, but a large forget batch would make an
    // isin(...) literal list driver-sized — the locate is a broadcast
    // semi-join on the affected-label set instead (never collected)
    val affected = l
      .join(broadcast(ids.select(col("doc_id").as("id"))), Seq("id"),
        "left_semi")
      .select(col("label")).distinct().localCheckpoint()
    val nAffected = affected.count()
    if (nAffected == 0L) return 0L
    val members = l
      .join(broadcast(affected), Seq("label"), "left_semi")
      .select(col("id")).localCheckpoint()
    val survivors = members
      .join(broadcast(ids.select(col("doc_id").as("id"))), Seq("id"),
        "left_anti")
    val memberDocs = remainingDocs
      .join(broadcast(survivors.select(col("id").as("doc_id"))),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
    val rebuilt = connectedComponents(
      undirected(nearDupPairsOf(memberDocs).select("doc_a", "doc_b")))
      .localCheckpoint()
    val touched = members.select(labelBucket(col("id")).as("lb"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val part = l.filter(col("lb").isin(touched: _*))
    val out = part
      .join(broadcast(members.withColumnRenamed("id", "mid")),
        col("id") === col("mid"), "left_anti")
      .select(col("id"), col("label"))
      .unionByName(rebuilt.select(col("id"), col("label")))
      .withColumn("lb", labelBucket(col("id")))
      .localCheckpoint() // feeds the write AND the emptied-bucket diff
    IndexMaintenance.rewritePartitions(out, labelDir, Seq("lb"),
      touched.map(Seq(_)),
      _.repartition(col("lb")).sortWithinPartitions("label"))
    nAffected
  }

  /** Deterministic deletion rule of the q158/q159 decremental
    * demonstrations: every FORGET_MOD-th doc is deleted. Coprime to the
    * other demonstration moduli so the splits compose. */
  val FORGET_MOD = 13L

  /** q158: the decremental closure end-to-end — snapshot the maintained
    * label store (whose content is spec-pinned ≡ the full-pair-graph
    * closure) into a private mutable copy, [[forgetClusterMembers]]
    * every [[FORGET_MOD]]-th document (hitting canonicals AND bridges
    * wherever the data has them), serve the surviving clusters with
    * sizes ([[dupClusters]]' shape). Seeding by snapshot rather than
    * rebuild is the deployment shape: a forget mutates the maintained
    * table (here a copy, so the shared store stays read-only for its
    * concurrent consumers) — it never re-derives it. The oracle
    * recomputes the recursive transitive closure over pairs with BOTH
    * endpoints surviving — a forget that failed to split a bridged
    * cluster, kept a deleted canonical's label, or dropped a survivor
    * hash-mismatches. */
  def forgetClustersProbe(spark: SparkSession, dir: String): DataFrame = {
    val labelDir = IndexMaintenance.scratchIndexDir(spark, "labels-forget")
    IndexMaintenance.cloneDir(spark, lifecycleLabels(spark, dir), labelDir)
    val d = spread(documents(spark, dir)).select(col("doc_id"), col("text"))
    forgetClusterMembers(spark, labelDir,
      d.filter(col("doc_id") % FORGET_MOD === 0).select(col("doc_id")),
      d.filter(col("doc_id") % FORGET_MOD =!= 0))
    val labels = readClusterLabels(spark, labelDir)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Near-dup cluster labels: verified MinHash pairs → undirected edges →
    * [[connectedComponents]]. Only docs that participate in at least one
    * near-dup pair appear (singletons are implicitly their own cluster). */
  private[engine] def clusterLabels(spark: SparkSession, dir: String): DataFrame = {
    val pairs = nearDupPairs(spark, dir).select(col("doc_a"), col("doc_b"))
    connectedComponents(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .unionAll(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst"))))
  }

  /** Duplicate clusters — the step *after* pairwise LSH in a dedup pipeline:
    * pairs alone can't pick a canonical doc when A~B and B~C but A≁C; the
    * transitive closure can. Output: per-doc cluster membership with the
    * canonical (min) doc_id as the cluster id plus the cluster size. */
  def dupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = clusterLabels(spark, dir)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** q163: QUALITY-ranked canonical selection — which member of each
    * near-dup cluster to keep. The min-id rule ([[dupClusters]],
    * [[dedupKeepList]]) is deterministic but content-blind: when a
    * cluster holds a full document and its truncation, min-id can keep
    * the fragment. This picks the member with the most tokens (ties →
    * min doc_id, so the rule stays total and replayable), the policy a
    * production dedup actually ships. Served from the maintained label
    * store; token counts join in from the corpus (the one
    * corpus-proportional input), and the per-cluster argmax is a
    * shuffle keyed on the cluster label over CLUSTERED docs only —
    * bounded by the label table, not the corpus. Output: one row per
    * cluster with both rules' choices, so the ledger shows exactly
    * where quality ranking disagrees with min-id. */
  def qualityCanonicals(spark: SparkSession, dir: String): DataFrame = {
    val labels = readClusterLabels(spark, lifecycleLabels(spark, dir))
      .select(col("id").as("doc_id"), col("label"))
    val toks = spread(documents(spark, dir)).select(col("doc_id"),
      size(graft.functions.TextFns.tokens(col("text"))).cast("long")
        .as("n_tokens"))
    labels.join(toks, "doc_id")
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max_by(col("doc_id"),
          struct(col("n_tokens"), (-col("doc_id")).as("nid")))
          .as("canonical_id"),
        max("n_tokens").as("canonical_tokens"),
        min("doc_id").as("min_id_canonical"))
      .orderBy("cluster_id")
  }

  /** Dedup keep-list — the curation DECISION the cluster analysis feeds:
    * every document either survives dedup (unclustered, or it IS its
    * cluster's canonical = min doc_id) or is dropped in favor of its
    * canonical. Output: per-language accounting (docs seen / kept /
    * dropped / kept ratio) — the audit line a 100 TB curation run logs
    * per shard before materializing the kept corpus.
    *
    * Scale shape: the label table is bounded by clustered docs (near-dup
    * participants only — typically a small corpus fraction), joined to a
    * two-column projection of the corpus on doc_id; the keep predicate
    * is one null/equality check, and the audit is a lang-keyed aggregate
    * with map-side combine. The kept corpus itself would be the same
    * join with a filter instead of the aggregate — identical plan shape. */
  def dedupKeepList(spark: SparkSession, dir: String): DataFrame =
    keepListOf(spark, dir, clusterLabels(spark, dir))

  /** The STEADY-STATE keep-list: served from the maintained label table
    * ([[buildClusterLabels]] + [[mergeClusterIncrement]], kept current by
    * [[graft.streaming.DedupStream]]'s labelDir hook) instead of
    * recomputing the corpus pair graph + transitive closure in-plan —
    * the daily path of a 100 TB pipeline, with [[dedupKeepList]]'s full
    * recompute demoted to the audit run. One bounded label join, no LSH
    * self-join, no CC rounds (the full recompute was the 193 s sf10 line
    * in SCALE_r08.md; this is the closure cost gone — LifecycleBench).
    * Output contract is [[dedupKeepList]]'s exactly, spec-pinned
    * row-for-row after streamed increments, and oracle-gated end-to-end
    * as q153. */
  def dedupKeepListFrom(spark: SparkSession, dir: String,
      labelDir: String): DataFrame =
    keepListOf(spark, dir, readClusterLabels(spark, labelDir))

  private def keepListOf(spark: SparkSession, dir: String,
      labels: DataFrame): DataFrame =
    keepListOfLabels(
      spread(documents(spark, dir)).select(col("doc_id"), col("lang")),
      labels)

  /** [[dedupKeepListFrom]]'s core over an explicit corpus DataFrame —
    * the form the day loop ([[CurationLoop]]) feeds directly. */
  private[engine] def keepListOfLabels(docs: DataFrame,
      labels: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"))
    d.join(labels.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("lang"),
        (col("label").isNull || col("label") === col("doc_id")).as("keep"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"))
      .withColumn("kept_ratio", Num.round6(
        col("n_kept").cast("double") / col("n_docs").cast("double")))
      .orderBy("lang")
  }

  /** The kept corpus itself under maintained labels — the
    * materializable twin of the keep-list accounting: same keep
    * predicate (unclustered, or the cluster's canonical = min doc_id),
    * document payload intact. The input to the day loop's shard
    * refresh. */
  private[engine] def keptDocsFrom(docs: DataFrame,
      labels: DataFrame): DataFrame =
    docs.join(labels.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .filter(col("label").isNull || col("label") === col("doc_id"))
      .drop("label")

  /** q164: the quality-ranked KEEP-LIST — [[dedupKeepList]]'s decision
    * under [[qualityCanonicals]]' policy (keep the max-token member,
    * ties to min id) instead of min-id, served from the maintained
    * label table. Output per language: docs seen / kept, the tokens the
    * quality rule keeps, the tokens the min-id rule would have kept,
    * and their difference — the "quality dividend": training tokens a
    * content-blind canonical forfeits by keeping a truncation over its
    * full document. Negative per-language rows are real (the quality
    * canonical can sit in a different language than the min-id one);
    * the global sum is ≥ 0 by construction of the argmax.
    *
    * Scale shape: one corpus pass for (doc_id, lang, n_tokens); the
    * label join is bounded by near-dup participants; the per-cluster
    * argmax shuffles CLUSTERED docs only and its (label → canonical)
    * result broadcasts back (bounded by the cluster count, same class
    * as [[softDedupWeights]]' size table); the audit is a lang-keyed
    * aggregate with map-side combine. */
  def qualityKeepList(spark: SparkSession, dir: String): DataFrame = {
    val labels = readClusterLabels(spark, lifecycleLabels(spark, dir))
      .select(col("id").as("doc_id"), col("label"))
    val docs = spread(documents(spark, dir))
      .select(col("doc_id"), col("lang"),
        size(graft.functions.TextFns.tokens(col("text"))).cast("long")
          .as("n_tokens"))
      .join(labels, Seq("doc_id"), "left")
    val canon = docs.filter(col("label").isNotNull)
      .groupBy("label")
      .agg(max_by(col("doc_id"),
        struct(col("n_tokens"), (-col("doc_id")).as("nid"))).as("q_canon"))
    docs.join(broadcast(canon), Seq("label"), "left")
      .withColumn("keep",
        col("label").isNull || col("doc_id") === col("q_canon"))
      .withColumn("minid_keep",
        col("label").isNull || col("doc_id") === col("label"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L))
          .as("kept_tokens"),
        sum(when(col("minid_keep"), col("n_tokens")).otherwise(0L))
          .as("minid_kept_tokens"))
      .withColumn("token_dividend",
        col("kept_tokens") - col("minid_kept_tokens"))
      .orderBy("lang")
  }

  /** q160: SOFT dedup — the keep-everything alternative to the
    * keep-list: every document stays in the corpus but carries training
    * weight 1/|its near-dup cluster| (unclustered docs weigh 1), so a
    * family of N near-copies contributes one document's worth of
    * gradient instead of N — the standard middle ground when hard
    * dropping is too aggressive (e.g. templated-but-distinct pages).
    * Output is the per-language audit: docs, clustered docs, exact
    * weight mass (ppm integer division — deterministic under any
    * partitioning), and the largest cluster. Pairs with
    * [[dedupKeepList]]: weight mass ≈ kept-doc count when clusters are
    * exact copies; the gap between them is the "softness" budget.
    *
    * Scale shape: the label table is bounded by near-dup participants;
    * sizes are a bounded aggregate broadcast back; the corpus sees one
    * map pass + a lang-keyed aggregate with map-side combine. The
    * lifecycle-served form substitutes [[readClusterLabels]] like every
    * other cluster consumer. */
  def softDedupWeights(spark: SparkSession, dir: String): DataFrame =
    softWeightsOf(spark, dir, clusterLabels(spark, dir))

  /** q161: [[softDedupWeights]] SERVED from the maintained label table
    * — the last closure consumer gets its lifecycle form (every
    * cluster-consuming decision now has one: keep-list, split,
    * curation, clusters, weights). q160's oracle. */
  def lifecycleSoftWeights(spark: SparkSession, dir: String): DataFrame =
    softWeightsOf(spark, dir,
      readClusterLabels(spark, lifecycleLabels(spark, dir)))

  private def softWeightsOf(spark: SparkSession, dir: String,
      rawLabels: DataFrame): DataFrame = {
    val labels = rawLabels.select(col("id").as("doc_id"), col("label"))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("csize"))
    spread(documents(spark, dir)).select(col("doc_id"), col("lang"))
      .join(labels, Seq("doc_id"), "left")
      .join(broadcast(sizes), Seq("label"), "left")
      .select(col("lang"), coalesce(col("csize"), lit(1L)).as("csize"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1, 1L).otherwise(0L)).as("n_clustered"),
        sum(expr("1000000L div csize")).as("weight_mass_ppm"),
        max("csize").as("max_cluster_size"))
      .orderBy("lang")
  }

  /** N-gram decontamination geometry: 13-gram overlap (the GPT-3-lineage
    * standard), heldout = every 17th doc, excerpt plants of 20 tokens. */
  val DECON_K = 13
  val DECON_HOLD_MOD = 17L
  val DECON_EXCERPT_TOKENS = 20

  /** q145: n-gram-level benchmark decontamination — the industry-standard
    * leakage check [[decontamination]] (exact whole-doc hashes, q67)
    * cannot do: a training document is contaminated if it shares ANY
    * 13-token span with the held-out set, catching quoted excerpts and
    * partial copies that never hash-match whole. Planted excerpt docs
    * (the first 20 tokens of selected held-out docs) guarantee the
    * nonzero case at every SF; the count of their shared grams is exact
    * (an L-token excerpt of a long doc shares L−12 grams).
    *
    * Scale shape: the held-out side reduces to a DISTINCT gram-hash set
    * — in production that side is a bounded benchmark suite and would
    * broadcast; here it is a corpus fraction, so the join is left
    * unhinted and AQE picks (the [[graft.plans.BroadcastGuard]]
    * discipline: never hint a data-proportional side). Train grams are
    * per-doc distinct hash sets (codegen [[TextFns.shingleHashes]]);
    * only (doc_id, gram-hash) longs ever shuffle. */
  def ngramDecontamination(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("text"))
    val heldout = d.filter(col("doc_id") % DECON_HOLD_MOD === 0)
    val excerpts = heldout.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 40000000L).as("doc_id"), col("lang"),
        concat_ws(" ", slice(TextFns.tokens(col("text")), 1,
          DECON_EXCERPT_TOKENS)).as("text"))
    val train = d.filter(col("doc_id") % DECON_HOLD_MOD =!= 0)
      .unionByName(excerpts)
    val hg = heldout
      .select(explode(TextFns.shingleHashes(col("text"), DECON_K)).as("g"))
      .distinct()
    val tg = train.select(col("doc_id"),
      explode(TextFns.shingleHashes(col("text"), DECON_K)).as("g"))
    val shared = tg.join(hg, "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    train.select(col("doc_id"), col("lang"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("lang"), coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_train_docs"),
        sum(when(col("n_shared") > 0, 1L).otherwise(0L)).as("n_contaminated"),
        sum("n_shared").as("shared_gram_instances"),
        max("n_shared").as("max_shared_grams"))
      .orderBy("lang")
  }

  /** q150: source-pair duplication matrix — WHERE the duplication comes
    * from: every verified near-dup pair mapped to its (source, source)
    * cell with exact Jaccard mass. The triage view a curation team reads
    * before picking dedup order: a hot diagonal cell is a self-duplicating
    * feed (dedup within the source, cheap), a hot off-diagonal cell is
    * two feeds mirroring each other (dedup across them, and maybe drop
    * one upstream). Source pairs are canonicalized (least, greatest) so
    * the matrix is upper-triangular.
    *
    * Scale shape: rides [[nearDupPairs]] (banded LSH — never all-pairs);
    * the two source lookups join a two-column corpus projection on
    * doc_id; the matrix aggregate is |sources|² bounded. Jaccard mass
    * sums in fixed-point (floor ×10⁶ before aggregation) so the total is
    * exact under any partitioning. */
  def sourcePairDups(spark: SparkSession, dir: String): DataFrame = {
    val src = documents(spark, dir).select(col("doc_id"), col("source"))
    nearDupPairs(spark, dir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        floor(col("jaccard") * 1000000).cast("long").as("jfp"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"), sum("jfp").as("jaccard_mass_fp6"))
      .orderBy("source_a", "source_b")
  }

  /** Test share of [[clusterAwareSplit]]: rep-hash % 10 == 0 → "test". */
  val SPLIT_MOD = 10L

  /** q142: cluster-aware train/test split — the leakage-proof form of the
    * hash split: every document is assigned by its near-dup CLUSTER's
    * canonical id (its own id if unclustered), so two near-duplicates can
    * never straddle train/test. This closes the gap [[decontamination]]
    * measures (exact-dup leakage under naive id-splits) for NEAR
    * duplicates too — a paraphrased test doc in training defeats the
    * held-out set just as surely as a verbatim copy, and content-hash
    * splits ([[graft.engine.TextOps.stratifiedSplit]]) only fix the
    * verbatim case.
    *
    * The leakage audit (clusters straddling splits) is COMPUTED, not
    * assumed — the oracle recomputes it over the recursive transitive
    * closure, so both engines must independently arrive at zero.
    *
    * Scale shape: the label table is bounded by near-dup participants;
    * the split is one hash of the rep id (map-side after a broadcast-or-
    * shuffled left join on doc_id); the audit shuffles only (rep, split)
    * with map-side combine. */
  def clusterAwareSplit(spark: SparkSession, dir: String): DataFrame =
    splitOf(spark, dir, clusterLabels(spark, dir))

  /** The STEADY-STATE cluster-aware split, served from the maintained
    * label table like [[dedupKeepListFrom]] — identical output contract
    * to [[clusterAwareSplit]] (oracle-gated as q154), none of the
    * in-plan pair-graph + closure cost (299 s at sf10 in SCALE_r08.md). */
  def clusterAwareSplitFrom(spark: SparkSession, dir: String,
      labelDir: String): DataFrame =
    splitOf(spark, dir, readClusterLabels(spark, labelDir))

  private def splitOf(spark: SparkSession, dir: String,
      labels: DataFrame): DataFrame = {
    val d = spread(documents(spark, dir)).select(col("doc_id"), col("lang"))
    val assigned = d.join(
        labels.select(col("id").as("doc_id"), col("label")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("label"), col("doc_id")).as("rep"))
      .withColumn("split",
        when(TextFns.polyHash(col("rep").cast("string")) % SPLIT_MOD === 0,
          "test").otherwise("train"))
    val straddle = assigned
      .groupBy("rep").agg(countDistinct("split").as("n_splits"))
      .agg(sum(when(col("n_splits") > 1, 1L).otherwise(0L))
        .as("n_straddling_clusters"))
    assigned.groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), countDistinct("rep").as("n_clusters"))
      .crossJoin(broadcast(straddle))
      .orderBy("split", "lang")
  }

  /** Train/test decontamination — the leakage audit every LLM data
    * pipeline runs before training: count training documents whose exact
    * (normalized) content also appears in the held-out split. The corpus
    * here is deliberately split the *naive* way (by doc id, after re-iding
    * the planted duplicates) so the leak is nonzero — demonstrating
    * precisely why [[graft.engine.TextOps.stratifiedSplit]] keys on the
    * content hash instead, which makes this count zero by construction.
    *
    * Scale shape: one map pass hashes the corpus; the held-out hash set is
    * distinct-reduced and then left-semi joins the training side — only
    * the 64-hex key ever shuffles, and the semi join materializes no
    * payload. */
  def decontamination(spark: SparkSession, dir: String): DataFrame = {
    val base = spread(documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("text"))
    // planted cross-split leak: every 7th doc re-appears under a new id
    val corpus = base.unionAll(
      base.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 100001))
    val hashed = corpus.select(col("doc_id"), col("lang"),
      sha2(regexp_replace(lower(trim(col("text"))), "\\s+", " "), 256)
        .as("content_hash"),
      when(col("doc_id") % 10 === 9, "heldout").otherwise("train").as("split"))
    val heldoutHashes = hashed.filter(col("split") === "heldout")
      .select(col("content_hash")).distinct()
    val train = hashed.filter(col("split") === "train")
    train
      .join(heldoutHashes, Seq("content_hash"), "left_semi")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_contaminated"),
        min("doc_id").as("min_contaminated_id"))
      .orderBy("lang")
  }

  /** SimHash near-dup pairs: 12-bit band buckets → candidates within
    * buckets → Hamming verify (bit_count of xor). Same banded-LSH scale
    * shape as [[minhashNearDup]]. */
  def simhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val sim = simhash(spark, dir)
    val bands = sim.select(col("doc_id"), col("simhash"),
      explode(array((0 until SIM_BANDS).map(b =>
        concat(lit(s"$b:"),
          (shiftright(col("simhash"), BAND_WIDTH * b) % (1 << BAND_WIDTH)))): _*))
        .as("band"))
    bands.as("x")
      .join(bands.as("y").hint("merge"), // see nearDupPairs: self-join ⇒ merge + ReusedExchange
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= HAM_T)
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------ incremental dedup (index lifecycle)

  /** The delta split modulus of [[incrementalNearDup]]'s demonstration:
    * doc_id % 5 == 0 is "today's crawl", the rest is the indexed corpus. */
  val DELTA_MOD = 5L

  /** Build-once half of the index lifecycle: persist the banded MinHash
    * index of `docs` (one row per (band, doc_id, sh)) as parquet at
    * `indexDir`, repartitioned and sorted by band so each file covers a
    * narrow band range and min/max stats prune probe scans. The layout is
    * partitioned by `increment` (the build is increment 0) so that
    * [[appendMinhashIndex]] can add a delta as its own partition with
    * dynamic partition overwrite — a retried append REPLACES its
    * increment instead of duplicating it, which is what makes the
    * streaming form ([[graft.streaming.DedupStream]]) exactly-once on
    * the index under micro-batch retry. */
  def buildMinhashIndex(docs: DataFrame, indexDir: String): Unit =
    writeIndexBands(bandRows(docs), indexDir, increment = 0L)

  /** Append-an-increment half: write `delta`'s band rows as partition
    * `increment=<increment>` of the index — same band-clustered file
    * layout as the build, no rebuild, idempotent per increment. */
  def appendMinhashIndex(delta: DataFrame, indexDir: String,
      increment: Long): Unit =
    writeIndexBands(bandRows(delta), indexDir, increment)

  /** The band index's [[IndexMaintenance.writeIncrement]], band-clustered,
    * under the index's writer lease. */
  private def writeIndexBands(bands: DataFrame, indexDir: String,
      increment: Long): Unit = IndexMaintenance.withWriterLease(
      bands.sparkSession, indexDir, s"minhash-index increment=$increment") {
    IndexMaintenance.writeIncrement(bands, indexDir, increment,
      IndexMaintenance.clusterBy("band"))
  }

  /** Fold every increment of the band index back into `increment=0`,
    * preserving the build pass's band-clustered layout — probe results
    * are bit-identical (the index is a bag of (doc_id, sh, band) rows;
    * only the file layout changes), but a probe scan opens one
    * increment's worth of files instead of the whole ingest history.
    * Run OFF the ingest path; see [[IndexMaintenance]] for the swap
    * contract. */
  def compactMinhashIndex(spark: SparkSession, indexDir: String): Unit =
    IndexMaintenance.rewrite(spark, indexDir) { staging =>
      writeIndexBands(
        spark.read.parquet(indexDir)
          .select(col("doc_id"), col("sh"), col("band")),
        staging, increment = 0L)
    }

  /** Per-increment half: dedup a DELTA batch against the persisted index
    * WITHOUT recomputing a single corpus signature — the operator shape a
    * real training-data pipeline runs daily (the full recompute in
    * [[minhashNearDup]] is the build tool, not the steady state).
    * Signatures are computed for the delta only; the delta's banded rows
    * then broadcast INTO the index scan, so the index is never shuffled
    * or re-hashed and only index rows whose band matches a delta band
    * survive the join — the probe touches matching band buckets and
    * nothing else (DedupSimSpec pins the no-index-shuffle plan). Output:
    * exact-Jaccard-verified cross pairs in canonical (min, max) order. */
  def probeMinhashIndex(spark: SparkSession, delta: DataFrame,
      indexDir: String): DataFrame =
    crossPairs(spark.read.parquet(indexDir), bandRows(delta))

  /** Index-vs-delta pairs: the delta's band rows broadcast INTO the index
    * scan (see [[probeMinhashIndex]]'s contract). */
  private def crossPairs(idx: DataFrame, deltaBands: DataFrame): DataFrame =
    idx.as("x")
      .join(broadcast(deltaBands.as("y")),
        col("x.band") === col("y.band") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        TextFns.jaccard(col("x.sh"), col("y.sh")).as("jaccard"))
      .distinct() // several band collisions, one pair
      .filter(col("jaccard") >= 0.8)

  /** Delta-internal pairs via a broadcast banded self-join — the
    * within-batch half of an increment. Unlike the corpus-scale
    * [[nearDupPairs]] (merge-hinted: a corpus can never broadcast), a
    * delta batch is bounded by the ingest trigger, and with its band rows
    * persisted both sides read the same materialized RDD, so broadcast
    * costs no recompute and no shuffle. */
  private def selfPairs(bands: DataFrame): DataFrame =
    bands.as("x")
      .join(broadcast(bands.as("y")),
        col("x.band") === col("y.band") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        TextFns.jaccard(col("x.sh"), col("y.sh")).as("jaccard"))
      .distinct()
      .filter(col("jaccard") >= 0.8)

  /** One full increment of the steady-state dedup pipeline, the unit
    * [[graft.streaming.DedupStream]] runs per micro-batch: verified
    * near-dup pairs of `batch` against everything indexed so far
    * ([[crossPairs]]) PLUS within `batch` itself ([[selfPairs]]) land at
    * `outDir` under partition `batch=<increment>` with dynamic partition
    * overwrite — the same idempotence device as the index append, so a
    * RETRIED micro-batch replaces its own pairs instead of appending
    * them twice: both sinks of an increment are exactly-once under
    * micro-batch retry. Then the batch's band rows join the index as
    * partition `increment=<increment>` so the NEXT increment dedups
    * against this one too. The two pair sets are disjoint by
    * construction (cross requires exactly one end in the index, self
    * requires both in the batch; doc_ids are assumed unique across the
    * corpus), so the union needs no cross-set distinct. Band rows are
    * computed ONCE and persisted across the three consumers — the
    * shingle/signature hashing is the expensive part of an increment.
    *
    * The probe excludes the batch's OWN `increment` partition (partition-
    * pruned, zero cost on a first run where it doesn't exist): a retried
    * batch has already appended itself, and probing its own band rows
    * would emit every within-batch pair twice — once as a cross pair,
    * once as a self pair — breaking the disjointness the union relies
    * on. With the exclusion, a retry recomputes exactly the first
    * attempt's pairs. */
  def dedupIncrement(batch: DataFrame, indexDir: String, increment: Long,
      outDir: String, appendToIndex: Boolean = true): Unit =
    channelIncrement(batch, indexDir, increment, outDir, appendToIndex,
      bandRows, (idx, bands) => crossPairs(idx, bands)
        .unionByName(selfPairs(bands)),
      writeIndexBands(_, indexDir, increment))

  /** The step [[dedupIncrement]], [[containmentIncrement]] and
    * [[winnowIncrement]] share: `rowsOf(batch)` is computed once and
    * persisted; `pairs(index minus the batch's own increment, rows)` land
    * as `batch=<increment>` of `outDir` ([[IndexMaintenance.landBatch]]);
    * then, if `appendToIndex`, `append(rows)` adds the batch to the
    * index as `increment=<increment>`. */
  private def channelIncrement(batch: DataFrame, indexDir: String,
      increment: Long, outDir: String, appendToIndex: Boolean,
      rowsOf: DataFrame => DataFrame,
      pairs: (DataFrame, DataFrame) => DataFrame,
      append: DataFrame => Unit): Unit = {
    val rows = rowsOf(batch).persist()
    try {
      IndexMaintenance.landBatch(pairs(batch.sparkSession.read
        .parquet(indexDir)
        .filter(col("increment").cast("long") =!= increment), rows),
        increment, outDir)
      if (appendToIndex) append(rows)
    } finally { rows.unpersist(blocking = false); () }
  }

  /** q128: the incremental lifecycle end-to-end — index 4/5 of the
    * documents table, probe the held-out 1/5 as the day's delta. The
    * oracle is the FULL-corpus recompute restricted to split-crossing
    * pairs, so a probe that misses a bucket (or re-hashes the corpus
    * differently) hash-mismatches. The index lives at an
    * invocation-unique scratch path ([[IndexMaintenance.scratchIndexDir]])
    * so concurrent invocations never race each other's build/probe. */
  def incrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(documents(spark, dir))
    val indexDir = IndexMaintenance.scratchIndexDir(spark, "minhash-index")
    buildMinhashIndex(d.filter(col("doc_id") % DELTA_MOD =!= 0), indexDir)
    probeMinhashIndex(spark, d.filter(col("doc_id") % DELTA_MOD === 0),
      indexDir)
      .orderBy("doc_a", "doc_b")
  }

  // ------------------- containment head-fingerprint index (lifecycle)

  /** One row per document for the containment head channel:
    * (doc_id, hh, sh) — hh the [[CONT_HEAD_TOKENS]]-token head
    * fingerprint (one long per doc; buckets near-singleton outside true
    * prefix copies), sh the shingle-hash set the containment verify
    * needs. The unit of both the persisted head index and its probes. */
  private def headRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextFns.polyHash(concat_ws(" ",
        slice(TextFns.tokens(col("text")), 1, CONT_HEAD_TOKENS))).as("hh"),
      TextFns.shingleHashes(col("text")).as("sh"))

  /** Build-once half of the head-channel lifecycle: one fingerprint row
    * per doc, hh-clustered files (min/max stats prune probe scans),
    * `increment=0` static overwrite — the [[buildMinhashIndex]] contract
    * for the containment channel [[containmentDedup]] proved out:
    * truncation/prefix copies arriving as INCREMENTS are caught by
    * [[containmentIncrement]] without the band channel's recall
    * dependence on a J ≈ 0.5 pair. */
  def buildHeadIndex(docs: DataFrame, headDir: String): Unit =
    IndexMaintenance.writeIncrement(headRows(docs), headDir, 0L,
      IndexMaintenance.clusterBy("hh"))

  /** Append-an-increment half — dynamic overwrite, idempotent per
    * increment (the [[appendMinhashIndex]] device). */
  def appendHeadIndex(delta: DataFrame, headDir: String,
      increment: Long): Unit =
    IndexMaintenance.writeIncrement(headRows(delta), headDir, increment,
      IndexMaintenance.clusterBy("hh"))

  /** Containment verify shared by every head-channel pair source: exact
    * max-directional containment from the carried shingle sets (ONE
    * intersect per pair, |A∪B| = |A|+|B|−|A∩B|), thresholded at
    * [[CONT_T]], jaccard riding along ([[containmentDedup]]'s exact
    * arithmetic — both measures are symmetric, so side order is free). */
  private def verifyContainment(cand: DataFrame): DataFrame =
    cand.select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("double").as("ni"),
        size(col("sha")).cast("double").as("na"),
        size(col("shb")).cast("double").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("ni") / (col("na") + col("nb") - col("ni"))).as("jaccard"),
        greatest(col("ni") / col("na"), col("ni") / col("nb"))
          .as("containment"))
      .filter(col("containment") >= CONT_T)
      .select(col("doc_a"), col("doc_b"),
        Num.round6(col("jaccard")).as("jaccard"),
        Num.round6(col("containment")).as("containment"))

  /** Index-vs-delta containment pairs: the delta's head rows broadcast
    * INTO the index scan — the index is never shuffled or re-hashed, and
    * only index rows whose hh matches a delta head survive the join
    * (hh-clustered files make that a pruned scan). A pair meets on its
    * single hh at most once, so no distinct is needed. */
  def probeHeadIndex(spark: SparkSession, delta: DataFrame,
      headDir: String): DataFrame =
    crossContainment(spark.read.parquet(headDir), headRows(delta))

  private def crossContainment(idx: DataFrame,
      deltaHeads: DataFrame): DataFrame =
    verifyContainment(
      idx.as("x").join(broadcast(deltaHeads.as("y")),
          col("x.hh") === col("y.hh") && col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
          col("x.sh").as("sha"), col("y.sh").as("shb")))

  /** Delta-internal containment pairs (broadcast hh self-join — a batch
    * is bounded by the ingest trigger, the [[selfPairs]] argument). */
  private def selfContainment(heads: DataFrame): DataFrame =
    verifyContainment(
      heads.as("x").join(broadcast(heads.as("y")),
          col("x.hh") === col("y.hh") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          col("x.sh").as("sha"), col("y.sh").as("shb")))

  /** One increment of the steady-state CONTAINMENT pipeline — the head
    * channel's [[dedupIncrement]]: cross pairs against everything
    * indexed (minus the batch's own increment — the retry-disjointness
    * device documented there) plus within-batch pairs land at `outDir`
    * under `batch=<increment>` (dynamic overwrite, exactly-once under
    * retry), then the batch's head rows join the index. Catches the
    * truncation/prefix-copy arrivals the band channel's J ≈ 0.5
    * geometry would miss in the streaming path. */
  def containmentIncrement(batch: DataFrame, headDir: String,
      increment: Long, outDir: String,
      appendToIndex: Boolean = true): Unit =
    channelIncrement(batch, headDir, increment, outDir, appendToIndex,
      headRows, (idx, heads) => crossContainment(idx, heads)
        .unionByName(selfContainment(heads)),
      IndexMaintenance.writeIncrement(_, headDir, increment,
        IndexMaintenance.clusterBy("hh")))

  /** q155: the head-channel lifecycle end-to-end — index the corpus in a
    * build (even ids) plus one appended increment (odd ids), then probe
    * the planted half-doc prefix copies ([[containmentDedup]]'s plant
    * geometry) as the day's delta. The oracle recomputes the head-hash
    * join + exact containment over the same augmented corpus restricted
    * to (original, plant) pairs — a probe that misses the appended
    * increment, or hashes the head differently, hash-mismatches. */
  def containmentIncrementProbe(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(documents(spark, dir)).select(col("doc_id"), col("text"))
    val plants = d.filter(col("doc_id") % CONT_PLANT_MOD === 0)
      .select((col("doc_id") + 50000000L).as("doc_id"),
        col("text").substr(lit(1),
          floor(length(col("text")) / 2).cast("int")).as("text"))
    val headDir = IndexMaintenance.scratchIndexDir(spark, "head-index")
    buildHeadIndex(d.filter(col("doc_id") % 2 === 0), headDir)
    appendHeadIndex(d.filter(col("doc_id") % 2 === 1), headDir,
      increment = 1L)
    probeHeadIndex(spark, plants, headDir).orderBy("doc_a", "doc_b")
  }

  // ------------------- winnow-channel index lifecycle -------------------

  /** q173 plant geometry: every [[WINNOW_PLANT_MOD]]-th doc contributes a
    * delta doc that embeds its first [[WINNOW_PLANT_CHARS]] characters
    * behind a fresh prefix — a shared PARAGRAPH, not a shared prefix, so
    * the head channel's first-tokens hash misses it and the band
    * channel's whole-document Jaccard is diluted; the winnow channel's
    * ≥ W+K−1 guarantee catches it. */
  val WINNOW_PLANT_MOD = 11
  val WINNOW_PLANT_CHARS = 240

  /** Build-once half of the winnow-channel lifecycle: the exploded
    * fingerprint rows (doc_id, n_fp, f), f-clustered files (min/max
    * stats prune probe scans), `increment=0` static overwrite — the
    * [[buildMinhashIndex]]/[[buildHeadIndex]] contract for the
    * local-overlap channel. */
  def buildWinnowIndex(docs: DataFrame, winnowDir: String): Unit =
    IndexMaintenance.writeIncrement(winnowRows(docs), winnowDir, 0L,
      IndexMaintenance.clusterBy("f"))

  /** Append-an-increment half — dynamic overwrite, idempotent per
    * increment (the [[appendMinhashIndex]] device). */
  def appendWinnowIndex(delta: DataFrame, winnowDir: String,
      increment: Long): Unit =
    IndexMaintenance.writeIncrement(winnowRows(delta), winnowDir,
      increment, IndexMaintenance.clusterBy("f"))

  /** Index-vs-delta winnow pairs. The delta's distinct fingerprints
    * broadcast INTO the index scan (f-clustered files → pruned scan; the
    * index is never shuffled or re-hashed), and the df boilerplate gate
    * is computed from exactly the rows already fetched: every doc
    * containing a delta fingerprint is in (matched ∪ delta) by
    * construction, so the per-f count there IS the global df — the same
    * [2, WINNOW_DF_CAP] gate [[winnowPairsOf]] applies corpus-wide.
    * Requires the delta be doc-disjoint from the probed increments (the
    * [[dedupIncrement]] contract; a steady-state caller excludes the
    * batch's own increment before probing). */
  def probeWinnowIndex(spark: SparkSession, delta: DataFrame,
      winnowDir: String): DataFrame =
    winnowProbePairs(spark.read.parquet(winnowDir), winnowRows(delta))

  private def winnowProbePairs(idx: DataFrame,
      deltaFp: DataFrame): DataFrame = {
    val matched = idx
      .join(broadcast(deltaFp.select(col("f")).distinct()), Seq("f"))
      .select(col("doc_id"), col("n_fp"), col("f"))
    val keep = matched.unionByName(deltaFp)
      .groupBy("f").agg(count(lit(1)).as("fdf"))
      .filter(col("fdf") >= 2 && col("fdf") <= WINNOW_DF_CAP)
      .select("f")
    val ik = matched.join(broadcast(keep), Seq("f"))
    val dk = deltaFp.join(broadcast(keep), Seq("f"))
    // (index, delta) pairs: sides ordered per-row; (delta, delta) pairs:
    // the bounded-batch self-join. Disjoint by the doc-disjointness
    // precondition, so no distinct is needed across the union.
    val cross = ik.as("x")
      .join(dk.as("y"),
        col("x.f") === col("y.f") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"),
        when(col("x.doc_id") < col("y.doc_id"), col("x.n_fp"))
          .otherwise(col("y.n_fp")).as("fa"),
        when(col("x.doc_id") < col("y.doc_id"), col("y.n_fp"))
          .otherwise(col("x.n_fp")).as("fb"))
    val self = dk.as("x")
      .join(broadcast(dk.as("y")),
        col("x.f") === col("y.f") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n_fp").as("fa"), col("y.n_fp").as("fb"))
    cross.unionByName(self)
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"),
        first(col("fa")).as("n_fp_a"), first(col("fb")).as("n_fp_b"))
      .withColumn("overlap", Num.round6(col("n_shared").cast("double") /
        least(col("n_fp_a"), col("n_fp_b")).cast("double")))
      .filter(col("overlap") >= WINNOW_T)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        col("n_fp_a"), col("n_fp_b"), col("overlap"))
  }

  /** One increment of the steady-state WINNOW pipeline — the local-overlap
    * channel's [[dedupIncrement]]/[[containmentIncrement]]: pairs against
    * everything indexed (minus the batch's own increment — the
    * retry-disjointness device documented there) plus within-batch pairs
    * land at `outDir` under `batch=<increment>` (dynamic overwrite,
    * exactly-once under retry), then the batch's fingerprint rows join
    * the index. Catches embedded-paragraph copies arriving in increments
    * — the case the band channel dilutes and the head channel misses.
    *
    * df-gate semantics under streaming: the [2, WINNOW_DF_CAP]
    * boilerplate gate counts a fingerprint's df over the index state AT
    * THE BATCH'S ARRIVAL plus the batch itself — the df a production
    * gate actually has (a gram becomes boilerplate when the accumulated
    * corpus says so). Near the cap edge this makes a split delivery
    * differ from one mega-batch by design (a later batch sees a larger
    * df); StreamingSpec pins the exact single-batch ≡ one-shot equality
    * and the exactly-once retry contract. */
  def winnowIncrement(batch: DataFrame, winnowDir: String,
      increment: Long, outDir: String,
      appendToIndex: Boolean = true): Unit =
    channelIncrement(batch, winnowDir, increment, outDir, appendToIndex,
      winnowRows, winnowProbePairs,
      IndexMaintenance.writeIncrement(_, winnowDir, increment,
        IndexMaintenance.clusterBy("f")))

  /** q173: the winnow-channel lifecycle end-to-end — index the corpus in
    * a build (even ids) plus one appended increment (odd ids), then
    * probe the planted embedded-paragraph copies as the day's delta. The
    * oracle recomputes the FULL winnowing pair pass over the augmented
    * corpus restricted to delta-involving pairs — a probe that misses
    * the appended increment, gates df differently from the corpus-wide
    * rule, or selects different fingerprints, hash-mismatches. */
  def winnowIncrementProbe(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(documents(spark, dir)).select(col("doc_id"), col("text"))
    val plants = d.filter(col("doc_id") % WINNOW_PLANT_MOD === 0)
      .select((col("doc_id") + 60000000L).as("doc_id"),
        concat(lit("zq"), col("doc_id").cast("string"), lit(" "),
          col("text").substr(lit(1), lit(WINNOW_PLANT_CHARS))).as("text"))
    val winnowDir = IndexMaintenance.scratchIndexDir(spark, "winnow-index")
    buildWinnowIndex(d.filter(col("doc_id") % 2 === 0), winnowDir)
    appendWinnowIndex(d.filter(col("doc_id") % 2 === 1), winnowDir,
      increment = 1L)
    probeWinnowIndex(spark, plants, winnowDir).orderBy("doc_a", "doc_b")
  }

  // ---- persisted EXACT-dedup hash store: the "seen-before" gate ----

  /** Hash-store file-clustering bucket count: store files cluster on a
    * content-hash-prefix bucket so a probe's pushed bucket filter prunes
    * row groups without touching unrelated hash ranges. */
  val HX_BUCKETS = 64L
  /** q182 plant geometry (disjoint residues → disjoint plant id spaces). */
  val HX_CORPUS_DUP_MOD = 5L
  val HX_FRESH_RESIDUE = 2L
  val HX_BATCH_DUP_MOD = 10L

  private def contentHash(text: Column): Column =
    sha2(regexp_replace(lower(trim(text)), "\\s+", " "), 256)

  private def hashBucket(h: Column): Column =
    pmod(conv(h.substr(lit(1), lit(4)), 16, 10).cast("long"),
      lit(HX_BUCKETS))

  private def hashRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), contentHash(col("text")).as("content_hash"))
      .withColumn("hb", hashBucket(col("content_hash")))

  /** Build the persisted content-hash store — the identity register a
    * 100 TB ingest consults before admitting anything: one (doc_id,
    * content_hash) row per corpus doc, files clustered+sorted by hash
    * bucket, `increment`-partitioned for the exactly-once append
    * discipline every other persisted index here uses. */
  def buildHashIndex(docs: DataFrame, hashDir: String): Unit =
    IndexMaintenance.writeIncrement(hashRows(docs), hashDir, 0L, hashLayout)

  /** Append-an-increment half — dynamic overwrite, idempotent per
    * increment (a replayed micro-batch replaces its own partition). */
  def appendHashIndex(delta: DataFrame, hashDir: String,
      increment: Long): Unit =
    IndexMaintenance.writeIncrement(hashRows(delta), hashDir, increment,
      hashLayout)

  private val hashLayout: DataFrame => DataFrame =
    _.repartition(col("hb")).sortWithinPartitions("hb", "content_hash")

  /** Probe a new batch against the store: per batch doc, is its content
    * already registered (`dup_of_corpus`, with the corpus canonical), a
    * repeat within the batch itself (`dup_in_batch`, canonical = the
    * batch's first carrier), or `fresh`? The admission verdict an ingest
    * gate acts on — admit fresh + batch-firsts, drop the rest, then
    * [[appendHashIndex]] the admitted rows as the next increment.
    *
    * Scale shape: the store is never shuffled or re-hashed — the batch's
    * ≤[[HX_BUCKETS]] bucket values push down as a row-group-pruning scan
    * filter (bounded driver decision), and the batch's distinct hashes
    * broadcast into that pruned scan; the store side reduces to
    * (hash → min doc_id) on matched rows only. The within-batch windows
    * run over the batch alone. Probe cost ∝ batch size, never corpus. */
  def probeHashIndex(spark: SparkSession, delta: DataFrame,
      hashDir: String, excludeIncrement: Long = -1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = hashRows(delta).localCheckpoint() // one hash pass feeds all three uses
    val hbs = d.select(col("hb")).distinct()
      .collect().map(_.getLong(0)).toSeq // bounded: ≤ HX_BUCKETS values
    // excludeIncrement: a streaming replay must not see the crashed
    // attempt's own landed increment, or the batch's docs would verdict
    // dup_of_corpus against themselves (the dedupIncrement
    // retry-disjointness device; partition-pruned on the increment key)
    val idx = spark.read.parquet(hashDir)
      .filter(col("increment") =!= lit(excludeIncrement))
      .filter(col("hb").isin(hbs: _*))
    val seen = idx
      .join(broadcast(d.select(col("content_hash")).distinct()),
        Seq("content_hash"))
      .groupBy("content_hash").agg(min("doc_id").as("corpus_canonical"))
    val wOrd = Window.partitionBy("content_hash").orderBy("doc_id")
    val wAll = Window.partitionBy("content_hash")
    d.withColumn("rb", row_number().over(wOrd))
      .withColumn("bmin", min("doc_id").over(wAll))
      .join(broadcast(seen), Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"),
        when(col("corpus_canonical").isNotNull, "dup_of_corpus")
          .when(col("rb") > 1, "dup_in_batch")
          .otherwise("fresh").as("verdict"),
        coalesce(col("corpus_canonical"), col("bmin"))
          .as("canonical_doc_id"))
  }

  /** q182: the hash-store lifecycle end-to-end — build on the even half,
    * append the odd half as increment 1, then probe a planted batch that
    * exercises all three verdicts: corpus-content re-arrivals
    * (`%HX_CORPUS_DUP_MOD` texts re-keyed into the 80M id space),
    * genuinely new docs (suffix-marked, 81M), and an in-batch duplicated
    * family (the same marked text under 82M AND 83M ids). The oracle
    * recomputes the verdicts relationally from the corpus + the same
    * generative plants — a store row lost, duplicated, or mis-bucketed
    * anywhere in build/append/probe breaks the hash gate. */
  def hashIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(documents(spark, dir)).select(col("doc_id"), col("text"))
    val hashDir = IndexMaintenance.scratchIndexDir(spark, "hash-index")
    buildHashIndex(d.filter(col("doc_id") % 2 === 0), hashDir)
    appendHashIndex(d.filter(col("doc_id") % 2 === 1), hashDir,
      increment = 1L)
    val dupPlants = d.filter(col("doc_id") % HX_CORPUS_DUP_MOD === 0)
      .select((col("doc_id") + 80000000L).as("doc_id"), col("text"))
    val fresh = d
      .filter(col("doc_id") % HX_CORPUS_DUP_MOD === HX_FRESH_RESIDUE)
      .select((col("doc_id") + 81000000L).as("doc_id"),
        concat(col("text"), lit(" zfresh"), col("doc_id").cast("string"))
          .as("text"))
    val batchDups = d.filter(col("doc_id") % HX_BATCH_DUP_MOD === 1)
      .select(col("doc_id"),
        concat(col("text"), lit(" zb"), col("doc_id").cast("string"))
          .as("text"))
    val delta = dupPlants
      .unionByName(fresh)
      .unionByName(batchDups
        .select((col("doc_id") + 82000000L).as("doc_id"), col("text")))
      .unionByName(batchDups
        .select((col("doc_id") + 83000000L).as("doc_id"), col("text")))
    probeHashIndex(spark, delta, hashDir).orderBy("doc_id")
  }

  /** q153: the label-LIFECYCLE keep-list end-to-end — seed labels from
    * the base corpus's internal pairs, fold the delta-touching pairs in
    * as one [[mergeClusterIncrement]] (never re-clustering the corpus),
    * then serve [[dedupKeepListFrom]] off the maintained table. The
    * oracle is q134's full-recompute SQL — the merged labels must yield
    * the exact keep/drop accounting the whole-corpus closure does. */
  def lifecycleKeepList(spark: SparkSession, dir: String): DataFrame = {
    dedupKeepListFrom(spark, dir, lifecycleLabels(spark, dir))
  }

  /** q154: the label-lifecycle cluster-aware split — same maintained
    * label table, [[clusterAwareSplitFrom]] on top, q142's oracle. */
  def lifecycleClusterSplit(spark: SparkSession, dir: String): DataFrame = {
    clusterAwareSplitFrom(spark, dir, lifecycleLabels(spark, dir))
  }

  /** q157: duplicate clusters served from the maintained labels — q43's
    * (doc_id, cluster_id, cluster_size) output read off the label table
    * plus one bounded size aggregate; no pair graph, no closure. Same
    * oracle as q43 — the merged labels must reproduce the recursive
    * transitive closure's clusters exactly. */
  def lifecycleDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val labels = readClusterLabels(spark, lifecycleLabels(spark, dir))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Shared lifecycle-label builder of q153/q154/q156/q157/q161:
    * base-internal pairs seed [[buildClusterLabels]]; the delta-touching
    * pairs merge as one increment. (The pair SOURCE here is the in-plan
    * [[nearDupPairs]] — the demonstration is the label maintenance; the
    * steady state feeds the same merge from [[dedupIncrement]]'s landed
    * pair partitions, spec-pinned in StreamingSpec.)
    *
    * MAINTAINED, not rebuilt: the store is built once per (JVM, data
    * dir) and every subsequent consumer — keep-list, split, curation,
    * dup clusters, soft weights — SERVES from it. That is the operating
    * model these queries exist to demonstrate: a deployment maintains
    * ONE label table; no consumer re-derives the pair graph or re-runs
    * the closure. Re-building the identical store per consumer (the
    * pre-r9 shape) silently re-paid the corpus hash + closure five
    * times per surface run, contradicting the steady-state claim.
    * [[Lineages]] gives build-once semantics per corpus dir under
    * concurrent consumers (ConcurrencySpec races q153); consumers are
    * read-only — the decremental path (q158) builds its OWN mutable copy
    * and must never touch the shared table. */
  private[graft] def lifecycleLabels(spark: SparkSession,
      dir: String): String = Lineages.out(labelsLineage, spark, dir)

  private[graft] val labelsLineage = Lineages.Lineage("labels", buildLabels)

  private def buildLabels(spark: SparkSession, dir: String): String = {
    val pairs = nearDupPairs(spark, dir).select(col("doc_a"), col("doc_b"))
      .localCheckpoint()
    val labelDir = IndexMaintenance.scratchIndexDir(spark, "labels")
    buildClusterLabels(
      pairs.filter(col("doc_a") % DELTA_MOD =!= 0 &&
        col("doc_b") % DELTA_MOD =!= 0), labelDir)
    mergeClusterIncrement(spark, labelDir,
      pairs.filter(col("doc_a") % DELTA_MOD === 0 ||
        col("doc_b") % DELTA_MOD === 0))
    labelDir
  }

  /** Record-linkage geometry: candidate pairs form only inside a
    * (lang, source) block; similarity is edit distance over a fixed-width
    * prefix. */
  val LINK_PREFIX = 32
  val LINK_T = 12

  /** Blocked record linkage — the entity-resolution pattern for joining
    * datasets without a shared key: block on cheap deterministic
    * attributes (here lang × source), compare pairs only within a block,
    * score with an integer edit distance (`levenshtein`, exact in both
    * engines) over a fixed prefix. Output is the per-block audit: pairs
    * compared, pairs linked at the threshold, closest distance.
    *
    * Scale shape: the quadratic is bounded per block — the self-join
    * shuffles on the block key and `x.id < y.id` halves the pairs; the
    * merge hint + ReusedExchange read the blocked corpus shuffle once
    * (the [[nearDupPairs]] pattern). Skewed blocks salt the same way a
    * skewed LSH band does; the prefix cap bounds per-pair CPU.
    *
    * This is the EXACT form for bounded blocks. When block occupancy
    * grows with the corpus, use [[sortedNeighbourhood]] (q213): pairs ≤
    * W·n instead of n²/|blocks| — measured 1.39 s vs 34.0 s on the same
    * ×100 corpus (SCALE_r11.md §2b). */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"),
        substring(col("text"), 1, LINK_PREFIX).as("pfx"))
    d.as("x")
      .join(d.as("y").hint("merge"),
        col("x.lang") === col("y.lang") &&
          col("x.source") === col("y.source") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.lang").as("lang"), col("x.source").as("source"),
        levenshtein(col("x.pfx"), col("y.pfx")).cast("long").as("dist"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dist") <= LINK_T, 1L).otherwise(0L)).as("n_linked"),
        min(col("dist")).as("min_dist"))
      .orderBy("lang", "source")
  }

  /** Sorted-neighbourhood window: each record compares against at most
    * this many successors in block-sorted order. */
  val SN_WINDOW = 8

  /** q213: SORTED-NEIGHBOURHOOD record linkage — the deployment answer
    * to [[recordLinkage]]'s per-block quadratic (SCALE_r11 §1's q90
    * row): within each (lang, source) block, records sort by (prefix,
    * doc_id) and each record compares against only its [[SN_WINDOW]]
    * nearest successors — candidate pairs are ≤ W·n no matter how large
    * a block grows, the classic Hernández–Stolfo bound. Near-identical
    * prefixes are adjacent in sort order, so the window keeps the
    * matches the full quadratic finds while dropping the far-apart
    * comparisons that can't link.
    *
    * Scale shape: one shuffle for the per-block rank window, then the
    * candidate join is an EQUI-join on (block, bucket): each record
    * map-side explodes into its own rank-bucket and the next (2 rows),
    * so a successor within rank distance W is always in one of the two
    * probed buckets — no non-equi disjunction, no self-cartesian, and
    * the per-bucket fan-out is ≤ 2·W. The rank-distance filter inside
    * the bucket completes the window semantics exactly. */
  def sortedNeighbourhood(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"), col("source"))
      .orderBy(col("pfx"), col("doc_id"))
    val ranked = spread(documents(spark, dir))
      .select(col("doc_id"), col("lang"), col("source"),
        substring(col("text"), 1, LINK_PREFIX).as("pfx"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("bucket", expr(s"(rn - 1) div ${SN_WINDOW}"))
      .localCheckpoint() // feeds both join sides once
    val probes = ranked.select(col("lang"), col("source"), col("pfx"),
        col("rn"), explode(array(col("bucket"), col("bucket") + 1))
          .as("pb"))
    val cands = probes.as("x")
      .join(ranked.as("y").hint("merge"),
        col("x.lang") === col("y.lang") &&
          col("x.source") === col("y.source") &&
          col("x.pb") === col("y.bucket") &&
          col("y.rn") > col("x.rn") &&
          col("y.rn") <= col("x.rn") + SN_WINDOW)
    cands
      .select(col("x.lang").as("lang"), col("x.source").as("source"),
        levenshtein(col("x.pfx"), col("y.pfx")).cast("long").as("dist"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("dist") <= LINK_T, 1L).otherwise(0L)).as("n_linked"),
        min(col("dist")).as("min_dist"))
      .orderBy("lang", "source")
  }

  /** Containment-dedup geometry: head-fingerprint token count, verify
    * threshold, plant split. */
  val CONT_HEAD_TOKENS = 8
  val CONT_T = 0.9
  val CONT_PLANT_MOD = 11L

  /** q146: containment dedup — catches the doc-IN-doc case symmetric
    * Jaccard misses: an excerpt or prefix copy of a long document has
    * containment |A∩B|/|A| ≈ 1 while its Jaccard sits near |A|/|B| (0.5
    * for the planted half-docs here), far below any near-dup threshold.
    *
    * Candidates come through TWO channels, both scale-safe:
    *  - **head fingerprint** (hash of the first [[CONT_HEAD_TOKENS]]
    *    tokens): a truncation/prefix copy shares its source's head
    *    verbatim, so this channel catches the dominant real-world
    *    containment case (cut-off crawls, length-capped re-ingests)
    *    DETERMINISTICALLY, and its buckets are near-singleton (an
    *    8-token head is essentially unique outside true copies);
    *  - **banded MinHash** (the q19 geometry): general near-dup
    *    containment at the documented 1−(1−J^R)^BANDS recall curve.
    * Mid-document excerpts below the LSH floor are the positioned-span
    * operator's territory ([[graft.engine.TextOps.repeatedSpans]] finds
    * repeated windows without pairing docs at all). Earlier designs —
    * Broder bottom-k (a common shingle's bucket goes quadratic: the
    * ×100 corpus spilled past local disk) and PPJoin rarest-k prefixes
    * (boundary-artifact grams hijack the picks; recall collapsed) —
    * are documented dead ends.
    *
    * Candidates are verified with the exact max-directional containment
    * (ONE intersect per distinct pair, arrays dropped in the same
    * projection, |A∪B| = |A|+|B|−|A∩B|) and thresholded at [[CONT_T]];
    * jaccard rides along to exhibit the gap this operator exists for
    * (spec pins a planted pair passing containment at Jaccard ≈ 0.5). */
  def containmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(documents(spark, dir)).select(col("doc_id"), col("text"))
    val aug = d.unionAll(
      d.filter(col("doc_id") % CONT_PLANT_MOD === 0)
        .select((col("doc_id") + 50000000L).as("doc_id"),
          col("text").substr(lit(1),
            floor(length(col("text")) / 2).cast("int")).as("text")))
    // hash sets materialized once: they feed the band/sig derivation AND
    // both verify joins (the q38/q76 rule: the recompute dominates)
    val shDF = aug
      .select(col("doc_id"),
        TextFns.polyHash(concat_ws(" ",
          slice(TextFns.tokens(col("text")), 1, CONT_HEAD_TOKENS))).as("hh"),
        TextFns.shingleHashes(col("text")).as("sh"))
      .localCheckpoint()
    def slimPairs(keyed: DataFrame): DataFrame =
      keyed.as("x")
        .join(keyed.as("y").hint("merge"),
          col("x.k") === col("y.k") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val headCand = slimPairs(shDF.select(col("doc_id"), col("hh").as("k")))
    val sigs = shDF.select(col("doc_id"), col("sh"),
      TextFns.minhashSig(col("sh")).as("sig"))
    val bandCand = slimPairs(sigs.select(col("doc_id"),
      explode(TextFns.bandKeys(col("sig"))).as("k")))
    val cand = headCand.unionAll(bandCand).distinct()
    // verify: ONE intersect per pair, arrays dropped in the same
    // projection — |A∪B| = |A|+|B|−|A∩B| for distinct-hash sets, so the
    // union is never materialized and downstream touches only integers.
    // shuffle_hash on the array side: a sort-merge join would SORT the
    // pair-count-proportional stream with both arrays attached — at the
    // ×100 scale point that sort's spill exceeded local disk; hashing
    // the (bounded-per-partition) corpus side streams the pairs instead
    val ints = cand
      .join(shDF.select(col("doc_id").as("doc_a"), col("sh").as("sha"))
        .hint("shuffle_hash"), "doc_a")
      .join(shDF.select(col("doc_id").as("doc_b"), col("sh").as("shb"))
        .hint("shuffle_hash"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("double").as("ni"),
        size(col("sha")).cast("double").as("na"),
        size(col("shb")).cast("double").as("nb"))
    ints
      .select(col("doc_a"), col("doc_b"),
        (col("ni") / (col("na") + col("nb") - col("ni"))).as("jaccard"),
        greatest(col("ni") / col("na"), col("ni") / col("nb"))
          .as("containment"))
      .filter(col("containment") >= CONT_T)
      .select(col("doc_a"), col("doc_b"), Num.round6(col("jaccard")).as("jaccard"),
        Num.round6(col("containment")).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------ LSH banding eval harness

  /** Banding geometries [[lshRecall]] measures — every (bands, rows) split
    * of the NH=12 signature, from one-row bands (catch-almost-anything,
    * terrible precision) to the single all-rows band (high precision,
    * recall decays as J^NH). Production is (4, 3). */
  val LSH_SETTINGS: Seq[(Int, Int)] =
    Seq((12, 1), (6, 2), (4, 3), (2, 6), (1, 12))

  /** Probe-sample size of the harness (the q119/q131 eval discipline:
    * ground truth over a bounded probe set, never corpus × corpus). */
  val LSH_PROBES = 16L

  /** q140: candidate recall AND precision of banded MinHash-LSH as a
    * function of banding geometry — the measurement that justifies the
    * production (BANDS, R) choice the whole near-dup family rides, the
    * dedup-side twin of [[Sim.ivfNprobeRecall]]. A true pair (exact
    * shingle-Jaccard ≥ 0.8) missed by a geometry is a duplicate the
    * pipeline would ship to training; a false candidate is a wasted
    * verify — the curve shows both costs at once.
    *
    * The corpus is augmented with graded plants so every similarity
    * regime exists at any SF (a pure function of the input, replicated
    * by the oracle): exact copies (J=1, every geometry must catch),
    * tail-appended near-dups (J ≈ 0.95, the recall knee), and half-docs
    * (J ≈ 0.5 — below threshold: false-candidate fodder that separates
    * the geometries' precision).
    *
    * One pass scores every (probe, doc) pair once: the exact Jaccard and
    * ALL five geometries' collision flags come from the same signature
    * arrays (a geometry's flag = any of its band slices equal), so the
    * per-geometry rows are conditional sums over one joined stream —
    * never a per-geometry index pass. Scale shape: probes broadcast into
    * the corpus scan (|probes| bounded); the aggregate is 11 counters. */
  def lshRecall(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(documents(spark, dir)).select(col("doc_id"), col("text"))
    def plant(mod: Int, offset: Long, txt: Column): DataFrame =
      d.filter(col("doc_id") % mod === 0)
        .select((col("doc_id") + offset).as("doc_id"), txt.as("text"))
    val aug = d
      .unionAll(plant(7, 10000000L,
        concat(col("text"), lit(" seven near dup tail"))))
      .unionAll(plant(11, 20000000L,
        col("text").substr(lit(1),
          floor(length(col("text")) / 2).cast("int"))))
      .unionAll(plant(13, 30000000L, col("text")))
    // signatures once per doc, materialized so the bounded probe side
    // reads them back instead of re-hashing the corpus (q131 discipline)
    val sigs = aug
      .select(col("doc_id"), TextFns.shingleHashes(col("text")).as("sh"))
      .select(col("doc_id"), col("sh"), TextFns.minhashSig(col("sh")).as("sig"))
      .localCheckpoint()
    val probes = sigs.filter(col("doc_id") < LSH_PROBES)
      .select(col("doc_id").as("probe_id"), col("sh").as("psh"),
        col("sig").as("psig"))
    val collideCols = LSH_SETTINGS.map { case (b, r) =>
      (0 until b).map(i =>
          slice(col("psig"), i * r + 1, r) === slice(col("sig"), i * r + 1, r))
        .reduce(_ or _).as(s"c_${b}_$r")
    }
    val pairs = sigs.join(broadcast(probes), col("doc_id") =!= col("probe_id"))
      .select(Seq(col("probe_id"), col("doc_id"),
        TextFns.jaccard(col("psh"), col("sh")).as("jac")) ++ collideCols: _*)
    val isTrue = col("jac") >= 0.8
    val aggCols =
      Seq(sum(when(isTrue, 1L).otherwise(0L)).as("n_true")) ++
        LSH_SETTINGS.flatMap { case (b, r) => Seq(
          sum(when(col(s"c_${b}_$r"), 1L).otherwise(0L)).as(s"cand_${b}_$r"),
          sum(when(col(s"c_${b}_$r") && isTrue, 1L).otherwise(0L))
            .as(s"hit_${b}_$r"))
        }
    pairs.agg(aggCols.head, aggCols.tail: _*)
      .select(col("n_true"),
        explode(array(LSH_SETTINGS.map { case (b, r) =>
          struct(lit(b.toLong).as("bands"), lit(r.toLong).as("rows_per_band"),
            col(s"cand_${b}_$r").as("n_candidates"),
            col(s"hit_${b}_$r").as("n_hits"))
        }: _*)).as("s"))
      .select(col("s.bands").as("bands"),
        col("s.rows_per_band").as("rows_per_band"),
        col("n_true"), col("s.n_candidates").as("n_candidates"),
        col("s.n_hits").as("n_hits"),
        expr("CASE WHEN n_true = 0 THEN NULL " +
          "ELSE s.n_hits * 1000000L div n_true END").as("recall_ppm"),
        expr("CASE WHEN s.n_candidates = 0 THEN NULL " +
          "ELSE s.n_hits * 1000000L div s.n_candidates END").as("precision_ppm"))
      .orderBy(col("bands").desc)
  }

  /** q176: SOURCE-level overlap matrix via MinHash signature algebra —
    * "how much does crawl A duplicate crawl B?" answered WITHOUT any
    * doc-pair work. MinHash's union trick: the signature of a shingle-set
    * UNION is the component-wise min of the members' signatures, so each
    * source's signature over ALL its docs' shingles is a groupBy-min of
    * the per-doc signatures the dedup pass already computes; the expected
    * fraction of agreeing components between two sources' signatures IS
    * their shingle-set Jaccard. The answer a curation planner needs
    * before scheduling cross-source dedup at all — which source pairs
    * even overlap — for the cost of one corpus pass plus algebra on
    * \|sources\|×NH longs.
    *
    * Scale shape: pass 1 is the per-doc signature projection (codegen
    * hashing, map-side combine straight into the \|sources\|-row
    * component-wise min — no doc rows shuffle, only partial min state);
    * the pairwise stage is a broadcast self-join of the tiny signature
    * table (\|sources\|² bounded output, ppm fixed-point). Estimates are
    * NH-component resolution (±1/NH) — the planner's triage, not the
    * dedup verdict; pairs it flags go to q150's exact pair path. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(documents(spark, dir).select(col("source"), col("text")))

  /** DataFrame-level form of [[sourceOverlap]] (spec entry point: planted
    * source clones must estimate Jaccard 1.0). */
  def sourceOverlapOf(docs: DataFrame): DataFrame = {
    val sigs = docs
      .select(col("source"),
        TextFns.minhashSig(TextFns.shingleHashes(col("text"))).as("sig"))
      .groupBy("source")
      .agg(min(col("sig")(0)).as("s0"),
        (1 until TextFns.NH).map(i =>
          min(col("sig")(i)).as(s"s$i")): _*)
    val a = sigs.select(col("source").as("source_a") +:
      (0 until TextFns.NH).map(i => col(s"s$i").as(s"a$i")): _*)
    val b = sigs.select(col("source").as("source_b") +:
      (0 until TextFns.NH).map(i => col(s"s$i").as(s"b$i")): _*)
    val agree = (0 until TextFns.NH)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"), agree.as("n_agree"))
      .withColumn("est_jaccard_ppm",
        expr(s"n_agree * 1000000L div ${TextFns.NH}L"))
      .orderBy("source_a", "source_b")
  }
}
