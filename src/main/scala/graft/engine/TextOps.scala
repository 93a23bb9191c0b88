package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{KmvAgg, KmvIn, TextFns, VecFns}

/** Text-analysis operators over the `documents` table — language stats,
  * heuristic language ID, quality scoring, document fingerprinting
  * (LLM-pipeline surface; beyond-reference).
  *
  * All map-only projections + one narrow groupBy — nothing here shuffles
  * more than the (tiny) per-language aggregate, at any corpus size.
  */
object TextOps {
  import Tables._

  /** Per-language corpus statistics: doc/char/token counts and token-count
    * distribution. Token counting = whitespace tokenizer (TextFns.tokens);
    * averages derive from exact integer sums (one final division). */
  def textStats(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("lang"),
        length(col("text")).cast("long").as("len"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("len").as("total_chars"),
        sum("n_tokens").as("total_tokens"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"))
      .withColumn("avg_tokens", col("total_tokens").cast("double") / col("n_docs"))
      .orderBy("lang")

  /** Tiny English-stopword list for the language-ID heuristic. */
  val STOPWORDS: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  val STOP_RATIO_EN = 0.05
  /** Quality-gate thresholds — shared with every oracle twin that restates
    * the gate (langQuality, curation, filteredTopK) so they can't drift. */
  val MIN_TOKENS = 20
  val MAX_STOP_RATIO = 0.15

  /** Per-document language-ID heuristic + quality scoring: stopword ratio,
    * average word length, and a CASE-bucketed quality class — the
    * length/punct/stopword-ratio family a training-data filter runs before
    * anything expensive. */
  def langQuality(spark: SparkSession, dir: String): DataFrame =
    langQualityRaw(spark, dir).orderBy("doc_id")

  /** [[langQuality]] without the presentation sort — the composable form
    * other operators (the curation pipeline) build on. */
  private[engine] def langQualityRaw(spark: SparkSession, dir: String): DataFrame =
    langQualityOf(documents(spark, dir))

  /** [[langQualityRaw]] over an explicit (doc_id, lang, text) corpus —
    * the form day-loop consumers feed from the maintained document
    * store. */
  private[engine] def langQualityOf(docs: DataFrame): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    docs
      .select(col("doc_id"), col("lang"),
        size(toks).cast("long").as("n_tokens"),
        size(filter(toks, t => t.isin(STOPWORDS: _*))).cast("long").as("n_stop"),
        length(regexp_replace(col("text"), "\\s+", "")).cast("long").as("n_letters"))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens").cast("double"))
      .withColumn("avg_word_len",
        col("n_letters").cast("double") / col("n_tokens").cast("double"))
      .withColumn("predicted_lang",
        when(col("stop_ratio") >= STOP_RATIO_EN, "en").otherwise("unk"))
      .withColumn("quality_bucket",
        when(col("n_tokens") < MIN_TOKENS, "short")
          .when(col("stop_ratio") > MAX_STOP_RATIO, "stopword_heavy")
          .otherwise("ok"))
  }

  /** End-to-end training-data curation verdicts — the full filter a corpus
    * pass applies, composed from the operators above: near-dup clustering
    * ([[Dedup.dupClusters]] — keep only the canonical doc of each cluster),
    * then length, stopword-density and language gates. First matching rule
    * wins, mirroring how curation pipelines report drop reasons. Output is
    * the per-verdict doc/token tally — the corpus-size accounting a 100 TB
    * run emits per shard and sums.
    *
    * Scale shape: the quality gates are map-only; dedup contributes its own
    * banded-LSH + CC cost; the final aggregate is a handful of groups. */
  def curation(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Dedup.clusterLabels(spark, dir)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    langQualityRaw(spark, dir)
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("verdict",
        when(col("cluster_id").isNotNull && col("doc_id") =!= col("cluster_id"), "dup")
          .when(col("n_tokens") < MIN_TOKENS, "short")
          .when(col("stop_ratio") > MAX_STOP_RATIO, "stopword_heavy")
          .when(col("predicted_lang") =!= "en", "non_en")
          .otherwise("kept"))
      .groupBy("verdict")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .orderBy("verdict")
  }

  /** Token-count histogram: fixed-width buckets of [[TextFns.tokens]] counts
    * (width 10, last bucket open-ended at 190+). Integer bucket arithmetic →
    * map-side partial agg on ≤ 20 groups; the length-distribution profile a
    * curation run reads before choosing its length gates. */
  val HIST_WIDTH = 10
  val HIST_LAST = 19
  def tokenHistogram(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .select(least(floor(col("n_tokens") / HIST_WIDTH), lit(HIST_LAST))
        .cast("long").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lo_tokens", col("bucket") * HIST_WIDTH)
      .withColumn("hi_tokens", (col("bucket") + 1) * HIST_WIDTH)
      .orderBy("bucket")

  /** Token counting two ways (brief: "whitespace + a BPE-ish regex"): the
    * whitespace baseline vs a subword-ish regex (`\w+|[^\w\s]` — word runs
    * and lone punctuation, the pre-tokenization split BPE tokenizers apply).
    * Per-language totals + the regex/whitespace inflation ratio. */
  def regexTokens(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
          .cast("long").as("re"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("ws").as("ws_tokens"),
        sum("re").as("re_tokens"))
      .withColumn("ratio", col("re_tokens").cast("double") / col("ws_tokens").cast("double"))
      .orderBy("lang")

  /** Top word-bigrams per language — the n-gram corpus-statistics job.
    * Scale shape: explode emits one row per bigram, but the groupBy's
    * map-side partial aggregation collapses repeats before the shuffle
    * (the combiner is what makes n-gram counting tractable at 100 TB);
    * the per-language top-k is a row_number over the aggregated counts. */
  val BIGRAM_TOP_K = 5
  def topBigrams(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("lang"), TextFns.tokens(col("text")).as("w"))
    val counts = toks.filter(size(col("w")) >= 2)
      .select(col("lang"),
        explode(transform(sequence(lit(1), size(col("w")) - 1),
          i => concat_ws(" ", slice(col("w"), i, lit(2))))).as("bigram"))
      .groupBy("lang", "bigram")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang").orderBy(col("n").desc, col("bigram").asc)
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= BIGRAM_TOP_K)
      .select(col("lang"), col("rank"), col("bigram"), col("n"))
      .orderBy("lang", "rank")
  }

  /** Heavy-hitters candidate budget per partition and reported top-k. */
  val HH_CANDIDATES_PER_PART = 4000
  val HH_TOP_K = 10

  /** EXACT global top-k words by the two-phase heavy-hitters plan — the
    * scale path a plain `groupBy(word).count.orderBy.limit` doesn't have:
    * at 100 TB that plan shuffles one row per DISTINCT word; this one
    * shuffles only the candidate set.
    *
    * Phase 1 (`mapPartitions`, genuinely justified: per-partition
    * bounded-memory counters are imperative by nature): each partition
    * counts its words in a local hash map and emits its top
    * [[HH_CANDIDATES_PER_PART]] — by the Misra-Gries union bound, any
    * word with global frequency > N/m must surface in some partition's
    * top-m, so with m ≫ k the true top-k cannot be missed (the spec
    * asserts the margin; a production run sizes m off the frequency
    * skew). Phase 2: ONE exact aggregate restricted to candidate words
    * (broadcast semi join before the shuffle), then TakeOrdered k.
    * The OUTPUT is exact top-k with exact counts — candidates are an
    * execution detail, which is why a plain SQL top-k can oracle it. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val words = spread(documents(spark, dir))
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    val candidates = words.select(col("word")).as[String]
      .mapPartitions { it =>
        val m = new scala.collection.mutable.HashMap[String, Long]()
        it.foreach(w => m.update(w, m.getOrElse(w, 0L) + 1L))
        m.toSeq.sortBy { case (w, n) => (-n, w) }
          .take(HH_CANDIDATES_PER_PART).map(_._1).iterator
      }.toDF("word").distinct()
    words.join(broadcast(candidates), Seq("word"), "left_semi")
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(HH_TOP_K)
  }

  /** Per-document top terms by tf·(N/df) — feature extraction over the
    * corpus. The idf is the raw ratio N/df rather than its logarithm:
    * ln() is not guaranteed correctly-rounded identically across engines,
    * while one multiply and one divide in fixed order are bit-exact, and
    * the ranking is monotone-equivalent for single-term scores.
    *
    * Scale shape: token explode → (doc, term) partial-agg groupBy (the
    * combiner), document frequencies as a second aggregate over that
    * result, corpus size N as a broadcast scalar, top-k per doc via
    * row_number. The tf⋈df join shuffles on term — the natural key. */
  val TFIDF_TOP_K = 3
  def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val tf = docs
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", col("tf").cast("double") *
        (col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TFIDF_TOP_K)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
        Num.round6(col("score")).as("score"))
      .orderBy("doc_id", "rank")
  }

  /** Modulus for the q50 sim_hash checksum — shared with the oracle twin
    * ([[graft.OracleTwins.sqlTextFunctions]]) so the two can't drift. */
  val SIM_CHECKSUM_MOD = 1000003L

  /** The SQL face of the native text-hash expressions: per-language hash
    * aggregates written in plain `spark.sql`, with `poly_hash`/`sim_hash`
    * resolved from the function registry ([[graft.functions.GraftExtensions]]
    * injects them at session build; `register` covers foreign sessions).
    * Same codegen expressions, same plans — only the API differs. */
  def sqlTextFunctions(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    documents(spark, dir).createOrReplaceTempView("docs_v")
    spark.sql(
      s"""SELECT lang, count(*) AS n_docs,
         |  min(poly_hash(text)) AS min_hash,
         |  max(poly_hash(text)) AS max_hash,
         |  sum(sim_hash(text, ${Dedup.SIMHASH_BITS}) % $SIM_CHECKSUM_MOD)
         |    AS sim_checksum
         |FROM docs_v GROUP BY lang ORDER BY lang""".stripMargin)
  }

  /** q256: Unicode normalization over a PLANTED mixed-form corpus —
    * the preprocessing step byte-level dedup needs (the same logical
    * text arrives NFC-composed from one crawl and NFD-decomposed from
    * another; without normalization the pair never hashes equal) and
    * tokenizers need as NFKC compatibility folding (ligatures,
    * fullwidth forms, superscripts). Six token arms rotate per
    * position: combining-acute é, combining-ring Å (both change under
    * NFC), the ﬁ ligature, a fullwidth g, a superscript ² (all three
    * NFC-invariant but NFKC-folded), and plain ASCII. Both directions
    * run through the SQL-registered codegen expression
    * ([[graft.functions.UnicodeNormE]]); the oracle checks NFC against
    * DuckDB's OWN independent `nfc_normalize` (utf8proc vs the JDK —
    * two implementations of UAX #15 gating each other) and NFKC
    * against the arithmetically restated fold images. Map-only over
    * one documents scan. */
  def unicodeNormalize(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // decomposed/compat forms spelled as \u escapes — the SOURCE file
    // must not carry the very sequences an editor might re-normalize
    def tok(i: org.apache.spark.sql.Column,
        docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(i % 6 === 0, concat(lit("e\u0301"),
        ((docId + i) % 10).cast("string")))
        .when(i % 6 === 1, lit("A\u030A"))
        .when(i % 6 === 2, lit("\uFB01"))
        .when(i % 6 === 3, lit("\uFF47"))
        .when(i % 6 === 4, lit("\u00B2"))
        .otherwise(concat(lit("n"),
          ((docId * 97 + i * 29) % 9973).cast("string")))
    documents(spark, dir)
      .select(col("doc_id"),
        ((col("n_chars") % 17) + 6).cast("int").as("nt"))
      .withColumn("raw", array_join(
        transform(sequence(lit(0), col("nt") - 1),
          i => tok(i, col("doc_id"))), " "))
      .withColumn("nfc", expr("nfc_normalize(raw)"))
      .withColumn("nfkc", expr("nfkc_normalize(raw)"))
      .select(col("doc_id"),
        length(col("raw")).cast("long").as("raw_chars"),
        length(col("nfc")).cast("long").as("nfc_chars"),
        md5(col("nfc")).as("nfc_md5"),
        length(col("nfkc")).cast("long").as("nfkc_chars"),
        md5(col("nfkc")).as("nfkc_md5"))
      .orderBy("doc_id")
  }

  /** Deterministic hash-bucket sampling — how a pipeline carves
    * reproducible eval/held-out sets: bucket = contentHash % K, sample =
    * bucket 0 (train = the rest). Content-keyed, so the split survives
    * re-shards, re-orders, and reruns — unlike `sample()`'s seeded RNG,
    * which is partition-layout-dependent and not replicable cross-engine.
    * Map-only + a tiny per-language aggregate. */
  val SAMPLE_BUCKETS = 10
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .filter(TextFns.polyHash(col("text")) % SAMPLE_BUCKETS === 0)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_sampled"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"),
        sum(size(TextFns.tokens(col("text"))).cast("long")).as("sample_tokens"))
      .orderBy("lang")

  /** Sequence packing — the concat-and-chunk step that turns a curated
    * corpus into fixed-token-budget training sequences: documents are laid
    * end to end in a deterministic order and a document belongs to the bin
    * its first token lands in (bin = exclusive-prefix-tokens div budget).
    * Output is the per-bin manifest (doc count, token sum, doc-id range) a
    * packing run hands to the tokenizer shards.
    *
    * Scale shape: the prefix sum is a window partitioned by the pack group
    * (lang here; lang × shard at 100 TB so no single partition holds a
    * whole language), ordered by the stable doc id. PACK_BUDGET is a power
    * of two, so the div is exact integer arithmetic cross-engine. */
  val PACK_BUDGET = 512
  def sequencePacking(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("bin_id", expr(s"cum_before div $PACK_BUDGET"))
      .groupBy("lang", "bin_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("bin_tokens"),
        min("doc_id").as("first_doc_id"), max("doc_id").as("last_doc_id"))
      .orderBy("lang", "bin_id")
  }

  /** Percentile-based quality gating — keep the best N deciles per language
    * rather than a fixed threshold (the adaptive form of [[langQuality]]'s
    * gates, standard when corpus quality drifts by source): ntile(10) over
    * the stopword-density ranking, deciles above KEEP_DECILES dropped.
    * Output is the per-(lang, decile) tally with its kept/dropped verdict.
    *
    * Determinism: the ranking orders a ratio of two integers (one IEEE
    * division — bit-identical cross-engine) with doc_id as tie-break, so
    * decile boundaries can't wobble. ntile keeps O(1) state per partition;
    * at 100 TB the per-lang ranking is the only full-sort and would run on
    * a pre-aggregated (doc_id, score) projection, never the text. */
  val KEEP_DECILES = 8
  def percentileGate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(col("stop_ratio").desc, col("doc_id"))
    langQualityRaw(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("stop_ratio"))
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .withColumn("kept", col("decile") <= KEEP_DECILES)
      .groupBy("lang", "decile", "kept")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("decile_tokens"),
        Num.round6(min("stop_ratio")).as("min_stop_ratio"),
        Num.round6(max("stop_ratio")).as("max_stop_ratio"))
      .orderBy("lang", "decile")
  }

  /** Stratified train/val/test split: within every language stratum the
    * content hash routes 10% to test, 10% to val, 80% to train — the
    * reproducible-split discipline of [[hashSample]] extended to the full
    * three-way partition a training run needs. Content-keyed ⇒ the split
    * survives re-shards and reruns and never leaks a near-identical doc
    * across splits when combined with dedup upstream. Map-only + a
    * lang × split aggregate. */
  def stratifiedSplit(spark: SparkSession, dir: String): DataFrame = {
    val bucket = TextFns.polyHash(col("text")) % SAMPLE_BUCKETS
    documents(spark, dir)
      .withColumn("split",
        when(bucket === 0, "test").when(bucket === 1, "val").otherwise("train"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextFns.tokens(col("text"))).cast("long")).as("split_tokens"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"))
      .orderBy("lang", "split")
  }

  /** Source-mixture weighting — the data-mixing step that turns per-source
    * sampling weights into an actual training corpus (upsample curated
    * sources, downsample crawl): every document keeps or drops by comparing
    * its content hash against its source's per-mille rate. Deterministic —
    * the same content always makes the same decision, so the mixture is
    * reproducible across reruns and re-shards, composable with the
    * hash-keyed split (q60) and dedup. The rate here derives from the
    * source's numeric suffix (a stand-in for a weights table, which at
    * scale is a broadcast map). Map-only + per-source aggregate. */
  val MIX_DENOM = 1000
  def sourceMixture(spark: SparkSession, dir: String): DataFrame = {
    val srcNum = regexp_extract(col("source"), "(\\d+)", 1).cast("long")
    val rate = (lit(50) * (lit(1) + srcNum % 19)).as("rate_permille")
    documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
        rate,
        (TextFns.polyHash(col("text")) % MIX_DENOM).as("bucket"))
      .withColumn("kept", col("bucket") < col("rate_permille"))
      .groupBy("source", "rate_permille")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      .withColumn("effective_rate",
        col("n_kept").cast("double") / col("n_docs").cast("double"))
      .orderBy("source")
  }

  /** Temperature-sampling geometry: α = 0.5 (the sqrt flattening — sqrt
    * is IEEE-correctly-rounded in both engines, unlike pow), and the
    * sample budget = corpus / TEMP_BUDGET_DIV. */
  val TEMP_BUDGET_DIV = 4

  /** q141: temperature-flattened mixture sampling — the multilingual-LM
    * rebalancing pass (XLM-R/mT5-style): language l is sampled with
    * probability ∝ p_l^α, α < 1, so head languages shrink and tail
    * languages keep (up to) everything. Per-lang keep rates resolve to
    * exact ppm integers and the keep decision is a deterministic content
    * hash gate — re-running the job, or running it partition-parallel,
    * selects the identical sample.
    *
    * Float discipline: weights are sqrt(count) (correctly rounded), the
    * normalizer is a left fold over the langs in sorted order (never a
    * partition-order `sum()` of doubles), and the rate collapses to
    * floor(·×10⁶) before any row is gated — so the oracle reproduces the
    * sample bit-exactly.
    *
    * Scale shape: one tiny per-lang aggregate, the rate table broadcast
    * back onto the corpus (|langs| rows), one map-side hash gate — the
    * corpus never shuffles; the final aggregate is per-lang counters. */
  def temperatureSample(spark: SparkSession, dir: String): DataFrame = {
    val t = documents(spark, dir)
      .select(col("lang"), col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
        (TextFns.polyHash(col("text")) % 1000000).as("bucket"))
    val counts = t.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    // normalizer Z = Σ sqrt(n_l), folded in sorted-lang order
    val z = counts
      .agg(sum("n_docs").as("n_total"),
        array_sort(collect_list(struct(col("lang"), col("n_docs")))).as("ls"))
      .select(col("n_total"),
        aggregate(transform(col("ls"), s => sqrt(s.getField("n_docs").cast("double"))),
          lit(0.0), (acc, x) => acc + x).as("z"))
    val rates = counts.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"),
        floor(least(lit(1.0),
          sqrt(col("n_docs").cast("double")) / col("z") *
            (col("n_total").cast("double") / lit(TEMP_BUDGET_DIV.toDouble)) /
            col("n_docs").cast("double")) * 1000000)
          .cast("long").as("rate_ppm"))
    t.join(broadcast(rates), "lang")
      .withColumn("kept", col("bucket") < col("rate_ppm"))
      .groupBy("lang", "rate_ppm")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("kept_tokens"))
      .select(col("lang"), col("n_docs"), col("rate_ppm"), col("n_kept"),
        col("kept_tokens"),
        expr("n_kept * 1000000L div n_docs").as("effective_ppm"))
      .orderBy("lang")
  }

  /** Shard count of [[trainingShards]] — at 100 TB this is the number of
    * output file groups handed to the trainer's data loader. */
  val N_SHARDS = 8L

  /** q147: the curation pipeline end-to-end, one declarative plan — the
    * composition a training-data team actually ships nightly: near-dup
    * keep-list (cluster canonicals only) → quality floor (length +
    * stopword-density gates) → temperature-flattened language sampling
    * (rates computed over the KEPT corpus, not the raw one — sampling
    * before dedup would re-inflate whatever dedup removed) → shard
    * manifest of the training shuffle. Each stage is the already-proven
    * operator (q43/q44, q24, q141, q143); composing them in one plan
    * lets Catalyst pipeline the gates into a single corpus pass between
    * the two bounded aggregates, which is precisely why the operators
    * were built as DataFrame transforms rather than materialization
    * steps.
    *
    * Scale shape: dedup labels (bounded) and the per-lang rate table
    * (|langs| rows) join back broadcast; the gates are map-side; the
    * only corpus-proportional shuffle is the final shard aggregate.
    * Sample/shard gates key on doc_id hashes (prefix-tagged so the two
    * gates are independent), keeping the pipeline deterministic under
    * re-run and re-shard. */
  def curationPipeline(spark: SparkSession, dir: String): DataFrame =
    curationPipelineWith(spark, dir,
      Dedup.clusterLabels(spark, dir)
        .select(col("id").as("doc_id"), col("label")))

  /** q156: the steady-state curation pipeline — [[curationPipeline]]
    * SERVED from the maintained label table ([[Dedup.dedupKeepListFrom]]'s
    * device applied to the last closure consumer): identical output
    * contract and oracle as q147, none of the in-plan pair-graph +
    * closure cost. The daily path; q147 is the audit run. */
  def lifecycleCuration(spark: SparkSession, dir: String): DataFrame =
    curationPipelineFrom(spark, dir, Dedup.lifecycleLabels(spark, dir))

  /** q162: the curation FUNNEL ledger — where did the corpus go?
    * Per-(lang, verdict) document and token accounting through q147's
    * exact pipeline with FIRST-failing-gate attribution: `dup` (not its
    * cluster's canonical), `short`, `stopword_heavy`, `sampled_out`
    * (survived the gates but lost the temperature draw), `kept`. The
    * data-loss budget a curation team reviews before a training run —
    * q44's verdict ledger covers the static gates; this one includes
    * the SAMPLING stage, whose per-language rates depend on the kept
    * corpus itself (so a gate change reshapes the sample — the funnel
    * shows both effects in one artifact).
    *
    * Scale shape: identical to q147 — labels served from the maintained
    * store (bounded join), rates a \|langs\|-row broadcast, gates
    * map-side; one corpus pass plus the final bounded aggregate. The
    * rate LEFT join keeps langs with zero gate-survivors accounted
    * (their docs all carry a pre-sampling verdict). */
  def curationFunnel(spark: SparkSession, dir: String): DataFrame =
    curationFunnelOf(
      documents(spark, dir),
      Dedup.readClusterLabels(spark, Dedup.lifecycleLabels(spark, dir))
        .select(col("id").as("doc_id"), col("label")))

  /** [[curationFunnel]] over an explicit corpus and label table — the
    * day-loop consumer: after [[CurationLoop.runDay]], the funnel over
    * the maintained document store + label table is the per-day data-loss
    * ledger (its `dup` row is exactly the day report's dropped count). */
  def curationFunnelOf(docs: DataFrame, labels: DataFrame): DataFrame = {
    val gated = langQualityOf(docs)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("stop_ratio"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("pre",
        when(col("label").isNotNull && col("label") =!= col("doc_id"), "dup")
          .when(col("n_tokens") < MIN_TOKENS, "short")
          .when(col("stop_ratio") > MAX_STOP_RATIO, "stopword_heavy"))
    val counts = gated.filter(col("pre").isNull)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    gated.join(broadcast(temperatureRates(counts)), Seq("lang"), "left")
      .withColumn("verdict", coalesce(col("pre"),
        when(TextFns.polyHash(
            concat(lit("sample:"), col("doc_id").cast("string"))) % 1000000
          >= col("rate_ppm"), "sampled_out")
          .otherwise("kept")))
      .groupBy("lang", "verdict")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
      .orderBy("lang", "verdict")
  }

  /** [[curationPipeline]] off a persisted label dir. */
  def curationPipelineFrom(spark: SparkSession, dir: String,
      labelDir: String): DataFrame =
    curationPipelineWith(spark, dir,
      Dedup.readClusterLabels(spark, labelDir)
        .select(col("id").as("doc_id"), col("label")))

  /** Temperature-flattened per-language sampling rates over a
    * (lang, n_docs) count table — q147's exact arithmetic (deterministic
    * left-fold over lang-sorted sqrt terms so the float sum is
    * engine-independent), shared with the q162 funnel ledger. Bounded:
    * \|langs\| rows in, \|langs\| rows out. */
  private def temperatureRates(counts: DataFrame): DataFrame = {
    val z = counts
      .agg(sum("n_docs").as("n_total"),
        array_sort(collect_list(struct(col("lang"), col("n_docs")))).as("ls"))
      .select(col("n_total"),
        aggregate(transform(col("ls"),
            s => sqrt(s.getField("n_docs").cast("double"))),
          lit(0.0), (acc, x) => acc + x).as("z"))
    counts.crossJoin(broadcast(z))
      .select(col("lang"),
        floor(least(lit(1.0),
          sqrt(col("n_docs").cast("double")) / col("z") *
            (col("n_total").cast("double") / lit(TEMP_BUDGET_DIV.toDouble)) /
            col("n_docs").cast("double")) * 1000000)
          .cast("long").as("rate_ppm"))
  }

  private def curationPipelineWith(spark: SparkSession, dir: String,
      labels: DataFrame): DataFrame = {
    val q = langQualityRaw(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("stop_ratio"))
    val kept = q.join(labels, Seq("doc_id"), "left")
      .filter((col("label").isNull || col("label") === col("doc_id")) &&
        col("n_tokens") >= MIN_TOKENS && col("stop_ratio") <= MAX_STOP_RATIO)
      .select(col("doc_id"), col("lang"), col("n_tokens"))
    val counts = kept.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val rates = temperatureRates(counts)
    kept.join(broadcast(rates), "lang")
      .filter(TextFns.polyHash(
        concat(lit("sample:"), col("doc_id").cast("string"))) % 1000000
        < col("rate_ppm"))
      .withColumn("shard", TextFns.polyHash(
        concat(lit("shard:"), col("doc_id").cast("string"))) % N_SHARDS)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("shard_tokens"),
        countDistinct("lang").as("n_langs"))
      .orderBy("shard")
  }

  /** q143: deterministic global training shuffle — the last step before a
    * corpus feeds a trainer: every document lands in shard
    * hash(doc_id) % N_SHARDS and at the position its hash orders within
    * the shard, so consecutive source documents (same crawl, same site)
    * scatter across shards and epochs see a fixed pseudo-random order
    * that any re-run, re-shard or resume reproduces exactly.
    *
    * This is the Spark-shaped answer to "shuffle 100 TB": ONE shuffle
    * (hash-partition on shard), a WITHIN-partition sort — never a global
    * sort — and the writer ([[writeShards]]) lays files down in that
    * order via partitionBy. Output here is the per-shard manifest with
    * an order checksum (Σ position × hash-mod) that pins the within-
    * shard ORDER, not just membership — an engine that assigned shards
    * right but ordered differently hash-mismatches the oracle. */
  def trainingShards(spark: SparkSession, dir: String): DataFrame = {
    val withShard = shardAssign(documents(spark, dir))
    withShard
      .withColumn("pos", row_number().over(
        Window.partitionBy("shard").orderBy("h", "doc_id")).cast("long"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("shard_tokens"),
        min("h").as("min_hash"), max("h").as("max_hash"),
        sum(col("pos") * (col("h") % 1000000)).as("order_checksum"))
      .orderBy("shard")
  }

  /** Shard/order key assignment shared by the manifest query and the
    * writer: h = polyHash("shard:" ++ doc_id) decorrelates the shuffle
    * key from content hashes used by sampling/split gates. */
  private def shardAssign(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
      TextFns.polyHash(concat(lit("shard:"), col("doc_id").cast("string")))
        .as("h"))
      .withColumn("shard", col("h") % N_SHARDS)

  /** Materialize the shuffled corpus: one hash-partition shuffle on the
    * shard key, a within-partition sort on the order hash, hive-
    * partitioned parquet by shard — the trainer reads shard directories
    * whose file order IS the shuffle order. No global sort at any size. */
  def writeShards(docs: DataFrame, outDir: String): Unit =
    shardAssign(docs)
      .repartition(col("shard"))
      // shard leads the sort: the partitioned writer REQUIRES its output
      // ordered by the partition columns and inserts its own (unstable)
      // sort otherwise — leading with shard satisfies that requirement,
      // so the (h, doc_id) shuffle order survives into the files
      .sortWithinPartitions(col("shard"), col("h"), col("doc_id"))
      .write.partitionBy("shard")
      .mode("overwrite")
      .parquet(outDir)

  /** Token budget of [[tokenBudgetMixture]] as a fraction of the corpus:
    * B = total_tokens / MIX_BUDGET_DIV. */
  val MIX_BUDGET_DIV = 3

  /** q151: token-budget mixture via exact waterfilling — the data-mixing
    * decision a token-budgeted training run actually solves: given
    * per-source token masses t_i and a budget B, find the waterline L
    * with Σ min(t_i, L) = B; sources under the line keep everything,
    * sources above it downsample to the line. This is the epoch-capping
    * allocation (no source is over-weighted just for being big), solved
    * EXACTLY in integers: the line sits in the sorted-t segment where
    * the running total crosses B, and the per-source rate collapses to
    * rate_ppm = (10⁶·p) div (q·t_i) with p = budget left after the
    * fully-kept sources and q = the count above the line — no floats
    * anywhere until nothing is left to compute. A deterministic content
    * hash realizes the sample, so expected and realized masses are both
    * reported and the decision reproduces under re-runs and re-shards.
    *
    * Scale shape: the solve runs on the |sources|-row aggregate (window
    * over a bounded table); the corpus sees one map-side gate against
    * the broadcast rate table and one final per-source aggregate. */
  def tokenBudgetMixture(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
        (TextFns.polyHash(col("text")) % 1000000).as("bucket"))
    val counts = docs.groupBy("source")
      .agg(sum("n_tokens").as("t"))
    docs.join(broadcast(waterfillRates(counts)), "source")
      .withColumn("kept", col("bucket") < col("rate_ppm"))
      .groupBy("source", "t", "rate_ppm")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept_docs"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L))
          .as("kept_tokens"))
      .select(col("source"), col("n_docs"), col("t").as("n_tokens"),
        col("rate_ppm"),
        expr("t * rate_ppm div 1000000L").as("expected_tokens"),
        col("n_kept_docs"), col("kept_tokens"))
      .orderBy("source")
  }

  /** The exact integer waterfilling solve shared by q151 and q165:
    * given a (source, t) mass table, find the waterline L with
    * Σ min(t_i, L) = total div [[MIX_BUDGET_DIV]] and return per-source
    * ppm rates (fully-kept sources rate 10⁶; above-the-line sources
    * (10⁶·p) div (q·t)). Runs entirely on the \|sources\|-row aggregate:
    * one bounded window, two broadcast scalar rows — never touches the
    * corpus. */
  private def waterfillRates(counts: DataFrame): DataFrame = {
    val n = Window.orderBy(col("t").asc, col("source").asc)
    val ranked = counts
      .withColumn("r", row_number().over(n).cast("long"))
      .withColumn("cum", sum("t").over(
        n.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // budget + source count as a broadcast scalar row
    val tot = counts.agg(sum("t").as("total"),
        count(lit(1)).as("n_src"))
      .select(col("total"), col("n_src"),
        expr(s"total div $MIX_BUDGET_DIV").as("b"))
    val flagged = ranked.crossJoin(broadcast(tot))
      .withColumn("fully_kept",
        col("cum") + (col("n_src") - col("r")) * col("t") <= col("b"))
    // the waterline segment: k fully-kept sources, p budget left, q above
    val line = flagged
      .agg(sum(when(col("fully_kept"), 1L).otherwise(0L)).as("k"),
        sum(when(col("fully_kept"), col("t")).otherwise(0L)).as("cum_k"))
      .crossJoin(broadcast(tot))
      .select(col("k"), (col("b") - col("cum_k")).as("p"),
        (col("n_src") - col("k")).as("q"))
    flagged.crossJoin(broadcast(line))
      .select(col("source"), col("t"),
        when(col("fully_kept") || col("q") === 0L, lit(1000000L))
          .otherwise(expr("(1000000L * p) div (q * t)")).as("rate_ppm"))
  }

  /** q165: DEDUP-WEIGHTED token-budget mixture — q151's waterfilling
    * solved over EFFECTIVE token masses, where each document's tokens
    * are discounted by its soft-dedup weight 1/\|cluster\|
    * ([[graft.engine.Dedup.softDedupWeights]]' ppm arithmetic, labels
    * served from the maintained table). The composition a budgeted
    * training run actually wants: a source padded with near-duplicate
    * families no longer buys budget share with tokens the model would
    * see as repeats — its effective mass shrinks, the waterline
    * re-allocates the difference to genuinely diverse sources. Reported
    * per source: raw vs effective mass, the rate the solve assigns, and
    * the realized (hash-gated) effective take, all in exact integers so
    * the decision is engine- and partitioning-independent.
    *
    * Scale shape: q151's exactly — the weight join adds one bounded
    * label join + broadcast size table to the corpus pass
    * ([[graft.engine.Dedup.softDedupWeights]]' shape); the solve runs
    * on the \|sources\|-row aggregate; the gate is map-side against the
    * broadcast rate table. */
  def weightedTokenMixture(spark: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.readClusterLabels(spark,
        Dedup.lifecycleLabels(spark, dir))
      .select(col("id").as("doc_id"), col("label"))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("csize"))
    val docs = documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
        (TextFns.polyHash(col("text")) % 1000000).as("bucket"))
      .join(labels, Seq("doc_id"), "left")
      .join(broadcast(sizes), Seq("label"), "left")
      .withColumn("eff_ppm",
        col("n_tokens") * expr("1000000L div coalesce(csize, 1L)"))
    val counts = docs.groupBy("source")
      .agg(sum("n_tokens").as("raw_t"),
        expr("sum(eff_ppm) div 1000000L").as("t"))
    docs.join(broadcast(waterfillRates(counts)
        .join(counts.select(col("source"), col("raw_t")), "source")),
        "source")
      .withColumn("kept", col("bucket") < col("rate_ppm"))
      .groupBy("source", "raw_t", "t", "rate_ppm")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept_docs"),
        sum(when(col("kept"), col("eff_ppm")).otherwise(0L)).as("kept_ppm"))
      .select(col("source"), col("n_docs"), col("raw_t").as("raw_tokens"),
        col("t").as("eff_tokens"), col("rate_ppm"),
        expr("t * rate_ppm div 1000000L").as("expected_eff_tokens"),
        col("n_kept_docs"),
        expr("kept_ppm div 1000000L").as("kept_eff_tokens"))
      .orderBy("source")
  }

  /** Per-source token cap of [[sourceTokenCap]] as a fraction of the mean
    * source mass: cap = total div (2·n_src) — sources under half the
    * average keep everything, scale-free at any SF. */
  val SRC_CAP_DIV = 2

  /** q167: per-source token CAP — the domain-capping gate web curation
    * applies before any global mixing: no single source (domain, crawl,
    * dump) may contribute more than `cap` tokens, enforced as a greedy
    * prefix in deterministic content-hash order (docs admitted while the
    * source's budget is unexhausted, so re-runs and re-shards admit the
    * SAME docs; one overshooting last doc is admitted rather than split).
    * Complements q151: the waterfill allocates a GLOBAL budget
    * proportionally; the cap is a hard per-source ceiling independent of
    * what other sources do. Output per source: mass, kept docs/tokens,
    * whether the cap bit.
    *
    * Scale shape: one corpus pass projecting (source, hash, n_tokens);
    * the greedy prefix is a per-source running sum — a shuffle keyed on
    * source whose per-key cost is the source's own doc count (at
    * production cardinality sources are domains: many keys, bounded
    * skew). For a mega-domain, the hash order admits the q168-style
    * two-phase cut: a broadcast ppm threshold ≈ cap/mass bounds the
    * sorted set before the exact prefix runs. The cap itself derives
    * from a broadcast 1-row aggregate. */
  def sourceTokenCap(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
        (TextFns.polyHash(
          concat(lit("cap:"), col("doc_id").cast("string"))) % 1000000)
          .as("h"))
    val cap = docs.agg(sum("n_tokens").as("tot"),
        countDistinct("source").as("n_src"))
      .select(expr(s"tot div (${SRC_CAP_DIV}L * n_src)").as("cap"))
    val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    docs
      .withColumn("cum_before",
        coalesce(sum("n_tokens").over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(cap))
      .withColumn("keep", col("cum_before") < col("cap"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L))
          .as("kept_tokens"),
        (sum(when(col("keep"), 0L).otherwise(1L)) > 0L).as("capped"))
      .orderBy("source")
  }

  /** q168 eval-set size — small enough that every language's quota is a
    * corpus fraction, large enough that largest-remainder seats matter. */
  val EVAL_N = 100L
  /** Pre-filter safety factor: the two-phase pick keeps ~[[EVAL_OVER]]×
    * quota candidates before the exact per-language ranking. */
  val EVAL_OVER = 4L

  /** q168: EXACT-size stratified eval sample — the held-out set a
    * training run carves out before anything else: exactly [[EVAL_N]]
    * documents, allocated per language by largest-remainder (Hamilton)
    * apportionment — base quota (N·n_l) div total, the leftover seats to
    * the largest remainders (ties to lang asc) — so the sample's language
    * mix tracks the corpus mix as closely as an integer allocation can,
    * and the TOTAL is exact (rate-based samplers like q141/q147 only hit
    * budgets in expectation). Membership is the quota-prefix of a
    * deterministic per-doc hash order, so the same corpus always yields
    * the same eval set. Output per language: corpus count, quota, picked
    * count, and the picked-id checksum that pins membership (not just
    * counts) cross-engine.
    *
    * Scale shape: the apportionment runs on the \|langs\|-row aggregate
    * (one bounded window); the corpus pass is map-side gated by a
    * broadcast ppm threshold ≈ EVAL_OVER·quota/n_l, so the exact
    * per-language ranking windows only ~EVAL_OVER×quota survivor rows —
    * never a full-language sort (a per-lang window over the corpus would
    * funnel the dominant language through one task at 100 TB). The
    * threshold is deterministic, so the two-phase result equals the
    * one-phase one whenever the survivor set covers the quota. Coverage
    * is probabilistic, not guaranteed — the cut keeps ~EVAL_OVER× the
    * expected quota, so adverse hash clustering can in principle
    * underfill a language (RoundTenSpec asserts full coverage on the
    * gated corpora; the oracle restates the identical rule, so a
    * shortfall would surface as n_picked < quota, never as a silent
    * hash mismatch). */
  def stratifiedEvalSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        (TextFns.polyHash(
          concat(lit("eval:"), col("doc_id").cast("string"))) % 1000000)
          .as("h"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum("n_docs").as("total"))
    val based = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"),
        expr(s"(${EVAL_N}L * n_docs) div total").as("base"),
        expr(s"(${EVAL_N}L * n_docs) % total").as("rem"))
    val seats = based
      .agg(sum("base").as("sum_base"))
      .select((lit(EVAL_N) - col("sum_base")).as("extra"))
    val quotas = based.crossJoin(broadcast(seats))
      // unpartitioned window, bounded by |langs| (one row per language)
      .withColumn("rr", row_number().over(
        Window.orderBy(col("rem").desc, col("lang"))).cast("long"))
      .select(col("lang"), col("n_docs"),
        (col("base") + when(col("rr") <= col("extra"), 1L).otherwise(0L))
          .as("quota"))
      .withColumn("thr_ppm", least(lit(1000000L),
        expr(s"(${EVAL_OVER}L * 1000000L * quota) div n_docs + 1000L")))
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    docs.join(broadcast(quotas), "lang")
      .filter(col("h") < col("thr_ppm"))
      .withColumn("r", row_number().over(w).cast("long"))
      .filter(col("r") <= col("quota"))
      .groupBy("lang", "n_docs", "quota")
      .agg(count(lit(1)).as("n_picked"),
        sum("doc_id").as("picked_id_sum"))
      .orderBy("lang")
  }

  /** Percentiles [[lengthPercentiles]] reports — the cut points a
    * length-filter calibration reads. */
  val LEN_PCTS: Seq[Int] = Seq(50, 90, 99)

  /** q169: EXACT per-language token-length percentiles — the
    * calibration read before setting length gates (where does p99
    * actually sit per language?), computed exactly WITHOUT sorting the
    * corpus: token counts live in a small value domain, so the corpus
    * aggregates to a bounded (lang, n_tokens) → count histogram first,
    * and the order statistic falls out of the histogram's cumulative
    * sum — percentile p = the smallest length whose cumulative count
    * reaches ceil(n·p/100) (the standard nearest-rank definition, all
    * integer arithmetic). `percentile_approx` is the one-pass
    * approximation engines reach for at scale; this is the exact
    * answer at the same scale-safety, because the sort that makes
    * exact percentiles expensive happens on the HISTOGRAM (bounded by
    * distinct lengths, not documents).
    *
    * Scale shape: one corpus pass with map-side combine into the
    * bounded histogram; the per-language window and the rank selection
    * run on histogram rows. No corpus sort, no skewed window: the
    * dominant language contributes MORE COUNTS, not more rows. */
  def lengthPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val h = documents(spark, dir)
      .select(col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"))
      .groupBy("lang", "n_tokens").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang").orderBy("n_tokens")
    val cum = h.withColumn("cum", sum("cnt").over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val tot = h.groupBy("lang").agg(sum("cnt").as("n"))
    cum.join(tot, "lang")
      .withColumn("pct", explode(array(LEN_PCTS.map(p => lit(p.toLong)): _*)))
      .filter(col("cum") >= expr("(n * pct + 99L) div 100L"))
      .groupBy("lang", "pct")
      .agg(min("n_tokens").as("tokens"), first("n").as("n_docs"))
      .select(col("lang"), col("pct"), col("n_docs"), col("tokens"))
      .orderBy("lang", "pct")
  }

  /** q152 phrase set — 3-token phrases, a mix of present and absent so
    * the zero-hit path is exercised too. */
  val PHRASES: Seq[String] =
    Seq("batch batch batch", "join order batch", "sort merge part")
  val PHRASE_W = 3

  /** q152: exact phrase search without an index — every [[PHRASE_W]]-token
    * window's codegen'd positioned hash ([[TextFns.spanHashes]], the q133
    * machinery) meets the broadcast phrase-hash set; a hit is an exact
    * token-sequence occurrence (modulo polyhash collision over the prime
    * field — a production verify would string-compare the hits, a
    * |hits|-bounded step). Per phrase: occurrence count, distinct
    * documents, first document — the grep-over-the-corpus primitive that
    * backs quote tracing and benchmark-contamination drill-downs.
    *
    * Scale shape: one map-only hashing pass over the corpus (no
    * tokenize-join, no index requirement), a broadcast semi-structure
    * join against |phrases| hashes, and a |phrases|-bounded aggregate.
    * The LEFT join from the phrase list keeps zero-hit phrases in the
    * output with exact zero counts. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pdf = PHRASES.toDF("phrase")
      .select(col("phrase"), TextFns.polyHash(col("phrase")).as("ph"))
    val hits = documents(spark, dir)
      .select(col("doc_id"),
        explode(TextFns.spanHashes(col("text"), PHRASE_W)).as("h"))
      .join(broadcast(pdf), col("h") === col("ph"))
      .groupBy("phrase")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct("doc_id").as("n_docs"),
        min("doc_id").as("first_doc_id"))
    pdf.select(col("phrase"))
      .join(hits, Seq("phrase"), "left")
      .select(col("phrase"),
        coalesce(col("n_occurrences"), lit(0L)).as("n_occurrences"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        col("first_doc_id"))
      .orderBy("phrase")
  }

  /** Winnowing-style document fingerprint: min rolling hash over character
    * 8-grams + distinct-gram count. One map-only pass; the fingerprint is
    * the clustering key for containment-style dedup at scale. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), TextFns.charGramHashes(col("text")).as("g"))
      .select(col("doc_id"),
        array_min(col("g")).as("fp_min"),
        size(array_distinct(col("g"))).cast("long").as("n_distinct_grams"))
      .orderBy("doc_id")

  /** Repetition threshold: docs whose word-3-gram streams are more than
    * half duplicates get flagged (the Gopher-style "repetition signals"
    * family — heavily templated/looping text is a training-data smell). */
  val REP_T = 0.5

  /** Per-document repetition ratio: 1 − distinct/total word-3-gram
    * shingles. A doc that repeats the same phrasing over and over scores
    * high; natural prose scores near 0. Map-only (the shingle hashing is
    * the same codegen pass the MinHash pipeline runs); at 100 TB this is
    * one projection fused into whatever quality pass already reads the
    * text. The ratio is one integer division — bit-exact cross-engine. */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        greatest(size(TextFns.tokens(col("text"))) - 2, lit(1))
          .cast("long").as("n_shingles"),
        size(TextFns.shingleHashes(col("text"))).cast("long")
          .as("n_distinct_shingles"))
      .withColumn("rep_ratio", Num.round6(lit(1.0) -
        col("n_distinct_shingles").cast("double") /
          col("n_shingles").cast("double")))
      .withColumn("repetitive", col("rep_ratio") > REP_T)
      .orderBy("doc_id")

  /** Boilerplate document-frequency gate: a word-3-gram present in at
    * least this percentage of ALL documents is corpus boilerplate
    * (header/footer/license text — the C4-style cross-document hygiene
    * signal, as opposed to [[repetition]]'s within-document signal).
    * Relative, so the semantics are scale-invariant; compared with exact
    * integer arithmetic (`df × 100 ≥ n_docs × pct`) so every engine
    * agrees at every corpus size. */
  val BOILER_DF_PCT = 1

  /** Cross-document boilerplate accounting: per document, how many of its
    * distinct word-3-grams occur in ≥ [[BOILER_DF_PCT]]% of the corpus.
    *
    * Scale shape: one map-only shingle pass, one shuffle keyed on the
    * gram hash (partial aggregation combines map-side — distinct-per-doc
    * hashes mean `count(*)` IS document frequency, no `countDistinct`
    * expansion), then the heavy set joins back by BROADCAST. The
    * broadcast is safe by a counting bound, not luck: with S shingles
    * per doc, Σdf ≈ S·N instances over a df ≥ (pct/100)·N threshold
    * caps the heavy set at S·100/pct grams — independent of corpus
    * size (~3k entries at ANY scale for 30-shingle docs at 1%). The
    * corpus itself is never shuffled, only its exploded gram stream. */
  /** The corpus's heavy (boilerplate) gram set — `bg` rows, bounded at
    * S·100/pct entries by the counting argument above. Shared by the
    * batch accounting below and the streaming drift monitor
    * ([[graft.streaming.DocsStream.heavyGramMonitor]]), which watches
    * this set against a live feed. */
  def heavyGramSet(spark: SparkSession, dir: String): DataFrame = {
    val sh = spread(documents(spark, dir))
      .select(col("doc_id"), TextFns.shingleHashes(col("text")).as("sh"))
    val g = sh.select(col("doc_id"), explode(col("sh")).as("g"))
    // corpus size as a broadcast scalar, not a driver-side count() — the
    // threshold resolves inside the one plan (same device as Sim's
    // in-plan IVF stride)
    val total = sh.agg(count(lit(1)).as("n_total"))
    g.groupBy("g").agg(count(lit(1)).as("n_docs"))
      .join(broadcast(total), lit(true))
      .filter(col("n_docs") * 100 >= col("n_total") * BOILER_DF_PCT)
      .select(col("g").as("bg"))
  }

  def boilerplateNgrams(spark: SparkSession, dir: String): DataFrame = {
    val g = spread(documents(spark, dir))
      .select(col("doc_id"), explode(TextFns.shingleHashes(col("text"))).as("g"))
    val heavy = heavyGramSet(spark, dir)
    g.join(broadcast(heavy), col("g") === col("bg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("bg")).as("n_boiler"))
      .select(col("doc_id"),
        col("n_grams"), col("n_boiler"),
        Num.round6(col("n_boiler").cast("double") /
          col("n_grams").cast("double")).as("boiler_ratio"))
      .orderBy("doc_id")
  }

  /** Merge-inventory size for [[vocabCoverage]] — the top-N cut of the
    * corpus's word-bigram distribution (the BPE question "which adjacent
    * merges earn a vocabulary slot" asked at word granularity, the only
    * granularity the synthetic corpus's 31-token lexicon makes
    * non-degenerate). The operator shape is N-independent: the inventory
    * is a bounded broadcast at any N. */
  val VOCAB_N = 200

  /** Merge-inventory coverage — the tokenizer-sizing signal: induce the
    * corpus-global top-[[VOCAB_N]] word-bigram inventory, then measure
    * per language what fraction of its bigram stream the inventory
    * covers (the remainder is the tail a subword tokenizer must absorb
    * as longer byte sequences). Coverage is an exact ppm integer, same
    * discipline as recall.
    *
    * Scale shape: one bigram-keyed shuffle with map-side combine builds
    * the global counts; the top-N cut is a TakeOrdered over the counts
    * table (deterministic (count desc, bigram asc) boundary); the
    * inventory is bounded by construction ⇒ broadcasts back onto the
    * bigram stream, which never shuffles for the join — then one
    * lang-keyed aggregate. The corpus text is read once per pass at
    * 100 TB, the same fusion budget as the other map-only text signals. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    // bigrams counted by their rolling-hash identity (the codegen'd
    // spanHashes pass), not by building bigram STRINGS through an
    // interpreted transform lambda — the q133 lesson; at scale the
    // inventory maps hashes back to strings once, off the hot path
    val bg = spread(documents(spark, dir))
      .select(col("lang"),
        explode(TextFns.spanHashes(col("text"), 2)).as("b"))
    val vocab = bg.groupBy("b").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("b").asc)
      .limit(VOCAB_N)
      .select(col("b").as("vb"))
    bg.join(broadcast(vocab), col("b") === col("vb"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("vb")).as("n_covered"))
      .select(col("lang"), col("n_bigrams"), col("n_covered"),
        expr("n_covered * 1000000L div n_bigrams").as("coverage_ppm"))
      .orderBy("lang")
  }

  /** Repeated-span window width (tokens). The exact-substring dedup
    * signal of Lee et al. 2022 ("Deduplicating Training Data Makes
    * Language Models Better") works on ~50-token spans over a suffix
    * array; the distributed approximation below fingerprints every
    * W-token window with the same rolling hash the MinHash pipeline uses
    * and marks windows whose fingerprint occurs in MORE THAN ONE
    * document. 8 tokens keeps the signal observable on the short
    * synthetic docs; the operator shape is W-independent. */
  val SPAN_W = 8

  /** Cross-document repeated-substring accounting — per document: window
    * count, windows duplicated in ≥1 OTHER document, their ratio, and the
    * longest consecutive duplicated run (the span an exact-substring
    * dedup pass would cut).
    *
    * Scale shape: one map-only windowing pass (position-KEPT, unlike the
    * distinct shingle set), then two keyed shuffles of the exploded gram
    * stream — (doc, h) distinct, then df-per-hash — and one join back on
    * the hash. Unlike [[boilerplateNgrams]]'s ≥pct% heavy set, the
    * duplicated-hash set has NO counting bound (df ≥ 2 admits O(distinct
    * grams) hashes), so it carries no broadcast hint: AQE broadcasts it
    * only when its measured size allows (it does at tested SFs), and the
    * fallback is the hash-partitioned shuffle join on `h` — the
    * aggregate's own partitioning, so only the probe side of the join
    * re-shuffles. The corpus text itself never shuffles, only its
    * fingerprint stream (the scan is ReusedExchange'd across the two
    * consumers). The run-length window partitions by doc_id over the
    * (bounded) duplicated windows of each doc. */
  /** The flag stream of [[repeatedSpans]] — (doc_id, pos, is_dup), one
    * row per window. Two consumers follow (the per-doc aggregate and the
    * run-length branch); they RECOMPUTE this subplan rather than
    * materialize it — measured both ways at sf10 (×100): checkpointing
    * the flag stream cost 39.3s vs 25.2s for the double computation even
    * when the hashing was an interpreted lambda, because the flag stream
    * is the query's largest intermediate (one row per token window);
    * moving the hashing into the codegen'd [[TextFns.spanHashes]] then
    * cut the whole query to 1.70s, making the recompute cheaper still.
    * The opposite trade holds for the N×K passes ([[graft.engine.Sim]]),
    * whose recompute is the dominant cost — materialize-vs-recompute is
    * a measurement, not a rule. PlanShapeSpec pins this subplan's
    * single-corpus-scan shape. */
  private[graft] def spanFlags(spark: SparkSession, dir: String): DataFrame = {
    val g = spread(documents(spark, dir))
      .select(col("doc_id"),
        posexplode(TextFns.spanHashes(col("text"), SPAN_W)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("h"))
    val dup = g.select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .select(col("h").as("dh"))
    g.join(dup, col("h") === col("dh"), "left")
      .select(col("doc_id"), col("pos"), col("dh").isNotNull.as("is_dup"))
  }

  def repeatedSpans(spark: SparkSession, dir: String): DataFrame = {
    val fl = spanFlags(spark, dir)
    val rw = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = fl.filter(col("is_dup"))
      .withColumn("island", col("pos") - row_number().over(rw))
      .groupBy("doc_id", "island").agg(count(lit(1)).as("run"))
      .groupBy("doc_id").agg(max("run").as("longest_dup_run"))
    fl.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_windows"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        Num.round6(col("n_dup_windows").cast("double") /
          col("n_windows").cast("double")).as("dup_ratio"),
        coalesce(col("longest_dup_run"), lit(0L)).as("longest_dup_run"))
      .orderBy("doc_id")
  }

  /** PII geometry: every PII_EVERY-th doc gets deterministic planted
    * contact strings (pristine testdata has no PII — the plant makes the
    * scrubber observable while staying a pure function of the input, same
    * device as [[Dedup]]'s planted duplicates). Patterns are POSIX-simple
    * char classes so Java regex (Spark) and RE2 (DuckDB) agree. */
  val PII_EVERY = 5
  val EMAIL_RE = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  val PHONE_RE = "[0-9]{3}-[0-9]+"

  /** PII scan + redaction accounting — the scrub pass a training-data
    * pipeline runs before anything leaves the raw zone: count email/phone
    * matches per doc, measure the redacted length (matches replaced by
    * fixed tags), aggregate per language. Map-only; at 100 TB the
    * redacted text would be written back as a new column/partition and
    * this query is its audit trail. */
  def piiScan(spark: SparkSession, dir: String): DataFrame = {
    val planted = documents(spark, dir)
      .withColumn("text2",
        when(col("doc_id") % PII_EVERY === 0,
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@example.com tel 555-0"),
            col("doc_id").cast("string")))
          .otherwise(col("text")))
    planted
      .select(col("lang"),
        regexp_count(col("text2"), lit(EMAIL_RE)).cast("long").as("n_emails"),
        regexp_count(col("text2"), lit(PHONE_RE)).cast("long").as("n_phones"),
        length(col("text2")).cast("long").as("len_raw"),
        length(
          regexp_replace(regexp_replace(col("text2"), EMAIL_RE, "<EMAIL>"),
            PHONE_RE, "<PHONE>")).cast("long").as("len_redacted"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_emails") + col("n_phones") > 0, 1L).otherwise(0L))
          .as("n_docs_with_pii"),
        sum("n_emails").as("total_emails"),
        sum("n_phones").as("total_phones"),
        sum("len_raw").as("total_chars_raw"),
        sum("len_redacted").as("total_chars_redacted"))
      .orderBy("lang")
  }

  /** Chunking geometry: fixed CHUNK_SIZE-char windows every CHUNK_STRIDE
    * chars (stride < size ⇒ overlapping windows, the RAG-ingest shape).
    * Start positions are 1, 1+stride, … while ≤ len — the final window
    * may be short. */
  val CHUNK_SIZE = 200
  val CHUNK_STRIDE = 150

  /** Document chunking — the split step that turns documents into
    * retrieval/embedding units: one row per (doc, window) with its offset,
    * length and content hash. The hash is what an incremental pipeline
    * diffs against to re-embed only changed chunks.
    *
    * Scale shape: posexplode(sequence) is a generator — rows multiply
    * ~len/stride × inside the scan projection, no shuffle; downstream
    * embedding jobs partition by chunk hash. */
  def docChunks(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(1), greatest(length(col("text")), lit(1)),
          lit(CHUNK_STRIDE))))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("chunk_idx"),
        col("col").cast("long").as("chunk_start"),
        col("text").substr(col("col"), lit(CHUNK_SIZE)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        length(col("chunk")).cast("long").as("chunk_len"),
        TextFns.polyHash(col("chunk")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_idx")

  /** Posting-list head length — full lists shard by (term, doc-range) at
    * scale; the head is what a dictionary/stats page stores inline. */
  val POSTINGS_HEAD = 20

  /** Inverted index build: term → document frequency + the sorted head of
    * its posting list — the retrieval-index construction job (BM25/boolean
    * search backends start exactly here).
    *
    * Scale shape: per-doc `array_distinct` before the explode keeps the
    * combiner input minimal; the groupBy shuffles on term (the natural
    * index key — at 100 TB also the output partitioning); collect_list
    * is bounded per term by slicing to the head after an explicit sort
    * (full postings would be written sharded, never inlined). */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"),
        explode(array_distinct(TextFns.tokens(col("text")))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"),
        min("doc_id").as("min_doc_id"), max("doc_id").as("max_doc_id"),
        concat_ws(",",
          transform(slice(sort_array(collect_list(col("doc_id"))),
            1, POSTINGS_HEAD), _.cast("string"))).as("postings_head"))
      .orderBy("term")

  /** Retrieval-scoring geometry: the probe query's terms and the result
    * depth. The scoring is BM25-shaped — tf × idf × length normalization —
    * with the ratio idf (N/df) in place of its logarithm and a plain
    * (1 + len/avglen) length penalty: ln() is not correctly-rounded
    * identically across engines ([[tfidfTopTerms]] has the full argument),
    * and the ranking is what retrieval cares about. */
  val PROBE_TERMS: Seq[String] = Seq("join", "spark", "table")
  val RETRIEVAL_TOP_K = 10

  /** Lexical retrieval: score every document against a probe term set and
    * return the top-k — the query-time half of the [[invertedIndex]] build
    * (BM25-family scoring over tf/df/length statistics).
    *
    * Scale shape: the tf pass touches only postings of the probe terms
    * (filter before the explode's groupBy — at 100 TB this is the index
    * lookup, not a corpus scan); df and the corpus aggregates (N, total
    * tokens) are tiny broadcast scalars; per-doc scores fold term
    * contributions in sorted term order (collect_list → array_sort →
    * left fold), never a float `sum()` whose order is
    * partition-dependent; top-k is one TakeOrdered-style window. */
  def retrievalTopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("len"))
    val corpus = docs.agg(count(lit(1)).as("n_docs"),
      sum("len").as("total_tokens"))
    val tf = docs
      .select(col("doc_id"), col("len"), explode(col("w")).as("term"))
      .filter(col("term").isin(PROBE_TERMS: _*))
      .groupBy(col("doc_id"), col("len"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val contrib = tf
      .join(broadcast(df), "term")
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"),
        struct(col("term"),
          (col("tf").cast("double") *
            (col("n_docs").cast("double") / col("df").cast("double")) /
            (lit(1.0) + col("len").cast("double") /
              (col("total_tokens").cast("double") / col("n_docs").cast("double"))))
            .as("c")).as("tc"))
    val scored = contrib
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("tc"))).as("cs"))
      .select(col("doc_id"),
        aggregate(transform(col("cs"), s => s.getField("c")),
          lit(0.0), (acc, x) => acc + x).as("score"),
        size(col("cs")).cast("long").as("n_terms_hit"))
    // selection via orderBy+limit (TakeOrderedAndProject — k rows per
    // partition, never a global sort); the rank window then sees only the
    // k survivors, so the single-partition window is O(k), not O(corpus).
    scored.orderBy(col("score").desc, col("doc_id").asc)
      .limit(RETRIEVAL_TOP_K)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("score").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("rank"), col("doc_id"), col("n_terms_hit"),
        Num.round6(col("score")).as("score"))
      .orderBy("rank")
  }

  /** Hybrid-retrieval geometry: probe documents, per-modality candidate
    * depth, fused result depth, and the standard RRF damping constant
    * (Cormack et al.'s k=60). */
  val HR_PROBES = 4
  val HR_DEPTH = 10
  val HR_TOP_K = 5
  val HR_RRF_K = 60

  /** q137: hybrid similar-document retrieval — the lexical and dense
    * rankings for each probe document fused by Reciprocal Rank Fusion
    * (score = Σ 1/(k + rank) over the lists a candidate appears in).
    * The lexical half ranks by distinct-token Jaccard against the probe;
    * the dense half by embedding cosine (doc_id ≡ vec_id in the
    * testdata). This is the standard two-tower retrieval/near-dup sweep:
    * each modality catches duplicates the other is blind to (paraphrase
    * ≡ dense-only, template/boilerplate twins ≡ lexical-only), and RRF
    * needs no score calibration between them — only ranks.
    *
    * Scale shape: lexical candidates come from postings of the PROBE's
    * tokens only (corpus tokens join the broadcast probe-token set — the
    * q81 index-lookup shape, never corpus×corpus); per-probe ranking is
    * a row_number window with a pushed rank limit (WindowGroupLimit
    * prunes to depth per partition map-side). The dense half is the
    * brute-force q20 baseline here; [[graft.engine.Sim.ivfpqTopK]] /
    * probeIvfIndex are its indexed drop-ins. The fusion join is over two
    * |probes|·depth lists — broadcast-sized at any corpus size.
    * Determinism: Jaccard is one integer division; RRF is two exact
    * divisions summed in fixed (lex, dense) order. */
  def hybridRetrieval(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("doc_id"), array_distinct(TextFns.tokens(col("text"))).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("nt"))
    val probeToks = toks.filter(col("doc_id") < HR_PROBES)
      .select(col("doc_id").as("probe_id"), col("nt").as("pnt"),
        explode(col("w")).as("tok"))
    val shared = toks
      .select(col("doc_id"), col("nt"), explode(col("w")).as("tok"))
      .join(broadcast(probeToks), "tok")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id"), col("pnt"), col("nt"))
      .agg(count(lit(1)).as("shared"))
    val wl = Window.partitionBy("probe_id")
      .orderBy(col("jac").desc, col("doc_id").asc)
    val lex = shared
      .select(col("probe_id"), col("doc_id"),
        (col("shared").cast("double") /
          (col("pnt") + col("nt") - col("shared")).cast("double")).as("jac"))
      .withColumn("lex_rank", row_number().over(wl).cast("long"))
      .filter(col("lex_rank") <= HR_DEPTH)
      .select(col("probe_id"), col("doc_id"), col("lex_rank"))
    val e = spread(embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"),
        sqrt(VecFns.norm2(col("embedding"))).as("nrm"))
    val pe = e.filter(col("vec_id") < HR_PROBES)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"),
        col("nrm").as("pnrm"))
    val wd = Window.partitionBy("probe_id")
      .orderBy(col("cos").desc, col("doc_id").asc)
    val dense = e.join(broadcast(pe), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("doc_id"),
        (VecFns.dot(col("pv"), col("embedding")) / (col("pnrm") * col("nrm")))
          .as("cos"))
      .withColumn("dense_rank", row_number().over(wd).cast("long"))
      .filter(col("dense_rank") <= HR_DEPTH)
      .select(col("probe_id"), col("doc_id"), col("dense_rank"))
    val keys = lex.select("probe_id", "doc_id")
      .union(dense.select("probe_id", "doc_id")).distinct()
    val wr = Window.partitionBy("probe_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    keys
      .join(lex, Seq("probe_id", "doc_id"), "left")
      .join(dense, Seq("probe_id", "doc_id"), "left")
      .select(col("probe_id"), col("doc_id"), col("lex_rank"), col("dense_rank"),
        (coalesce(lit(1.0) / (lit(HR_RRF_K) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(HR_RRF_K) + col("dense_rank")), lit(0.0)))
          .as("rrf"))
      .withColumn("rank", row_number().over(wr).cast("long"))
      .filter(col("rank") <= HR_TOP_K)
      .select(col("probe_id"), col("rank"), col("doc_id"),
        col("lex_rank"), col("dense_rank"), Num.round6(col("rrf")).as("rrf_score"))
      .orderBy("probe_id", "rank")
  }

  /** Bigram-LM geometry: vocabulary cap (top-V tokens by frequency, the
    * rest folded to `<unk>`) and the add-α smoothing written as exact
    * integer arithmetic: with α = ½ over V+1 symbols,
    * p(w2|w1) = (c(w1,w2)+½)/(c(w1)+½(V+1)) = (2·c2+1)/(2·c1+V+1). */
  val LM_VOCAB = 256
  /** Fixed-point scale for order-free probability sums (the KMEANS_SCALE
    * discipline): per-pair p is floored to units of 2^-30 so the per-doc
    * aggregate is an integer sum — deterministic under any partitioning. */
  val LM_SCALE = 1073741824L // 2^30

  /** q138: bigram language-model fluency scoring — the CCNet-style
    * quality signal: train a smoothed bigram model on the corpus itself,
    * score every document by its mean bigram probability (higher = more
    * predictable/fluent text; gibberish and boilerplate-free word salad
    * score low). The mean-probability form keeps the whole computation
    * in rational arithmetic — no ln(), whose last-ulp rounding differs
    * across engines ([[tfidfTopTerms]] has the argument) — and ranks
    * documents the same way a mean-log score would at equal pair counts.
    *
    * Scale shape: the model is counting-bounded — tokens outside the
    * top-[[LM_VOCAB]] vocabulary fold to `<unk>`, so the bigram table
    * has ≤ (V+1)² rows at ANY corpus size (the q130 broadcast
    * discipline); vocabulary selection is one corpus pass ending in a
    * TakeOrdered top-V. Scoring is a map-side pass: pairs join the
    * broadcast model, fixed-point partial sums combine per doc. Three
    * corpus passes total (vocab, model, score) — the two consumers of
    * the pair stream recompute it rather than checkpointing a
    * corpus-sized intermediate (the q133 measurement). Pair formation
    * is `arrays_zip(slice,slice)` + explode — codegen'd built-ins, no
    * interpreted HOF lambda in the hot path (the q133/q135 lesson). */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val vocab = lmVocab(docs).localCheckpoint()
    val model = lmModel(docs, vocab)
      .localCheckpoint() // bounded ≤ (V+1)² rows — blocking anyway
    lmScoreAgainst(docs, vocab, model).orderBy("doc_id")
  }

  /** Top-[[LM_VOCAB]] vocabulary of a corpus (count desc, token asc
    * tie-break) — one corpus pass ending in a TakeOrdered top-V. */
  def lmVocab(docs: DataFrame): DataFrame =
    docs.select(explode(TextFns.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(LM_VOCAB)
      .select("tok")

  /** The corpus's adjacent-token pair stream, each side folded into the
    * vocabulary (or `<unk>`). Pair formation is codegen built-ins
    * (`arrays_zip(slice, slice)` + explode), vocabulary folding two
    * broadcast left joins — map-only over the corpus. */
  private def lmPairs(docs: DataFrame, vocab: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), TextFns.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(arrays_zip(
          slice(col("w"), lit(1), size(col("w")) - 1),
          slice(col("w"), lit(2), size(col("w")) - 1))).as("pz"))
      .select(col("doc_id"), col("lang"),
        col("pz.0").as("w1"), col("pz.1").as("w2"))
      .join(broadcast(vocab.select(col("tok").as("w1"), lit(1).as("in1"))),
        Seq("w1"), "left")
      .join(broadcast(vocab.select(col("tok").as("w2"), lit(1).as("in2"))),
        Seq("w2"), "left")
      .select(col("doc_id"), col("lang"),
        when(col("in1").isNotNull, col("w1")).otherwise(lit("<unk>")).as("v1"),
        when(col("in2").isNotNull, col("w2")).otherwise(lit("<unk>")).as("v2"))

  /** The trained bigram model: (v1, v2, c2, c1) — pair count and
    * conditioning-context count over the vocabulary-folded corpus.
    * Counting-bounded at ≤ (V+1)² rows for ANY corpus size. */
  def lmModel(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val bg = lmPairs(docs, vocab).groupBy("v1", "v2")
      .agg(count(lit(1)).as("c2"))
    bg.join(bg.groupBy("v1").agg(sum(col("c2")).as("c1")), "v1")
  }

  /** Score `docs` against a FROZEN (vocab, model) pair — the deployable
    * half: the model trains once on the reference corpus and any batch
    * OR micro-batch scores against it (per-doc scores depend only on the
    * doc and the model, so stream ≡ batch exactly;
    * [[graft.streaming.DocsStream.lmGateSink]] is the ingest-path form).
    * Map-only: pairs join the broadcast model, fixed-point partial sums
    * combine per doc. */
  def lmScoreAgainst(docs: DataFrame, vocab: DataFrame,
      model: DataFrame): DataFrame =
    lmPairs(docs, vocab).join(broadcast(model), Seq("v1", "v2"))
      .select(col("doc_id"), col("lang"),
        (col("v1") === "<unk>" || col("v2") === "<unk>").as("oov"),
        floor(((col("c2") * 2 + 1).cast("double") /
          (col("c1") * 2 + (LM_VOCAB + 1)).cast("double")) *
          lit(LM_SCALE.toDouble)).cast("long").as("sp"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("oov_pairs"),
        Num.round6(sum(col("sp")).cast("double") /
          (count(lit(1)).cast("double") * lit(LM_SCALE.toDouble))).as("lm_score"))

  // ------------------------------ BPE tokenizer training (q171)

  /** BPE trains on the word-frequency HISTOGRAM, not the corpus: after one
    * corpus-wide word count, every round touches only the top
    * [[BPE_WORD_CAP]] (word, freq, symbols) rows — corpus-size-independent
    * state, the property that makes tokenizer training a bounded
    * side-computation of a 100 TB pipeline rather than a pass over it. */
  val BPE_WORD_CAP = 2000

  /** Merge rounds to learn. The oracle unrolls the same count
    * ([[graft.OracleTwins.bpeMerges]]), so it is a shared constant. */
  val BPE_MERGES = 10

  /** The capped word-frequency table with initial character symbols —
    * round 0 of the BPE loop. One corpus token pass (map-side combine on
    * the word), then a TakeOrdered top-[[BPE_WORD_CAP]] (freq desc, word
    * asc — the deterministic cap). */
  private def bpeWords(spark: SparkSession, dir: String): DataFrame =
    spread(documents(spark, dir))
      .select(explode(TextFns.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word").asc).limit(BPE_WORD_CAP)
      .select(col("word"), col("freq"),
        filter(split(col("word"), ""), c => length(c) > 0).as("syms"))

  /** q171: byte-pair-encoding merge table — [[BPE_MERGES]] greedy rounds
    * of Sennrich-style tokenizer training. Each round: count adjacent
    * symbol pairs weighted by word frequency, adopt the most frequent
    * pair (count desc, pair asc tie-break), rewrite every word's symbol
    * sequence by one greedy left-to-right merge pass. The output IS the
    * tokenizer artifact: (merge_rank, sym_a, sym_b, merged, n_occurrences).
    *
    * The merge pass is a left fold (`aggregate`): append the next symbol
    * unless the accumulator's last element is `sym_a` and the symbol is
    * `sym_b`, in which case replace the tail with the merged symbol —
    * exactly greedy left-to-right (a fresh merge result never re-merges,
    * because the comparison sees the CONCATENATED symbol). DuckDB runs
    * the identical fold via `list_reduce`, so the oracle is exact.
    *
    * The per-round 1-row collect is the round's OUTPUT (the chosen pair —
    * driver state bounded by [[BPE_MERGES]], corpus-size-independent),
    * the same bounded-scalar class as [[graft.engine.Sim.kmeansRun]]'s
    * convergence trace; the corpus itself is only ever touched by the one
    * word-count pass in [[bpeWords]]. Rounds are sequential by nature;
    * the per-round localCheckpoint keeps lineage flat (the
    * [[graft.engine.Dedup.connectedComponents]] loop discipline). */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame =
    bpeTrain(spark, bpeWords(spark, dir), BPE_MERGES)

  /** The BPE training loop over an explicit (word, freq, syms) histogram —
    * the composable/testable form (DedupSimSpec drives it with a known
    * 4-word histogram whose merge sequence is derivable by hand). */
  private[graft] def bpeTrain(spark: SparkSession, words: DataFrame,
      nMerges: Int): DataFrame =
    bpeTrainState(spark, words, nMerges)._1

  /** [[bpeTrain]] plus the trained word table (word, freq, syms after all
    * merges) — the state [[bpeFertility]] scores the corpus against. */
  private[graft] def bpeTrainState(spark: SparkSession, words: DataFrame,
      nMerges: Int): (DataFrame, DataFrame) = {
    import spark.implicits._
    var w = words.localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    for (i <- 1 to nMerges) {
      val top = w.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          p => struct(element_at(col("syms"), p).as("a"),
            element_at(col("syms"), p + 1).as("b")))).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()(0)
      val (a, b, n) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((i.toLong, a, b, a + b, n))
      w = w.select(col("word"), col("freq"),
        aggregate(col("syms"), typedLit(Seq.empty[String]),
          (acc, x) => when(
            size(acc) > 0 && element_at(acc, -1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x)))).as("syms"))
        .localCheckpoint()
    }
    (merges.result()
      .toDF("merge_rank", "sym_a", "sym_b", "merged", "n_occurrences")
      .orderBy("merge_rank"), w)
  }

  /** q172: tokenizer fertility — the trained merges applied BACK to the
    * corpus: per language, whitespace words vs BPE tokens (fertility =
    * tokens/word, the standard tokenizer-quality metric), with
    * out-of-histogram words falling back to one-token-per-character (the
    * byte-fallback analog, counted in `n_oov_words`).
    *
    * Scale shape: training state is the bounded histogram; scoring is one
    * corpus token pass joined to the BROADCAST (≤ [[BPE_WORD_CAP]]-row)
    * trained table — map-only over the corpus, partial aggregation
    * collapses to \|langs\| rows. */
  def bpeFertility(spark: SparkSession, dir: String): DataFrame = {
    val trained = bpeTrainState(spark, bpeWords(spark, dir), BPE_MERGES)._2
    val vs = trained.select(col("word"),
      size(col("syms")).cast("long").as("n_syms"))
    spread(documents(spark, dir))
      .select(col("lang"), explode(TextFns.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
      .join(broadcast(vs), Seq("word"), "left")
      .select(col("lang"),
        coalesce(col("n_syms"), length(col("word")).cast("long")).as("n_tok"),
        col("n_syms").isNull.as("oov"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_bpe_tokens"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov_words"))
      .withColumn("fertility", Num.round6(
        col("n_bpe_tokens").cast("double") / col("n_words").cast("double")))
      .orderBy("lang")
  }

  /** Sample size per source for [[weightedSample]]. */
  val SPS_K = 5

  /** q174: per-source WEIGHTED sample without replacement — sequential
    * Poisson sampling (Ohlsson 1998, the πps scheme production survey
    * samplers use): each doc draws a deterministic uniform u from its id
    * hash and is ranked by priority u/w (w = token count), the k smallest
    * priorities per source win. Bigger docs are proportionally likelier
    * to be picked, the sample is reproducible (re-runs and re-shards pick
    * the SAME docs — the q167/q168 hash-order device), and — the reason
    * for THIS estimator over the exponential-key one — u/w is a single
    * IEEE division of exact integers, so the ranking is bit-identical in
    * any engine: no transcendental (ln/pow) whose last ulp could differ
    * cross-engine sits under the order (the repo's integer-exactness
    * discipline, see Num).
    *
    * Scale shape: one corpus pass projecting (source, u, w); the top-k is
    * a per-source window whose per-key cost is the source's own docs —
    * at production cardinality sources are domains (many keys, bounded
    * skew), and a mega-source admits the q168-style two-phase cut: a
    * broadcast priority threshold ≈ EVAL_OVER·k/Σw bounds the windowed
    * set before the exact rank. Output is the per-source membership
    * checksum, not just counts, so the gate pins WHICH docs were picked. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("source"), col("doc_id"),
        greatest(size(TextFns.tokens(col("text"))).cast("long"), lit(1L))
          .as("w"),
        (TextFns.polyHash(
          concat(lit("sps:"), col("doc_id").cast("string"))) % 1000000L
          + 1L).as("u_ppm"))
      .withColumn("priority",
        col("u_ppm").cast("double") / col("w").cast("double"))
    val win = Window.partitionBy("source")
      .orderBy(col("priority"), col("doc_id"))
    docs
      .withColumn("r", row_number().over(win).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("w").as("total_tokens"),
        sum(when(col("r") <= SPS_K, 1L).otherwise(0L)).as("n_picked"),
        sum(when(col("r") <= SPS_K, col("doc_id")).otherwise(0L))
          .as("picked_id_sum"),
        sum(when(col("r") <= SPS_K, col("w")).otherwise(0L))
          .as("picked_tokens"))
      .orderBy("source")
  }

  /** DSIR hashed-feature space: word bigrams into [[DSIR_NB]] buckets. */
  val DSIR_NB = 4096L

  /** q177: DSIR importance weights (Xie et al. 2023, "Data Selection
    * with Importance Resampling") — score every document by how much
    * more likely its hashed-bigram bag is under a TARGET distribution
    * (here: the corpus's English slice, the "looks like the domain I
    * want" proxy) than under the RAW corpus. Per feature f:
    * ratio(f) = p̂_target(f) / p̂_raw(f) with add-one smoothing over the
    * [[DSIR_NB]]-bucket hashed space; per doc: the sum of its occurrences'
    * ratios. The canonical form sums LOG ratios; this uses the raw ratio
    * in its place — the same substitution the tf-idf family here already
    * makes for idf (monotone per-feature, and it keeps every scored cell
    * integer-exact: each feature's ratio is fixed-pointed to ppm ONCE on
    * the bounded feature table — two IEEE divisions and a multiply in a
    * pinned order, identical cross-engine — and doc scores are then pure
    * integer sums, immune to float association order).
    *
    * Scale shape: two corpus passes. Pass 1 builds the feature histogram
    * — map-side combine collapses to ≤ [[DSIR_NB]] rows regardless of
    * corpus size. Pass 2 re-extracts features and integer-sums each
    * doc's scores against the BROADCAST scored table; the per-doc
    * aggregate partial-aggregates map-side, so its shuffle carries ~one
    * compact integer row per doc (never the exploded bigram stream —
    * measured sublinear, 4.2× wall on ×10 data at the ×100 point), then
    * collapses to \|langs\| rows. This is the shape that lets DSIR sweep
    * 100 TB with one small model-free artifact (the scored table IS the
    * "importance model" a steady-state gate would freeze and serve,
    * q138's device). */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val feats = documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        TextFns.tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("lang"),
        // guard: Spark's sequence(1, 0) DESCENDS instead of emptying, so
        // single-token docs must short-circuit to an empty bigram list
        // (explode then drops them — they carry no bigram evidence)
        explode(expr(
          "CASE WHEN size(ws) < 2 THEN array() " +
            "ELSE transform(sequence(1, size(ws) - 1), " +
            "i -> concat(ws[i - 1], ' ', ws[i])) END")).as("bg"))
      .select(col("doc_id"), col("lang"),
        (TextFns.polyHash(col("bg")) % DSIR_NB).as("f"))
    val hist = feats.groupBy("f")
      .agg(count(lit(1)).as("cnt_r"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("cnt_t"))
    val tots = hist.agg(sum("cnt_r").as("tot_r"), sum("cnt_t").as("tot_t"))
    // ppm fixed-point of the smoothed ratio; the EXACT op order (two
    // divisions, one multiply, one round) is restated in the oracle twin.
    val scored = hist.crossJoin(broadcast(tots))
      .select(col("f"),
        Num.ppm(((col("cnt_t") + 1L).cast("double") /
            (col("tot_t") + lit(DSIR_NB)).cast("double")) /
          ((col("cnt_r") + 1L).cast("double") /
            (col("tot_r") + lit(DSIR_NB)).cast("double")))
          .as("score_ppm"))
    feats.join(broadcast(scored), "f")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_feats"), sum("score_ppm").as("w_ppm"))
      // a doc is target-like when its mean feature ratio exceeds 1
      .withColumn("selected", col("w_ppm") > col("n_feats") * 1000000L)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("selected"), 1L).otherwise(0L)).as("n_selected"),
        sum("w_ppm").as("sum_w_ppm"),
        expr("sum(w_ppm) div sum(n_feats)").as("avg_ratio_ppm"))
      .orderBy("lang")
  }

  /** q192 classifier geometry: hashing-trick bucket count (feature space),
    * and the integer "milli" weight derivation per bucket — a fixed
    * pseudo-random linear model standing in for trained fastText-style
    * weights (the SHAPE is what matters: at deployment the weight table is
    * a broadcast array; here it is a pure expression so the oracle
    * regenerates it). Weights lie in [-1000, 1000] milli-units. */
  val QC_BUCKETS = 4096L
  val QC_MULT = 2654435761L
  val QC_BIAS = 987654321L

  /** q192: hashed-linear quality classifier — the fastText-shaped gate
    * most LLM corpus pipelines run after heuristics (CCNet's LM filter,
    * GPT-3/LLaMA's "looks-like-reference-corpus" logistic classifier).
    * Each token hashes into one of [[QC_BUCKETS]] buckets (hashing trick);
    * the doc score is the sum of integer bucket weights (a linear model in
    * fixed point — the sigmoid is monotone, so the accept decision needs
    * only the sign), computed by `aggregate` over the token array:
    * MAP-ONLY per doc, no explode, no shuffle until the per-source
    * summary. Accept ⇔ score ≥ 0 (mean token weight non-negative — an
    * exact integer compare). */
  def qualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val score = aggregate(toks, lit(0L), (acc, t) =>
      acc + ((((TextFns.polyHash(t) % QC_BUCKETS) * QC_MULT + QC_BIAS)
        % 2001L) - 1000L))
    documents(spark, dir)
      .select(col("source"),
        size(toks).cast("long").as("n_toks"),
        score.as("score_milli"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score_milli") >= 0L, 1L).otherwise(0L))
          .as("n_accepted"),
        sum("score_milli").as("sum_score_milli"),
        sum("n_toks").as("total_tokens"))
      .orderBy("source")
  }

  /** q193 line geometry: aligned [[LINE_W]]-token chunks stand in for the
    * newline-delimited lines of real crawl text (the synthetic corpus has
    * no newlines); a chunk appearing in more than [[LINE_DF_CAP]] distinct
    * docs is boilerplate. */
  val LINE_W = 8
  val LINE_DF_CAP = 3L

  /** q193: line-level dedup with document reconstruction — CCNet's
    * paragraph-hash dedup: lines shared by many documents (nav bars,
    * cookie banners, licence footers) are dropped from EVERY document and
    * the documents are reassembled in original line order. Two passes:
    * (1) explode → one map-side-combined groupBy of line hashes keeps
    * only the df > cap tail — the boilerplate set is the SMALL end of the
    * Zipf curve, so it aggregates to a single bounded array; (2) the
    * rebuild never explodes at all — the boilerplate array broadcasts to
    * every doc row and a higher-order `filter` drops matching lines
    * in-place, so reconstruction is map-only with NO reassembly shuffle
    * (the shape that matters at 100 TB: the corpus-sized text stream
    * crosses zero exchanges on the rewrite path). */
  def lineDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"))
      .withColumn("lines", expr(
        s"transform(sequence(0, (size(w)-1) div $LINE_W), " +
          s"i -> array_join(slice(w, i*$LINE_W+1, $LINE_W), ' '))"))
    val heavy = base
      .select(col("doc_id"), explode(col("lines")).as("line"))
      .select(col("doc_id"), TextFns.polyHash(col("line")).as("h"))
      .groupBy("h").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > LINE_DF_CAP)
      .agg(sort_array(collect_list(col("h"))).as("hv"))
    base.crossJoin(broadcast(heavy))
      .withColumn("kept", filter(col("lines"),
        ln => !array_contains(col("hv"), TextFns.polyHash(ln))))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        TextFns.polyHash(array_join(col("kept"), " ")).as("rebuilt_hash"),
        aggregate(col("kept"), lit(0L),
          (acc, ln) => acc + size(split(ln, " ")).cast("long"))
          .as("kept_tokens"))
      .orderBy("doc_id")
  }

  /** q195 sketch width: k smallest distinct hashes per group. 64 keeps
    * the estimator honest at the test SFs (per-source distinct shingle
    * counts are in the thousands, well past k) while the state stays 512
    * bytes per group at ANY corpus size. */
  val KMV_K = 64

  /** q195: deterministic cardinality sketch — per-source distinct
    * shingle-vocabulary estimates from a k-minimum-values sketch
    * ([[graft.functions.KmvAgg]]), plus a `__all__` corpus row built by
    * MERGING the per-source sketches (explode + re-aggregate over ≤ k·|
    * sources| sketch entries — never a corpus rescan). The exact distinct
    * counts ride alongside as the validation column the sketch replaces
    * at scale; the estimate itself is `(k-1)·P div m_k` in pure integer
    * arithmetic, so — unlike the HLL/KLL estimates of q55, which only
    * support verdict-style gating — every cell here hash-matches a
    * DuckDB replay (bottom-k window + the same division).
    *
    * Scale shape: the sketch path is one map-side-combined aggregation
    * carrying ≤ k longs per group; the merge row costs k·|sources| rows.
    * The exact path (distinct + count) is the expensive twin retained for
    * verification — at deployment scale it is dropped, which is the whole
    * point of the sketch. The branch is gated per-call: the registry
    * entry resolves the session conf `graft.kmv.exact` (default on, so
    * Verify/specs and the oracle always audit the estimate) at call time;
    * [[graft.Bench]] sets it to "0" on its private session so the benched
    * path is the deployment path — the sketch alone. Session conf, not a
    * JVM-global system property: a concurrently running suite sharing the
    * JVM can no longer observe the flag mid-flip. */
  def kmvDistinctShingles(spark: SparkSession, dir: String): DataFrame =
    kmvDistinctShingles(spark, dir,
      exact = spark.conf.get("graft.kmv.exact", "1") != "0")

  /** Explicitly-scoped variant — tests pass `exact` directly and never
    * mutate shared state. */
  def kmvDistinctShingles(spark: SparkSession, dir: String,
      exact: Boolean): DataFrame = {
    import spark.implicits._
    val exactOn = exact
    val hashedRaw = spread(documents(spark, dir))
      .select(col("source"),
        explode(TextFns.shingleHashes(col("text"))).as("h"))
    // materialize only when the exact branches will rescan it
    val hashed = if (exactOn) hashedRaw.localCheckpoint() else hashedRaw
    val perSrc = hashed.select(col("source").as("g"), col("h")).as[KmvIn]
      .groupByKey(_.g).agg(new KmvAgg(KMV_K).toColumn.name("sk"))
      .toDF("source", "sk")
    val merged = perSrc
      .select(lit("__all__").as("g"), explode(col("sk.hs")).as("h"))
      .as[KmvIn]
      .groupByKey(_.g).agg(new KmvAgg(KMV_K).toColumn.name("sk"))
      .toDF("source", "sk")
    val sketches = perSrc.unionByName(merged)
    val withExact = if (exactOn) {
      val exact = hashed.select(col("source"), col("h")).distinct()
        .groupBy("source").agg(count(lit(1)).as("n_exact"))
      val exactAll = hashed.select(col("h")).distinct()
        .agg(count(lit(1)).as("n_exact"))
        .select(lit("__all__").as("source"), col("n_exact"))
      sketches.join(exact.unionByName(exactAll), Seq("source"))
    } else sketches.withColumn("n_exact", lit(null).cast("long"))
    withExact
      .withColumn("sketch_n", size(col("sk.hs")).cast("long"))
      .withColumn("mk",
        when(col("sketch_n") === KMV_K, element_at(col("sk.hs"), KMV_K))
          .otherwise(lit(null).cast("long")))
      .withColumn("est_distinct",
        when(col("sketch_n") < KMV_K, col("sketch_n"))
          .otherwise(expr(
            s"CAST(${KMV_K - 1} AS BIGINT) * ${TextFns.P}L div mk")))
      .select("source", "n_exact", "sketch_n", "mk", "est_distinct")
      .orderBy("source")
  }

  /** q206: pairwise source-vocabulary overlap estimated from the KMV
    * sketches ALONE — the k-minimum-values synopsis estimator (Beyer et
    * al., SIGMOD'07): for sources A,B, merge the two bottom-k sketches,
    * keep the k smallest of the union, and count how many of those
    * appear in BOTH sketches; that count over the merged size is the
    * Jaccard estimate. Every cell is a deterministic function of the
    * input SETS (the q195 law), so the DuckDB twin replays it exactly.
    *
    * This is the 100 TB cross-source contamination probe: estimating
    * all-pairs corpus overlap WITHOUT comparing corpora — one bounded
    * -state aggregation per source (map-side combined, ≤ k longs of
    * state), then pure algebra on the |sources|²/2 pair table of ≤ k
    * -element arrays. The non-equi pair join is a broadcast over the
    * bounded source-sketch table — the q176 signature-algebra class,
    * never corpus-proportional. */
  def kmvSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perSrc = spread(documents(spark, dir))
      .select(col("source").as("g"),
        explode(TextFns.shingleHashes(col("text"))).as("h")).as[KmvIn]
      .groupByKey(_.g).agg(new KmvAgg(KMV_K).toColumn.name("sk"))
      .toDF("source", "sk")
      .select(col("source"), col("sk.hs").as("hs"))
    val a = perSrc.select(col("source").as("source_a"), col("hs").as("hs_a"))
    val b = perSrc.select(col("source").as("source_b"), col("hs").as("hs_b"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .withColumn("merged",
        slice(array_sort(array_union(col("hs_a"), col("hs_b"))), 1, KMV_K))
      .withColumn("n_merged", size(col("merged")).cast("long"))
      .withColumn("n_common",
        size(array_intersect(array_intersect(col("merged"), col("hs_a")),
          col("hs_b"))).cast("long"))
      // Degenerate-corpus guard, mirrored in the twin's WHERE: a pair of
      // empty-vocabulary sources would make `div` NULL here but a hard
      // division-by-zero in DuckDB — filter it out identically on both
      // engines so the degenerate case drops instead of diverging.
      .filter(col("n_merged") > 0)
      .withColumn("jaccard_ppm", expr("n_common * 1000000L div n_merged"))
      .select("source_a", "source_b", "n_common", "n_merged", "jaccard_ppm")
      .orderBy("source_a", "source_b")
  }

  /** q219 sample bound (rows per group retained by the quantile sample)
    * and the LCG constants of its per-row hash — shared verbatim with
    * the DuckDB twin. */
  val QSAMPLE_K = 64
  val QS_A = 1103515245L
  val QS_B = 12345L
  /** The quantile probes, in percent. */
  val QSAMPLE_QS: Seq[Long] = Seq(25L, 50L, 75L, 90L, 99L)

  /** q219: DETERMINISTIC quantile estimation from a bottom-k-by-hash row
    * sample ([[graft.functions.QuantSampleAgg]]) — per-source document
    * -length quantiles whose every cell hash-matches a DuckDB replay.
    * q55's `percentile_approx` (KLL-style) is merge-order-sensitive:
    * repartitioning can shift its estimates, so it only supports
    * verdict-style gating; here the sample is a pure function of the
    * input set (the q195 law applied to ROW sampling), and the quantile
    * is the ceil(q·n/100)-th order statistic of the sample in exact
    * integer arithmetic.
    *
    * Scale shape: one map-side-combined aggregation carrying ≤ k (h, v)
    * pairs per source; extraction is array algebra on the ≤ k-element
    * sample — the corpus is scanned once and never sorted. */
  def quantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perSrc = spread(documents(spark, dir))
      .select(col("source").as("g"),
        expr(s"(doc_id * ${QS_A}L + ${QS_B}L) % ${TextFns.P}L").as("h"),
        col("n_chars").as("v")).as[graft.functions.QsIn]
      .groupByKey(_.g)
      .agg(new graft.functions.QuantSampleAgg(QSAMPLE_K).toColumn.name("sk"))
      .toDF("source", "sk")
    perSrc
      .withColumn("vs", array_sort(expr("transform(sk.es, e -> e.v)")))
      .withColumn("n_sample", size(col("vs")).cast("long"))
      .withColumn("q", explode(array(QSAMPLE_QS.map(lit): _*)))
      .withColumn("est",
        expr("element_at(vs, CAST((q * n_sample + 99) DIV 100 AS INT))"))
      .select("source", "q", "n_sample", "est")
      .orderBy("source", "q")
  }

  /** Per-source sketch CONTENTS of a doc slice — the unit of the q198
    * persisted sketch store: ≤ [[KMV_K]] (source, h) rows per source,
    * computed from the slice alone. */
  private def kmvSketchRows(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select(col("source").as("g"),
        explode(TextFns.shingleHashes(col("text"))).as("h")).as[KmvIn]
      .groupByKey(_.g).agg(new KmvAgg(KMV_K).toColumn.name("sk"))
      .toDF("source", "sk")
      .select(col("source"), explode(col("sk.hs")).as("h"))
  }

  /** Build-once half of the sketch-store lifecycle: increment 0, static
    * overwrite, source-sorted files — the [[graft.engine.Dedup]] store
    * contract applied to sketch state. */
  def buildKmvStore(docs: DataFrame, storeDir: String): Unit =
    IndexMaintenance.writeIncrement(kmvSketchRows(docs), storeDir, 0L,
      kmvLayout)

  /** Append-an-increment half — the delta slice's OWN sketches (computed
    * from the delta alone, the base corpus is never rescanned), dynamic
    * overwrite so a replayed increment replaces itself (idempotent). */
  def appendKmvStore(delta: DataFrame, storeDir: String,
      increment: Long): Unit =
    IndexMaintenance.writeIncrement(kmvSketchRows(delta), storeDir,
      increment, kmvLayout)

  private val kmvLayout: DataFrame => DataFrame =
    _.coalesce(1).sortWithinPartitions("source", "h")

  /** q198: the KMV sketch-store lifecycle end-to-end — build the
    * per-source sketch store over the `doc_id %3 != 0` corpus
    * (increment 0), append the `%3 == 0` delta's own sketches as
    * increment 1, then SERVE merged estimates from the store alone:
    * re-aggregate the ≤ k·increments rows per source with the same
    * bounded aggregator, plus the `__all__` row merged from the served
    * sketches. The oracle never mentions increments — it is the
    * full-corpus bottom-k of q195 — so the gate IS the mergeability
    * theorem across the store lifecycle: a lost increment, a double
    * append, or a wrong merge all surface as a changed m_k.
    *
    * Scale shape: the serve path reads k·|sources|·increments short
    * rows — sketch grain, never corpus grain; the corpus is touched
    * only by the build/append passes, each one bounded-state
    * map-side-combined aggregation over its own slice. */
  def kmvLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val store = IndexMaintenance.scratchIndexDir(spark, "kmv-store")
    val d = documents(spark, dir).select(col("doc_id"), col("source"),
      col("text"))
    buildKmvStore(d.filter(col("doc_id") % 3 =!= 0), store)
    appendKmvStore(d.filter(col("doc_id") % 3 === 0), store, increment = 1L)
    val served = spark.read.parquet(store)
      .select(col("source").as("g"), col("h")).as[KmvIn]
      .groupByKey(_.g).agg(new KmvAgg(KMV_K).toColumn.name("sk"))
      .toDF("source", "sk").localCheckpoint()
    val merged = served
      .select(lit("__all__").as("g"), explode(col("sk.hs")).as("h"))
      .as[KmvIn]
      .groupByKey(_.g).agg(new KmvAgg(KMV_K).toColumn.name("sk"))
      .toDF("source", "sk")
    served.unionByName(merged)
      .withColumn("sketch_n", size(col("sk.hs")).cast("long"))
      .withColumn("mk",
        when(col("sketch_n") === KMV_K, element_at(col("sk.hs"), KMV_K))
          .otherwise(lit(null).cast("long")))
      .withColumn("est_distinct",
        when(col("sketch_n") < KMV_K, col("sketch_n"))
          .otherwise(expr(
            s"CAST(${KMV_K - 1} AS BIGINT) * ${TextFns.P}L div mk")))
      .select("source", "sketch_n", "mk", "est_distinct")
      .orderBy("source")
  }
}
