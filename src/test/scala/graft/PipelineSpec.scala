package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.engine.{CurationLoop, Dedup, Pipeline, Tables}

/** O1/O2 — end-to-end medallion smoke test at sf0.001 + retry semantics. */
class PipelineSpec extends SparkSpecBase {

  test("retry succeeds after transient failures with 2x backoff") {
    var calls = 0
    val out = Pipeline.retry(attempts = 3, initialBackoffMs = 1) {
      calls += 1
      if (calls < 3) sys.error("transient")
      "ok"
    }
    assert(out == "ok" && calls == 3)
  }

  test("retry rethrows after exhausting attempts") {
    var calls = 0
    intercept[RuntimeException] {
      Pipeline.retry(attempts = 3, initialBackoffMs = 1) {
        calls += 1; sys.error("permanent")
      }
    }
    assert(calls == 3)
  }

  test("concurrently: results in input order, every unit drained before " +
      "a failure or an interrupt reaches the caller, local properties " +
      "inherited") {
    // 1. results come back in input order although the units finish in
    // reverse order
    val order = Pipeline.concurrently("order", (0 until 5).map { i =>
      s"u$i" -> (() => { Thread.sleep((5 - i) * 20L); i })
    })
    assert(order == (0 until 5))

    // 2. a failure is rethrown only after every other unit has finished:
    // the original exception, each other failure suppressed on it
    val slowDone = new AtomicInteger()
    val boom = intercept[IllegalStateException] {
      Pipeline.concurrently[Unit]("fail", Seq(
        "slow1" -> (() => { Thread.sleep(300); slowDone.incrementAndGet() }),
        "first" -> (() => throw new IllegalStateException("boom")),
        "second" -> (() => { Thread.sleep(50); sys.error("also") }),
        "slow2" -> (() => { Thread.sleep(200); slowDone.incrementAndGet() })))
    }
    assert(slowDone.get == 2, "a unit was still running at the throw")
    assert(boom.getMessage == "boom")
    assert(boom.getSuppressed.toSeq.map(e => (e.getClass, e.getMessage)) ==
      Seq((classOf[RuntimeException], "also")))

    // 3. a local property the caller set is visible inside every unit
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.prop", "caller")
    val seen =
      try Pipeline.concurrently("props", (0 until 3).map { i =>
        s"u$i" -> (() => sc.getLocalProperty("graft.test.prop"))
      })
      finally sc.setLocalProperty("graft.test.prop", null)
    assert(seen == Seq.fill(3)("caller"))

    // 4. an interrupt mid-join returns only after every unit finished,
    // with the caller's interrupt flag set. The units are held until the
    // interrupt has been delivered and some time has passed.
    val started = new CountDownLatch(3)
    val release = new CountDownLatch(1)
    val finished = new AtomicInteger()
    @volatile var outcome: Option[(Throwable, Int, Boolean)] = None
    val caller = new Thread(() => {
      val thrown =
        try {
          Pipeline.concurrently[Unit]("interrupt", (0 until 3).map { i =>
            s"u$i" -> (() => {
              started.countDown(); release.await(); finished.incrementAndGet()
            })
          })
          null
        } catch { case e: Throwable => e }
      outcome = Some((thrown, finished.get,
        Thread.currentThread().isInterrupted))
    })
    caller.start()
    assert(started.await(30, TimeUnit.SECONDS))
    caller.interrupt()
    Thread.sleep(200)
    release.countDown()
    caller.join(30000)
    val (thrown, doneAtReturn, flagSet) =
      outcome.getOrElse(fail("the caller did not return"))
    assert(thrown.isInstanceOf[InterruptedException])
    assert(doneAtReturn == 3, "returned before every unit finished")
    assert(flagSet, "the interrupt must be re-asserted on the caller")
  }

  test("silver observe() metrics account rows without extra passes") {
    val out = tmpDir("graft-pipeline-obs")
    Pipeline.bronze(spark, sf, out)
    val metrics = Pipeline.silver(spark, out)
    assert(metrics.keySet == Tables.names.toSet)
    metrics.foreach { case (t, (rowsIn, rowsOut)) =>
      assert(rowsIn >= rowsOut, s"$t: dedup cannot add rows")
      // the observed output count must equal what actually landed
      assert(rowsOut == Tables.table(spark, s"$out/silver", t).count(),
        s"$t: observed rows_out != written rows")
    }
    // observed input/output counts match the independent batch counts
    metrics.foreach { case (t, (rowsIn, rowsOut)) =>
      assert(rowsIn == Tables.raw(spark, s"$out/bronze", t).count())
      assert(rowsOut ==
        Tables.raw(spark, s"$out/bronze", t).dropDuplicates().count())
    }
  }

  test("curation day loop: one increment end-to-end, every stage " +
      "accounted, a replayed day is invisible") {
    // the operational story the index/label lifecycle exists for, as one
    // artifact: ingest increment → band+containment index append →
    // incremental CC merge → lifecycle keep-list → shard refresh
    val root = tmpDir("graft-dayloop")
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val base = docs.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0)
    val delta = docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0)
    // seed yesterday's state: the three channel indexes and the labels
    // from the base
    Dedup.buildMinhashIndex(base, s"$root/band_index")
    Dedup.buildHeadIndex(base, s"$root/head_index")
    Dedup.buildWinnowIndex(base, s"$root/winnow_index")
    Dedup.buildClusterLabels(
      Dedup.minhashNearDup(spark, sf).select("doc_a", "doc_b")
        .filter(col("doc_a") % Dedup.DELTA_MOD =!= 0 &&
          col("doc_b") % Dedup.DELTA_MOD =!= 0),
      s"$root/labels")
    val r1 = CurationLoop.runDay(spark, docs, delta, increment = 1L, root)
    // accounting: conservation at every stage
    assert(r1.batchDocs == delta.count(), s"batch miscounted: $r1")
    assert(r1.keptDocs + r1.droppedDocs == docs.count(),
      s"keep-list must partition the corpus: $r1")
    assert(r1.shardRows == r1.keptDocs,
      s"shard refresh must lay down exactly the kept corpus: $r1")
    assert(r1.bandPairs > 0, s"the delta must pair with the corpus: $r1")
    assert(r1.winnowPairs > 0,
      s"exact-copy crossings must share winnow fingerprints too: $r1")
    // post-merge labels serve the same keep-list as the full recompute
    val lifecycle = Dedup.dedupKeepListFrom(spark, sf, s"$root/labels")
      .collect().map(_.toSeq).toSeq
    val full = Dedup.dedupKeepList(spark, sf).collect().map(_.toSeq).toSeq
    assert(lifecycle == full,
      "day-loop labels must serve the full-recompute keep-list")
    // the day's funnel ledger serves from the same maintained state: it
    // conserves the corpus and its dup row is exactly the keep-list's
    // dropped count (the funnel is an accounting VIEW of the decision,
    // not a second opinion)
    val funnel = graft.engine.TextOps.curationFunnelOf(docs,
      Dedup.readClusterLabels(spark, s"$root/labels")
        .select(col("id").as("doc_id"), col("label"))).collect()
    assert(funnel.map(_.getAs[Long]("n_docs")).sum == docs.count(),
      "funnel must account every corpus doc")
    assert(funnel.filter(_.getAs[String]("verdict") == "dup")
      .map(_.getAs[Long]("n_docs")).sum == r1.droppedDocs,
      "funnel dup row must equal the day report's dropped count")
    // replay the whole day: every sink byte-stable, same report
    def snap(p: String): Seq[String] =
      spark.read.parquet(s"$root/$p").collect().map(_.toString).sorted.toSeq
    val sinks = Seq("pairs", "cont_pairs", "winnow_pairs", "band_index",
      "head_index", "winnow_index", "labels", "shards")
    val before = sinks.map(p => p -> snap(p)).toMap
    val r2 = CurationLoop.runDay(spark, docs, delta, increment = 1L, root)
    assert(r2 == r1, s"replayed day must report identically: $r1 vs $r2")
    sinks.foreach { p =>
      assert(snap(p) == before(p), s"replayed day changed sink $p")
    }
  }

  test("day-commit manifest: a reader during a mid-day crash sees day " +
      "N-1 everywhere; restart heals to day N; replay re-lands the marker") {
    val root = tmpDir("graft-daycommit")
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val base = docs.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0)
    val delta1 = docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0)
    CurationLoop.seed(spark, base, root)
    assert(CurationLoop.committedDay(spark, root) == 0L,
      "seed must commit day 0")
    def landDocs(d: org.apache.spark.sql.DataFrame,
        day: Long): org.apache.spark.sql.DataFrame = {
      d.withColumn("batch", lit(day)).write.partitionBy("batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$root/docs")
      spark.read.parquet(s"$root/docs").select("doc_id", "lang", "text")
    }
    val corpus1 = landDocs(delta1, 1L)
    val r1 = CurationLoop.runDay(spark, corpus1, delta1, 1L, root)
    assert(CurationLoop.committedDay(spark, root) == 1L)
    def view(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val keep1 = view(CurationLoop.keepListAsOfCommitted(spark, root))
    val labels1 = view(CurationLoop.labelsAsOfCommitted(spark, root))
    val shards1 = CurationLoop.shardsAsOfCommitted(spark, root).count()
    val docs1 = CurationLoop.docsAsOfCommitted(spark, root).count()
    val band1 = CurationLoop.indexAsOfCommitted(spark, root, "band_index")
      .count()
    assert(shards1 == r1.shardRows && docs1 == corpus1.count())
    // day 2 ingests EXACT COPIES of committed docs under fresh ids —
    // guaranteed band pairs and a guaranteed label merge (fresh ids)
    val delta2 = docs.filter(col("doc_id") % Dedup.DELTA_MOD === 1)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
        col("text"))
    val corpus2 = landDocs(delta2, 2L)
    // CRASH after every sink landed but before the commit marker — the
    // exact window the manifest exists for
    CurationLoop.testFailpointBeforeCommit =
      () => throw new RuntimeException("simulated crash before day commit")
    try intercept[RuntimeException] {
      CurationLoop.runDay(spark, corpus2, delta2, 2L, root)
    } finally CurationLoop.testFailpointBeforeCommit = () => ()
    // the crash is real: day-2 state physically landed ...
    assert(spark.read.parquet(s"$root/docs")
      .filter(col("batch") === 2L).count() > 0)
    assert(new java.io.File(s"$root/labels_undo/day=2").exists(),
      "day 2's merge must have captured its undo copies")
    assert(view(Dedup.readClusterLabels(spark, s"$root/labels")) != labels1,
      "the RAW label table must already be day-2 (else the test is vacuous)")
    // ... yet every as-of-committed view still serves day 1, coherently
    assert(CurationLoop.committedDay(spark, root) == 1L,
      "an uncommitted day must not advance the manifest")
    assert(view(CurationLoop.labelsAsOfCommitted(spark, root)) == labels1,
      "labels: undo copies must override the uncommitted merge")
    assert(view(CurationLoop.keepListAsOfCommitted(spark, root)) == keep1)
    assert(CurationLoop.shardsAsOfCommitted(spark, root).count() == shards1)
    assert(CurationLoop.docsAsOfCommitted(spark, root).count() == docs1)
    assert(CurationLoop.indexAsOfCommitted(spark, root, "band_index")
      .count() == band1)
    assert(CurationLoop.pairsAsOfCommitted(spark, root)
      .forall(_.filter(col("batch") === 2L).count() == 0),
      "pair reads must hide the crashed day's landings")
    // restart-heal: the replayed day completes and commits
    val r2 = CurationLoop.runDay(spark, corpus2, delta2, 2L, root)
    assert(CurationLoop.committedDay(spark, root) == 2L)
    assert(view(CurationLoop.labelsAsOfCommitted(spark, root)) ==
      view(Dedup.readClusterLabels(spark, s"$root/labels")),
      "after the commit the as-of view IS the live state")
    assert(CurationLoop.docsAsOfCommitted(spark, root).count() ==
      corpus2.count())
    assert(CurationLoop.shardsAsOfCommitted(spark, root).count() ==
      r2.shardRows)
    assert(!new java.io.File(s"$root/labels_undo/day=2").exists(),
      "committed days' undo copies are pruned")
    // replay of the committed day re-lands the same manifest and report
    val r3 = CurationLoop.runDay(spark, corpus2, delta2, 2L, root)
    assert(r3 == r2 && CurationLoop.committedDay(spark, root) == 2L)
  }

  test("retrieval day loop: both indexes appended, probes served from " +
      "the maintained state equal the lifecycle demos, replay invisible") {
    import graft.engine.{RetrievalLoop, Sim, TermIndex}
    val root = tmpDir("graft-retrievalday")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    // the same 4/5 + 1/5 split geometry as the q129/q139 lifecycle demos
    RetrievalLoop.seed(spark,
      docs.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0),
      vecs.filter(col("vec_id") % Sim.ANN_DELTA_MOD =!= 0), root)
    val probes = vecs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val r1 = RetrievalLoop.runDay(spark,
      docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0),
      vecs.filter(col("vec_id") % Sim.ANN_DELTA_MOD === 0),
      probes, TermIndex.TI_TERMS, increment = 1L, root)
    // increment accounting
    assert(r1.batchDocs ==
      docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0).count(), s"$r1")
    assert(r1.batchVectors ==
      vecs.filter(col("vec_id") % Sim.ANN_DELTA_MOD === 0).count(), s"$r1")
    assert(r1.batchPostings > 0 && r1.lexPostingsScanned > 0 &&
      r1.vecAssignRows > 0 && r1.vecCellsProbed >= 1, s"$r1")
    assert(r1.lexTermsHit <= TermIndex.TI_TERMS.length, s"$r1")
    // the day-loop-served probes must equal the standalone lifecycle
    // demos built over the same split (q139 / q129)
    def landed(p: String): Seq[String] =
      spark.read.parquet(s"$root/$p").drop("batch")
        .collect().map(_.toString).sorted.toSeq
    assert(landed("lex_serving/results") ==
      TermIndex.termIndexProbe(spark, sf)
        .collect().map(_.toString).sorted.toSeq,
      "day-loop lexical probe must equal the q139 lifecycle demo")
    assert(landed("vec_serving/results") ==
      Sim.ivfIndexProbe(spark, sf).collect().map(_.toString).sorted.toSeq,
      "day-loop vector probe must equal the q129 lifecycle demo")
    // replay the whole day: identical report, every sink byte-stable
    def snap(p: String): Seq[String] =
      spark.read.parquet(s"$root/$p").collect().map(_.toString).sorted.toSeq
    val sinks = Seq("term_index/postings", "term_index/stats",
      "vec_index/vectors", "lex_serving/results", "vec_serving/results",
      "reports")
    val before = sinks.map(p => p -> snap(p)).toMap
    val r2 = RetrievalLoop.runDay(spark,
      docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0),
      vecs.filter(col("vec_id") % Sim.ANN_DELTA_MOD === 0),
      probes, TermIndex.TI_TERMS, increment = 1L, root)
    assert(r2 == r1, s"replayed retrieval day must report identically")
    sinks.foreach { p =>
      assert(snap(p) == before(p), s"replayed day changed sink $p")
    }
    // decremental twin: forget a bounded id batch from both indexes —
    // the lexical probe must then equal the q159 forget demo (same
    // geometry, same deletion), the vector store must hold none of the
    // forgotten ids, and a replayed forget removes nothing
    val docIds = docs.filter(col("doc_id") % Dedup.FORGET_MOD === 0)
      .select("doc_id")
    val vecIds = vecs.filter(col("vec_id") % Dedup.FORGET_MOD === 0)
      .select("vec_id")
    val f1 = graft.engine.RetrievalLoop.forget(spark, docIds, vecIds, root)
    assert(f1.postingsRemoved > 0 && f1.vectorsRemoved > 0, s"$f1")
    assert(TermIndex.probeTermIndex(spark, TermIndex.TI_TERMS,
        s"$root/term_index", graft.engine.TextOps.RETRIEVAL_TOP_K)
        .collect().map(_.toString).sorted.toSeq ==
      TermIndex.termForgetProbe(spark, sf)
        .collect().map(_.toString).sorted.toSeq,
      "post-forget lexical probe must equal the q159 demo")
    assert(spark.read.parquet(s"$root/vec_index/vectors")
      .join(vecIds, Seq("vec_id"), "left_semi").count() == 0,
      "vector store still holds forgotten ids")
    val f2 = graft.engine.RetrievalLoop.forget(spark, docIds, vecIds, root)
    assert(f2 == graft.engine.RetrievalLoop.RetrievalForgetReport(0L, 0L),
      s"replayed forget must remove nothing: $f2")
  }

  test("retrieval day-commit manifest: a mid-crash reader sees day N-1 " +
      "across all six sinks; restart heals; replay re-lands the marker") {
    import graft.engine.{RetrievalLoop, Sim, TermIndex}
    val root = tmpDir("graft-retrievalcommit")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    RetrievalLoop.seed(spark,
      docs.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0),
      vecs.filter(col("vec_id") % Sim.ANN_DELTA_MOD =!= 0), root)
    assert(RetrievalLoop.committedDay(spark, root) == 0L,
      "seed must commit day 0")
    val probes = vecs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    RetrievalLoop.runDay(spark,
      docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0),
      vecs.filter(col("vec_id") % Sim.ANN_DELTA_MOD === 0),
      probes, TermIndex.TI_TERMS, increment = 1L, root)
    // the snapshot resolves the committed day ONCE and threads it
    def counts(v: RetrievalLoop.RetrievalView): Seq[Long] =
      Seq(v.postings.count(), v.stats.count(), v.vectors.count(),
        v.lexResults.count(), v.vecResults.count(), v.reports.count())
    val v1 = RetrievalLoop.asOfCommitted(spark, root)
    assert(v1.day == 1L)
    val c1 = counts(v1)
    val lex1 = v1.lexResults.collect().map(_.toString).sorted.toSeq
    // day 2 lands every sink, then CRASHES before the marker
    val docs2 = docs.filter(col("doc_id") % Dedup.DELTA_MOD === 1)
    val vecs2 = vecs.filter(col("vec_id") % Sim.ANN_DELTA_MOD === 1)
    RetrievalLoop.testFailpointBeforeCommit =
      () => throw new RuntimeException("simulated crash before day commit")
    try intercept[RuntimeException] {
      RetrievalLoop.runDay(spark, docs2, vecs2, probes,
        TermIndex.TI_TERMS, increment = 2L, root)
    } finally RetrievalLoop.testFailpointBeforeCommit = () => ()
    // the crash is real: day-2 partitions physically landed...
    assert(spark.read.parquet(s"$root/term_index/postings")
      .filter(col("increment") === 2L).count() > 0)
    assert(spark.read.parquet(s"$root/vec_index/vectors")
      .filter(col("increment") === 2L).count() > 0)
    // ...yet the manifest and every as-of view still serve day 1
    val vCrash = RetrievalLoop.asOfCommitted(spark, root)
    assert(vCrash.day == 1L,
      "an uncommitted day must not advance the manifest")
    assert(counts(vCrash) == c1,
      "every sink view must still be the day-1 state")
    assert(vCrash.lexResults.collect().map(_.toString).sorted.toSeq
      == lex1, "serving rows must be the day-1 rows")
    // restart-heal: the replayed day completes and commits
    val r2 = RetrievalLoop.runDay(spark, docs2, vecs2, probes,
      TermIndex.TI_TERMS, increment = 2L, root)
    val v2 = RetrievalLoop.asOfCommitted(spark, root)
    assert(v2.day == 2L)
    assert(v2.postings.filter(col("increment") === 2L).count()
      == r2.batchPostings)
    assert(v2.reports.filter(col("batch") === 2L).count() == 1L)
    // replay of the committed day: identical report, marker unchanged
    val r3 = RetrievalLoop.runDay(spark, docs2, vecs2, probes,
      TermIndex.TI_TERMS, increment = 2L, root)
    assert(r3 == r2 && RetrievalLoop.committedDay(spark, root) == 2L)
  }

  test("composed day commit: a crash in EITHER cross-loop window pins " +
      "the composed reader at day N-1 in BOTH loops; replay heals") {
    import graft.engine.{ComposedDay, RetrievalLoop, Sim, TermIndex}
    val curRoot = tmpDir("graft-composed-cur")
    val retRoot = tmpDir("graft-composed-ret")
    val compRoot = tmpDir("graft-composed-marker")
    val docs3 = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val docs2c = docs3.select("doc_id", "text")
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding"))
    // seed both loops, then compose-commit day 0 (order: cur, ret, marker)
    ComposedDay.publishDay(spark, compRoot, 0L) {
      CurationLoop.seed(spark,
        docs3.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0), curRoot)
    } {
      RetrievalLoop.seed(spark,
        docs2c.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0),
        vecs.filter(col("vec_id") % Sim.ANN_DELTA_MOD =!= 0), retRoot)
    }
    assert(ComposedDay.committedDay(spark, compRoot) == 0L)
    def landDocs(d: org.apache.spark.sql.DataFrame,
        day: Long): org.apache.spark.sql.DataFrame = {
      d.withColumn("batch", lit(day)).write.partitionBy("batch")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite").parquet(s"$curRoot/docs")
      spark.read.parquet(s"$curRoot/docs").select("doc_id", "lang", "text")
    }
    def publish(day: Long, corpus: org.apache.spark.sql.DataFrame,
        batch: org.apache.spark.sql.DataFrame,
        rDocs: org.apache.spark.sql.DataFrame,
        rVecs: org.apache.spark.sql.DataFrame): Unit =
      ComposedDay.publishDay(spark, compRoot, day) {
        // retention holds back to the COMPOSED committed day: a reader
        // may still be pinned there until this publish's marker lands
        CurationLoop.runDay(spark, corpus, batch, day, curRoot,
          retainAsOf = ComposedDay.committedDay(spark, compRoot))
      } {
        RetrievalLoop.runDay(spark, rDocs, rVecs, probes,
          TermIndex.TI_TERMS, day, retRoot)
      }
    val delta1 = docs3.filter(col("doc_id") % Dedup.DELTA_MOD === 0)
    val corpus1 = landDocs(delta1, 1L)
    publish(1L, corpus1, delta1,
      docs2c.filter(col("doc_id") % Dedup.DELTA_MOD === 0),
      vecs.filter(col("vec_id") % Sim.ANN_DELTA_MOD === 0))
    def snapshot(v: ComposedDay.ComposedView): Seq[Long] = Seq(
      v.day, v.curation.docs.count(), v.curation.shards.count(),
      v.curation.bandIndex.count(), v.retrieval.postings.count(),
      v.retrieval.vectors.count(), v.retrieval.lexResults.count())
    val v1 = ComposedDay.asOf(spark, compRoot, curRoot, retRoot)
    assert(v1.day == 1L)
    val s1 = snapshot(v1)
    val labels1 = v1.curation.labels.collect().map(_.toString).sorted.toSeq
    // ---- window A: crash BETWEEN the loops — curation fully commits
    // day 2 INTERNALLY (marker, prune), retrieval never runs: the
    // exact cross-loop skew the composed marker exists for
    val delta2 = docs3.filter(col("doc_id") % Dedup.DELTA_MOD === 1)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
        col("text"))
    val corpus2 = landDocs(delta2, 2L)
    val rDocs2 = docs2c.filter(col("doc_id") % Dedup.DELTA_MOD === 1)
    val rVecs2 = vecs.filter(col("vec_id") % Sim.ANN_DELTA_MOD === 1)
    ComposedDay.testFailpointBetweenLoops =
      () => throw new RuntimeException("simulated crash between loops")
    try intercept[RuntimeException] {
      publish(2L, corpus2, delta2, rDocs2, rVecs2)
    } finally ComposedDay.testFailpointBetweenLoops = () => ()
    // the skew is real: the per-loop markers DISAGREE
    assert(CurationLoop.committedDay(spark, curRoot) == 2L)
    assert(RetrievalLoop.committedDay(spark, retRoot) == 1L)
    // yet the composed reader sees ONE day everywhere: day 1
    val vA = ComposedDay.asOf(spark, compRoot, curRoot, retRoot)
    assert(vA.day == 1L,
      "a composed reader must never see the loops' own (skewed) markers")
    assert(snapshot(vA) == s1, "every view must still serve day 1")
    assert(vA.curation.labels.collect().map(_.toString).sorted.toSeq
      == labels1,
      "day-1 labels must survive curation's internal day-2 commit " +
        "(retention held back to the composed day)")
    // ---- window B: both loops land day 2, crash BEFORE the composed
    // marker
    ComposedDay.testFailpointBeforeCommit =
      () => throw new RuntimeException("simulated crash before marker")
    try intercept[RuntimeException] {
      publish(2L, corpus2, delta2, rDocs2, rVecs2)
    } finally ComposedDay.testFailpointBeforeCommit = () => ()
    assert(CurationLoop.committedDay(spark, curRoot) == 2L)
    assert(RetrievalLoop.committedDay(spark, retRoot) == 2L)
    val vB = ComposedDay.asOf(spark, compRoot, curRoot, retRoot)
    assert(vB.day == 1L && snapshot(vB) == s1,
      "both loops committed, but the COMPOSITION did not — day 1 holds")
    // ---- heal: the replayed publish completes; the composed reader
    // advances to day 2 in both loops at once
    publish(2L, corpus2, delta2, rDocs2, rVecs2)
    val v2 = ComposedDay.asOf(spark, compRoot, curRoot, retRoot)
    assert(v2.day == 2L)
    assert(v2.curation.docs.count() == corpus2.count())
    assert(v2.retrieval.postings
      .filter(col("increment") === 2L).count() > 0)
    // replaying the committed day is byte-stable on the marker
    publish(2L, corpus2, delta2, rDocs2, rVecs2)
    assert(ComposedDay.committedDay(spark, compRoot) == 2L)
  }

  test("forget propagates a deletion through every artifact; cluster " +
      "connectivity re-derives exactly; replay removes nothing") {
    val root = tmpDir("graft-forget")
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val base = docs.filter(col("doc_id") % Dedup.DELTA_MOD =!= 0)
    val delta = docs.filter(col("doc_id") % Dedup.DELTA_MOD === 0)
    CurationLoop.seed(spark, base, root)
    // land the day's documents as daySink's stage 0 would — the store
    // is forget's corpus of record
    delta.withColumn("batch", lit(1L)).write.partitionBy("batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$root/docs")
    CurationLoop.runDay(spark, docs, delta, increment = 1L, root)
    // delete CANONICALS of multi-member clusters — the hard case: the
    // cluster's label must change (and the cluster may split)
    val labels = Dedup.readClusterLabels(spark, s"$root/labels")
    val targets = labels.groupBy("label").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select("label").orderBy("label")
      .limit(3).collect().map(_.getLong(0)).toSeq
    assert(targets.nonEmpty, "need multi-member clusters to delete from")
    import spark.implicits._
    val ids = targets.toDF("doc_id")
    val r = CurationLoop.forget(spark, ids, root)
    assert(r.docsRemoved == targets.length, s"$r")
    assert(r.clustersRebuilt == targets.length.toLong, s"$r")
    assert(r.bandRowsRemoved > 0 && r.headRowsRemoved > 0 &&
      r.winnowRowsRemoved > 0, s"$r")
    // no store still holds a deleted id
    def holds(path: String, idCol: String): Long =
      spark.read.parquet(path).filter(col(idCol).isin(targets: _*)).count()
    assert(holds(s"$root/docs", "doc_id") == 0)
    assert(holds(s"$root/band_index", "doc_id") == 0)
    assert(holds(s"$root/head_index", "doc_id") == 0)
    assert(holds(s"$root/winnow_index", "doc_id") == 0)
    assert(spark.read.parquet(s"$root/pairs")
      .filter(col("doc_a").isin(targets: _*) ||
        col("doc_b").isin(targets: _*)).count() == 0)
    // labels equal the full recompute over the post-deletion corpus:
    // the bounded in-cluster rebuild must handle canonical loss AND any
    // split the deletion caused
    val remainingPairs = Dedup.minhashNearDup(spark, sf)
      .filter(!col("doc_a").isin(targets: _*) &&
        !col("doc_b").isin(targets: _*))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val expected = Dedup.connectedComponents(
      remainingPairs.unionAll(
        remainingPairs.select(col("dst").as("src"), col("src").as("dst"))))
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).sorted.toSeq
    assert(Dedup.readClusterLabels(spark, s"$root/labels")
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).sorted.toSeq
      == expected,
      "post-forget labels must equal the full recompute on remaining docs")
    // shards hold exactly the post-deletion kept corpus
    assert(spark.read.parquet(s"$root/shards").count() == r.shardRows)
    // replay: nothing left to remove, state unchanged
    val labelsAfter = Dedup.readClusterLabels(spark, s"$root/labels")
      .collect().map(_.toString).sorted.toSeq
    val r2 = CurationLoop.forget(spark, ids, root)
    assert(r2.docsRemoved == 0 && r2.bandRowsRemoved == 0 &&
      r2.winnowRowsRemoved == 0 && r2.winnowPairsRemoved == 0 &&
      r2.clustersRebuilt == 0 && r2.pairsRemoved == 0, s"$r2")
    assert(Dedup.readClusterLabels(spark, s"$root/labels")
      .collect().map(_.toString).sorted.toSeq == labelsAfter,
      "replayed forget must not change the labels")
  }

  test("auditLabels: zero divergence on maintained state; corruption is " +
      "flagged") {
    val root = tmpDir("graft-audit")
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    CurationLoop.seed(spark, docs, root)
    val clean = CurationLoop.auditLabels(spark, root).collect()(0)
    assert(clean.getLong(0) > 0, "audit needs a non-trivial label table")
    assert(clean.getLong(0) == clean.getLong(1),
      s"maintained vs recomputed counts: $clean")
    assert(clean.getLong(2) == 0, s"maintained state must audit clean: $clean")
    // corrupt one bucket: replace it with a single wrong-label row —
    // the audit must notice (this is the failure mode it exists for)
    val r0 = Dedup.readClusterLabels(spark, s"$root/labels").collect()(0)
    import spark.implicits._
    Seq((r0.getLong(0), r0.getLong(1) + 999L,
        (r0.getLong(0) % Dedup.LABEL_BUCKETS).toInt))
      .toDF("id", "label", "lb")
      .write.partitionBy("lb")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(s"$root/labels")
    assert(CurationLoop.auditLabels(spark, root).collect()(0).getLong(2) > 0,
      "a corrupted bucket must surface as divergence")
  }

  test("bronze->silver->gold runs end-to-end and lands a partitioned fact") {
    val out = tmpDir("graft-pipeline")
    val stages = Pipeline.run(spark, sf, out, initialBackoffMs = 1)
    assert(stages == Seq("bronze", "silver", "gold"))

    // silver landed every table, readable through the same loaders
    assert(Tables.table(spark, s"$out/silver", "orders").count() ==
      Tables.orders(spark, sf).count())
    // CSV-detoured nation survived the format round-trip
    assert(Tables.table(spark, s"$out/silver", "nation").count() == 25)

    // gold fact is hive-partitioned and complete
    val fact = spark.read.parquet(s"$out/gold/fact_orders")
    assert(fact.count() == Tables.orders(spark, sf).count())
    val parts = new java.io.File(s"$out/gold/fact_orders")
      .listFiles().map(_.getName).filter(_.startsWith("year="))
    assert(parts.nonEmpty)
    // dims landed
    assert(spark.read.parquet(s"$out/gold/dim_date").count() == 2557)
    assert(spark.read.parquet(s"$out/gold/dim_review")
      .filter(col("review_id").isNull).count() == 0)

    // silver's table writes overlap: rerun it (every write is an
    // overwrite) under a listener that tracks how many of its jobs are
    // open at once. Jobs are told apart by a local property, which the
    // per-table threads inherit; a sentinel job submitted after silver
    // returns arrives on the listener bus after every silver event.
    val sc = spark.sparkContext
    val key = "graft.test.stage"
    var open, maxOpen = 0
    val silverJobs = scala.collection.mutable.Set.empty[Int]
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)).orNull match {
          case "silver" =>
            silverJobs += e.jobId
            open += 1
            maxOpen = maxOpen max open
          case "sentinel" => drained.countDown()
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (silverJobs.contains(e.jobId)) open -= 1
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "silver")
      Pipeline.silver(spark, out)
      sc.setLocalProperty(key, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus not drained")
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
    assert(silverJobs.size >= Tables.names.size)
    assert(maxOpen >= 2, s"silver ran its ${silverJobs.size} jobs one at a time")
  }

  test("v2 parity demo: the reference's 13-table schema runs CSV -> " +
      "bronze -> silver -> gold end-to-end; gold row counts follow the " +
      "generative mapping; multi-line CSV text survives the round trip") {
    import graft.engine.V2Demo
    val root = V2Demo.ensure(spark, sf)
    // every fixture table landed through CSV -> bronze -> silver
    V2Demo.schemas.keys.foreach { t =>
      assert(spark.read.parquet(s"$root/silver/$t").count() > 0, t)
    }
    // CSV round trip is LOSSLESS row-for-row on the gnarliest table
    // (quote_requests: embedded newlines inside quoted fields)
    val gen = V2Demo.quoteRequests(spark, sf)
      .orderBy("quote_request_id").collect().map(_.toSeq).toSeq
    val landed = spark.read.parquet(s"$root/silver/quote_requests")
      .orderBy("quote_request_id").collect().map(_.toSeq).toSeq
    assert(gen == landed, "silver must equal the generator exactly")
    assert(gen.head(V2Demo.schemas("quote_requests").fieldIndex(
      "description")).asInstanceOf[String].contains("\n"),
      "the fixture must actually exercise multi-line CSV text")
    // gold row counts, derived independently from the mapping
    val nOrders = Tables.orders(spark, sf).count()
    val nCust = Tables.customer(spark, sf).count()
    val nParts = Tables.part(spark, sf).count()
    val nRev = Tables.lineitem(spark, sf)
      .filter(col("l_linenumber") === 1).count()
    val nLoc = Tables.supplier(spark, sf)
      .select("s_nationkey").distinct().count()
    assert(spark.read.parquet(s"$root/gold/fact_booking").count() == nOrders)
    assert(spark.read.parquet(s"$root/gold/dim_user").count() == nCust)
    assert(spark.read.parquet(s"$root/gold/dim_service").count() == nParts)
    assert(spark.read.parquet(s"$root/gold/dim_review").count() == nRev)
    assert(spark.read.parquet(s"$root/gold/dim_location").count() == nLoc)
    assert(spark.read.parquet(s"$root/gold/dim_date").count() == 365)
    // the fact is hive-partitioned by year/month (the reference's one
    // real performance feature, preserved in its own schema shape)
    val parts = new java.io.File(s"$root/gold/fact_booking")
      .listFiles().map(_.getName).filter(_.startsWith("year="))
    assert(parts.nonEmpty)
    // odd booking_ids have no quote (quote_id NULL) -> left join keeps
    // them with null amounts; the joined half carries the quote amounts
    val fact = spark.read.parquet(s"$root/gold/fact_booking")
    assert(fact.filter(col("booking_id") % 2 === 1 &&
      col("amount_before_tax").isNotNull).count() == 0)
    assert(fact.filter(col("booking_id") % 2 === 0 &&
      col("amount_before_tax").isNull).count() == 0)
  }
}
