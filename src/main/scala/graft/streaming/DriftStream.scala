package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.{IndexMaintenance, Lineages, Sim}

/** Streaming embedding-distribution drift monitor — the stream form of
  * [[graft.engine.Sim.embeddingDrift]]: a live vector feed is assigned
  * per micro-batch against FROZEN baseline centroids (the monitor never
  * retrains them — retraining would hide exactly the shift being
  * measured), and each batch lands its per-cell histogram (occupancy +
  * fixed-point cosine mass) keyed by batch id.
  *
  * Shape per batch: one N×K broadcast assignment (K capped by
  * IVF_MAX_CELLS), one ≤K-row aggregate — no streaming state at all;
  * the histogram pile IS the monitor's time series, and summing it over
  * batches equals the batch histogram of everything streamed
  * (StreamingSpec pins both, plus replay idempotence).
  *
  * Delivery: exactly-once under micro-batch retry via the library-wide
  * device — `batch=<id>`-keyed partitions under dynamic partition
  * overwrite, so a replayed batch replaces its own histogram. */
object DriftStream {

  /** The landing half, exposed for retry simulation: the batch's ≤K-row
    * cell histogram lands as partition `batch=<batchId>`. */
  private[graft] def landDriftCells(batch: DataFrame, batchId: Long,
      cents: DataFrame, out: String): Unit =
    IndexMaintenance.landBatch(
      Sim.cellHistogram(Sim.assignTo(Sim.withNorm(batch), cents)).coalesce(1),
      batchId, out)

  /** Start the drift monitor over a vector stream (needs `vec_id`,
    * `embedding`); one histogram partition lands per micro-batch. */
  def driftSink(vecs: DataFrame, cents: DataFrame, out: String,
      checkpointDir: String): StreamingQuery =
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landDriftCells(batch, batchId, cents, out)
      }
      .start()

  private[graft] val lineage = Lineages.Lineage("dcells", runDriftLineage)

  /** q214: the drift-cell INGEST STREAM oracle-gated — the last
    * streaming lifecycle to get a driver row. The live slice (q144's
    * `vec_id % DRIFT_MOD == 0` population) streams through the REAL
    * [[driftSink]] as two pinned single-file micro-batches against the
    * FROZEN baseline centroids; each batch lands its own per-cell
    * histogram partition. The gate reads the landed pile at
    * (batch, cell) grain: the twin recomputes every batch's histogram
    * from the slice-split formula `(vec_id div DRIFT_MOD) mod 2` and
    * q144's assignment geometry — so a lost batch partition, a
    * double-landed retry, a wrong assignment, or histogram rows leaking
    * across batches all flip hashed cells. */
  def streamDriftCellsProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(Lineages.out(lineage, spark, dir))
      .select(col("batch").cast("long").as("batch"), col("cent_id"),
        col("n"), col("s_fp6"))
      .orderBy("batch", "cent_id")
  }

  private def runDriftLineage(spark: org.apache.spark.sql.SparkSession,
      dir: String): String = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.hadoop.fs.Path
    import graft.engine.Tables
    val inDir = IndexMaintenance.scratchIndexDir(spark, "stream-drift-cells-in")
    val outDir = IndexMaintenance.scratchIndexDir(spark, "stream-drift-cells-out")
    val ckpt = IndexMaintenance.scratchIndexDir(spark, "stream-drift-cells-ckpt")
    val live = Tables.embeddings(spark, dir)
      .select("vec_id", "embedding")
      .filter(col("vec_id") % Sim.DRIFT_MOD === 0)
    Replay.landSlices(spark, inDir, "stream-dc", (0 to 1).map(s =>
      s -> live.filter(expr(s"(vec_id div ${Sim.DRIFT_MOD}) % 2") === s)))
    // Physically FREEZE the baseline: the monitor's contract is frozen
    // centroids, so land them once as a bounded LocalRelation
    // (≤ IVF_MAX_CELLS rows by construction — never a corpus collect)
    // instead of re-evaluating a plan inside every micro-batch. The
    // modulus is computed driver-side (one count job at lineage-build
    // time — a frozen baseline, not a hot path) with the same
    // arithmetic as strideCentroids and the q214 twin, including the
    // r12 coprime adjustment below — the ×100 sweep found the stride
    // modulus landing on 2223 = 9·247, whose every multiple the
    // DRIFT_MOD exclusion removes: a mathematically EMPTY baseline the
    // sf0.01 oracle could never see (PLANS.md r12).
    val base = Sim.withNorm(Tables.embeddings(spark, dir)
        .select("vec_id", "embedding"))
      .filter(col("vec_id") % Sim.DRIFT_MOD =!= 0)
    val n = base.count()
    val mod0 = math.max(Sim.IVF_STRIDE.toLong,
      (n + Sim.IVF_MAX_CELLS - 1L) / Sim.IVF_MAX_CELLS)
    // coprime adjustment (the r12 empty-baseline bug): a stride modulus
    // divisible by DRIFT_MOD picks only ids the base filter excluded
    val mod = if (mod0 % Sim.DRIFT_MOD == 0L) mod0 + 1L else mod0
    val frozenDf = base.filter(col("vec_id") % mod === 0)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"),
        col("nrm").as("cnrm"))
    val frozen = frozenDf.collect()
    require(frozen.nonEmpty, "baseline centroids evaluated empty — " +
      "refusing to start the drift stream against nothing")
    val bs = Replay.buildSession(spark, s"$dir/embeddings.parquet")
    val cents = bs.createDataFrame(
      java.util.Arrays.asList(frozen: _*), frozenDf.schema)
    val q = driftSink(Replay.sliceStream(bs, inDir), cents, outDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    // A lineage that landed nothing must FAIL here, not poison the
    // per-dir cache with an empty lake for every later caller.
    val fs = IndexMaintenance.fileSystem(spark, new Path(outDir))
    val landed = fs.listStatus(new Path(outDir))
      .map(_.getPath.getName).filter(_.startsWith("batch="))
    require(landed.nonEmpty,
      s"drift-cell stream landed no batch partitions at $outDir")
    outDir
  }
}
