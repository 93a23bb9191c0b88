package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics

/** [[graft.engine.Sessions.tune]]'s codegen cache: the classes one pass over
  * a query mix compiles stay cached, so the same queries on new data
  * compile none. */
class SessionsSpec extends SparkSpecBase {

  /** perfbench's `query_mix` workload. */
  private val queryMix = Seq("q01_pricing_summary", "q19_minhash_neardup",
    "q37_ivf_cells", "q104_label_propagation", "q236_pdf_text",
    "q230_warc_ingest", "q242_tar_shard_samples", "q228_jpeg_decode",
    "q183_audio_decode")

  /** A new directory of symlinks to the testdata tables, so every
    * per-directory cache of the program misses, as for new data. */
  private def freshInput(): String = {
    val dir = Paths.get(tmpDir("sessions-in"))
    Files.list(Paths.get(sf)).iterator.asScala
      .foreach(f => Files.createSymbolicLink(dir.resolve(f.getFileName), f))
    dir.toString
  }

  /** Classes compiled while every query of the mix runs once on a fresh
    * input, each sunk by a full-column `noop` write. */
  private def compiledByOnePass(): Long = {
    val dir = freshInput()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    queryMix.foreach(n =>
      SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save())
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  test("a second pass of the query mix on new data compiles no class") {
    compiledByOnePass()
    assert(compiledByOnePass() == 0)
  }
}
