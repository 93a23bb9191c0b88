package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.util.SerializableConfiguration

import graft.engine.Lineages
import graft.streaming.EventsStream

/** [[graft.engine.Sessions.tune]]'s JVM-wide settings: the classes one pass
  * over a query mix compiles stay cached, so the same queries on new data
  * compile none; and the Hadoop conf Spark ships with every scan and write
  * task carries no YARN defaults. */
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

  /** Keys of `conf` whose only source is `yarn-default.xml`. */
  private def yarnOnly(conf: Configuration): Set[String] =
    conf.iterator.asScala.map(_.getKey).filter(k =>
      Option(conf.getPropertySources(k))
        .exists(_.sameElements(Seq("yarn-default.xml")))).toSet

  /** Bytes of `conf` as Spark ships it in a broadcast or task binary. */
  private def shippedBytes(conf: Configuration): Int = {
    val bytes = new ByteArrayOutputStream
    val out = new ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(conf))
    out.close()
    bytes.size
  }

  test("the session's Hadoop conf holds no YARN default, also after a " +
      "parquet write and a lineage build") {
    def yarnKeys = yarnOnly(spark.sessionState.newHadoopConf()).size
    assert(yarnKeys == 0)
    spark.range(100).write.parquet(s"${tmpDir("sessions-out")}/t")
    Lineages.out(EventsStream.hourlyLineage, spark, freshInput())
    assert(yarnKeys == 0)
    val conf = spark.sessionState.newHadoopConf()
    new JobConf(false) // registers yarn-default.xml, if no one did yet
    val stock = new Configuration()
    val dropped = yarnOnly(stock)
    assert(dropped.nonEmpty)
    assert(shippedBytes(conf) < 0.6 * shippedBytes(stock))
    val lost = stock.iterator.asScala.map(_.getKey)
      .filter(k => !dropped(k) && conf.getRaw(k) == null).toSeq
    assert(lost.isEmpty, "keys of other sources must stay")
  }
}
