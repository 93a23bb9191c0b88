package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.IndexMaintenance

/** The replay kit of the one-time streaming lineages: the two laws every
  * replay lineage rests on, each written once.
  *
  *  - Arrival order ([[landSlices]]): each input slice lands as ONE parquet
  *    file `slice-<i>.parquet` whose mtime is pinned strictly ascending in
  *    `i`. The file source schedules files oldest-first by mtime, so under
  *    `maxFilesPerTrigger=1` ([[sliceStream]]) slice i is micro-batch i —
  *    the arrival order is part of the construction, deterministic even if
  *    two slice writes land in the same clock tick.
  *  - Exactly-once landing ([[IndexMaintenance.landBatch]]): each
  *    micro-batch lands as partition `batch=<id>` under dynamic partition
  *    overwrite. A replayed batch id (micro-batch retry, restart from the
  *    checkpoint) overwrites only its own partition, so it replaces its
  *    rows instead of re-appending them and every other batch's rows stay
  *    as they were. The rule is the store write path's, shared with the
  *    day loops and the dedup increments.
  */
object Replay {

  /** The pinned mtime of slice `s`: strictly ascending, one minute apart. */
  private[streaming] def arrivalMtime(s: Int): Long = 1000000L + s * 60000L

  /** Land each slice as the single parquet file `inDir/slice-<i>.parquet`
    * with its [[arrivalMtime]]. A rename the filesystem refuses (the
    * `file:` class refuses to rename onto an existing file and says so only
    * by returning false) throws and names both paths, rather than keeping
    * the old slice and deleting the new one with its tmp dir. */
  def landSlices(spark: SparkSession, inDir: String, tag: String,
      slices: Seq[(Int, DataFrame)]): Unit = {
    val fs = IndexMaintenance.fileSystem(spark, new Path(inDir))
    fs.mkdirs(new Path(inDir))
    slices.foreach { case (s, sliceDf) =>
      val tmp = IndexMaintenance.scratchIndexDir(spark, s"$tag-slice$s")
      sliceDf.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.globStatus(new Path(s"$tmp/part-*.parquet"))(0).getPath
      val dst = new Path(s"$inDir/slice-$s.parquet")
      if (!fs.rename(part, dst))
        throw new IllegalStateException(
          s"slice $s not landed: rename $part -> $dst refused")
      fs.delete(new Path(tmp), true)
      fs.setTimes(dst, arrivalMtime(s), -1L)
    }
  }

  /** The stream over the slices [[landSlices]] landed, one file per
    * trigger; its schema is read from the landed files' footers. */
  def sliceStream(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(inDir).schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)

  /** Session for the one-time lineage BUILDS (r15, guide §2.2/§2.5):
    * stateful streaming execs cannot use AQE, so the state/shuffle
    * partition count is frozen at checkpoint-create time — and a count
    * tuned to the HOST (cpus) pays `cpus` state-store commits, task
    * launches and landed files per micro-batch regardless of data size.
    * Measured (OPTIMIZATION_r15.md, sf0.1): the q202 backward drain is 7.4 s
    * at 32 state partitions vs 2.8 s at 4, identical output rows.
    * Derive the count from the INPUT SIZE instead — one partition per
    * ~32 MB of the stream's input bytes, capped at 4×cores — so the
    * replays stay scale-adaptive: kB-sized sf0.1 slices run one state
    * partition and a ×100 corpus grows the count with the data. Only the
    * BUILD runs here; probes/serves stay on the caller's session, so
    * their plans and numbers are untouched. */
  private[graft] def buildSession(spark: SparkSession,
      sizePath: String): SparkSession = {
    val s2 = graft.engine.Sessions.tune(spark.newSession())
    val p = new Path(sizePath)
    val fs = IndexMaintenance.fileSystem(spark, p)
    // NonFatal only: an OOM or interrupt must propagate, not silently
    // degrade to the 1-partition fallback (r15 ADVICE)
    val bytes =
      try fs.getContentSummary(p).getLength
      catch { case scala.util.control.NonFatal(_) => 0L }
    val n = math.min(bytes / (32L << 20) + 1L,
      spark.sparkContext.defaultParallelism.toLong * 4L)
    s2.conf.set("spark.sql.shuffle.partitions", n.toString)
    s2
  }
}
