package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import scala.util.control.NonFatal

/** The one write path of the persisted stores (every incremental index,
  * sketch/label/hash store and batch-keyed sink), plus their writer lease,
  * compaction swap and increment listing. Three write rules, each written
  * once here and nowhere else:
  *
  *  - Increment write ([[writeIncrement]]): increment 0 is a STATIC
  *    rebuild (a rebuild clears every stale increment of a previous
  *    lifecycle); increment n is a DYNAMIC replace of partition
  *    `increment=<n>` alone, so a retried append replaces its increment
  *    instead of duplicating it. The caller passes the file layout.
  *  - Batch landing ([[landBatch]]): a micro-batch or day lands as
  *    partition `batch=<id>` under dynamic overwrite, so a replayed batch
  *    id replaces its own rows and every other batch stays as it was —
  *    the exactly-once device of every streaming and day-loop sink.
  *  - Partition purge ([[purgePartitions]]): deleting rows rewrites only
  *    the partitions that hold a match (dynamic overwrite) and deletes
  *    explicitly every partition the purge empties, since a dynamic
  *    overwrite writes nothing for it and would leave the stale copy.
  *
  * The writers take no lease: a caller that owns a leased index wraps
  * the write in [[withWriterLease]] itself.
  *
  * Compaction ([[rewrite]]) folds a pile of increments back into the
  * build partition through a staging sibling and two directory renames —
  * probes racing the swap see either the old or the new layout, never a
  * half-written mix.
  */
object IndexMaintenance {

  /** Rule 1, the increment write: `rows` land as partition
    * `increment=<increment>` of the store at `dir`, sub-partitioned by
    * `within` (the IVF stores' `cell`). `layout` shapes the files (the
    * clustering repartition and sort) after the increment column is
    * added. Increment 0 overwrites the whole store (static); any other
    * increment replaces `increment=<n>` alone (dynamic). */
  private[graft] def writeIncrement(rows: DataFrame, dir: String,
      increment: Long, layout: DataFrame => DataFrame = identity,
      within: Seq[String] = Nil): Unit =
    layout(rows.withColumn("increment", lit(increment)))
      .write.partitionBy("increment" +: within: _*)
      .option("partitionOverwriteMode",
        if (increment == 0L) "static" else "dynamic")
      .mode("overwrite").parquet(dir)

  /** The file layout most stores share: files clustered on `c` and sorted
    * by it within each file, so parquet min/max stats prune a probe's
    * scan to the files covering its keys. */
  private[graft] def clusterBy(c: String): DataFrame => DataFrame =
    _.repartition(col(c)).sortWithinPartitions(col(c))

  /** Rule 2, the batch landing: `df` lands as partition `batch=<batchId>`
    * of `out`, idempotent per (batchId, out). */
  def landBatch(df: DataFrame, batchId: Long, out: String): Unit =
    replacePartitions(df.withColumn("batch", lit(batchId)), out, "batch")

  /** The dynamic overwrite under rules 2 and 3 and every other partition
    * replace ([[Gold.overwritePartitions]], [[Crawl.buildCdxIndex]], the
    * label merge, the curated landing): replace exactly the partitions
    * (over `partCols`) that `rows` holds, leaving every other partition's
    * files as they were. */
  private[graft] def replacePartitions(rows: DataFrame, dir: String,
      partCols: String*): Unit =
    rows.write.partitionBy(partCols: _*)
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite").parquet(dir)

  /** What one [[purgePartitions]] did: the rows it removed, the partitions
    * it rewrote and those it emptied and deleted (each partition one value
    * per partition column, in `partCols` order). */
  final case class Purge(removed: Long, touched: Seq[Seq[Any]],
      emptied: Seq[Seq[Any]])

  private val NoPurge = Purge(0L, Nil, Nil)

  /** Rule 3, the partition purge: drop the rows `keep` filters out of the
    * store at `dir`, partitioned by `partCols`. Only the partitions where
    * `hit` finds a row are read, rewritten with `layout` and replaced; a
    * partition left with no row is deleted. A missing or empty store
    * purges nothing. The touched partitions are a bounded driver-side key
    * set (at most the store's partition count). */
  private[graft] def purgePartitions(spark: SparkSession, dir: String,
      partCols: Seq[String], hit: DataFrame => DataFrame,
      keep: DataFrame => DataFrame,
      layout: DataFrame => DataFrame = identity): Purge = {
    if (!holdsParquet(spark, dir)) return NoPurge
    val df = spark.read.parquet(dir)
    val touched = partitionsOf(hit(df), partCols)
    if (touched.isEmpty) return NoPurge
    // localCheckpoint: materialize BEFORE the in-place rewrite so no task
    // re-reads the files being replaced
    val part = df.filter(inPartitions(partCols, touched)).localCheckpoint()
    val kept = keep(part).localCheckpoint()
    val removed = part.count() - kept.count()
    Purge(removed, touched,
      rewritePartitions(kept, dir, partCols, touched, layout))
  }

  /** The rewrite step of a purge, for a caller that derives the surviving
    * rows itself: `layout(rows)` replaces the partitions `rows` holds, and
    * each `touched` partition that `rows` no longer holds is deleted (a
    * dynamic overwrite writes nothing for it). `rows` read from `dir` must
    * be materialized first. Returns the deleted partitions. */
  private[graft] def rewritePartitions(rows: DataFrame, dir: String,
      partCols: Seq[String], touched: Seq[Seq[Any]],
      layout: DataFrame => DataFrame = identity): Seq[Seq[Any]] = {
    replacePartitions(layout(rows), dir, partCols: _*)
    val emptied = touched.filterNot(partitionsOf(rows, partCols).toSet)
    deletePartitions(rows.sparkSession, dir, partCols, emptied)
    emptied
  }

  /** Delete the listed partitions of `dir` (a sidecar store emptied in
    * step with its purged main store). */
  private[graft] def deletePartitions(spark: SparkSession, dir: String,
      partCols: Seq[String], parts: Seq[Seq[Any]]): Unit = {
    val fs = fileSystem(spark, new Path(dir))
    parts.foreach { v =>
      fs.delete(new Path(dir + partCols.zip(v)
        .map { case (c, x) => s"/$c=$x" }.mkString), true)
    }
  }

  private def partitionsOf(df: DataFrame,
      partCols: Seq[String]): Seq[Seq[Any]] =
    df.select(partCols.map(col): _*).distinct().collect().map(_.toSeq).toSeq

  private def inPartitions(partCols: Seq[String],
      parts: Seq[Seq[Any]]): Column = partCols match {
    case Seq(c) => col(c).isin(parts.map(_.head): _*)
    case _ => parts.map(v => partCols.zip(v)
      .map { case (c, x) => col(c) === lit(x) }.reduce(_ && _)).reduce(_ || _)
  }

  /** Whether `dir` exists and holds a parquet data file. A write of no
    * rows leaves only `_SUCCESS`, from which no reader can infer a
    * schema. */
  private[graft] def holdsParquet(spark: SparkSession,
      dir: String): Boolean = {
    val p = new Path(dir)
    fileSystem(spark, p).exists(p) && parquetFileCount(spark, dir) > 0L
  }

  /** A second writer tried to mutate an index while another held its
    * lease — the single-writer ownership contract (SURVEY §8) violated
    * MECHANICALLY instead of silently: before round 12 two racing ingest
    * streams appending the same index would interleave increments
    * undetected until [[TermIndex.auditTermIndex]] /
    * [[Sim.auditIvfIndex]] noticed the damage after the fact. */
  final class ConcurrentWriterException(msg: String)
    extends IllegalStateException(msg)

  /** The lease lives as a SIBLING of the index dir, never inside it:
    * a static-overwrite build wipes the dir's contents and the
    * [[rewrite]] swap renames the dir itself — a sentinel inside would
    * be destroyed by the very writes it guards. */
  private[graft] def leasePath(dir: String): Path =
    new Path(dir.stripSuffix("/") + ".__writer")

  /** Stamp-renewal cadence while a lease is held (overridable per
    * session via `graft.lease.heartbeatMs`). The horizon a
    * [[takeOverStaleLease]] caller passes should be several multiples
    * of this — a live writer is never more than one heartbeat stale. */
  private val HEARTBEAT_MS_DEFAULT = 5000L

  /** Leases this THREAD already holds (canonical URI strings): an
    * operation that composes leased sub-writes under one family lease —
    * [[Sim.buildIvfIndex]]'s centroids write wrapping the leased cell
    * write — re-enters instead of deadlocking on itself. Reentrancy is
    * per-thread: a DIFFERENT thread of the same JVM is still a second
    * writer and still loses (ConcurrencySpec's holder threads prove
    * it). */
  private val heldByThread = new ThreadLocal[java.util.HashSet[String]] {
    override def initialValue(): java.util.HashSet[String] =
      new java.util.HashSet[String]()
  }

  private def stampOf(owner: String, nonce: String): String =
    s"$owner pid=${ProcessHandle.current().pid()} " +
      s"thread=${Thread.currentThread().getName} " +
      s"nonce=$nonce epoch_ms=${System.currentTimeMillis()}"

  /** The renewal instant a takeover judges liveness by: the LAST
    * `epoch_ms=<t>` in the stamp (heartbeats rewrite the whole stamp).
    * Falls back to the lease file's modification time when the stamp is
    * unreadable — e.g. the sub-syscall window between the local O_EXCL
    * create and the first stamp write (harmless for EXCLUSION, which is
    * the create itself, but a takeover still needs an age to judge). */
  private def stampEpochMs(fs: org.apache.hadoop.fs.FileSystem,
      lease: Path): Long = {
    val parsed =
      try {
        val in = fs.open(lease)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          .take(400) finally in.close()
        "epoch_ms=(\\d+)".r.findAllMatchIn(s).toSeq.lastOption
          .map(_.group(1).toLong)
      } catch { case NonFatal(_) => None }
    parsed.getOrElse(
      try fs.getFileStatus(lease).getModificationTime
      catch { case NonFatal(_) => Long.MaxValue /* vanished = not stale */ })
  }

  /** Overwrite the lease stamp IN PLACE — never delete-then-create,
    * which would open a window a racing O_EXCL create could slip
    * through. Local FS: NIO write without CREATE, so a lease that was
    * taken over (renamed away) errors instead of resurrecting. */
  private def restamp(fs: org.apache.hadoop.fs.FileSystem, lease: Path,
      stamp: String): Unit = {
    val uri = lease.toUri
    if (uri.getScheme == null || uri.getScheme == "file") {
      java.nio.file.Files.write(java.nio.file.Paths.get(uri.getPath),
        stamp.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.WRITE,
        java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
    } else {
      val out = fs.create(lease, true)
      try out.write(stamp.getBytes("UTF-8")) finally out.close()
    }
  }

  private def readStamp(fs: org.apache.hadoop.fs.FileSystem,
      lease: Path): String =
    try {
      val in = fs.open(lease)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.take(200)
      finally in.close()
    } catch { case NonFatal(_) => "<unreadable>" }

  /** Acquire the single-writer lease on `indexDir`, run `body`, release.
    * Acquisition is an atomic exclusive create — `Files.createFile` on a
    * local filesystem (check-and-create in one syscall), the namenode's
    * atomic `create(overwrite=false)` elsewhere — so two racing writers
    * can never both win. The loser gets a [[ConcurrentWriterException]]
    * naming the current holder.
    *
    * Liveness: while the body runs, a daemon heartbeat re-stamps the
    * lease's `epoch_ms` every `graft.lease.heartbeatMs` (default 5 s),
    * so a lease whose stamp is OLD belongs to a dead writer —
    * [[takeOverStaleLease]] is the automatic recovery,
    * [[breakWriterLease]] the manual override. The heartbeat renews
    * ONLY while the file still carries this acquisition's nonce: a
    * holder that was (wrongly) taken over stops renewing and, on
    * release, leaves the usurper's lease untouched. */
  private[graft] def withWriterLease[T](spark: SparkSession,
      indexDir: String, owner: String)(body: => T): T = {
    val lease = leasePath(indexDir)
    val fs = fileSystem(spark, lease)
    val key = fs.makeQualified(lease).toString
    if (heldByThread.get().contains(key)) return body // reentrant hold
    val nonce = java.util.UUID.randomUUID().toString.take(16)
    val stamp = stampOf(owner, nonce)
    Option(lease.getParent).foreach(fs.mkdirs(_))
    val uri = lease.toUri
    val acquired =
      if (uri.getScheme == null || uri.getScheme == "file") {
        // local FS: Hadoop's create(overwrite=false) is check-then-act;
        // NIO createFile is the atomic O_EXCL form
        val p = java.nio.file.Paths.get(uri.getPath)
        try { java.nio.file.Files.createFile(p); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else {
        try { fs.create(lease, false).close(); true }
        catch { case _: java.io.IOException => false }
      }
    if (!acquired) {
      val holder = readStamp(fs, lease)
      throw new ConcurrentWriterException(
        s"index $indexDir is held by another writer [$holder]; " +
          s"this write ($stamp) aborted cleanly. Single-writer contract: " +
          "one ingest owns an index. If the holder is dead, recover with " +
          "IndexMaintenance.takeOverStaleLease (or breakWriterLease).")
    }
    // Stamp AFTER the exclusive create. A failure here (disk full,
    // interrupt) must not orphan the just-created empty lease — that
    // would block every writer with no named holder to verify dead.
    try restamp(fs, lease, stamp) catch {
      case e: Throwable =>
        try fs.delete(lease, false) catch { case NonFatal(x) => e.addSuppressed(x) }
        throw e
    }
    val hbMs = spark.conf.get("graft.lease.heartbeatMs",
      HEARTBEAT_MS_DEFAULT.toString).toLong
    val stop = new java.util.concurrent.CountDownLatch(1)
    val hb = new Thread(() => {
      while (!stop.await(hbMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
        try {
          if (readStamp(fs, lease).contains(s"nonce=$nonce"))
            restamp(fs, lease, stampOf(owner, nonce))
        } catch { case NonFatal(_) => () } // lost/taken over: stop renewing
      }
    }, s"graft-lease-heartbeat-$owner")
    hb.setDaemon(true)
    hb.start()
    heldByThread.get().add(key)
    try body finally {
      heldByThread.get().remove(key)
      stop.countDown()
      hb.join(1000)
      // release only OUR lease: after a (mistaken) takeover the file is
      // the usurper's — deleting it would let a third writer in
      if (readStamp(fs, lease).contains(s"nonce=$nonce"))
        fs.delete(lease, false)
    }
  }

  /** Operator-facing recovery: drop a stale lease left by a crashed
    * writer (verify the owner named in the lease is dead FIRST — this is
    * the manual override of the ownership contract, not part of any
    * automatic path; [[takeOverStaleLease]] is the policy-driven form).
    * Returns whether a lease existed. */
  def breakWriterLease(spark: SparkSession, indexDir: String): Boolean = {
    val lease = leasePath(indexDir)
    fileSystem(spark, lease).delete(lease, false)
  }

  /** Crash recovery WITHOUT a human: atomically remove `indexDir`'s
    * lease iff its last heartbeat is older than `maxAgeMs` — a live
    * writer renews every few seconds ([[HEARTBEAT_MS_DEFAULT]]), so a
    * stamp several horizons old can only be a dead owner. Returns true
    * iff THIS caller removed the stale lease (it may then acquire
    * normally via [[withWriterLease]]); false when no lease exists, the
    * owner is live, or a racing takeover won the removal. Arbitration
    * is one atomic rename of the lease file to a caller-unique
    * tombstone — two racing takeovers elect exactly one winner, and a
    * LIVE holder is untouched (age-gated before the rename; the
    * heartbeat keeps live ages under one cadence). */
  def takeOverStaleLease(spark: SparkSession, indexDir: String,
      maxAgeMs: Long): Boolean = {
    val lease = leasePath(indexDir)
    val fs = fileSystem(spark, lease)
    if (!fs.exists(lease)) return false
    val age = System.currentTimeMillis() - stampEpochMs(fs, lease)
    if (age < maxAgeMs) return false // live (or too fresh to judge)
    val tomb = new Path(lease.toString + ".stale-" +
      java.util.UUID.randomUUID().toString.take(12))
    val won = try fs.rename(lease, tomb) catch { case NonFatal(_) => false }
    if (won) fs.delete(tomb, false)
    won
  }

  /** Whether a writer currently holds `indexDir` (specs; monitoring). */
  def writerLeaseHeld(spark: SparkSession, indexDir: String): Boolean = {
    val lease = leasePath(indexDir)
    fileSystem(spark, lease).exists(lease)
  }

  /** Rewrite `dir` through a staging sibling and swap it in: `write` lays
    * the new copy at `<dir>.compacting`, the old dataset moves aside,
    * staging renames into place, the old copy is dropped. On a failed
    * swap the original is restored — the index is never left missing.
    * A process that died between the two renames left `<dir>` missing
    * and its only live copy at `<dir>.old`: the next rewrite renames it
    * back before deleting anything, so `.old` is dropped only while
    * `<dir>` exists. Holds the writer lease on `leaseDir` (default: `dir`
    * itself) for the duration: a compaction racing an ingest append on
    * the same index is a contract violation and fails cleanly instead of
    * folding a half-landed increment. A multi-artifact index (IVF: centroids +
    * vectors under one root) passes its ROOT as `leaseDir` so every
    * mutation in the family contends on ONE canonical lease — a
    * sub-path lease would let a root-level swap rename the index out
    * from under a leased sub-path append undetected. */
  private[graft] def rewrite(spark: SparkSession, dir: String,
      leaseDir: String = null)(
      write: String => Unit): Unit = withWriterLease(spark,
      Option(leaseDir).getOrElse(dir), "rewrite") {
    val target = new Path(dir)
    val fs = fileSystem(spark, target)
    val staging = new Path(dir + ".compacting")
    val backup = new Path(dir + ".old")
    if (!fs.exists(target) && fs.exists(backup) &&
        !fs.rename(backup, target))
      throw new IllegalStateException(
        s"compaction: cannot restore $dir from $backup")
    fs.delete(staging, true)
    if (fs.exists(target)) fs.delete(backup, true)
    write(staging.toString)
    if (!fs.rename(target, backup))
      throw new IllegalStateException(s"compaction: cannot move aside $dir")
    if (!fs.rename(staging, target)) {
      if (!fs.rename(backup, target))
        throw new IllegalStateException(
          s"compaction: cannot swap in $dir, nor restore it from $backup")
      throw new IllegalStateException(s"compaction: cannot swap in $dir")
    }
    fs.delete(backup, true)
    ()
  }

  /** Number of `increment=<n>` partitions currently in the index — what a
    * compaction trigger policy keys on ([[graft.streaming.DedupStream]]:
    * compact once the delta pile exceeds a threshold). One directory
    * listing, no data read. */
  def incrementCount(spark: SparkSession, dir: String): Long =
    incrementDirs(spark, dir).size.toLong

  /** The `increment=<n>` dir names under `dir`, none if it is absent. */
  private def incrementDirs(spark: SparkSession, dir: String): Seq[String] = {
    val p = new Path(dir)
    val fs = fileSystem(spark, p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("increment="))
  }

  /** Invocation-unique scratch root for a demo index lifecycle (the
    * q128/q129/q139/q149 queries build a throwaway index per run). A
    * fixed path keyed on the input dir let two CONCURRENT invocations
    * over the same data race build/append/probe — the static build
    * wipes increments mid-probe (ConcurrencySpec now runs the lifecycle
    * queries in its parallel mix to pin the absence of that race). The
    * dir is not created here (a [[cloneDir]] target must not exist yet),
    * but it is registered with [[scratchDirs]], so it is deleted when the
    * JVM exits. */
  private[graft] def scratchIndexDir(spark: SparkSession,
      kind: String): String = {
    val p = new Path(s"${sys.props("java.io.tmpdir")}/graft-$kind-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12))
    scratchDirs.register(fileSystem(spark, p), p)
    p.toString
  }

  /** Paths deleted recursively by [[run]], whether or not they existed
    * when registered. Hadoop's `FileSystem.deleteOnExit` is no substitute:
    * it registers nothing for a path that does not exist yet. */
  private[graft] final class ExitDeletes {
    private val paths =
      new java.util.concurrent.ConcurrentHashMap[Path, FileSystem]()

    def register(fs: FileSystem, p: Path): Unit = { paths.put(p, fs); () }

    def run(): Unit = paths.forEach { (p, fs) =>
      try fs.delete(p, true) catch { case NonFatal(_) => () }
    }
  }

  /** The scratch dirs of this JVM, deleted by one shutdown hook that runs
    * before Hadoop's FileSystem cache closes (a closed FileSystem deletes
    * nothing) and after Spark has stopped its context. */
  private lazy val scratchDirs: ExitDeletes = {
    val d = new ExitDeletes
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => d.run(), FileSystem.SHUTDOWN_HOOK_PRIORITY + 1)
    d
  }

  /** Snapshot-copy a persisted index/label store to a fresh path —
    * how a DECREMENTAL demonstration obtains its own mutable copy of a
    * maintained store without re-deriving it (the maintained original
    * stays read-only for its concurrent consumers). At cluster scale
    * this is a distributed file copy (distcp-shaped: no shuffle, no
    * recompute — cost is the store's size, not the corpus's); locally
    * one recursive filesystem copy. */
  private[graft] def cloneDir(spark: SparkSession, src: String,
      dst: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val srcP = new Path(src)
    val fs = srcP.getFileSystem(conf)
    if (!org.apache.hadoop.fs.FileUtil.copy(fs, srcP,
        dst match { case d => new Path(d).getFileSystem(conf) },
        new Path(dst), false, conf))
      throw new IllegalStateException(s"snapshot copy $src -> $dst failed")
  }

  /** Largest `increment=<n>` partition id under `dir` (0 if none) — the
    * partition a streaming ingest may still replay after a crash, which
    * maintenance must therefore never fold ([[Sim.maintainIvfIndex]]).
    * One directory listing, no data read. */
  def maxIncrement(spark: SparkSession, dir: String): Long =
    incrementDirs(spark, dir).map(_.stripPrefix("increment=").toLong)
      .foldLeft(0L)(math.max)

  /** The FileSystem that serves `p`, resolved under `spark`'s Hadoop conf
    * (Hadoop caches one per scheme and authority). */
  private[graft] def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Parquet data-file count under `dir` — the quantity compaction exists
    * to shrink (specs assert it drops). */
  def parquetFileCount(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = fileSystem(spark, p)
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }
}
