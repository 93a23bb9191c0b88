package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import scala.util.control.NonFatal

/** Compaction for the persisted incremental indexes ([[Dedup]]'s MinHash
  * band index, [[Sim]]'s IVF cell index). Each ingest lands as its own
  * `increment=<n>` partition — correct and idempotent, but after many
  * deltas the index is a pile of small increment files and every probe
  * scan opens all of them. Compaction folds the increments back into the
  * build partition (`increment=0`) with the layout the build pass writes,
  * leaving probe results bit-identical while collapsing the file count —
  * the maintenance task a real index runs off the ingest path.
  *
  * At cluster scale the rewrite is one distributed read→write of the
  * index (no shuffle beyond the layout's own clustering repartition) and
  * the cutover is two directory renames — probes racing the swap see
  * either the old or the new layout, never a half-written mix.
  */
object IndexMaintenance {

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
    val conf = spark.sessionState.newHadoopConf()
    val fs = lease.getFileSystem(conf)
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
    lease.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(lease, false)
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
    val fs = lease.getFileSystem(spark.sessionState.newHadoopConf())
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
    lease.getFileSystem(spark.sessionState.newHadoopConf()).exists(lease)
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
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
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
  def incrementCount(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).count(s => s.isDirectory &&
      s.getPath.getName.startsWith("increment=")).toLong
  }

  /** Invocation-unique scratch root for a demo index lifecycle (the
    * q128/q129/q139/q149 queries build a throwaway index per run). A
    * fixed path keyed on the input dir let two CONCURRENT invocations
    * over the same data race build/append/probe — the static build
    * wipes increments mid-probe (ConcurrencySpec now runs the lifecycle
    * queries in its parallel mix to pin the absence of that race). The
    * dir is registered for delete-on-exit so repeated bench runs don't
    * accumulate scratch indexes past the JVM's lifetime. */
  private[graft] def scratchIndexDir(spark: SparkSession,
      kind: String): String = {
    val p = new Path(s"${sys.props("java.io.tmpdir")}/graft-$kind-" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(12))
    p.getFileSystem(spark.sessionState.newHadoopConf()).deleteOnExit(p)
    p.toString
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
  def maxIncrement(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("increment="))
      .map(_.getPath.getName.stripPrefix("increment=").toLong)
      .foldLeft(0L)(math.max)
  }

  /** Parquet data-file count under `dir` — the quantity compaction exists
    * to shrink (specs assert it drops). */
  def parquetFileCount(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    var n = 0L
    while (it.hasNext) {
      if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }
}
