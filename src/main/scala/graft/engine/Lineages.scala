package graft.engine

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.streaming.{AsOfStream, DedupStream, DocsStream, DriftStream,
  EventsStream, TermIndexStream, VecIndexStream}

/** The one-time lineages: the streaming replay twins and the maintained
  * stores (the v2 demo, the label store, the term index). Each builds
  * once per (lineage, corpus dir) and its queries then serve from the
  * dir the build returned. [[all]] is the one list of them: Bench's
  * untimed preamble builds exactly this list, and [[out]] refuses a
  * lineage that is not on it, so a lineage left off cannot build
  * silently inside a timed query. */
object Lineages {

  /** `build` lays the lineage down under fresh scratch dirs and returns
    * the dir its queries read. */
  final case class Lineage(name: String,
      build: (SparkSession, String) => String)

  /** Every lineage, in preamble admission order. The lineages are
    * independent (own scratch dirs, own checkpoints; lineages over the
    * same corpus share only the slice caches, which hand every caller
    * ONE slicing pass). */
  val all: Seq[Lineage] = checkUnique(Seq(
    // the v2 parity demo's CSV→bronze→silver→gold materialization is
    // the same one-time-build class — fold it into the wall
    V2Demo.lineage,
    // the maintained label store and term index (r15): the same
    // build-once class as v2 — each previously landed its whole cold
    // build (~12 s / ~3 s at sf0.1) inside whichever label-/term-
    // family query a single-run bench reached first (q134/q139),
    // breaking that query's cross-round series exactly the way the
    // r12 q180 wall did. Consumers are unchanged cache serves.
    Dedup.labelsLineage,
    TermIndex.lineage,
    // under a bounded width the list order is the admission order —
    // longest-serial builds (OPTIMIZATION_r15.md) lead so the wall's
    // critical path starts at t=0 (LPT scheduling)
    AsOfStream.asofLineage,
    VecIndexStream.lineage,
    EventsStream.outerJoinLineage,
    EventsStream.fullOuterJoinLineage,
    DocsStream.curatedLineage,
    DedupStream.lineage,
    EventsStream.hourlyLineage,
    EventsStream.sessionsLineage,
    EventsStream.sessionWindowsLineage,
    AsOfStream.asofSinkLineage,
    TermIndexStream.lineage,
    // dcells re-admitted (round 13): its r12 exclusion predates the
    // stride-coprime fix and the frozen-baseline/loud-empty guards —
    // the intermittent empty was the (scale-dependent) modulus
    // arithmetic, not concurrency; re-measured green under the full
    // wall at ×100, three consecutive runs (SCALE_r13 §wall).
    DriftStream.lineage,
    EventsStream.intervalJoinLineage,
    EventsStream.driftLineage,
    EventsStream.dedupLineage))

  /** `ls`, or a failure naming every duplicated lineage name. */
  def checkUnique(ls: Seq[Lineage]): Seq[Lineage] = {
    val dups = ls.groupBy(_.name).collect { case (n, v) if v.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate lineage names: ${dups.toSeq.sorted.mkString(", ")}")
    ls
  }

  /** The dir of lineage `l` over corpus `dir`, built on first demand.
    * Throws, naming `l`, if `l` is not in [[all]]. */
  def out(l: Lineage, spark: SparkSession, dir: String): String = {
    require(all.contains(l),
      s"lineage ${l.name} is not registered in Lineages.all")
    cached(l, spark, dir)
  }

  /** One build, run at most once per holder, in the holder's lazy val:
    * concurrent callers of one key wait on the holder, not on a map bin
    * lock, so different keys never block each other and a build may
    * resolve another lineage. */
  private final class Memo(build: => String) { lazy val out: String = build }

  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Memo]()

  /** The build-once cache under [[out]], keyed by (lineage name, corpus
    * dir) — the corpus dir is immutable for a session (the testdata
    * contract), so a corpus that changes in place invalidates by JVM
    * restart, as a real maintained store invalidates by re-seed. A build
    * that throws caches nothing: its holder leaves the map and the next
    * caller rebuilds. */
  private[graft] def cached(l: Lineage, spark: SparkSession,
      dir: String): String = {
    val key = (l.name, dir)
    val memo = memos.computeIfAbsent(key, _ => new Memo(l.build(spark, dir)))
    try memo.out catch {
      case NonFatal(e) =>
        memos.remove(key, memo)
        throw e
    }
  }
}
