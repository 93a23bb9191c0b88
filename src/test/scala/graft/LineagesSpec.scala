package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Lineages, Pipeline}
import graft.engine.Lineages.Lineage

/** The lineage registry's contracts: one uniquely named list, a refusal
  * of any lineage left off it, and a build-once cache exercised with tiny
  * synthetic lineages (no registry lineage builds, no Spark session). */
class LineagesSpec extends AnyFunSuite {

  // the synthetic builds never touch a session
  private val noSession: SparkSession = null

  private def resolveAll(ls: Seq[(String, () => String)]): Seq[String] =
    Pipeline.concurrently("lineages-spec", ls)

  test("Lineages.all holds 18 uniquely named lineages") {
    val names = Lineages.all.map(_.name)
    assert(names.size == 18)
    assert(names.distinct == names)
    val dup = Lineage("t_dup", (_, d) => d)
    val e = intercept[IllegalArgumentException](
      Lineages.checkUnique(Seq(dup, dup.copy(build = (_, d) => s"$d/2"))))
    assert(e.getMessage.contains("t_dup"))
  }

  test("out refuses a lineage that is not in Lineages.all, naming it") {
    val built = new AtomicInteger(0)
    val stray = Lineage("t_stray", (_, d) => { built.incrementAndGet(); d })
    val e = intercept[IllegalArgumentException](
      Lineages.out(stray, noSession, "corpus-stray"))
    assert(e.getMessage.contains("t_stray"))
    assert(built.get == 0)
  }

  test("8 threads resolving one key run the build once and share its dir") {
    val built = new AtomicInteger(0)
    val once = Lineage("t_once", (_, d) => {
      Thread.sleep(300)
      s"$d/out-${built.incrementAndGet()}"
    })
    val dirs = resolveAll((1 to 8).map(i =>
      s"c$i" -> (() => Lineages.cached(once, noSession, "corpus-once"))))
    assert(built.get == 1)
    assert(dirs.distinct == Seq("corpus-once/out-1"))
  }

  test("a build that throws caches nothing; the next call rebuilds") {
    val calls = new AtomicInteger(0)
    val flaky = Lineage("t_flaky", (_, d) =>
      if (calls.incrementAndGet() == 1)
        throw new IllegalStateException("first build fails")
      else s"$d/ok")
    intercept[IllegalStateException](
      Lineages.cached(flaky, noSession, "corpus-flaky"))
    assert(Lineages.cached(flaky, noSession, "corpus-flaky") ==
      "corpus-flaky/ok")
    assert(Lineages.cached(flaky, noSession, "corpus-flaky") ==
      "corpus-flaky/ok")
    assert(calls.get == 2)
  }

  test("two slow lineages resolved at once overlap; a build may resolve " +
      "another lineage") {
    val buildS = 1.0
    def slow(name: String) = Lineage(name, (_, d) => {
      Thread.sleep((buildS * 1000).toLong)
      s"$d/$name"
    })
    val (a, b) = (slow("t_slow_a"), slow("t_slow_b"))
    val t0 = System.nanoTime()
    val dirs = resolveAll(Seq(a, b).map(l =>
      l.name -> (() => Lineages.cached(l, noSession, "corpus-slow"))))
    val wall = (System.nanoTime() - t0) / 1e9
    assert(dirs == Seq("corpus-slow/t_slow_a", "corpus-slow/t_slow_b"))
    assert(wall < 2 * buildS, s"wall $wall s: the builds ran one by one")
    val outer = Lineage("t_outer", (s, d) =>
      Lineages.cached(a, s, d) + "/outer")
    assert(Lineages.cached(outer, noSession, "corpus-slow") ==
      "corpus-slow/t_slow_a/outer")
  }
}
