package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** The mains' contracts on two synthetic queries (no registry query
  * runs): Bench and Verify record a throwing query (and Bench a failed
  * preamble build) as data, one
  * `SPARK_GRAFT_ONLY` rule selects for both, and the registry rejects a
  * duplicated name. */
class EntryPointsSpec extends SparkSpecBase {

  private val ok = Query("t_ok",
    (s: SparkSession, _: String) => s.range(3).toDF("id"), "SELECT 1")
  private val boom = Query("t_boom",
    (_: SparkSession, _: String) =>
      throw new IllegalStateException("boom \"quoted\"\nsecond line"),
    "SELECT 2")

  private def parse(json: String): JsonNode = new ObjectMapper().readTree(json)

  private def assertBoomListed(failed: JsonNode): Unit = {
    assert(failed.size == 1)
    assert(failed.get(0).get("name").asText == "t_boom")
    assert(failed.get(0).get("error_class").asText ==
      "java.lang.IllegalStateException")
    assert(failed.get(0).get("message").asText == "boom \"quoted\"")
  }

  test("Bench.run lists a throwing query under failed and times only the rest") {
    val result = Bench.run(spark, sf, Seq(ok, boom))
    assert(result.times.map(_._1) == Seq("t_ok"))
    val Seq(full, compact) = result.jsonLines(sf).map(parse)
    val okSeconds = result.times.head._2
    assert(full.get("queries").fieldNames.asScala.toSeq == Seq("t_ok"))
    assert(full.get("value").asDouble == okSeconds)
    assert(compact.get("total_s").asDouble == okSeconds)
    assert(compact.get("n_queries").asInt == 1)
    assertBoomListed(full.get("failed"))
    assertBoomListed(compact.get("failed"))
  }

  test("Bench.prewarm lists a failed build as prewarm after the others finish") {
    val slowDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pre = Bench.prewarm(Seq(
      "slow" -> (() => { Thread.sleep(300); slowDone.set(true) }),
      "bad" -> (() => throw new IllegalStateException("no lineage"))))
    assert(slowDone.get)
    assert(pre.failed == Seq(QueryFailure("prewarm",
      "java.lang.IllegalStateException", "no lineage")))
    assert(pre.prewarmWallS >= 0.3)
    assert(pre.prewarmS.map(_._1) == Seq("slow"))
    assert(pre.prewarmS.head._2 >= 0.3)
    val result = pre.copy(times = Bench.run(spark, sf, Seq(ok)).times)
    val Seq(full, compact) = result.jsonLines(sf).map(parse)
    for (line <- Seq(full, compact)) {
      assert(line.get("prewarm_wall_s").asDouble == pre.prewarmWallS)
      assert(line.get("prewarm_host").asText == "preamble")
      assert(line.get("failed").get(0).get("name").asText == "prewarm")
    }
    // per-build seconds ride the full line only; a failed build has none
    assert(full.get("prewarm_s").get("slow").asDouble == pre.prewarmS.head._2)
    assert(!full.get("prewarm_s").has("bad"))
    assert(!compact.has("prewarm_s"))
    assert(result.total == result.times.head._2 + pre.prewarmWallS)
    assert(compact.get("total_s").asDouble == result.total)
  }

  test("Verify.dump writes the good result, failed.json and oracle_sql.json") {
    val out = tmpDir("verify-dump")
    val failed = Verify.dump(spark, sf, out, Seq(ok, boom))
    assert(failed.map(_.name) == Seq("t_boom"))
    assertBoomListed(parse(Files.readString(Paths.get(s"$out/failed.json"))))
    val oracle = parse(Files.readString(Paths.get(s"$out/oracle_sql.json")))
    assert(oracle.fieldNames.asScala.toSet == SparkEntry.oracleSql.keySet)
    assert(spark.read.parquet(s"$out/t_ok").count() == 3)
    assert(!Files.exists(Paths.get(s"$out/t_boom")))
  }

  test("select: substring patterns, and a pattern that matches nothing throws") {
    assert(SparkEntry.select(Some("q218")).map(_.name) == Seq("q218_png_decode"))
    assert(SparkEntry.select(None) == SparkEntry.registry)
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("no_such_query")))
    assert(e.getMessage.contains("no_such_query"))
  }

  test("the registry's uniqueness check rejects a duplicated name") {
    assert(SparkEntry.checkUnique(Seq(ok, boom)) == Seq(ok, boom))
    val e = intercept[IllegalArgumentException](
      SparkEntry.checkUnique(Seq(ok, ok.copy(oracleSql = "SELECT 3"))))
    assert(e.getMessage.contains("t_ok"))
  }
}
