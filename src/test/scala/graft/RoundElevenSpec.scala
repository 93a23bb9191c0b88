package graft

import org.apache.spark.sql.functions._

import graft.engine.{Graph, TextOps}

/** Round-11 operator pins: the KMV pairwise estimator (q206), k-core
  * peeling (q207), and the q195 deployment-path flag. The round's
  * streaming replay probes live in [[StreamLineageSpec]]. */
class RoundElevenSpec extends SparkSpecBase {

  test("q206: KMV pairwise overlap is exact bottom-k algebra and brackets true Jaccard") {
    val rows = TextOps.kmvSourceOverlap(spark, sf).collect()
    val nSources = graft.engine.Tables.documents(spark, sf)
      .select("source").distinct().count()
    assert(rows.length == nSources * (nSources - 1) / 2, "all unordered pairs")
    rows.foreach { r =>
      val (nc, nm, ppm) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nc >= 0 && nc <= nm && nm <= TextOps.KMV_K)
      assert(ppm == nc * 1000000L / nm, "estimate is the exact integer ratio")
    }
    // the estimator must track reality: compare against exact vocabulary
    // Jaccard per pair, within the loose 1/sqrt(k) KMV band (k=64 → ±0.125,
    // widened ×2 for small-sketch noise)
    import graft.functions.TextFns
    val vocab = graft.engine.Tables.documents(spark, sf)
      .select(col("source"), explode(TextFns.shingleHashes(col("text"))).as("h"))
      .distinct().collect().groupBy(_.getString(0))
      .map { case (s, hs) => s -> hs.map(_.getLong(1)).toSet }
    var worst = 0.0
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      val (va, vb) = (vocab(a), vocab(b))
      val exact = (va & vb).size.toDouble / (va | vb).size
      val est = r.getLong(4) / 1e6
      worst = math.max(worst, math.abs(est - exact))
    }
    assert(worst <= 0.25, s"KMV estimate drifted $worst from exact Jaccard")
  }

  test("q207: k-core is the fixpoint a driver-side peel reaches") {
    val got = Graph.kCore(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent driver-side peel over the same kNN edge list
    val e0 = Graph.knnEdgesFrom(
        Graph.coSupplyEdges(spark, sf).localCheckpoint())
      .select("s1", "s2").collect().map(r => (r.getLong(0), r.getLong(1)))
    var edges = e0.toSet
    var changed = true
    while (changed) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (n, o) => n -> o.size }
      val keep = deg.filter(_._2 >= Graph.KCORE_K).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      changed = next != edges
      edges = next
    }
    val expDeg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).map { case (n, o) => n -> o.size.toLong }
    assert(got == expDeg, "engine k-core != driver-side peel fixpoint")
    assert(got.nonEmpty && got.values.forall(_ >= Graph.KCORE_K),
      "every member has >= K neighbours inside the core")
  }

  test("q195 deployment flag drops only the validation column") {
    val before = TextOps.kmvDistinctShingles(spark, sf).collect()
    // per-call scoping: no shared (JVM- or session-) state is mutated, so
    // concurrently running suites can never observe the deployment flag.
    val after = TextOps.kmvDistinctShingles(spark, sf, exact = false).collect()
    assert(after.length == before.length)
    assert(after.forall(_.isNullAt(1)), "n_exact must be null when gated off")
    // sketch columns are byte-identical with the flag off
    def sk(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getString(0), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4))).sortBy(_._1)
    assert(sk(after).sameElements(sk(before)))
  }
}
