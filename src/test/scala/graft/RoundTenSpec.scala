package graft

import org.apache.spark.sql.functions._

import graft.engine.{Dedup, Sim, Tables, TextOps}
import graft.functions.TextFns

/** Round-10 operators: weighted (πps) sampling, the JL random-projection
  * audit, MinHash source-overlap algebra, DSIR importance weights. */
class RoundTenSpec extends SparkSpecBase {

  test("weightedSample: per-source quota filled, size-biased, " +
      "deterministic") {
    val a = TextOps.weightedSample(spark, sf).collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      val (nDocs, total, nPicked, idSum, pTok) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))
      assert(nPicked == math.min(TextOps.SPS_K.toLong, nDocs),
        "quota is exactly min(k, |source|) — priorities are all distinct")
      assert(pTok >= nPicked && pTok <= total)
      assert(idSum > 0 || nPicked == 0)
    }
    // πps property in aggregate: token-weighted draws pick bigger docs,
    // so the picked mean token count beats the corpus mean
    val pickedMean = a.map(_.getLong(5)).sum.toDouble / a.map(_.getLong(3)).sum
    val corpusMean = a.map(_.getLong(2)).sum.toDouble / a.map(_.getLong(1)).sum
    assert(pickedMean > corpusMean,
      s"size-biased sample must over-pick tokens: $pickedMean !> $corpusMean")
    // reproducible: the membership checksum pins the SAME docs on re-run
    val b = TextOps.weightedSample(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("randomProjectionAudit: pair sweep covers consecutive ids, the " +
      "16-dim sketch's distortion sits in the JL band, signs decorrelate") {
    val n = Tables.embeddings(spark, sf).count()
    val rows = Sim.randomProjectionAudit(spark, sf).collect()
    assert(rows.map(_.getLong(1)).sum == n - 1,
      "exactly one pair per consecutive id")
    rows.foreach { r =>
      val (avgD, maxD) = (r.getLong(4), r.getLong(5))
      assert(maxD >= avgD)
      // a COLLAPSED sign matrix (correlated rows) reads ~990000 here;
      // a healthy 16-row Achlioptas sketch sits near 1/sqrt(16)≈250000
      assert(avgD < 400000L,
        s"avg |cos - cos_proj| = $avgD ppm — sketch rows are correlated")
      assert(avgD > 0L, "a 4x compression cannot be distortion-free")
    }
  }

  test("sourceOverlap: planted source clone estimates Jaccard 1.0; " +
      "estimates bounded; pairs oriented") {
    val docs = Tables.documents(spark, sf).select(col("source"), col("text"))
    val cloned = docs.unionByName(
      docs.filter(col("source") === "src0")
        .select(lit("zzclone").as("source"), col("text")))
    val rows = Dedup.sourceOverlapOf(cloned).collect()
    val nSrc = cloned.select("source").distinct().count()
    assert(rows.length == (nSrc * (nSrc - 1) / 2).toInt,
      "every unordered source pair exactly once")
    rows.foreach { r =>
      assert(r.getString(0) < r.getString(1), "doc_a < doc_b orientation")
      val est = r.getLong(3)
      assert(est >= 0L && est <= 1000000L)
      assert(est == r.getLong(2) * 1000000L / TextFns.NH)
    }
    val clone = rows.find(r =>
      r.getString(0) == "src0" && r.getString(1) == "zzclone").get
    assert(clone.getLong(2) == TextFns.NH.toLong &&
      clone.getLong(3) == 1000000L,
      "identical shingle sets ⇒ identical source signatures ⇒ est 1.0")
  }

  test("dsirWeights: English target scores English docs above every " +
      "other language; accounting conserved") {
    val rows = TextOps.dsirWeights(spark, sf).collect()
    val byLang = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(byLang.contains("en"))
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "selected ⊆ docs")
      assert(r.getLong(3) > 0L && r.getLong(4) > 0L)
    }
    val enAvg = byLang("en")._4
    byLang.filter(_._1 != "en").foreach { case (lang, (_, _, _, avg)) =>
      assert(enAvg > avg,
        s"target=en must out-score $lang: $enAvg !> $avg")
    }
    // every doc with ≥2 tokens carries bigram evidence and is scored
    val scoredDocs = rows.map(_.getLong(1)).sum
    val eligible = Tables.documents(spark, sf)
      .filter(size(TextFns.tokens(col("text"))) >= 2).count()
    assert(scoredDocs == eligible)
  }

  test("availabilityJson: every provider's schedule survives the JSON " +
      "round trip with consistent day/hour accounting") {
    val rows = engine.SourceOps.availabilityJson(spark, sf).collect()
    val n = Tables.supplier(spark, sf).count()
    assert(rows.length == n, "one schedule per provider")
    rows.foreach { r =>
      val (pid, nDays, hours) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nDays >= 4L && nDays <= 5L,
        "the %3 rule closes exactly 2-3 of 7 days")
      assert(hours >= nDays && hours <= nDays * 8L,
        "each open day contributes 1-8 hours")
      val expectWeekend = (pid + 5) % 3 != 0 || (pid + 6) % 3 != 0
      assert(r.getBoolean(3) == expectWeekend)
    }
  }

  test("urlCanonical: each normalization rule verified on hand-built URLs; " +
      "the dedup query conserves docs and collapses messy forms") {
    import org.apache.spark.sql.functions.col
    val cases = Seq(
      // case-fold + default port + tracking params + sort + fragment
      "HTTPS://Ex.COM:443/a/?utm_source=x&ref=1&b=2&a=1#frag" ->
        "https://ex.com/a?a=1&b=2",
      // non-default port survives; params already clean stay sorted
      "https://ex.com:8080/x?b=2&a=1" -> "https://ex.com:8080/x?a=1&b=2",
      // :443 is https's default only — other schemes keep it
      "ftp://Ex.com:443/f" -> "ftp://ex.com:443/f",
      // root trailing slash drops; all-tracking query drops entirely
      "https://ex.com/?utm_a=1&utm_b=2" -> "https://ex.com",
      "https://ex.com/deep/path///" -> "https://ex.com/deep/path")
    import spark.implicits._
    val got = cases.map(_._1).toDF("u")
      .select(engine.SourceOps.urlCanonical(col("u"))).as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, e) => assert(g == e) }

    val rows = engine.SourceOps.urlCanonicalDedup(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total, "every doc in exactly one group")
    assert(rows.exists(_.getLong(2) > 1),
      "messy variants of one identity must collapse (n_forms > 1 somewhere)")
    rows.foreach { r =>
      val url = r.getString(0)
      assert(url == url.toLowerCase && !url.contains("#") &&
        !url.contains("utm_") && !url.contains(":443"))
      assert(r.getLong(2) <= r.getLong(1))
    }
  }

  test("domainGate: registrable-domain extraction, blocklist + quality " +
      "gates, and the anti-join kept count all agree") {
    val rows = engine.SourceOps.domainGate(spark, sf).collect()
    val total = Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == total,
      "every doc lands in exactly one registrable domain")
    rows.foreach { r =>
      val (domain, nDocs, nHosts, kept) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(6))
      assert(domain.split("\\.").length == 2,
        s"registrable domain is site.tld, got $domain")
      assert(!domain.startsWith("www.") && !domain.startsWith("cdn."),
        "subdomain noise must be stripped by the last-two-labels rule")
      assert(nHosts >= 1L && nHosts <= 3L,
        "at most bare + www + cdn host forms per domain")
      val expect = if (r.getBoolean(4) || r.getBoolean(5)) 0L else nDocs
      assert(kept == expect,
        s"$domain: anti-join kept=$kept disagrees with the flags")
    }
    assert(rows.exists(_.getBoolean(4)), "hash blocklist hits ~1/7 of domains")
    assert(rows.exists(_.getBoolean(5)) &&
      rows.exists(r => !r.getBoolean(4) && !r.getBoolean(5)),
      "both quality classes must be populated")
  }

  test("qualityClassifier: the map-side token fold equals a driver-side " +
      "replay of the same integer model; accounting conserved") {
    import graft.functions.TextHash
    import org.apache.spark.unsafe.types.UTF8String
    val rows = TextOps.qualityClassifier(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("source"), col("text")).collect()
    assert(rows.map(_.getLong(1)).sum == docs.length.toLong)
    assert(rows.exists(_.getLong(2) > 0L) &&
      rows.exists(r => r.getLong(2) < r.getLong(1)),
      "threshold 0 must split the corpus into both classes")
    def score(text: String): Long =
      text.trim.split("\\s+").map { t =>
        val b = TextHash.polyHash(UTF8String.fromString(t)) %
          TextOps.QC_BUCKETS
        ((b * TextOps.QC_MULT + TextOps.QC_BIAS) % 2001L) - 1000L
      }.foldLeft(0L)(_ + _)
    val expect = docs.groupBy(_.getString(0)).view
      .mapValues(_.map(r => score(r.getString(1))).sum).toMap
    rows.foreach { r =>
      assert(r.getLong(3) == expect(r.getString(0)),
        s"${r.getString(0)}: engine score ${r.getLong(3)} != replay")
    }
  }

  test("lineDedup: boilerplate lines vanish from EVERY doc, rebuild " +
      "preserves original line order — verified by full driver replay") {
    import graft.functions.TextHash
    import org.apache.spark.unsafe.types.UTF8String
    def ph(s: String): Long = TextHash.polyHash(UTF8String.fromString(s))
    val rows = TextOps.lineDedup(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    def chunks(text: String): Seq[String] =
      text.trim.split("\\s+").toSeq.grouped(TextOps.LINE_W)
        .map(_.mkString(" ")).toSeq
    val df = docs.toSeq.flatMap { case (id, t) =>
      chunks(t).map(ph).distinct.map(_ -> id)
    }.groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val heavy = df.filter(_._2 > TextOps.LINE_DF_CAP).keySet
    assert(heavy.nonEmpty, "this sf must exercise the boilerplate path")
    rows.foreach { r =>
      val (id, nLines, nKept, rebuilt) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val cs = chunks(docs(id))
      val kept = cs.filterNot(c => heavy(ph(c)))
      assert(nLines == cs.size.toLong, s"doc $id line count")
      assert(nKept == kept.size.toLong, s"doc $id kept count")
      assert(rebuilt == ph(kept.mkString(" ")),
        s"doc $id: rebuilt hash disagrees with the ordered driver replay")
    }
    assert(rows.exists(r => r.getLong(2) < r.getLong(1)),
      "at least one doc must actually lose a line")
  }

  test("kmvDistinctShingles: sketches are exact bottom-k sets, the " +
      "merged __all__ sketch equals the global sketch, estimator is " +
      "order-free deterministic") {
    import graft.functions.TextFns
    val rows = TextOps.kmvDistinctShingles(spark, sf).collect()
    val bySrc = rows.map(r => r.getString(0) -> r).toMap
    assert(bySrc.contains("__all__") && bySrc.size >= 2)
    // driver-side replica: per-source distinct hash sets
    val hs = Tables.documents(spark, sf)
      .select(col("source"), explode(TextFns.shingleHashes(col("text")))
        .as("h")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
      .map { case (s, v) => s -> v.map(_._2).distinct.sorted.toSeq }
    val globalSet: Seq[Long] =
      hs.values.flatten.toSeq.distinct.sorted
    rows.foreach { r =>
      val (src, nExact, sketchN) =
        (r.getString(0), r.getLong(1), r.getLong(2))
      val set: Seq[Long] = if (src == "__all__") globalSet else hs(src)
      assert(nExact == set.length.toLong)
      assert(sketchN == math.min(TextOps.KMV_K.toLong, set.length))
      if (sketchN == TextOps.KMV_K) {
        // m_k IS the k-th smallest distinct hash — for __all__ this is
        // the mergeability theorem: bottom-k of the union of per-source
        // bottom-k sets == bottom-k of the union of the full sets
        assert(r.getLong(3) == set(TextOps.KMV_K - 1))
        assert(r.getLong(4) ==
          (TextOps.KMV_K - 1).toLong * TextFns.P / set(TextOps.KMV_K - 1))
      } else assert(r.isNullAt(3) && r.getLong(4) == nExact)
    }
    // per-source estimates land in a sane KMV band (k=64 → ~12% stderr;
    // allow 4σ) — a collapsed/biased hash would blow far past this
    bySrc.filter(_._1 != "__all__").values.foreach { r =>
      val (exact, est) = (r.getLong(1).toDouble, r.getLong(4).toDouble)
      assert(est > exact * 0.5 && est < exact * 2.0,
        s"${r.getString(0)}: est $est vs exact $exact")
    }
  }

  test("hardNegatives: ranks dense per probe, cosines descend inside the " +
      "mining band, and every in-band candidate outscored by the cut") {
    val rows = Sim.hardNegatives(spark, sf).collect()
    assert(rows.nonEmpty)
    val byProbe = rows.groupBy(_.getLong(0))
    byProbe.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq ==
        (1L to sorted.length.toLong), "ranks dense from 1")
      assert(sorted.length <= Sim.TOP_K)
      val cs = sorted.map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y },
        "cosines descend")
      // round6 can move a boundary value by <1e-6 — band up to tolerance
      cs.foreach(c => assert(c >= Sim.HN_LO - 1e-6 && c < Sim.HN_HI + 1e-6))
    }
    // the band is not vacuous at this SF: some probe fills its k
    assert(byProbe.values.exists(_.length == Sim.TOP_K))
  }

  test("stratifiedEvalSample: the two-phase cut COVERS every language's " +
      "quota on the gated corpora (coverage is probabilistic by design)") {
    for (dir <- Seq(sf, "/root/testdata/sf0.01")) {
      val rows = TextOps.stratifiedEvalSample(spark, dir).collect()
      rows.foreach { r =>
        assert(r.getLong(3) == r.getLong(2),
          s"$dir ${r.getString(0)}: picked ${r.getLong(3)} != " +
            s"quota ${r.getLong(2)} — survivor set underfilled")
      }
      assert(rows.map(_.getLong(3)).sum == TextOps.EVAL_N,
        s"$dir: total must be exactly EVAL_N")
    }
  }
}
