package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{Dedup, IndexMaintenance, Tables, TextOps}

/** The store write path ([[IndexMaintenance]]'s increment write, batch
  * landing and partition purge) on tiny stores, its scratch-dir cleanup,
  * and the persisted stores built on it. */
class IndexStoreSpec extends SparkSpecBase {

  private def rows(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"v$i")).toDF("id", "v")
  }

  private def ids(dir: String, filter: String = "true"): Seq[Long] =
    spark.read.parquet(dir).filter(expr(filter)).select(col("id"))
      .collect().map(_.getLong(0)).toSeq.sorted

  /** Every data file under `dir/sub` as (path relative to `dir`, mtime). */
  private def files(dir: String, sub: String): Map[String, Long] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root.resolve(sub))
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => root.relativize(p).toString ->
        Files.getLastModifiedTime(p).toMillis).toMap
    finally walk.close()
  }

  private def exists(dir: String, sub: String): Boolean =
    Files.exists(Paths.get(dir, sub))

  test("writeIncrement: a build at increment 0 wipes a stale increment") {
    val dir = tmpDir("store-build")
    IndexMaintenance.writeIncrement(rows(1, 2), dir, 0L)
    IndexMaintenance.writeIncrement(rows(30), dir, 3L)
    assert(exists(dir, "increment=3"))
    IndexMaintenance.writeIncrement(rows(4, 5), dir, 0L)
    assert(!exists(dir, "increment=3"), "a rebuild must clear increment=3")
    assert(ids(dir) == Seq(4L, 5L))
  }

  test("writeIncrement: an append at n replaces only increment=n, and a " +
      "replayed append leaves the same rows") {
    val dir = tmpDir("store-append")
    IndexMaintenance.writeIncrement(rows(1, 2), dir, 0L,
      IndexMaintenance.clusterBy("id"))
    IndexMaintenance.writeIncrement(rows(10), dir, 1L)
    val base = files(dir, "increment=0")
    IndexMaintenance.writeIncrement(rows(20, 21), dir, 2L)
    IndexMaintenance.writeIncrement(rows(11, 12), dir, 1L)
    assert(files(dir, "increment=0") == base,
      "increment 0 must keep its files")
    assert(ids(dir) == Seq(1L, 2L, 11L, 12L, 20L, 21L))
    val once = spark.read.parquet(dir).collect().map(_.toSeq).toSeq
      .sortBy(_.toString)
    IndexMaintenance.writeIncrement(rows(11, 12), dir, 1L)
    val twice = spark.read.parquet(dir).collect().map(_.toSeq).toSeq
      .sortBy(_.toString)
    assert(twice == once)
  }

  test("landBatch: a re-landed batch replaces only its own batch " +
      "partition") {
    val out = tmpDir("store-land")
    IndexMaintenance.landBatch(rows(1, 2), 0L, out)
    IndexMaintenance.landBatch(rows(3), 1L, out)
    val first = files(out, "batch=0")
    IndexMaintenance.landBatch(rows(4, 5), 1L, out)
    IndexMaintenance.landBatch(rows(4, 5), 1L, out)
    assert(files(out, "batch=0") == first)
    assert(ids(out, "batch = 1") == Seq(4L, 5L))
    assert(ids(out) == Seq(1L, 2L, 4L, 5L))
  }

  private def purgeIds(dir: String, partCols: Seq[String],
      dead: Long*): IndexMaintenance.Purge = {
    val d = broadcast(rows(dead: _*).select(col("id")))
    IndexMaintenance.purgePartitions(spark, dir, partCols,
      _.join(d, Seq("id"), "left_semi"), _.join(d, Seq("id"), "left_anti"))
  }

  test("purgePartitions: returns the rows removed and leaves untouched " +
      "partitions' files as they were") {
    val out = tmpDir("store-purge")
    IndexMaintenance.landBatch(rows(1, 2), 0L, out)
    IndexMaintenance.landBatch(rows(3, 4, 5), 1L, out)
    IndexMaintenance.landBatch(rows(6), 2L, out)
    val before = files(out, "batch=0") ++ files(out, "batch=2")
    Thread.sleep(20) // a rewrite would show a later mtime
    val p = purgeIds(out, Seq("batch"), 3L, 5L, 99L)
    assert(p.removed == 2L)
    assert(p.touched.map(_.head.toString) == Seq("1") && p.emptied.isEmpty)
    assert(files(out, "batch=0") ++ files(out, "batch=2") == before)
    assert(ids(out) == Seq(1L, 2L, 4L, 6L))
  }

  test("purgePartitions: deletes a partition it empties, including a " +
      "two-level increment=/cell= leaf") {
    val out = tmpDir("store-purge-empty")
    IndexMaintenance.landBatch(rows(1, 2), 0L, out)
    IndexMaintenance.landBatch(rows(3), 1L, out)
    val p = purgeIds(out, Seq("batch"), 3L)
    assert(p.removed == 1L && p.emptied.map(_.head.toString) == Seq("1"))
    assert(!exists(out, "batch=1"), "an emptied batch must be deleted")
    assert(ids(out) == Seq(1L, 2L))

    val dir = tmpDir("store-purge-leaf")
    val cells = rows(1, 2, 3, 4).withColumn("cell", col("id") % 2)
    IndexMaintenance.writeIncrement(cells, dir, 0L, within = Seq("cell"))
    IndexMaintenance.writeIncrement(rows(5).withColumn("cell", lit(1L)),
      dir, 1L, within = Seq("cell"))
    val untouched = files(dir, "increment=0/cell=0")
    Thread.sleep(20)
    val q = purgeIds(dir, Seq("increment", "cell"), 1L, 3L, 5L)
    assert(q.removed == 3L)
    assert(q.emptied.map(_.map(_.toString)).toSet ==
      Set(Seq("0", "1"), Seq("1", "1")))
    assert(!exists(dir, "increment=0/cell=1"), "emptied leaf must go")
    assert(!exists(dir, "increment=1/cell=1"), "emptied leaf must go")
    assert(files(dir, "increment=0/cell=0") == untouched)
    assert(ids(dir) == Seq(2L, 4L))
  }

  test("purgePartitions: returns 0 on a missing or empty store") {
    val missing = s"${tmpDir("store-missing")}/none"
    assert(purgeIds(missing, Seq("batch"), 1L).removed == 0L)
    assert(!exists(missing, ""), "a purge must not create the store")
    val empty = tmpDir("store-empty")
    IndexMaintenance.landBatch(rows(1).filter(lit(false)), 0L, empty)
    assert(purgeIds(empty, Seq("batch"), 1L).removed == 0L)
    val none = tmpDir("store-nomatch")
    IndexMaintenance.landBatch(rows(1), 0L, none)
    assert(purgeIds(none, Seq("batch"), 7L) ==
      IndexMaintenance.Purge(0L, Nil, Nil))
  }

  test("ExitDeletes: the exit delete removes a registered dir holding " +
      "files, registered before it existed, and leaves its sibling") {
    val root = Paths.get(tmpDir("exit-deletes"))
    val gone = root.resolve("gone")
    val kept = root.resolve("kept")
    val fs = new org.apache.hadoop.fs.Path(gone.toString)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val d = new IndexMaintenance.ExitDeletes
    d.register(fs, new org.apache.hadoop.fs.Path(gone.toString))
    Seq(gone, kept).foreach { p =>
      Files.createDirectories(p.resolve("sub"))
      Files.write(p.resolve("sub/part-0.parquet"), Array[Byte](1, 2))
    }
    d.run()
    assert(!Files.exists(gone), "the registered dir must be deleted")
    assert(Files.exists(kept.resolve("sub/part-0.parquet")),
      "an unregistered sibling must stay")
  }

  test("hashIndexProbe: verdicts partition the planted batch exactly, " +
      "canonicals point at the true first carriers") {
    import org.apache.spark.sql.functions.col
    val rows = Dedup.hashIndexProbe(spark, sf).collect()
    val d = Tables.documents(spark, sf)
    val nDup = d.filter(col("doc_id") % Dedup.HX_CORPUS_DUP_MOD === 0).count()
    val nFresh = d.filter(
      col("doc_id") % Dedup.HX_CORPUS_DUP_MOD === Dedup.HX_FRESH_RESIDUE)
      .count()
    val nBatch = d.filter(col("doc_id") % Dedup.HX_BATCH_DUP_MOD === 1).count()
    assert(rows.length == nDup + nFresh + 2 * nBatch)
    val byV = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byV("dup_of_corpus") == nDup,
      "every corpus-content re-arrival is caught by the store")
    assert(byV("fresh") == nFresh + nBatch,
      "new content + batch-first carriers are admitted")
    assert(byV("dup_in_batch") == nBatch,
      "every second in-batch carrier is dropped")
    rows.filter(_.getString(2) == "dup_of_corpus").foreach { r =>
      assert(r.getLong(3) == r.getLong(0) - 80000000L,
        "corpus canonical is the original doc") }
    rows.filter(_.getString(2) == "dup_in_batch").foreach { r =>
      assert(r.getLong(3) == r.getLong(0) - 1000000L,
        "in-batch canonical is the 82M-space first carrier") }
  }

  test("hash store append is idempotent: a replayed increment replaces " +
      "its partition, never duplicates rows") {
    import org.apache.spark.sql.functions.col
    val d = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val dirH = tmpDir("hash-idem")
    Dedup.buildHashIndex(d.filter(col("doc_id") % 2 === 0), dirH)
    Dedup.appendHashIndex(d.filter(col("doc_id") % 2 === 1), dirH, 1L)
    val once = spark.read.parquet(dirH).count()
    assert(once == d.count(), "build + append cover the corpus exactly")
    Dedup.appendHashIndex(d.filter(col("doc_id") % 2 === 1), dirH, 1L)
    assert(spark.read.parquet(dirH).count() == once)
  }

  test("kmvLifecycle: the served store equals the full-corpus sketch " +
      "(mergeability across increments), and a replayed append is a " +
      "no-op") {
    val served = TextOps.kmvLifecycle(spark, sf).collect()
    // the lifecycle must reconstruct q195's sketch columns exactly —
    // increments are an implementation detail the result cannot show
    val full = TextOps.kmvDistinctShingles(spark, sf).collect()
      .map(r => (r.getString(0),
        (r.getLong(2), if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getLong(4)))).toMap
    assert(served.length == full.size)
    served.foreach { r =>
      val (n, mk, est) = full(r.getString(0))
      assert(r.getLong(1) == n)
      assert((if (r.isNullAt(2)) -1L else r.getLong(2)) == mk)
      assert(r.getLong(3) == est)
    }
    // idempotence: re-appending the same increment (the crashed-batch
    // replay) replaces its partition — the store and the serve result
    // are unchanged
    val store = graft.engine.IndexMaintenance.scratchIndexDir(
      spark, "kmv-idem")
    val d = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"))
    TextOps.buildKmvStore(d.filter(col("doc_id") % 3 =!= 0), store)
    TextOps.appendKmvStore(d.filter(col("doc_id") % 3 === 0), store, 1L)
    val once = spark.read.parquet(store).collect()
      .map(_.toSeq).sortBy(_.toString)
    TextOps.appendKmvStore(d.filter(col("doc_id") % 3 === 0), store, 1L)
    val twice = spark.read.parquet(store).collect()
      .map(_.toSeq).sortBy(_.toString)
    assert(once.toSeq == twice.toSeq)
  }
}
