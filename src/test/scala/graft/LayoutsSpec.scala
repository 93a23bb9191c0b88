package graft

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.engine.{IndexMaintenance, Layouts, Tables}

/** Physical-layout proofs: bucketed joins are exchange-free, salted joins
  * preserve join semantics while splitting hot keys, and the compaction
  * swap survives a crash between its two renames. */
class LayoutsSpec extends SparkSpecBase {
  import spark.implicits._

  test("co-bucketed tables join with zero shuffle exchange") {
    val dir = tmpDir("graft-bucketed")
    Layouts.writeBucketed(Tables.orders(spark, sf), "orders_b",
      s"$dir/orders_b", "o_orderkey", 8)
    Layouts.writeBucketed(
      Tables.lineitem(spark, sf).withColumnRenamed("l_orderkey", "o_orderkey"),
      "lineitem_b", s"$dir/lineitem_b", "o_orderkey", 8)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // force a non-broadcast join so the exchange-free claim is tested
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val j = spark.table("orders_b")
        .join(spark.table("lineitem_b"), "o_orderkey")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
      val exchanges = j.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e
      }
      // one exchange allowed for the final groupBy; the join itself must
      // read co-located buckets directly
      assert(exchanges.size <= 1,
        s"expected bucket-join without exchanges, got ${exchanges.size}")
      assert(j.collect().map(_.getLong(1)).sum ==
        Tables.lineitem(spark, sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("saltedJoin returns exactly the rows of the plain join") {
    // skewed big side: one hot key with many rows
    val big = (1 to 5000).map(i => (if (i % 10 == 0) 1L else i.toLong, s"v$i"))
      .toDF("k", "payload")
    val small = Seq((1L, "hot"), (2L, "cold"), (7L, "mild")).toDF("k", "name")
    val plain = big.join(small, "k")
    val salted = Layouts.saltedJoin(big, small, "k", salts = 8)
    assert(salted.count() == plain.count())
    assert(salted.columns.toSeq == plain.columns.toSeq)
    val a = plain.orderBy("k", "payload").collect().map(_.toSeq)
    val b = salted.orderBy("k", "payload").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("compaction rewrites a many-small-file table into targetFiles, content intact") {
    val dir = tmpDir("graft-compact") + "/t"
    // a fragmented table: 64 single-row-ish files, the post-streaming state
    Tables.orders(spark, sf).repartition(64)
      .write.mode("overwrite").parquet(dir)
    def dataFiles = new java.io.File(dir).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles == 64)
    val before = spark.read.parquet(dir)
      .agg(count(lit(1)), sum(graft.engine.Num.cents(col("o_totalprice"))))
      .collect()(0)
    Layouts.compact(spark, dir, 4)
    assert(dataFiles == 4)
    val after = spark.read.parquet(dir)
      .agg(count(lit(1)), sum(graft.engine.Num.cents(col("o_totalprice"))))
      .collect()(0)
    assert(before == after)
    // the swap left no working directory behind
    assert(!new java.io.File(dir + ".compacting").exists())
  }

  test("a rewrite after a crash between the swap's renames restores the " +
      "live copy from .old") {
    val dir = tmpDir("graft-swap-crash") + "/t"
    Tables.orders(spark, sf).repartition(8)
      .write.mode("overwrite").parquet(dir)
    def rows(d: String) = spark.read.parquet(d)
      .orderBy("o_orderkey").collect().map(_.toSeq).toSeq
    val before = rows(dir)
    // the state a process killed mid-swap leaves: a complete new copy at
    // .compacting, the live copy moved aside to .old, no <dir>
    Tables.orders(spark, sf).filter(col("o_orderkey") % 2 === 0)
      .write.mode("overwrite").parquet(dir + ".compacting")
    assert(new java.io.File(dir).renameTo(new java.io.File(dir + ".old")))
    IndexMaintenance.rewrite(spark, dir) { staging =>
      spark.read.parquet(dir).repartition(2)
        .write.mode("overwrite").parquet(staging)
    }
    assert(rows(dir) == before)
    assert(!new java.io.File(dir + ".old").exists())
    assert(!new java.io.File(dir + ".compacting").exists())
  }
}
