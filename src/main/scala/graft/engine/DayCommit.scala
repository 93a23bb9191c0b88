package graft.engine

import org.apache.spark.sql.SparkSession

/** The day-commit marker protocol shared by both day loops
  * ([[CurationLoop]] since round 13, [[RetrievalLoop]] since round 14):
  * every sink of a day is individually idempotent, but an external
  * reader arriving mid-crash could see day N in some stores and day
  * N−1 in others — one empty `day=<n>` marker under `<root>/_commits`,
  * written LAST, keys every as-of reader. Markers are create-once
  * (replay-idempotent) and the highest-day resolution is ONE directory
  * listing a composition should pay once, not per store. */
private[engine] object DayCommit {

  private def dir(root: String): String = s"$root/_commits"

  /** Write day `n`'s marker — the LAST write of a day. Idempotent. */
  def mark(spark: SparkSession, root: String, day: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"${dir(root)}/day=$day")
    val fs = IndexMaintenance.fileSystem(spark, p)
    fs.mkdirs(p.getParent)
    try fs.create(p, false).close()
    catch { case _: java.io.IOException => () } // replay: marker exists
  }

  /** Highest committed day (−1 before any commit). One listing. */
  def highest(spark: SparkSession, root: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir(root))
    val fs = IndexMaintenance.fileSystem(spark, p)
    if (!fs.exists(p)) -1L
    else fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith("day=")).map(_.stripPrefix("day=").toLong)
      .foldLeft(-1L)(math.max)
  }
}
