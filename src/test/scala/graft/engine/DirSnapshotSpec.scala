package graft.engine

import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The held snapshots' bound and the driver-written append that
  * commits into them.
  */
class DirSnapshotSpec extends SparkTestBase {

  private val schema = StructType.fromDDL("id BIGINT")

  private def held(dir: String): Option[Seq[Long]] =
    FactLog.rows(dir, dir, schema, schema, maxRows = 3).held(spark)
      .map(_.map(_.getLong(0)).sorted)

  test("a dir past its row bound that only gains part files stays " +
    "unheld without a reload; a rewrite that brings it under reloads") {
    val dir = tmpDir("snap-bound") + "/d"
    spark.range(0, 5).write.parquet(dir)
    assert(held(dir).isEmpty)
    spark.range(5, 7).coalesce(1).write.mode("append").parquet(dir)
    val jobs = jobsDuring(assert(held(dir).isEmpty))
    assert(jobs.isEmpty, s"an append to a dir past its bound reloaded it: $jobs")
    spark.range(0, 2).coalesce(1).write.mode("overwrite").parquet(dir)
    assert(held(dir) == Some(Seq(0L, 1L)))
  }

  test("a bounded reload runs one job, named for the reload; an " +
    "unchanged dir runs none") {
    val dir = tmpDir("snap-site") + "/d"
    spark.range(0, 2).coalesce(1).write.parquet(dir)
    val sites = jobSitesDuring(assert(held(dir) == Some(Seq(0L, 1L))))
      .map(_._2)
    assert(sites == Seq(DirSnapshot.ReloadSite), s"reload jobs: $sites")
    val again = jobSitesDuring(assert(held(dir) == Some(Seq(0L, 1L))))
    assert(again.isEmpty, s"an unchanged dir reloaded: $again")
  }

  test("appendPart writes one part file, restores a crashed swap's " +
    "__old first, commits its rows into the held snapshot and leaves " +
    "no staged file") {
    val root = tmpDir("snap-append")
    val dir = s"$root/d"
    val log = FactLog.rows(dir, root, schema, schema)
    log.append(spark, Seq(Row(1L)))
    assert(held(dir) == Some(Seq(1L)))
    // a swap that died between its renames: __old holds the truth
    val f = Compactor.fs(spark, dir)
    require(f.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "__old")))
    val jobs = jobsDuring {
      log.append(spark, Seq(Row(2L), Row(3L)))
      assert(held(dir) == Some(Seq(1L, 2L, 3L)))
    }
    assert(jobs.isEmpty, s"the append or the next read ran $jobs")
    assert(spark.read.parquet(dir).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 2L, 3L))
    assert(writtenDir(dir)._4 == 2, "one part file per append")
    val staged = new java.io.File(s"$root/_staging").listFiles()
    assert(staged == null || staged.isEmpty, staged.toSeq)
  }

  test("clearStaging removes the staging dirs a crash left and keeps " +
    "the ones in flight") {
    val root = tmpDir("snap-staging")
    val crashed = s"$root/_staging/crashed"
    spark.range(1).coalesce(1).write.parquet(crashed)
    val live = DriverParquet.newStagingDir(root)
    try {
      spark.range(1).coalesce(1).write.parquet(live)
      DriverParquet.clearStaging(spark, root)
      assert(!new java.io.File(crashed).exists(), "a leftover was kept")
      assert(new java.io.File(live).exists(), "an in-flight stage was removed")
    } finally DriverParquet.unstage(spark, live)
    assert(!new java.io.File(live).exists())
  }
}
