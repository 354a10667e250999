package graft.engine

import java.io.File
import graft.SparkTestBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The fact log's five operations: scan, held, append, live, rewrite. */
class FactLogSpec extends SparkTestBase {

  private val schema = StructType.fromDDL("id BIGINT, v STRING")
  private val written = StructType.fromDDL("id BIGINT NOT NULL, v STRING")

  private def log(root: String, maxRows: Int = Int.MaxValue) =
    FactLog.rows(s"$root/facts", root, schema, written, maxRows)

  private def tombs(root: String) =
    FactLog.tombstones(s"$root/tombstones", root, "id")

  private def rowsOf(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.mkString(",")).sorted

  private def crash(dir: String): Unit =
    require(new File(dir).renameTo(new File(dir + "__old")))

  private def stagingEmpty(root: String): Boolean =
    Option(new File(s"$root/_staging").listFiles()).forall(_.isEmpty)

  test("scan of a dir never written is the declared empty frame") {
    val root = tmpDir("fl-missing")
    val df = log(root).scan(spark)
    assert(df.schema == schema)
    assert(df.collect().isEmpty)
    val t = tombs(root).scan(spark)
    assert(t.schema == FactLog.tombstoneSchema("id"))
    assert(!new File(s"$root/facts").exists(), "a scan created the dir")
  }

  test("a read of a log never written takes no swap lock while no " +
    "__old copy is there") {
    val root = tmpDir("fl-unlocked")
    val (held, release) = (new java.util.concurrent.CountDownLatch(1),
      new java.util.concurrent.CountDownLatch(1))
    val holder = new Thread(() => Compactor.swapLock.synchronized {
      held.countDown(); release.await()
    })
    holder.start()
    try {
      assert(held.await(30, java.util.concurrent.TimeUnit.SECONDS))
      val read = scala.concurrent.Future(log(root).scan(spark).collect())(
        scala.concurrent.ExecutionContext.global)
      // blocks until `release` if the read waits for the lock
      assert(scala.concurrent.Await.result(read,
        scala.concurrent.duration.Duration(30, "s")).isEmpty)
    } finally { release.countDown(); holder.join() }
  }

  test("held past its bound is None, appends alone do not bring it " +
    "back, and a rewrite under the bound does") {
    val root = tmpDir("fl-bound")
    val l = log(root, maxRows = 2)
    l.append(spark, Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "c")))
    assert(l.held(spark).isEmpty)
    val jobs = jobsDuring {
      l.append(spark, Seq(Row(4L, "d")))
      assert(l.held(spark).isEmpty)
    }
    assert(jobs.isEmpty, s"an append past the bound reloaded the dir: $jobs")
    l.rewrite(spark, Seq(Row(1L, "a")))
    assert(l.held(spark).map(rowsOf) == Some(Seq("1,a")))
  }

  test("append after a crashed root swap restores __old first, commits " +
    "into held and leaves no stage") {
    val root = tmpDir("fl-append") + "/store"
    val l = log(root)
    l.append(spark, Seq(Row(1L, "a")))
    assert(l.held(spark).map(rowsOf) == Some(Seq("1,a")))
    crash(root)
    val jobs = jobsDuring {
      l.append(spark, Seq(Row(2L, null)))
      assert(l.held(spark).map(rowsOf) == Some(Seq("1,a", "2,null")))
    }
    assert(jobs.isEmpty, s"the append or the next read ran $jobs")
    assert(!new File(root + "__old").exists())
    assert(rowsOf(l.scan(spark).collect().toSeq) == Seq("1,a", "2,null"))
    assert(writtenDir(s"$root/facts")._4 == 2, "one part file per append")
    assert(stagingEmpty(root))
    // the part carries the written schema's footer, read back as declared
    assert(spark.read.parquet(s"$root/facts").schema == schema)
    val (_, _, footers, _) = writtenDir(s"$root/facts")
    assert(footers.forall(_._2.contains("\"nullable\":false")), footers)
  }

  test("live drops replayed and tombstoned rows") {
    val root = tmpDir("fl-live")
    val l = log(root)
    l.append(spark, Seq(Row(1L, "a"), Row(2L, "b")))
    l.append(spark, Seq(Row(1L, "a"), Row(3L, "c"))) // a replayed fact
    assert(rowsOf(l.live(spark, tombs(root)).collect().toSeq) ==
      Seq("1,a", "2,b", "3,c"))
    tombs(root).append(spark, Seq(Row(2L, 7L)))
    tombs(root).append(spark, Seq(Row(2L, 8L)))
    val live = l.live(spark, tombs(root))
    assert(live.schema == schema)
    assert(rowsOf(live.collect().toSeq) == Seq("1,a", "3,c"))
  }

  test("rewrite keeps the live rows, sizes from committed data files " +
    "only, recovers from a crash between its renames and leaves no " +
    "__compact_tmp") {
    val root = tmpDir("fl-rewrite")
    val (l, t) = (log(root), tombs(root))
    for (i <- 1 to 4) l.append(spark, Seq(Row(i.toLong, s"v$i"), Row(1L, "v1")))
    t.append(spark, Seq(Row(4L, 1L)))
    val live = rowsOf(l.live(spark, t).collect().toSeq)
    // a large sidecar and checksum, and a crashed rewrite's stage
    val dir = l.dir
    java.nio.file.Files.write(new File(s"$dir/.big").toPath,
      new Array[Byte](1 << 20))
    java.nio.file.Files.write(new File(s"$dir/_notes").toPath,
      new Array[Byte](1 << 20))
    spark.range(1).write.parquet(dir + "__compact_tmp")
    var sized = -1
    assert(l.footprint(spark) == (8L, 4))
    l.rewrite(spark, targetBytes = 64L << 10) { (tmp, n) =>
      sized = n
      l.live(spark, t).coalesce(n).write.mode("overwrite").parquet(tmp)
    }
    assert(sized == 1, s"sized from more than the data files: $sized")
    assert(l.footprint(spark) == (3L, 1))
    assert(rowsOf(l.scan(spark).collect().toSeq) == live)
    assert(!new File(dir + "__compact_tmp").exists())
    assert(!new File(dir + "__old").exists())
    // a crash between the renames: the old copy is restored
    crash(dir)
    assert(rowsOf(l.scan(spark).collect().toSeq) == live)
    crash(dir)
    assert(l.held(spark).map(rowsOf) == Some(live))
    // the driver form commits into held: the next read reloads nothing
    val jobs = jobsDuring {
      l.rewrite(spark, Seq(Row(9L, "z")))
      assert(l.held(spark).map(rowsOf) == Some(Seq("9,z")))
    }
    assert(jobs.isEmpty, s"the driver rewrite or the next read ran $jobs")
    assert(writtenDir(dir)._4 == 1)
    assert(!new File(dir + "__compact_tmp").exists())
  }

  test("a log sits under its root, and a dir is held with one bound") {
    val root = tmpDir("fl-root")
    intercept[IllegalArgumentException](
      FactLog.rows(s"$root-sibling/facts", root, schema, written))
    log(root, maxRows = 2).append(spark, Seq(Row(1L, "a")))
    assert(log(root, maxRows = 2).held(spark).map(rowsOf) == Some(Seq("1,a")))
    intercept[IllegalArgumentException](log(root, maxRows = 3).held(spark))
  }

  test("a leftover _staging part is never read, and the compaction " +
    "that owns it removes it") {
    val root = tmpDir("fl-staging")
    val l = log(root)
    l.append(spark, Seq(Row(1L, "a")))
    val leftover = s"$root/_staging/crashed-append"
    spark.createDataFrame(java.util.List.of(Row(2L, "b")), schema)
      .write.parquet(leftover)
    assert(rowsOf(l.scan(spark).collect().toSeq) == Seq("1,a"))
    assert(l.held(spark).map(rowsOf) == Some(Seq("1,a")))
    val inFlight = DriverParquet.newStagingDir(root)
    try {
      spark.range(1).write.parquet(inFlight)
      l.rewrite(spark) { (tmp, n) =>
        l.scan(spark).coalesce(n).write.parquet(tmp)
      }
      assert(!new File(leftover).exists(), "the rewrite left the leftover")
      assert(new File(inFlight).exists(), "an in-flight stage was removed")
    } finally DriverParquet.unstage(spark, inFlight)
    assert(rowsOf(l.scan(spark).collect().toSeq) == Seq("1,a"))
  }
}
