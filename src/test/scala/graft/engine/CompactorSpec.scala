package graft.engine

import graft.{SparkTestBase, Tables}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

class CompactorSpec extends SparkTestBase {

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFileCount(dir: String): Int =
    fsOf(dir).listStatus(new Path(dir)).count { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  test("compaction merges a fragmented dir, preserving rows and content") {
    val dir = tmpDir("compact") + "/lineitem"
    val src = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    src.repartition(24).write.parquet(dir)
    assert(dataFileCount(dir) == 24)

    val r = Compactor.compact(spark, dir, targetBytes = 1L << 30)
    assert(r.compacted && r.filesBefore == 24 && r.filesAfter == 1, r)

    val back = spark.read.parquet(dir)
    assert(back.count() == src.count())
    // content equality via symmetric anti-joins on the full row
    val cols = src.columns.toSeq
    assert(back.join(src, cols, "left_anti").isEmpty &&
      src.join(back, cols, "left_anti").isEmpty,
      "compacted content differs from the original")
  }

  test("already-compact dir is a no-op") {
    val dir = tmpDir("compact") + "/small"
    Tables.nation(spark, sf0001).coalesce(1).write.parquet(dir)
    val r = Compactor.compact(spark, dir, targetBytes = 1L << 30)
    assert(!r.compacted && r.filesAfter == 1)
  }

  test("partitioned layout compacts per leaf and keeps the layout") {
    val dir = tmpDir("compact") + "/bystatus"
    Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_returnflag", "l_quantity")
      .repartition(8)
      .write.partitionBy("l_returnflag").parquet(dir)
    val before = spark.read.parquet(dir)
    val beforeCounts = before.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    val r = Compactor.compact(spark, dir, targetBytes = 1L << 30)
    assert(r.compacted)

    val f = fsOf(dir)
    val leaves = f.listStatus(new Path(dir))
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    assert(leaves.nonEmpty, "partition layout lost by compaction")
    leaves.foreach { l =>
      assert(dataFileCount(l.getPath.toString) == 1,
        s"leaf ${l.getPath.getName} not compacted to one file")
    }
    val afterCounts = spark.read.parquet(dir)
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(afterCounts == beforeCounts)
  }

  test("sidecar files survive the swap") {
    val dir = tmpDir("compact") + "/withinfo"
    Tables.region(spark, sf0001).repartition(4).write.parquet(dir)
    TableOps.saveInfo(spark, s"$dir/_export_info.log", "provenance\n")
    Compactor.compact(spark, dir, targetBytes = 1L << 30)
    assert(TableOps.readInfo(spark, s"$dir/_export_info.log") == "provenance\n")
  }

  test("major compaction enforces max_versions and ttl like an HBase rewrite") {
    import spark.implicits._
    val dir = tmpDir("compact") + "/versioned"
    // three "sessions" appended additively: key 1 gets versions at
    // t=1000,2000,3000; key 2 at t=1000 only (expired under the TTL)
    Seq((1L, 1000L, "a"), (2L, 1000L, "x")).toDF("k", "ts", "v")
      .write.parquet(dir)
    Seq((1L, 2000L, "b")).toDF("k", "ts", "v")
      .write.mode("append").parquet(dir)
    Seq((1L, 3000L, "c")).toDF("k", "ts", "v")
      .write.mode("append").parquet(dir)

    val r = Compactor.majorCompact(spark, dir, keyCols = Seq("k"),
      tsCol = "ts", maxVersions = 2, ttlMs = 2500L, nowMs = 3500L)
    assert(r.rowsBefore == 4 && r.rowsAfter == 2, r)
    val rows = spark.read.parquet(dir).orderBy("k", "ts")
      .as[(Long, Long, String)].collect().toSeq
    // key 1: newest two of the three survive; key 2: TTL-expired, gone
    assert(rows == Seq((1L, 2000L, "b"), (1L, 3000L, "c")), rows)
  }

  test("z-order compaction re-layouts even an already-compact dir " +
    "and preserves rows") {
    val dir = tmpDir("compact") + "/zorder"
    val li = spark.read.parquet(Tables.path(sf0001, "lineitem"))
      .select("l_orderkey", "l_partkey", "l_quantity")
    li.coalesce(2).write.parquet(dir)
    val before = spark.read.parquet(dir)
    val rows = before.count()
    // 2 files is already under any byte target — a plain compact would
    // no-op, but the z-order request must rewrite anyway
    val r = Compactor.compact(spark, dir, targetBytes = 512L << 20,
      zorderCols = Seq("l_orderkey", "l_partkey"))
    assert(r.compacted, "z-order request must force a rewrite")
    val after = spark.read.parquet(dir)
    assert(after.count() == rows)
    assert(after.except(li).isEmpty && li.except(after).isEmpty,
      "re-layout must not change content")
  }

  test("recover restores a destination whose swap died after staging") {
    val dir = tmpDir("compact") + "/crashy"
    Tables.region(spark, sf0001).coalesce(1).write.parquet(dir)
    val f = fsOf(dir)
    // simulate the crash window: dest staged to __old, tmp never landed
    require(f.rename(new Path(dir), new Path(dir + "__old")))
    Compactor.recover(spark, dir)
    assert(spark.read.parquet(dir).count() == 5)
  }

  private def plantLease(root: String, holder: String): Path = {
    val p = StoreLease.leasePath(root)
    val out = fsOf(root).create(p, false)
    out.write(holder.getBytes("UTF-8")); out.close()
    p
  }

  test("store writer lease (r14): a foreign FRESH lease refuses " +
    "loudly, TTL-stale and dead-same-host-pid leases take over, " +
    "success and failure both release, reentrant in the owning " +
    "thread, a second thread refuses like a second process") {
    val root = tmpDir("lease") + "/store"
    val f = fsOf(root)
    f.mkdirs(new Path(root))
    val lease = StoreLease.leasePath(root)
    // a foreign fresh lease (simulated second process): refuse, and
    // name the holder in the message
    plantLease(root, "424242@other-host")
    val e = intercept[IllegalStateException](
      StoreLease.withLease(f, root) { fail("body ran under a lease") })
    assert(e.getMessage.contains("another writer") &&
      e.getMessage.contains("424242@other-host"), e.getMessage)
    assert(f.exists(lease), "refusal must not delete the live lease")
    // TTL-stale: the same lease aged past the horizon is taken over
    f.setTimes(lease, System.currentTimeMillis() - 3600L * 1000, -1)
    assert(StoreLease.withLease(f, root, ttlMs = 60000L) { 7 } == 7)
    assert(!f.exists(lease), "success must release the lease")
    // dead-same-host-pid: fresh mtime but the pid is gone — immediate
    // takeover (the crashed-writer restart path)
    val host = java.net.InetAddress.getLocalHost.getHostName
    val deadPid = Iterator.iterate(999999999L)(_ - 7)
      .find(id => java.lang.ProcessHandle.of(id).isEmpty).get
    plantLease(root, s"$deadPid@$host")
    assert(StoreLease.withLease(f, root) { 8 } == 8,
      "dead same-host holder not taken over")
    assert(!f.exists(lease))
    // reentrancy: nested acquisition in the owning thread; released
    // only when the OUTER scope closes; a throwing body releases too
    StoreLease.withLease(f, root) {
      assert(f.exists(lease), "lease file absent while held")
      assert(StoreLease.withLease(f, root) { 9 } == 9)
      assert(f.exists(lease), "inner release dropped the outer lease")
      // a second THREAD refuses exactly like a second process
      var thrown: Option[Throwable] = None
      val t = new Thread(() =>
        try StoreLease.withLease(f, root) { fail("second writer ran") }
        catch { case x: Throwable => thrown = Some(x) })
      t.start(); t.join()
      assert(thrown.exists(_.getMessage.contains("this process")),
        s"second thread not refused: $thrown")
    }
    assert(!f.exists(lease), "outer scope did not release")
    intercept[RuntimeException](
      StoreLease.withLease(f, root) { sys.error("boom") })
    assert(!f.exists(lease), "failure did not release")
  }

  test("store writer lease (r14): a double-launched vector-index " +
    "rebuild refuses, the store keeps serving its OLD model, and the " +
    "swap-publishing compaction refuses under the same lease") {
    import graft.ext.VectorIndex
    val e = Tables.embeddings(spark, sf0001)
    val store = tmpDir("lease-vidx") + "/idx"
    VectorIndex.init(e, store, coarseIters = 2)
    val q = e.filter(col("vec_id") < 2)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
    val before = VectorIndex.query(spark, store, q, k = 5).collect()
      .map(_.toSeq).toSet
    // the simulated second driver holds the store
    plantLease(store, "424242@other-host")
    val ex = intercept[IllegalStateException](
      VectorIndex.rebuild(e, store, coarseIters = 2))
    assert(ex.getMessage.contains("another writer"), ex.getMessage)
    val exC = intercept[IllegalStateException](
      VectorIndex.compact(spark, store))
    assert(exC.getMessage.contains("another writer"), exC.getMessage)
    // the refused rebuild corrupted nothing: same model, same answers
    assert(VectorIndex.query(spark, store, q, k = 5).collect()
      .map(_.toSeq).toSet == before,
      "a refused rebuild changed the store's answers")
    // the holder releases -> the rebuild (with its nested swapInto)
    // goes through and cleans up its lease
    fsOf(store).delete(StoreLease.leasePath(store), false)
    VectorIndex.rebuild(e, store, coarseIters = 2)
    assert(!fsOf(store).exists(StoreLease.leasePath(store)))
    assert(VectorIndex.query(spark, store, q, k = 5).collect()
      .map(_.toSeq).toSet == before,
      "rebuild from the same corpus should republish the same model")
  }
}
