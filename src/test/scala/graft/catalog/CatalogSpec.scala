package graft.catalog

import graft.SparkTestBase

/** Catalog round-trip contracts, mirroring the reference's "exact
  * args" spec style (/root/reference/spec/hbacker/db_spec.rb).
  */
class CatalogSpec extends SparkTestBase {

  private def freshCat(): BackupCatalog =
    new BackupCatalog(spark, tmpDir("graft-cat"))

  private val sess = BackupSession("export", "cluster_a", "20240101_000000",
    "file:///bk/a/", 0L, 1000L, 5000L, 0L, error = false, "")

  private def rec(table: String, session: String = "20240101_000000") =
    TableRecord("export", table, session, 0L, 1000L, 100000L,
      empty = false, error = false, "", 42L)

  private def descOf(table: String, ord: Int,
                     session: String = "20240101_000000") =
    ColumnDescriptor(session, table, ord, s"c$ord", "bigint",
      nullable = true, 3, "SNAPPY", in_memory = false, block_cache = true,
      ttl = 100L, blocksize = 65536L, bloomfilter = "NONE")

  /** Committed part files of one log dir; every name under a dir. */
  private def partFiles(root: String, log: String): Int =
    Option(new java.io.File(root, log).listFiles()).toSeq.flatten
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
  private def allNames(d: java.io.File): Seq[String] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f =>
      f.getName +: (if (f.isDirectory) allNames(f) else Nil))

  test("startInfo/endInfo round-trip with keyed update") {
    val cat = freshCat()
    cat.startInfo(sess)
    cat.startInfo(sess.copy(session_name = "20240201_000000"))
    assert(cat.sessions.count() == 2)
    cat.endInfo("export", "20240101_000000", endedAt = 9999L)
    val rows = cat.sessions.collect()
    assert(rows.length == 2)
    assert(rows.find(_.session_name == "20240101_000000").get.ended_at == 9999L)
    // the other session keeps its 0 sentinel (mysql.rb:38 semantics)
    assert(rows.find(_.session_name == "20240201_000000").get.ended_at == 0L)
  }

  test("session close is an O(1) append with last-writer-wins reads, " +
    "folded by compaction at the file threshold") {
    val root = tmpDir("graft-cat")
    val cat = new BackupCatalog(spark, root, compactAfterFiles = 4)
    def dataFiles(): Int = new java.io.File(root, "sessions").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    cat.startInfo(sess)
    cat.startInfo(sess.copy(session_name = "20240201_000000"))
    val before = dataFiles()
    cat.endInfo("export", "20240101_000000", endedAt = 100L)
    // one close = one appended part file, not a table rewrite
    assert(dataFiles() == before + 1,
      s"expected exactly one appended file, ${dataFiles()} vs $before")
    // re-close with an error: reads resolve to the LATEST close, and
    // the error flag survives a later non-error close (OR-merge)
    cat.endInfo("export", "20240101_000000", endedAt = 200L,
      error = true, errorInfo = "boom")
    cat.endInfo("export", "20240101_000000", endedAt = 300L)
    val r = cat.sessions.collect().find(_.session_name == sess.session_name).get
    assert(r.ended_at == 300L && r.error && r.error_info == "boom",
      s"LWW fold wrong: $r")
    // unknown key appends nothing (the keyed update was a no-op too)
    val n = dataFiles()
    cat.endInfo("export", "no_such_session", endedAt = 1L)
    assert(dataFiles() == n)
    // push past the threshold: the log folds to one row per session
    // through the checked-rename swap, semantics unchanged
    (1 to 4).foreach(i =>
      cat.endInfo("export", "20240201_000000", endedAt = 1000L + i))
    assert(dataFiles() <= 2,
      s"compaction should have folded the log, ${dataFiles()} files left")
    val after = cat.sessions.collect()
    assert(after.length == 2 &&
      after.find(_.session_name == "20240201_000000").get.ended_at == 1004L &&
      after.find(_.session_name == sess.session_name).get.ended_at == 300L)
  }

  test("exists dispatch and exportedTableInfo") {
    val cat = freshCat()
    cat.startInfo(sess)
    assert(!cat.exists("export", "lineitem", "20240101_000000"))
    cat.exportedTableInfo(rec("lineitem"), Nil)
    assert(cat.exists("export", "lineitem", "20240101_000000"))
    assert(!cat.exists("import", "lineitem", "20240101_000000"))
  }

  test("tableNames joins through parent dest_root (J1/P9)") {
    val cat = freshCat()
    cat.startInfo(sess)
    cat.startInfo(sess.copy(session_name = "20240202_000000",
      dest_root = "file:///bk/b/"))
    cat.exportedTableInfo(rec("lineitem"), Nil)
    cat.exportedTableInfo(rec("orders"), Nil)
    cat.exportedTableInfo(rec("events", "20240202_000000"), Nil)
    assert(cat.tableNames("export", "%", "file:///bk/a/") ==
      Seq("lineitem", "orders"))
    assert(cat.tableNames("export", "%", "file:///bk/b/") == Seq("events"))
  }

  test("LIKE-vs-equality dispatch (mysql.rb:275)") {
    val cat = freshCat()
    cat.startInfo(sess)
    cat.exportedTableInfo(rec("lineitem"), Nil)
    cat.exportedTableInfo(rec("line_other"), Nil)
    val like = cat.listTableInfo("export", "20240101_000000", "line%")
    assert(like.count() == 2)
    val eq = cat.listTableInfo("export", "20240101_000000", "lineitem")
    assert(eq.count() == 1)
  }

  test("column descriptors whitelist projection (P7)") {
    val cat = freshCat()
    val desc = ColumnDescriptor("20240101_000000", "lineitem", 0,
      "l_orderkey", "bigint", nullable = true, 3, "SNAPPY", in_memory = false,
      block_cache = true, ttl = 100L, blocksize = 65536L, bloomfilter = "NONE")
    cat.exportedTableInfo(rec("lineitem"), Seq(desc))
    val rows = cat.columnDescriptorRows("20240101_000000", "lineitem")
    assert(rows == Seq(desc))
    val projected = CatalogOps.columnDescriptors(
      cat.descriptors.toDF(), "20240101_000000", "lineitem")
    assert(projected.columns.toSeq == ColumnDescriptor.AvailableOpts)
  }

  test("column-name canonicalization (P10, helpers.rb:70-77)") {
    import spark.implicits._
    val messy = Seq((1, "x")).toDF("Row-Key", "Column Family.Name")
    val clean = CatalogOps.canonicalizeColumns(messy)
    assert(clean.columns.toSeq == Seq("row_key", "column_family_name"))
    assert(clean.count() == 1)
  }

  test("endInfo crash recovery: sessions__old left by a crash is restored") {
    val root = tmpDir("graft-cat")
    val cat = new BackupCatalog(spark, root)
    cat.startInfo(sess)
    cat.endInfo("export", "20240101_000000", endedAt = 42L)
    assert(cat.sessions.count() == 1)
    // simulate a crash landing between the two renames of the swap:
    // sessions moved aside to sessions__old, replacement never arrived
    val f = new java.io.File(root)
    assert(new java.io.File(f, "sessions")
      .renameTo(new java.io.File(f, "sessions__old")))
    assert(!new java.io.File(f, "sessions").exists())
    // any read (or the next endInfo) must restore the old copy
    val rows = cat.sessions.collect()
    assert(rows.length == 1 && rows.head.ended_at == 42L)
    assert(new java.io.File(f, "sessions").exists())
    // and a subsequent keyed update still works on the recovered data
    cat.endInfo("export", "20240101_000000", endedAt = 99L)
    assert(cat.sessions.collect().head.ended_at == 99L)
  }

  test("tables/descriptors logs fold at the file threshold; duplicate " +
    "descriptor appends dedupe at rest; reads identical") {
    val root = tmpDir("graft-cat")
    val cat = new BackupCatalog(spark, root, compactAfterFiles = 4)
    // a retried record op re-appends the SAME descriptor rows (the
    // documented failure mode): compaction must fold them away at rest
    cat.exportedTableInfo(rec("t0"), Seq(descOf("t0", 0)))
    cat.exportedTableInfo(rec("t0"), Seq(descOf("t0", 0))) // retry
    (1 to 10).foreach(i =>
      cat.exportedTableInfo(rec(s"t$i"), Seq(descOf(s"t$i", 0))))
    cat.importedTableInfo(rec("t0").copy(mode = "import"))
    // both logs stay BOUNDED by the threshold instead of accreting one
    // part-file set per record (13 appends each would otherwise leave
    // 13+ files); the fold runs as soon as a write crosses it
    assert(partFiles(root, "tables") <= 4,
      s"tables log not compacted: ${partFiles(root, "tables")} files")
    assert(partFiles(root, "descriptors") <= 4,
      s"descriptors log not compacted: ${partFiles(root, "descriptors")} files")
    // reads identical after the fold: 11 distinct export records + the
    // import record; the retried t0 append folded to one row
    assert(cat.tables.count() == 12)
    assert(cat.tables.filter(_.table_name == "t0").count() == 2) // exp+imp
    assert(cat.descriptors.count() == 11)
    assert(cat.columnDescriptorRows("20240101_000000", "t3") ==
      Seq(descOf("t3", 0)))
    // crash between the two renames of the TABLES swap: recovery
    // restores the old copy exactly like sessions
    val f = new java.io.File(root)
    assert(new java.io.File(f, "tables")
      .renameTo(new java.io.File(f, "tables__old")))
    assert(cat.tables.count() == 12)
    assert(new java.io.File(f, "tables").exists())
  }

  test("lastEndTime ignores error rows (A2)") {
    val cat = freshCat()
    cat.exportedTableInfo(rec("lineitem").copy(end_time = 500L), Nil)
    cat.exportedTableInfo(rec("lineitem", "s2").copy(end_time = 900L), Nil)
    cat.exportedTableInfo(
      rec("lineitem", "s3").copy(end_time = 9999L, error = true,
        error_info = "boom", row_count = -1L), Nil)
    assert(cat.lastEndTime("export", "lineitem") == 900L)
    assert(cat.lastEndTime("export", "unknown") == 0L)
  }

  test("purgeSession: every read forgets the session immediately, " +
    "compaction drops its rows physically, replays are harmless, " +
    "unknown sessions are refused, other sessions untouched") {
    val root = tmpDir("graft-cat-purge")
    val cat = new BackupCatalog(spark, root)
    val keep = sess.copy(session_name = "20240201_000000")
    cat.startInfo(sess)
    cat.startInfo(keep)
    val desc = ColumnDescriptor(sess.session_name, "lineitem", 0,
      "l_orderkey", "bigint", nullable = false, 3, "NONE",
      in_memory = false, block_cache = true, 0L, 65536L, "NONE")
    cat.exportedTableInfo(rec("lineitem"), Seq(desc))
    cat.exportedTableInfo(rec("orders"), Nil)
    cat.exportedTableInfo(rec("lineitem", keep.session_name), Nil)
    // take the first session down: sessions, tables, descriptors and
    // every derived read forget it in the same call
    cat.purgeSession("export", sess.session_name, purgedAt = 9000L)
    assert(cat.sessions.collect().map(_.session_name).toSeq ==
      Seq(keep.session_name))
    assert(cat.tables.collect().forall(_.session_name == keep.session_name))
    assert(cat.columnDescriptorRows(sess.session_name, "lineitem").isEmpty,
      "purged session's descriptors still readable")
    assert(!cat.exists("export", "lineitem", sess.session_name))
    assert(cat.exists("export", "lineitem", keep.session_name),
      "purge leaked onto another session")
    assert(cat.sessionInfo("export", "%").count() == 1)
    // lastEndTime no longer sees the purged session's watermark
    assert(cat.lastEndTime("export", "orders") == 0L,
      "purged session still feeds incremental watermarks")
    // physical: compactAll folds the logs without the purged rows
    cat.compactAll()
    import spark.implicits._
    val raw = spark.read.parquet(s"$root/tables").as[TableRecord]
      .collect()
    assert(raw.forall(_.session_name == keep.session_name),
      s"purged rows survived compaction: ${raw.mkString(",")}")
    val rawDesc = new java.io.File(s"$root/descriptors")
    assert(!rawDesc.exists() ||
      spark.read.parquet(s"$root/descriptors").count() == 0,
      "purged descriptors survived compaction")
    // replayed purge (after compaction, rows already gone): harmless
    cat.purgeSession("export", sess.session_name, purgedAt = 9001L)
    assert(cat.sessions.count() == 1)
    // a typo'd session is refused loudly
    val ex = intercept[IllegalArgumentException] {
      cat.purgeSession("export", "no_such_session", 1L)
    }
    assert(ex.getMessage.contains("no export session"))
    // import-mode purge does not touch export rows of the same name
    cat.startInfo(keep.copy(mode = "import"))
    cat.purgeSession("import", keep.session_name, 9002L)
    assert(cat.sessions.collect()
      .map(s => (s.mode, s.session_name)).toSeq ==
      Seq(("export", keep.session_name)),
      "import purge removed the export session")
  }

  test("purge log compacts like the other three: compactAll folds it " +
    "to one file and one row per key (earliest purged_at), purges stay " +
    "purged, crash recovery restores a half-swapped purge dir") {
    val root = tmpDir("graft-cat-purgecompact")
    val cat = new BackupCatalog(spark, root)
    val names = (1 to 5).map(i => f"2024010${i}_000000")
    names.foreach(n => cat.startInfo(sess.copy(session_name = n)))
    // several takedowns, one replayed (later purged_at): one small
    // parquet file each — the accretion the fold exists to stop
    names.take(3).foreach(n => cat.purgeSession("export", n, 9000L))
    cat.purgeSession("export", names.head, 9005L) // replay, later stamp
    val dir = new java.io.File(s"$root/purges")
    def dataFiles = dir.listFiles((_, n) =>
      !n.startsWith("_") && !n.startsWith(".")).length
    assert(dataFiles >= 4, s"expected one file per purge, got $dataFiles")
    cat.compactAll()
    assert(dataFiles == 1, s"purge log not folded: $dataFiles files")
    import spark.implicits._
    val folded = spark.read.parquet(s"$root/purges").as[PurgeRecord]
      .collect().sortBy(_.session_name)
    assert(folded.length == 3, s"fold changed the key set: ${folded.toSeq}")
    assert(folded.head.purged_at == 9000L,
      "fold must keep the EARLIEST purged_at (first takedown is the fact)")
    // purged stay purged; survivors stay alive
    assert(cat.sessions.collect().map(_.session_name).toSeq.sorted ==
      names.drop(3).sorted)
    // replay after compaction still accepted (rows physically gone)
    cat.purgeSession("export", names.head, 9010L)
    assert(cat.sessions.count() == 2)
    // crash between the purge-fold's two renames: recovery restores it
    cat.compactAll()
    val f = new java.io.File(root)
    assert(new java.io.File(f, "purges")
      .renameTo(new java.io.File(f, "purges__old")))
    assert(cat.sessions.collect().map(_.session_name).toSeq.sorted ==
      names.drop(3).sorted, "purge facts lost after interrupted swap")
    assert(new java.io.File(f, "purges").exists(), "recovery did not run")
    // a catalog with no takedowns: compaction must not conjure an
    // empty purges dir
    val root2 = tmpDir("graft-cat-nopurge")
    val cat2 = new BackupCatalog(spark, root2)
    cat2.startInfo(sess)
    cat2.compactAll()
    assert(!new java.io.File(s"$root2/purges").exists(),
      "compactAll conjured an empty purge store")
  }

  test("concurrent recorders: every row lands exactly once, one part " +
    "file per append, no staging leftovers, a reader runs throughout") {
    val root = tmpDir("graft-cat-conc")
    val cat = new BackupCatalog(spark, root, compactAfterFiles = 1000)
    cat.startInfo(sess)
    val (writers, perWriter) = (6, 4)
    val names = for (w <- 0 until writers; i <- 0 until perWriter)
      yield s"w${w}_t$i"
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val readerError =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicInteger()
    val reader = new Thread(() =>
      try while (!done.get) {
        cat.exists("export", "w0_t0", sess.session_name)
        // rows never appear twice, even mid-append
        val seen = cat.tables.collect().map(_.table_name)
        require(seen.distinct.length == seen.length,
          s"duplicate rows mid-append: ${seen.toSeq.sorted}")
        reads.incrementAndGet()
      } catch { case e: Throwable => readerError.set(e) })
    reader.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val jobs = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until perWriter).foreach { i =>
            val t = s"w${w}_t$i"
            cat.exportedTableInfo(rec(t), Seq(descOf(t, 0), descOf(t, 1)))
          }
        })
      }
      jobs.foreach(_.get())
    } finally {
      done.set(true); reader.join(); pool.shutdown()
    }
    assert(readerError.get == null, s"reader failed: ${readerError.get}")
    assert(reads.get > 0)
    // this instance and a cold one on the same root see the same rows
    for (c <- Seq(cat, new BackupCatalog(spark, root))) {
      assert(c.tables.collect().map(_.table_name).toSeq.sorted ==
        names.sorted)
      assert(c.descriptors.collect().map(d => (d.table_name, d.ordinal))
        .toSeq.sorted == names.flatMap(t => Seq((t, 0), (t, 1))).sorted)
      assert(names.forall(t => c.exists("export", t, sess.session_name)))
    }
    assert(partFiles(root, "tables") == names.size)
    assert(partFiles(root, "descriptors") == names.size)
    assert(partFiles(root, "sessions") == 1)
    assert(!allNames(new java.io.File(root)).contains("_temporary"))
    assert(allNames(new java.io.File(root, "_staging")).isEmpty,
      "staging leftovers after every append committed")
  }

  test("a second instance sees the first's appends on its next read; " +
    "a compactAll on one makes the other reload, rows identical") {
    val root = tmpDir("graft-cat-two")
    val a = new BackupCatalog(spark, root)
    val b = new BackupCatalog(spark, root)
    a.startInfo(sess)
    a.exportedTableInfo(rec("lineitem"), Seq(descOf("lineitem", 0)))
    assert(b.exists("export", "lineitem", sess.session_name))
    assert(b.columnDescriptorRows(sess.session_name, "lineitem") ==
      Seq(descOf("lineitem", 0)))
    // appends from either side show up on the other's next read
    b.exportedTableInfo(rec("orders"), Nil)
    assert(a.exists("export", "orders", sess.session_name))
    a.endInfo("export", sess.session_name, endedAt = 777L)
    assert(b.sessions.collect().map(_.ended_at).toSeq == Seq(777L))
    a.purgeSession("export", sess.session_name, 9000L)
    assert(b.sessions.isEmpty && b.tables.isEmpty)
    a.startInfo(sess.copy(session_name = "s2"))
    a.exportedTableInfo(rec("events", "s2"), Seq(descOf("events", 0, "s2")))
    def state(c: BackupCatalog) = (
      c.sessions.collect().toSeq.sortBy(_.session_name),
      c.tables.collect().toSeq.sortBy(_.table_name),
      c.descriptors.collect().toSeq.sortBy(_.table_name))
    val before = state(b)
    assert(before == state(a))
    a.compactAll()
    assert(partFiles(root, "tables") == 1 &&
      partFiles(root, "sessions") == 1 && partFiles(root, "purges") == 1)
    assert(state(b) == before, "the other instance's reload changed rows")
    assert(state(a) == before)
    // and appends after the compaction still cross over
    b.exportedTableInfo(rec("orders", "s2"), Nil)
    assert(a.tables.collect().map(_.table_name).toSeq.sorted ==
      Seq("events", "orders"))
  }

  test("a part file a crashed append left under _staging is never " +
    "read, and compactAll removes it") {
    import spark.implicits._
    val root = tmpDir("graft-cat-staging")
    val cat = new BackupCatalog(spark, root)
    cat.startInfo(sess)
    cat.exportedTableInfo(rec("lineitem"), Nil)
    // a crash after the staged write, before the rename into the log
    Seq(rec("ghost")).toDS().coalesce(1).write
      .parquet(s"$root/_staging/crashed-append")
    for (c <- Seq(cat, new BackupCatalog(spark, root))) {
      assert(c.tables.collect().map(_.table_name).toSeq == Seq("lineitem"))
      assert(!c.exists("export", "ghost", sess.session_name))
    }
    cat.compactAll()
    assert(!new java.io.File(s"$root/_staging/crashed-append").exists(),
      "compactAll left the crashed staging dir")
    assert(new BackupCatalog(spark, root).tables.collect()
      .map(_.table_name).toSeq == Seq("lineitem"))
  }

  test("warm reads run no Spark job: exists, columnDescriptorRows, " +
    "sessions, tables, descriptors") {
    val cat = freshCat()
    cat.startInfo(sess)
    cat.exportedTableInfo(rec("lineitem"), Seq(descOf("lineitem", 0)))
    // warm: each log read once
    cat.sessions.collect(); cat.tables.collect(); cat.descriptors.collect()
    val (group, sentinel) = ("catalog-warm-reads", "catalog-warm-sentinel")
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(); ()
          case Some(`sentinel`) => sentinelSeen.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "warm catalog reads")
      assert(cat.exists("export", "lineitem", sess.session_name))
      assert(!cat.exists("export", "orders", sess.session_name))
      assert(cat.columnDescriptorRows(sess.session_name, "lineitem") ==
        Seq(descOf("lineitem", 0)))
      assert(cat.sessions.collect().length == 1)
      assert(cat.tables.collect().length == 1)
      assert(cat.descriptors.collect().length == 1)
      // the listener bus is ordered: once the sentinel job is seen, any
      // job the reads started has been counted
      sc.setJobGroup(sentinel, "listener sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 0, s"warm catalog reads ran ${jobs.get} Spark jobs")
  }

  test("purgeSessionData: payload takedown is staged (atomic rename, " +
    "then delete), crash-mid-delete resumes, replays no-op, other " +
    "sessions untouched, patterns refused") {
    val destRoot = tmpDir("graft-purge-data")
    def mk(session: String, table: String): java.io.File = {
      val d = new java.io.File(s"$destRoot/$session/$table")
      assert(d.mkdirs())
      val f = new java.io.File(d, "part-00000.parquet")
      java.nio.file.Files.writeString(f.toPath, "x")
      d
    }
    mk("20240101_000000", "lineitem")
    mk("20240101_000000", "orders")
    mk("20240202_000000", "lineitem")
    import graft.engine.TableOps
    assert(TableOps.purgeSessionData(spark, destRoot, "20240101_000000"),
      "a live payload tree must report as removed")
    assert(!new java.io.File(s"$destRoot/20240101_000000").exists(),
      "purged session's payload survived")
    assert(new java.io.File(s"$destRoot/20240202_000000/lineitem").exists(),
      "payload purge leaked onto another session")
    // replay: everything already gone — clean no-op
    assert(!TableOps.purgeSessionData(spark, destRoot, "20240101_000000"))
    // crash mid-delete: the stage dir survives (live already renamed
    // away); the next invocation resumes the delete
    mk("20240303_000000", "events")
    val live = new java.io.File(s"$destRoot/20240303_000000")
    val staged = new java.io.File(s"$destRoot/20240303_000000__purging")
    assert(live.renameTo(staged), "test setup: stage the dir")
    assert(TableOps.purgeSessionData(spark, destRoot, "20240303_000000"),
      "a crashed stage must be resumed and reported as removed")
    assert(!staged.exists(), "crashed purge stage not cleaned up")
    assert(!live.exists())
    // a NEW session re-exported under the same name AFTER a crashed
    // purge: both the stage and the new live tree go
    mk("20240404_000000", "t1")
    assert(new java.io.File(s"$destRoot/20240404_000000")
      .renameTo(new java.io.File(s"$destRoot/20240404_000000__purging")))
    mk("20240404_000000", "t2")
    assert(TableOps.purgeSessionData(spark, destRoot, "20240404_000000"))
    assert(!new java.io.File(s"$destRoot/20240404_000000").exists() &&
      !new java.io.File(s"$destRoot/20240404_000000__purging").exists())
    // deliberate takedowns only: patterns and namespace escapes refuse
    for (bad <- Seq("2024%", "*", "a/b", "..", ""))
      intercept[IllegalArgumentException] {
        TableOps.purgeSessionData(spark, destRoot, bad)
      }
  }
}
