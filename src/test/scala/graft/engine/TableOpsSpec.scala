package graft.engine

import graft.{SparkTestBase, Tables}
import graft.catalog.BackupCatalog
import graft.orchestrate.BackupRunner

class TableOpsSpec extends SparkTestBase {

  test("listTables discovers the corpus tables (S3)") {
    val names = TableOps.listTables(spark, sf0001).collect().toSeq
    assert(names.contains("lineitem") && names.contains("events"))
    assert(names == names.sorted)
  }

  test("tableDescriptor reads schema without scanning data (S4)") {
    val d = TableOps.tableDescriptor(spark, Tables.path(sf0001, "nation"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(d == Seq(("n_nationkey", "int"), ("n_name", "string"),
      ("n_regionkey", "int")))
  }

  test("saveInfo/readInfo round-trips through the FileSystem API (S8)") {
    val url = s"file://${tmpDir("info")}/sub/dir/_export.log"
    TableOps.saveInfo(spark, url, "rows=42\n")
    assert(TableOps.readInfo(spark, url) == "rows=42\n")
    // overwrite semantics (the reference re-runs sessions)
    TableOps.saveInfo(spark, url, "rows=43\n")
    assert(TableOps.readInfo(spark, url) == "rows=43\n")
  }

  test("listFs lists children of a root (S7)") {
    val root = tmpDir("bk")
    val cat = new BackupCatalog(spark, tmpDir("cat"))
    Exporter.exportTable(spark, cat,
      Exporter.ExportSpec("region", Tables.path(sf0001, "region")),
      "s1", root)
    val sessions = TableOps.listFs(spark, root).map(p =>
      new org.apache.hadoop.fs.Path(p).getName)
    assert(sessions == Seq("s1"))
    val tables = TableOps.listFs(spark, s"$root/s1").map(p =>
      new org.apache.hadoop.fs.Path(p).getName)
    assert(tables == Seq("region"))
    assert(TableOps.listFs(spark, s"$root/nope").isEmpty)
  }

  test("export writes the job-log sidecar and parquet readers ignore it") {
    val root = tmpDir("bk")
    val cat = new BackupCatalog(spark, tmpDir("cat"))
    val out = Exporter.exportTable(spark, cat,
      Exporter.ExportSpec("nation", Tables.path(sf0001, "nation")),
      "s1", root).asInstanceOf[Exporter.Exported]
    val log = TableOps.readInfo(spark, s"${out.dest}/_export_info.log")
    assert(log.contains("table=nation") && log.contains("rows=25"))
    assert(spark.read.parquet(out.dest).count() == 25)
  }

  test("parquetRowCount and parquetIsEmpty count what a reader reads: " +
    "not a crashed write's _temporary part file or a .x.parquet file") {
    val dir = tmpDir("rowcount") + "/t"
    spark.range(10).coalesce(1).write.parquet(dir)
    val stray = tmpDir("stray") + "/s"
    spark.range(7).coalesce(1).write.parquet(stray)
    val part = new java.io.File(stray).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    def plant(d: String): Unit = {
      val tmp = new java.io.File(s"$d/_temporary/0")
      tmp.mkdirs()
      java.nio.file.Files.copy(part, new java.io.File(tmp,
        "part-00003-x-c000.snappy.parquet").toPath)
      java.nio.file.Files.copy(part,
        new java.io.File(s"$d/.x.parquet").toPath)
    }
    plant(dir)
    assert(TableOps.parquetRowCount(spark, dir) ==
      spark.read.parquet(dir).count())
    assert(TableOps.parquetRowCount(spark, dir) == 10L)
    assert(!TableOps.parquetIsEmpty(spark, dir))
    // a dir whose only rows sit in skipped files reads as empty
    val empty = tmpDir("rowcount-empty") + "/t"
    spark.range(0).coalesce(1).write.parquet(empty)
    plant(empty)
    assert(spark.read.parquet(empty).isEmpty)
    assert(TableOps.parquetRowCount(spark, empty) == 0L)
    assert(TableOps.parquetIsEmpty(spark, empty))
  }

  test("parquetRowCount and parquetIsEmpty open the files a reader " +
    "opens: a part file of any name, a glob's matches, no empty file") {
    val dir = tmpDir("rowcount-names") + "/t"
    spark.range(0, 12, 1, 3).write.parquet(dir)
    // Hive-style part names, as another writer leaves them
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        assert(f.renameTo(new java.io.File(dir, f"$i%06d_0")))
      }
    assert(new java.io.File(dir, "empty_0").createNewFile())
    assert(spark.read.parquet(dir).count() == 12L)
    assert(TableOps.parquetRowCount(spark, dir) == 12L)
    assert(!TableOps.parquetIsEmpty(spark, dir))
    val glob = dir.dropRight(1) + "[t]"
    assert(spark.read.parquet(glob).count() == 12L)
    assert(TableOps.parquetRowCount(spark, glob) == 12L)
    assert(TableOps.parquetRowCount(spark, s"$dir/00000[01]_0") ==
      spark.read.parquet(s"$dir/00000[01]_0").count())
    intercept[java.io.FileNotFoundException](
      TableOps.parquetRowCount(spark, s"$dir-missing"))
  }

  test("importAll restores requested tables end-to-end") {
    val expCat = new BackupCatalog(spark, tmpDir("cat-exp"))
    val impCat = new BackupCatalog(spark, tmpDir("cat-imp"))
    val root = tmpDir("bk")
    val target = tmpDir("restore")
    val exporter = new BackupRunner(spark, expCat, maxConcurrent = 2)
    exporter.exportAll(
      Seq("region", "nation").map(t =>
        Exporter.ExportSpec(t, Tables.path(sf0001, t))),
      "c", "s1", root, 1L)

    val importer = new BackupRunner(spark, impCat, maxConcurrent = 2)
    val outcomes = importer.importAll(expCat, Seq("region", "nation"),
      "c", "s1", root, target, 2L)
    assert(outcomes.forall(_.isInstanceOf[Importer.Imported]))
    assert(spark.read.parquet(s"$target/region").count() == 5)
    assert(spark.read.parquet(s"$target/nation").count() == 25)
    val sess = impCat.sessions.collect().head
    assert(sess.mode == "import" && sess.ended_at != 0L && !sess.error)
    assert(impCat.tables.count() == 2)
  }
}
