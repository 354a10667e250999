package graft.engine

import graft.{SparkTestBase, Tables}
import graft.catalog.BackupCatalog
import graft.engine.Exporter.ExportSpec
import org.apache.spark.sql.functions._

class ExportImportSpec extends SparkTestBase {

  private val T1998 = 883612800000L
  private val T2000 = 946684800000L

  test("export writes <root>/<session>/<table>/ with the window applied") {
    val cat = new BackupCatalog(spark, tmpDir("cat"))
    val root = tmpDir("bk")
    val spec = ExportSpec("lineitem", Tables.path(sf0001, "lineitem"),
      tsCol = Some("l_shipdate"), startMs = T1998, endMs = T2000)
    val out = Exporter.exportTable(spark, cat, spec, "20240101_000000", root)

    val exported = out.asInstanceOf[Exporter.Exported]
    assert(exported.dest == s"$root/20240101_000000/lineitem")
    val written = spark.read.parquet(exported.dest)
    val expected = Tables.lineitem(spark, sf0001)
      .filter(col("l_shipdate") >= timestamp_millis(lit(T1998)) &&
        col("l_shipdate") < timestamp_millis(lit(T2000)))
    assert(written.count() == expected.count())
    assert(exported.rows == expected.count())
    // catalog rows recorded: table record + one descriptor per column
    assert(cat.exists("export", "lineitem", "20240101_000000"))
    assert(cat.columnDescriptorRows("20240101_000000", "lineitem")
      .map(_.name).toSet == written.columns.toSet)
  }

  test("empty-table short-circuit records empty=true, writes nothing") {
    val cat = new BackupCatalog(spark, tmpDir("cat"))
    val root = tmpDir("bk")
    val emptySrc = tmpDir("empty-src") + "/t"
    Tables.lineitem(spark, sf0001).filter(col("l_quantity") < 0)
      .write.parquet(emptySrc)
    val out = Exporter.exportTable(spark, cat,
      ExportSpec("empty_t", emptySrc), "s1", root)
    assert(out == Exporter.Empty("empty_t"))
    assert(!new java.io.File(s"$root/s1/empty_t").exists())
    val rec = cat.tables.collect().head
    assert(rec.empty && !rec.error && rec.row_count == 0L)
  }

  test("version cap keeps latest N per key with deterministic tiebreak") {
    val ev = Tables.eventsTs(spark, sf0001)
    val capped = Exporter.versionCap(ev, Seq("user_id"), "ts",
      tieBreakCols = Seq("event_id"), versions = 3)
    val counts = capped.groupBy("user_id").count().collect()
    assert(counts.forall(_.getAs[Long]("count") <= 3))
    // the kept rows are the max-ts ones
    val userMax = ev.groupBy("user_id").agg(max("ts_ns").as("m"))
    val joined = capped.join(userMax, "user_id")
      .filter(col("ts_ns") === col("m"))
    assert(joined.count() == userMax.count())
  }

  test("partitioned export writes Hive dirs and prunes partition scans") {
    val cat = new graft.catalog.BackupCatalog(spark, tmpDir("cat"))
    val root = tmpDir("bk")
    // derive a ship-year partition column on the way out
    val src = tmpDir("src") + "/li"
    Tables.lineitem(spark, sf0001)
      .withColumn("ship_year", org.apache.spark.sql.functions.year(
        col("l_shipdate"))).write.parquet(src)
    val out = Exporter.exportTable(spark, cat,
      Exporter.ExportSpec("lineitem", src, partitionBy = Seq("ship_year")),
      "s1", root).asInstanceOf[Exporter.Exported]
    val dirs = new java.io.File(out.dest).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.exists(_.startsWith("ship_year=1995")))
    // partition filter prunes to one directory's worth of rows
    val pruned = spark.read.parquet(out.dest)
      .filter(col("ship_year") === 1996)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ship_year"),
      plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse(""))
    val expected = Tables.lineitem(spark, sf0001)
      .filter(org.apache.spark.sql.functions.year(col("l_shipdate")) === 1996)
    assert(pruned.count() == expected.count())
  }

  /** A source of nulls, nested struct/array/map columns, an all-null
    * column, a timestamp to window on, a version-cap key and a
    * partition column with a null value, in three files.
    */
  private def integritySource(n: Int): String = {
    val dir = tmpDir("integrity-src") + "/t"
    spark.range(0, n, 1, 3).selectExpr(
      "id",
      "CASE WHEN id % 3 = 0 THEN NULL ELSE id * 2 END AS maybe",
      "CAST(NULL AS STRING) AS all_null",
      "CASE WHEN id % 5 = 0 THEN NULL ELSE named_struct('a', id, " +
        "'b', CASE WHEN id % 2 = 0 THEN NULL ELSE 'x' END) END AS st",
      "CASE WHEN id % 7 = 0 THEN NULL ELSE array(id, NULL) END AS arr",
      "CASE WHEN id % 4 = 0 THEN NULL ELSE map('k', id) END AS mp",
      "timestamp_millis(1000000 + id * 1000) AS ts",
      "id % 10 AS k",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE CAST(id % 3 AS INT) END AS part")
      .write.parquet(dir)
    dir
  }

  test("a parquet export's catalog row_count and n_nulls == a read-back " +
    "count of its written files") {
    val full = integritySource(400)
    val empty = tmpDir("integrity-empty") + "/t"
    spark.read.parquet(full).limit(0).write.parquet(empty)
    val cases = Seq(
      "nulls, nested and all-null columns" -> ExportSpec("full", full),
      "an empty source" -> ExportSpec("empty", empty),
      "a zero-row window over a non-empty source" ->
        ExportSpec("nothing", full, tsCol = Some("ts"),
          startMs = 10000000L),
      "a partitioned layout" ->
        ExportSpec("parted", full, partitionBy = Seq("part")),
      "the version-capped window" ->
        ExportSpec("capped", full, tsCol = Some("ts"), keyCols = Seq("k"),
          tieBreakCols = Seq("id"), versions = 3, startMs = 1050000L,
          endMs = 1350000L))
    val cat = new BackupCatalog(spark, tmpDir("cat"))
    val root = tmpDir("bk")
    for ((what, spec) <- cases) {
      val out = Exporter.exportTable(spark, cat, spec, "s1", root)
      val (rows, nulls) = out match {
        case Exporter.Exported(_, _, dest) =>
          Exporter.countWithNulls(spark.read.parquet(dest))
        case Exporter.Empty(_) =>
          Exporter.countWithNulls(spark.read.parquet(spec.srcPath))
        case other => fail(s"$what: $other")
      }
      val rec = cat.tables.collect().filter(_.table_name == spec.table)
      assert(rec.map(_.row_count).toSeq == Seq(rows), what)
      val descs = cat.columnDescriptorRows("s1", spec.table)
      assert(descs.map(d => d.name -> d.n_nulls).toMap == nulls, what)
      assert(descs.size == 9, what)
    }
    // the cases test what they claim to
    val byTable = cat.tables.collect().map(r => r.table_name -> r).toMap
    assert(byTable("empty").empty && byTable("nothing").row_count == 0L &&
      !byTable("nothing").empty && byTable("capped").row_count > 0L &&
      byTable("capped").row_count < byTable("full").row_count)
    assert(cat.columnDescriptorRows("s1", "full")
      .find(_.name == "all_null").get.n_nulls == 400L)
  }

  test("a parquet export reads a source as the reader does: part files " +
    "without a .parquet suffix and a glob path export their rows") {
    val src = integritySource(90)
    // Hive-style names for the source's part files
    new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex.foreach { case (f, i) =>
        assert(f.renameTo(new java.io.File(src, f"$i%06d_0")))
      }
    val cat = new BackupCatalog(spark, tmpDir("cat"))
    val root = tmpDir("bk")
    for (spec <- Seq(ExportSpec("hive", src),
                     ExportSpec("globbed", src.dropRight(1) + "[t]"))) {
      val out = Exporter.exportTable(spark, cat, spec, "s1", root)
      assert(out.isInstanceOf[Exporter.Exported], s"${spec.table}: $out")
      val rec = cat.tables.collect().filter(_.table_name == spec.table)
      assert(rec.map(r => (r.row_count, r.empty)).toSeq == Seq((90L, false)),
        spec.table)
      assert(spark.read.parquet(s"$root/s1/${spec.table}").count() == 90L)
    }
  }

  test("a parquet export's data half runs one SQL execution, the write") {
    val src = integritySource(200)
    val spec = ExportSpec("capped", src, tsCol = Some("ts"),
      keyCols = Seq("k"), tieBreakCols = Seq("id"), versions = 3)
    val root = tmpDir("bk")
    val sites = jobSitesDuring {
      Exporter.exportTableData(spark, spec, "s1", root)
    }
    // the write's shuffle stages run as jobs of its one execution; the
    // source read's schema inference is the only job outside it
    val executions = sites.flatMap(_._1).distinct
    assert(executions.size == 1, s"expected one SQL execution: $sites")
    assert(sites.filter(_._1.isEmpty).forall(_._2.startsWith("parquet at")),
      s"a job outside the write: $sites")
    assert(spark.read.parquet(s"$root/s1/capped").count() > 0L)
  }

  test("failed export records an error row and returns Failed") {
    val cat = new BackupCatalog(spark, tmpDir("cat"))
    val out = Exporter.exportTable(spark, cat,
      ExportSpec("nope", "/nonexistent/path"), "s1", tmpDir("bk"))
    assert(out.isInstanceOf[Exporter.Failed])
    val rec = cat.tables.collect().head
    assert(rec.error && rec.table_name == "nope" && rec.row_count == -1L)
  }

  test("import round-trip: export → create → import reproduces rows") {
    val expCat = new BackupCatalog(spark, tmpDir("cat-exp"))
    val impCat = new BackupCatalog(spark, tmpDir("cat-imp"))
    val root = tmpDir("bk")
    val target = tmpDir("restore") + "/orders"
    Exporter.exportTable(spark, expCat,
      ExportSpec("orders", Tables.path(sf0001, "orders")), "s1", root)

    val out = Importer.importTable(spark, expCat, impCat, "orders",
      "s1", root, target)
    val imported = out.asInstanceOf[Importer.Imported]
    val orig = Tables.orders(spark, sf0001)
    assert(imported.rows == orig.count())
    assert(spark.read.parquet(target).count() == orig.count())
    // append semantics: importing again doubles (Hadoop Import appends)
    Importer.importTable(spark, expCat, impCat, "orders", "s1", root, target)
    assert(spark.read.parquet(target).count() == 2 * orig.count())
    assert(impCat.tables.count() == 2)
  }

  test("schema is validated against catalog descriptors on import") {
    val expCat = new BackupCatalog(spark, tmpDir("cat-exp"))
    val impCat = new BackupCatalog(spark, tmpDir("cat-imp"))
    val root = tmpDir("bk")
    Exporter.exportTable(spark, expCat,
      ExportSpec("nation", Tables.path(sf0001, "nation")), "s1", root)
    // corrupt the exported files with a different schema
    Tables.region(spark, sf0001).write.mode("overwrite")
      .parquet(s"$root/s1/nation")
    val out = Importer.importTable(spark, expCat, impCat, "nation",
      "s1", root, tmpDir("restore") + "/nation")
    assert(out.isInstanceOf[Importer.Failed])
    assert(impCat.tables.collect().head.error)
  }

  test("resolveRequested raises listing missing tables (J2)") {
    val expCat = new BackupCatalog(spark, tmpDir("cat-exp"))
    val root = tmpDir("bk")
    expCat.startInfo(graft.catalog.BackupSession("export", "c", "s1",
      root, 0L, 0L, 0L, 0L, error = false, ""))
    Exporter.exportTable(spark, expCat,
      ExportSpec("region", Tables.path(sf0001, "region")), "s1", root)
    val err = intercept[IllegalArgumentException] {
      Importer.resolveRequested(expCat, "s1", root,
        Seq("region", "ghost_table"))
    }
    assert(err.getMessage.contains("ghost_table"))
    assert(Importer.resolveRequested(expCat, "s1", root, Seq("region")) ==
      Seq("region"))
  }

  test("createTable materializes the descriptor schema (S6)") {
    val expCat = new BackupCatalog(spark, tmpDir("cat-exp"))
    val root = tmpDir("bk")
    Exporter.exportTable(spark, expCat,
      ExportSpec("supplier", Tables.path(sf0001, "supplier")), "s1", root)
    val descs = expCat.columnDescriptorRows("s1", "supplier")
    val schema = Importer.schemaFromDescriptors(descs)
    val path = tmpDir("created") + "/supplier"
    Importer.createTable(spark, schema, path)
    val created = spark.read.parquet(path)
    assert(created.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Tables.supplier(spark, sf0001).schema.fields
        .map(f => (f.name, f.dataType)).toSeq)
    assert(created.count() == 0)
  }
}
