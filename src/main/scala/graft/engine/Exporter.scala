package graft.engine

import graft.catalog.{BackupCatalog, ColumnDescriptor, TableRecord}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S1 — bulk table export: the Spark-native equivalent of shelling out
  * the Hadoop `Export` MapReduce job
  * (/root/reference/lib/hbacker/export.rb:145-169).
  *
  * The reference's `hadoop jar hbase-<v>.jar export <table> <dest>
  * <versions> <start> <end>` collapses to `read → time-filter →
  * version-cap → write`: the time-range predicate is pushed into the
  * parquet scan (row-group min/max pruning — the moral equivalent of
  * HBase's server-side Scan.setTimeRange), the version cap is a ranking
  * window (one shuffle on the row key), and the write preserves the
  * reference's `<root>/<session>/<table>/` namespace
  * (export.rb:76, s3.rb:60-78).
  *
  * Scale notes (100 TB): per-table export is embarrassingly parallel in
  * the scan and write (no shuffle at all when `versions` is uncapped);
  * with a cap, the single shuffle hash-partitions on the row key, so
  * skew only arises if one key holds a huge version history — the
  * `versions` default of 100000 (cli.rb:71-74) bounds that per key.
  */
object Exporter {

  /** What/where to export. `tsCol=None` → full snapshot (no window).
    * `keyCols` empty → no version cap (versions semantics need a key).
    */
  final case class ExportSpec(
      table: String,
      srcPath: String,
      tsCol: Option[String] = None,
      keyCols: Seq[String] = Nil,
      tieBreakCols: Seq[String] = Nil,
      versions: Int = 100000,
      startMs: Long = 0L,
      endMs: Long = Long.MaxValue,
      // Hive-style partition columns for the written layout. Derived
      // partition columns (e.g. the day of tsCol) make later
      // incremental/restore scans prune whole partitions instead of
      // relying on row-group stats alone — the 100 TB layout.
      partitionBy: Seq[String] = Nil,
      // output format: parquet (default — columnar, stats, pushdown),
      // orc (the other self-describing columnar container, for Hive/
      // Trino-side consumers), json or csv for interchange with
      // non-Spark consumers (the reference's SequenceFile container
      // generalized to whatever the destination needs)
      format: String = "parquet")

  sealed trait Outcome { def table: String }
  final case class Exported(table: String, rows: Long, dest: String)
      extends Outcome
  final case class Empty(table: String) extends Outcome
  final case class Skipped(table: String) extends Outcome
  final case class Failed(table: String, e: Throwable) extends Outcome

  /** HBase TimeRange semantics: [start, end) half-open
    * (export.rb:150-151 feeds Scan.setTimeRange).
    */
  def scanWindow(df: DataFrame, tsCol: String, startMs: Long,
                 endMs: Long): DataFrame = {
    val ts = col(tsCol).cast("timestamp")
    val lo = if (startMs > 0L) ts >= timestamp_millis(lit(startMs)) else lit(true)
    val hi = if (endMs < Long.MaxValue) ts < timestamp_millis(lit(endMs)) else lit(true)
    df.filter(lo && hi)
  }

  /** Keep the latest `versions` rows per key — the `<versions>` arg of
    * the Hadoop Export job (cli.rb:71-74). Deterministic total order via
    * explicit tiebreak columns.
    */
  def versionCap(df: DataFrame, keyCols: Seq[String], tsCol: String,
                 tieBreakCols: Seq[String], versions: Int): DataFrame = {
    if (keyCols.isEmpty || versions <= 0) df
    else {
      val order = col(tsCol).desc +: tieBreakCols.map(col(_).desc)
      val w = Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)
      df.withColumn("__graft_rn", row_number().over(w))
        .filter(col("__graft_rn") <= versions)
        .drop("__graft_rn")
    }
  }

  /** The filesystem namespace of the reference: scheme://root/session/table/
    * (export.rb:76, import.rb:65). Hadoop's FileSystem API handles all
    * schemes uniformly — the reference's per-scheme dispatch
    * (s3.rb:50-78) is subsumed by the parquet writer.
    */
  def destPath(destRoot: String, session: String, table: String): String = {
    val root = if (destRoot.endsWith("/")) destRoot else destRoot + "/"
    s"$root$session/$table"
  }

  /** Export one table: probe → scan → cap → write → record.
    * Mirrors worker.rb:85-99 (skip handled by the orchestrator,
    * empty-table short-circuit here) and export.rb:145-169.
    */
  def exportTable(spark: SparkSession, cat: BackupCatalog,
                  spec: ExportSpec, sessionName: String,
                  destRoot: String): Outcome =
    try exportTableAttempt(spark, cat, spec, sessionName, destRoot)
    catch {
      case e: Throwable =>
        recordExportFailure(cat, spec, sessionName, e)
        Failed(spec.table, e)
    }

  /** Error row + raise, as export.rb:156-164 / worker.rb:41-47 — the
    * "bury" half of the worker's error routing.
    */
  def recordExportFailure(cat: BackupCatalog, spec: ExportSpec,
                          sessionName: String, e: Throwable): Unit =
    cat.exportedTableInfo(
      TableRecord("export", spec.table, sessionName, spec.startMs,
        spec.endMs, spec.versions, empty = false, error = true,
        e.toString.take(500), -1L), Nil)

  /** One export attempt that THROWS on failure instead of recording an
    * error row — the seam the orchestrator's transient-retry loop
    * (worker.rb:28-48) needs: a retried-then-succeeded table must not
    * leave per-attempt error rows in the catalog, only the final
    * verdict. Data + record in sequence; the orchestrator retries the
    * two halves SEPARATELY ([[exportTableData]] /
    * [[recordExportOutcome]]) so a transient failure in the record
    * step can never replay the data step.
    */
  def exportTableAttempt(spark: SparkSession, cat: BackupCatalog,
                         spec: ExportSpec, sessionName: String,
                         destRoot: String): Outcome = {
    val (outcome, descs) = exportTableData(spark, spec, sessionName, destRoot)
    recordExportOutcome(cat, spec, sessionName, outcome, descs)
    outcome
  }

  /** The data half of an export attempt: probe → scan → cap →
    * write (counted) → sidecar. NO catalog writes — everything here is
    * Overwrite-idempotent, so the retry loop may safely re-run it after
    * any partial failure. Returns the outcome plus the discovered
    * descriptor rows for [[recordExportOutcome]].
    *
    * The source's schema and the empty probe come from its parquet
    * footers on the driver ([[TableOps.ParquetSource]]: the schema from
    * the one footer Spark's inference would read, so no inference job
    * runs), and a parquet export takes its integrity counts from its
    * own write ([[writeCounted]]), so a parquet export's only Spark
    * work is the write's one SQL execution. csv/json/orc exports count
    * a schema-pinned FAILFAST read-back of the written files instead:
    * for them the parse is the check.
    */
  def exportTableData(spark: SparkSession, spec: ExportSpec,
                      sessionName: String,
                      destRoot: String): (Outcome, Seq[ColumnDescriptor]) = {
      // one listing of the source: its schema from one footer, its
      // emptiness from the footers' row counts, neither a Spark job
      val source = TableOps.parquetSource(spark, spec.srcPath)
      val src = source.read
      val descs = descriptorRows(src, sessionName, spec.table)
      // S5 empty-table short-circuit (worker.rb:89,95-99): the footers'
      // row counts decide, up to the first non-empty file
      if (source.isEmpty)
        (Empty(spec.table), descs.map(_.copy(n_nulls = 0L)))
      else {
        val windowed = spec.tsCol match {
          case Some(ts) =>
            versionCap(scanWindow(src, ts, spec.startMs, spec.endMs),
              spec.keyCols, ts, spec.tieBreakCols, spec.versions)
          case None => src
        }
        val dest = destPath(destRoot, sessionName, spec.table)
        def save(df: DataFrame): Unit = {
          val writer0 = df.write.mode(SaveMode.Overwrite)
          val writer = if (spec.partitionBy.nonEmpty)
            writer0.partitionBy(spec.partitionBy: _*) else writer0
          writer.format(spec.format).options(textFormatOptions).save(dest)
        }
        // integrity metrics the reference wants (README.textile:189-191):
        // rows and per-column nulls — the stat a json restore later
        // needs to tell null-omitted from lost columns
        val (rows, nulls) =
          if (spec.format == "parquet") writeCounted(spark, windowed, dest)(save)
          else {
            // counted post-write from the written files, schema-pinned
            // (csv/json carry no types) and FAILFAST, so a value the
            // pinned schema can't parse back fails the export instead
            // of silently counting a nulled row
            save(windowed)
            countWithNulls(spark.read.schema(windowed.schema)
              .format(spec.format)
              .options(textReadOptions(spec.format)).load(dest))
          }
        val descsWithNulls = descs.map(d => d.copy(n_nulls = nulls(d.name)))
        // job-log sidecar next to the data, as export.rb:167-168 —
        // underscore-prefixed so parquet readers ignore it
        TableOps.saveInfo(spark, s"$dest/_export_info.log",
          s"table=${spec.table} session=$sessionName rows=$rows " +
            s"window=[${spec.startMs},${spec.endMs}) versions=${spec.versions}\n")
        (Exported(spec.table, rows, dest), descsWithNulls)
      }
  }

  /** Write `df` as parquet under `dest` through `write`, counting rows
    * and per-column nulls in the same pass: an [[Observation]] of
    * count(1) and each count(col) (count(col) skips nulls, so
    * n_nulls = rows − count(col)) rides on the write plan, as the
    * Importer counts its rows. The footers of the files the write left
    * under `dest` must hold exactly the observed rows, so the count is
    * still checked against what was written, at no Spark job; a
    * mismatch fails the export.
    */
  private def writeCounted(spark: SparkSession, df: DataFrame, dest: String)(
      write: DataFrame => Unit): (Long, Map[String, Long]) = {
    val names = df.schema.fieldNames.toSeq
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows"),
      names.indices.map(i => count(col(names(i))).as(s"c$i")): _*))
    val m = obs.get
    val rows = m("rows").asInstanceOf[Long]
    val inFiles = TableOps.parquetRowCount(spark, dest)
    if (inFiles != rows)
      throw new IllegalStateException(
        s"export to $dest wrote $rows rows but its files hold $inFiles")
    (rows, names.indices
      .map(i => names(i) -> (rows - m(s"c$i").asInstanceOf[Long])).toMap)
  }

  /** One aggregation pass: total row count plus per-column null counts
    * (count(col) skips nulls, so n_nulls = rows − count(col)). A single
    * job over the written files, all map-side partials — the read-back
    * check of the text and orc exports.
    */
  private[engine] def countWithNulls(df: DataFrame)
      : (Long, Map[String, Long]) = {
    val names = df.schema.fieldNames.toSeq
    val aggs = count(lit(1)).as("__rows") +:
      names.map(c => count(col(c)))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getLong(0)
    (rows, names.zipWithIndex
      .map { case (c, i) => c -> (rows - r.getLong(i + 1)) }.toMap)
  }

  /** The record half of an export attempt: one catalog verdict row (+
    * descriptors). Retried on its own — a FAILED catalog append
    * commits nothing (the parquet commit protocol only publishes files
    * on job commit), so re-running a failed record is safe, while a
    * succeeded record is never re-entered by the orchestrator.
    */
  def recordExportOutcome(cat: BackupCatalog, spec: ExportSpec,
                          sessionName: String, outcome: Outcome,
                          descs: Seq[ColumnDescriptor]): Unit = outcome match {
    case Empty(t) =>
      cat.exportedTableInfo(
        TableRecord("export", t, sessionName, spec.startMs,
          spec.endMs, spec.versions, empty = true, error = false, "", 0L),
        descs)
    case Exported(t, rows, _) =>
      cat.exportedTableInfo(
        TableRecord("export", t, sessionName, spec.startMs,
          spec.endMs, spec.versions, empty = false, error = false, "",
          rows),
        descs)
    case _ => ()
  }

  /** Options making the csv container round-trip-safe: an explicit
    * null sentinel so null and empty string stay distinct on disk
    * (Spark's defaults conflate them). Ignored by parquet/json.
    * Shared by export write, post-write count and import read.
    */
  val textFormatOptions: Map[String, String] =
    Map("header" -> "true", "nullValue" -> "\\N")

  /** Read-side variant of [[textFormatOptions]]: text-format parses
    * abort on malformed or type-mismatched values (the PERMISSIVE
    * default silently nulls them — on a restore path that is data
    * corruption with matching row counts; with FAILFAST a quoted
    * embedded newline would otherwise hard-fail as an unclosed
    * record). Parquet ignores `mode`. csv additionally needs
    * multiLine: the writer quotes embedded newlines, and a
    * line-splitting read cannot reassemble them. multiLine costs csv
    * its input-split parallelism (whole-file reads) — acceptable on
    * the interchange path; parquet is the performance path. json-lines
    * must NOT set it (there multiLine means one JSON value per file).
    */
  def textReadOptions(format: String): Map[String, String] =
    textFormatOptions + ("mode" -> "FAILFAST") ++
      (if (format == "csv") Map("multiLine" -> "true") else Map.empty)

  /** Bucketed export — the repeated-join layout. `bucketBy` pays the
    * shuffle ONCE at write time; every later join or aggregation keyed
    * on the bucket columns reads co-located, pre-sorted buckets and
    * plans no exchange at all (asserted in BucketedExportSpec). This
    * is the layout for catalog-⋈-payload and fact-⋈-fact workloads
    * that repeat per backup cycle at 100 TB: n° of buckets chosen so a
    * bucket ≈ one executor-core's working set. Bucket metadata lives
    * in the session catalog (`saveAsTable` is mandatory for bucketing);
    * `path` keeps the bytes at the backup destination.
    *
    * The metastore identifier is session-qualified
    * ([[bucketedTableName]]) — a bare `table` key would let a second
    * session's SaveMode.Overwrite replace the first session's entry and
    * bucket metadata, orphaning its files (still readable as plain
    * parquet, but no longer exchange-free joinable). This mirrors
    * exportTable, whose dest path is already session-scoped.
    */
  def bucketedTableName(table: String, sessionName: String): String =
    // metastore identifiers reject '-', '.', etc. — a session name like
    // "run-2026.08" would fail saveAsTable at parse time. Sanitizing
    // can in principle collide two exotic names ("a-b"/"a.b"); the
    // session-scoped `path` keeps even those byte-separate on disk
    s"${table}_$sessionName".replaceAll("[^A-Za-z0-9_]", "_")

  def exportBucketed(spark: SparkSession, cat: BackupCatalog,
                     df: DataFrame, table: String, sessionName: String,
                     dest: String, bucketCols: Seq[String],
                     nBuckets: Int): Outcome = {
    try {
      val ident = bucketedTableName(table, sessionName)
      // same integrity machinery as exportTable: rows and per-column
      // nulls counted on the write, checked against the written files'
      // footers; then the catalog record and the job-log sidecar
      val (rows, nulls) = writeCounted(spark, df, dest) {
        _.write.mode(SaveMode.Overwrite)
          .option("path", dest)
          .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
          .sortBy(bucketCols.head, bucketCols.tail: _*)
          .format("parquet")
          .saveAsTable(ident)
      }
      TableOps.saveInfo(spark, s"$dest/_export_info.log",
        s"table=$table session=$sessionName rows=$rows " +
          s"bucketBy=${bucketCols.mkString(",")} buckets=$nBuckets\n")
      cat.exportedTableInfo(
        TableRecord("export", table, sessionName, 0L, Long.MaxValue, 0L,
          empty = rows == 0L, error = false, "", rows),
        descriptorRows(df, sessionName, table)
          .map(d => d.copy(n_nulls = nulls(d.name))))
      Exported(table, rows, dest)
    } catch {
      case e: Throwable =>
        cat.exportedTableInfo(
          TableRecord("export", table, sessionName, 0L, Long.MaxValue, 0L,
            empty = false, error = true, e.toString.take(500), -1L), Nil)
        Failed(table, e)
    }
  }

  /** S4 — discovered schema → catalog descriptor rows
    * (hbase.rb:46-48 persisted via mysql.rb:181-189). HBase-ish attrs
    * take their Stargate defaults (stargate.rb:36-44).
    */
  def descriptorRows(df: DataFrame, sessionName: String,
                     table: String): Seq[ColumnDescriptor] =
    df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      ColumnDescriptor(sessionName, table, i, f.name,
        f.dataType.simpleString, f.nullable,
        max_versions = 3, compression = "NONE", in_memory = false,
        block_cache = true, ttl = 2147483647L, blocksize = 65536L,
        bloomfilter = "NONE")
    }
}
