package graft.engine

import graft.catalog.{BackupCatalog, TableRecord}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** S2 — bulk table import: FS → table, the inverse of [[Exporter]]
  * (/root/reference/lib/hbacker/import.rb:128-154).
  *
  * The reference re-creates the target HBase table from the catalog's
  * column descriptors before running the Hadoop Import jar
  * (import.rb:131-139, worker.rb:136, stargate.rb:34-47); here the
  * descriptor rows rebuild a StructType that the read is validated
  * against, then the data lands via an append write (Hadoop Import
  * appends cells too — re-import over existing data is additive).
  */
object Importer {

  sealed trait Outcome { def table: String }
  final case class Imported(table: String, rows: Long, target: String)
      extends Outcome
  final case class Failed(table: String, e: Throwable) extends Outcome

  /** S6 — `create_table` from catalog descriptors (hbase.rb:81-96):
    * materialize an empty parquet table with the recorded schema.
    */
  def createTable(spark: SparkSession, schema: StructType,
                  targetPath: String): Unit =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode(SaveMode.Overwrite).parquet(targetPath)

  /** Rebuild the StructType recorded at export time
    * (mysql.rb:324-337 → stargate.rb:34-47).
    */
  def schemaFromDescriptors(
      descs: Seq[graft.catalog.ColumnDescriptor]): StructType =
    StructType(descs.map { d =>
      StructField(d.name, parseType(d.data_type), d.nullable)
    })

  private def parseType(simpleString: String): DataType = simpleString match {
    case "bigint" => LongType
    case "int" => IntegerType
    case "double" => DoubleType
    case "float" => FloatType
    case "string" => StringType
    case "boolean" => BooleanType
    case "binary" => BinaryType
    case "timestamp" => TimestampType
    case "timestamp_ntz" => TimestampNTZType
    case "date" => DateType
    case other => DataType.fromDDL(other)
  }

  /** Import one table from `<root>/<session>/<table>/` into
    * `targetPath`, enforcing the catalog schema (import.rb:128-154).
    */
  def importTable(spark: SparkSession, exportCat: BackupCatalog,
                  importCat: BackupCatalog, table: String,
                  sessionName: String, destRoot: String,
                  targetPath: String,
                  format: String = "parquet"): Outcome =
    try {
      val imported = importTableData(spark, exportCat, table, sessionName,
        destRoot, targetPath, format)
      recordImportOutcome(importCat, table, sessionName, imported)
      imported
    } catch {
      case e: Throwable =>
        recordImportFailure(importCat, table, sessionName, e)
        Failed(table, e)
    }

  /** Error row, as worker.rb:41-42 — the "bury" half of the worker's
    * error routing.
    */
  def recordImportFailure(importCat: BackupCatalog, table: String,
                          sessionName: String, e: Throwable): Unit =
    importCat.importedTableInfo(
      TableRecord("import", table, sessionName, 0L, 0L, 0L,
        empty = false, error = true, e.toString.take(500), -1L))

  /** The record half of a successful import: one catalog verdict row.
    * Retried separately from the data write by the orchestrator — a
    * failed catalog append commits nothing, so re-running it is safe,
    * and the data write is never replayed for a record-side hiccup
    * (an Append that re-runs would double the restored table).
    */
  def recordImportOutcome(importCat: BackupCatalog, table: String,
                          sessionName: String, imported: Imported): Unit =
    importCat.importedTableInfo(
      TableRecord("import", table, sessionName, 0L, 0L, 0L,
        empty = imported.rows == 0L, error = false, "", imported.rows))

  /** The data half of an import attempt: read → validate → append →
    * count, NO catalog writes; THROWS on failure (the orchestrator's
    * transient-retry seam, worker.rb:28-48 — only final verdicts land
    * in the catalog). A partially-FAILED Append is safe to re-run:
    * Spark's commit protocol publishes task files only on job commit,
    * so a failed attempt contributed nothing. (The remaining window —
    * a failure between job commit and this method returning — is the
    * usual exactly-once limit of an Append sink; the observation read
    * is driver-local and cannot launch jobs after the commit.)
    */
  def importTableData(spark: SparkSession, exportCat: BackupCatalog,
                      table: String, sessionName: String, destRoot: String,
                      targetPath: String,
                      format: String = "parquet"): Imported = {
      val src = Exporter.destPath(destRoot, sessionName, table)
      val descs = exportCat.columnDescriptorRows(sessionName, table)
      def readSrc(schema: Option[StructType]): DataFrame = {
        // FAILFAST: a value the catalog-pinned schema can't parse must
        // abort the restore, not silently become null (PERMISSIVE's
        // default — row counts would still match while data corrupts).
        // Parquet enforces types structurally and ignores `mode`.
        val r0 = spark.read.format(format)
          .options(Exporter.textReadOptions(format))
        val r = schema.fold(
          // text formats carry no types: infer only as a last resort
          // (no catalog descriptors to pin against); parquet/orc are
          // self-describing and need no inference
          if (format == "parquet" || format == "orc") r0
          else r0.option("inferSchema", "true")
        )(r0.schema)
        r.load(src)
      }
      // column names only, without a data scan: parquet footers and csv
      // headers are metadata; json needs inference, so sample a few
      // lines instead of letting inference read the whole table
      def srcFieldNames(): Array[String] = format match {
        case "json" =>
          import spark.implicits._
          // a partitioned layout adds partition columns to the text
          // read's schema (and they are absent from the json lines) —
          // select the content column explicitly and fold them back in
          val txt = spark.read.text(src)
          val partCols = txt.schema.fieldNames.filter(_ != "value")
          val dataNames = spark.read.json(
            txt.select("value").limit(100).as[String]).schema.fieldNames
          (dataNames ++ partCols).distinct
        case "csv" =>
          spark.read.format("csv").options(Exporter.textFormatOptions)
            .load(src).schema.fieldNames
        // the schema from one footer, as the export takes its source's
        case "parquet" =>
          TableOps.parquetSource(spark, src).read.schema.fieldNames
        case _ => readSrc(None).schema.fieldNames
      }
      val df = if (descs.nonEmpty) {
        val expected = schemaFromDescriptors(descs)
        // column-name parity check (order-insensitive: partitioned
        // layouts reorder on discovery); types are enforced by the
        // schema-pinned read below, which fails loudly on mismatch
        val gotNames = srcFieldNames()
        // json: subset check only — the writer omits null fields, so a
        // column that is null in every sampled line legitimately
        // disappears from the sample; an UNEXPECTED column is still a
        // hard mismatch. Other formats carry exact names.
        val namesOk =
          if (format == "json")
            gotNames.toSet.subsetOf(expected.fieldNames.toSet)
          else gotNames.sorted.sameElements(expected.fieldNames.sorted)
        require(namesOk,
          s"schema mismatch for $table: catalog=${expected.fieldNames.toSeq} " +
            s"actual=${gotNames.toSeq}")
        // a column absent from the whole sample is either null-omitted
        // (benign) or physically lost — the sample can't tell, but the
        // export catalog can: each descriptor records the column's
        // export-time null count (same scan as row_count). Cross-check:
        //  - all-null at export → absence is exactly what the writer
        //    does with nulls; benign.
        //  - had values at export → the key must occur SOMEWHERE in the
        //    file. One early-exit text probe decides; no occurrence is
        //    data loss and fails the restore loudly.
        //  - stats unknown (-1, pre-stats catalog) → warn, as before.
        if (format == "json") {
          val absentFromSample = expected.fieldNames.toSet -- gotNames.toSet
          // one catalog read for the whole loop — the row count does
          // not depend on which column is being probed
          val exportedRows =
            if (absentFromSample.isEmpty) -1L
            else exportCat
              .listTableInfo("export", sessionName, table)
              .select("row_count").collect()
              .headOption.map(_.getLong(0)).getOrElse(-1L)
          absentFromSample.toSeq.sorted.foreach { c =>
            val nNulls = descs.find(_.name == c).map(_.n_nulls).getOrElse(-1L)
            val allNullAtExport = nNulls >= 0L && nNulls == exportedRows
            if (allNullAtExport) () // null-omitted by the writer; benign
            else {
              // match the KEY position ("col" followed by a colon),
              // not a bare substring: the quoted name appearing inside
              // some string VALUE must not demote data loss to "just
              // missed the sample"
              val keyRe = "\"" + java.util.regex.Pattern.quote(c) + "\"\\s*:"
              val foundInFile = !spark.read.text(src)
                .filter(org.apache.spark.sql.functions.col("value")
                  .rlike(keyRe))
                .limit(1).isEmpty
              if (foundInFile) () // just missed the 100-line sample
              else if (nNulls >= 0L)
                throw new IllegalStateException(
                  s"import $table: column '$c' is absent from the json " +
                    s"export but had ${exportedRows - nNulls} non-null " +
                    s"value(s) at export time — data loss, aborting restore")
              else
                System.err.println(s"import $table: column '$c' absent " +
                  "from the json lines and export null-stats unknown " +
                  "(pre-stats catalog) — null-omitted or missing")
            }
          }
        }
        // read under the CATALOG schema, not the discovered one: this
        // restores the original column order for partitioned layouts
        // (partition cols move to the end on discovery), defeats Hive
        // partition-column type inference (which would silently retype
        // e.g. a "0123" string partition value as integer 123 — data
        // corruption for a restore path), and gives csv/json their
        // recorded types back.
        readSrc(Some(expected))
      } else readSrc(None)
      // single source scan: the write and the integrity row count share
      // one pass via an Observation (a CollectMetrics node on the write
      // plan). Counting the written target instead — Exporter's choice —
      // would be wrong here: Append mode folds pre-existing target rows
      // into the metric.
      val obs = org.apache.spark.sql.Observation()
      df.observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
        .write.mode(SaveMode.Append).parquet(targetPath)
      val rows = obs.get("rows").asInstanceOf[Long]
      Imported(table, rows, targetPath)
  }

  /** J2 — requested ∩ exported with a hard failure listing the missing
    * tables, exactly import.rb:56-63's arity check.
    */
  def resolveRequested(exportCat: BackupCatalog, sessionName: String,
                       destRoot: String,
                       requested: Seq[String]): Seq[String] = {
    val exported = exportCat.tableNames("export", sessionName, destRoot)
    val missing = requested.diff(exported)
    require(missing.isEmpty,
      s"requested tables not in backup $sessionName: ${missing.mkString(", ")}")
    requested.intersect(exported)
  }
}
