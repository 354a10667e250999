package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}

/** Source/sink utility operators (SURVEY.md §2.1 S3/S4/S5/S7/S8).
  *
  * The reference talks to three different storage APIs (Stargate REST
  * for HBase, RightAws for S3, local files — lib/hbacker/hbase.rb,
  * s3.rb); Hadoop's FileSystem API subsumes all of them behind the
  * URI scheme, which is the genuine simplification the reference's
  * own per-scheme dispatch (s3.rb:50-78) was reaching for.
  */
object TableOps {

  /** S3 — `list_names_of_all_tables` (hbase.rb:53-56): the tables of
    * an sf dir / backup session dir, as a Dataset so it can feed
    * joins (the reference returns a Ruby array).
    */
  def listTables(spark: SparkSession, dir: String): Dataset[String] = {
    import spark.implicits._
    val names = listFs(spark, dir)
      .map(p => new Path(p).getName)
      .map(n => if (n.endsWith(".parquet")) n.dropRight(8) else n)
      .sorted
    names.toDS()
  }

  /** S4 — `table_descriptor` (hbase.rb:46-48): discovered schema as
    * (column, type, nullable) rows. Footer-only read.
    */
  def tableDescriptor(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.parquet(path).schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString, f.nullable))
      .toDF("name", "data_type", "nullable")
  }

  /** S7 — `list_bucket_contents` (s3.rb:38-48): children of a storage
    * root via the scheme-appropriate Hadoop FileSystem. The
    * reference's pagination loop (s3.rb:39-47) is subsumed by
    * listStatus.
    */
  def listFs(spark: SparkSession, root: String): Seq[String] = {
    val path = new Path(root)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq.map(_.getPath.toString).sorted
  }

  /** S8 — `save_info` (s3.rb:50-78): write a small log/info payload
    * next to a backup. One FileSystem call handles s3/hdfs/file
    * uniformly — the reference's regex-dispatch (s3.rb:61-76) and its
    * "unknown scheme" failure mode disappear.
    */
  def saveInfo(spark: SparkSession, destUrl: String, content: String): Unit = {
    val path = new Path(destUrl)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(content.getBytes("UTF-8"))
    finally out.close()
  }

  /** Whether Spark's file index reads a file or dir of this name: not
    * a `_` name without `=` (a `_SUCCESS` marker, a crashed write's
    * `_temporary` dir, a sidecar), a `.` name (a checksum or hidden
    * file), or a `._COPYING_` upload in flight. Partition dirs like
    * `_k=1` are read. The same rule as Spark's listing
    * (`HadoopFSUtils.shouldFilterOutPathName` and the file index's data
    * path filter), applied to every name below the listed root.
    */
  private def sparkReads(name: String): Boolean =
    !((name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_"))

  /** Whether Spark's file index lists a name that [[sparkReads]] drops:
    * a name starting `_common_metadata` or `_metadata`, listed so that
    * schema inference can read a parquet summary file.
    */
  private def summaryName(name: String): Boolean =
    name.startsWith("_common_metadata") || name.startsWith("_metadata")

  /** A parquet source as `spark.read.parquet(path)` sees it, from one
    * listing of its files on the driver. The roots resolve as the
    * reader resolves them: `globStatus` expands a glob and returns a
    * plain file or dir as itself. Below them the listing keeps every
    * name [[sparkReads]] keeps, whatever its extension (a Hive writer's
    * `000000_0` is a part file too), plus the [[summaryName]]s the file
    * index also lists for schema inference.
    */
  final class ParquetSource private[TableOps] (spark: SparkSession,
                                               path: String) {
    private val conf = spark.sessionState.newHadoopConf()
    private val fs = new Path(path).getFileSystem(conf)

    /** The listed files, or None when `path` resolves to nothing. */
    private lazy val listed: Option[Seq[FileStatus]] =
      Option(fs.globStatus(new Path(path))).filter(_.nonEmpty).map { roots =>
        def files(p: Path): Iterator[FileStatus] =
          fs.listStatus(p).iterator.flatMap { s =>
            val n = s.getPath.getName
            if (!sparkReads(n) && !summaryName(n)) Nil
            else if (s.isDirectory) files(s.getPath)
            else Iterator(s)
          }
        roots.iterator.flatMap(r => files(r.getPath)).toSeq
      }

    private def footer(f: FileStatus) = {
      val rd = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try rd.getFooter finally rd.close()
    }

    /** The footer row count of each file the reader reads (not a
      * summary file, and not a zero-length file, which the reader skips
      * as holding no row), opened lazily.
      */
    def rowCounts: Iterator[Long] =
      listed.getOrElse(throw new java.io.FileNotFoundException(
          s"Path does not exist: $path")).iterator
        .filter(f => sparkReads(f.getPath.getName) && f.getLen > 0)
        .map(f => footer(f).getBlocks.asScala.map(_.getRowCount).sum)

    /** Whether the reader reads no row, stopping at the first footer
      * that holds one.
      */
    def isEmpty: Boolean = !rowCounts.exists(_ > 0L)

    /** `spark.read.parquet(path)`, its schema taken on the driver from
      * the one footer Spark's own non-merging inference reads when no
      * summary file is listed: the first listed file by path. Spark's
      * partition discovery, which lists on the driver, still appends the
      * partition columns with their inferred types, so the frame's
      * schema is the one inference gives, and no inference job runs. A
      * merging read, a listed [[summaryName]] (inference reads a summary
      * file first), a path that resolves to nothing or a zero-length
      * pick is left to Spark's inference.
      */
    def read: DataFrame = {
      val pick = listed
        .filter(files => !files.exists(f => summaryName(f.getPath.getName)) &&
          !spark.sessionState.conf.isParquetSchemaMergingEnabled)
        .flatMap(_.sortBy(_.getPath.toString).headOption)
        .filter(_.getLen > 0)
      pick.fold(spark.read.parquet(path)) { f =>
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
          new Footer(f.getPath, footer(f)), schemaConverter)).parquet(path)
      }
    }

    // the converter Spark's schema inference builds
    // (ParquetFileFormat.mergeSchemasInParallel): five session confs,
    // the rest at their defaults
    private def schemaConverter = {
      val c = spark.sessionState.conf
      new ParquetToSparkSchemaConverter(
        assumeBinaryIsString = c.isParquetBinaryAsString,
        assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
        inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
        nanosAsLong = c.legacyParquetNanosAsLong,
        respectUnknownTypeAnnotation =
          c.parquetReaderRespectUnknownTypeAnnotation)
    }
  }

  /** The source `spark.read.parquet(path)` reads ([[ParquetSource]]). */
  def parquetSource(spark: SparkSession, path: String): ParquetSource =
    new ParquetSource(spark, path)

  /** Row count from parquet footers only — a driver-side metadata read,
    * no Spark job and no data scan: every parquet file already carries
    * its row count. This is how sketch sizing (e10) gets its capacity
    * estimate: at production scale the number would come from the
    * catalog's export-time stats (e05 records n_rows per table); for a
    * standalone query the footer sum is the same statistic at the same
    * (zero-job) cost. Recursive, so partitioned layouts count too, and
    * it counts exactly the files a reader of `path` reads
    * ([[ParquetSource.rowCounts]]): a crashed write's `_temporary` part
    * files and hidden files are not rows of the table, and a part file
    * is one whatever its name.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long =
    parquetSource(spark, path).rowCounts.sum

  /** Whether `spark.read.parquet(path)` reads no row
    * ([[ParquetSource.isEmpty]]).
    */
  def parquetIsEmpty(spark: SparkSession, path: String): Boolean =
    parquetSource(spark, path).isEmpty

  /** Payload-plane takedown for a purged session ([EXT], r13 — the
    * disk half of BackupCatalog.purgeSession): delete the session's
    * export tree `<destRoot>/<session>/` (the reference layout,
    * export.rb:76) through the checked-rename discipline. The live dir
    * is first RENAMED to `<session>__purging` — one atomic namespace
    * operation, so a reader never lists a half-deleted session — and
    * only the staged dir is deleted recursively. A crash mid-delete
    * leaves `__purging`, which the NEXT invocation resumes deleting
    * (the Compactor.recover discipline, inverted: here the orphan dir
    * is garbage, not truth); a replay with everything already gone is
    * a clean no-op. Returns true if any payload was removed (live or
    * a crashed stage), false for the nothing-to-do replay.
    *
    * Exact names only: a pattern takedown is refused loudly (the
    * purgeSession contract — takedowns are deliberate), as is a name
    * that would escape the session namespace.
    */
  def purgeSessionData(spark: SparkSession, destRoot: String,
                       session: String): Boolean = {
    require(session.nonEmpty && !session.contains("%") &&
      !session.contains("*") && !session.contains("/") &&
      session != "." && session != "..",
      s"--purge-data needs an exact session name, got '$session'")
    val root = if (destRoot.endsWith("/")) destRoot else destRoot + "/"
    val live = new Path(root + session)
    val staged = new Path(root + session + "__purging")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // only the NAMESPACE transition needs the swap lock (stage-clear
    // when a rename target must be freed + the live->__purging
    // rename); the recursive delete of the staged tree runs OUTSIDE
    // it — a large export's takedown must not stall every store swap,
    // crash recovery, and existence probe in the process (r13 ADVICE)
    val (hadLive, hadStaged) =
      graft.engine.Compactor.swapLock.synchronized {
        val hadStaged = fs.exists(staged)
        val hadLive = fs.exists(live)
        if (hadLive) {
          // a crashed earlier purge left a stage AND a new live tree
          // exists: clear the stage FIRST (renaming onto an occupied
          // stage is scheme-dependent; never risk it) — the one delete
          // that must stay under the lock, and only on this rare
          // double-crash path
          if (hadStaged)
            require(fs.delete(staged, true),
              s"cannot delete staged purge dir $staged")
          require(fs.rename(live, staged),
            s"cannot stage $live for deletion")
        }
        (hadLive, hadStaged)
      }
    if (hadLive || hadStaged)
      require(fs.delete(staged, true),
        s"cannot delete staged purge dir $staged")
    hadLive || hadStaged
  }

  /** Read back a saved info payload (round-trip of S8). */
  def readInfo(spark: SparkSession, url: String): String = {
    val path = new Path(url)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    try new String(in.readAllBytes(), "UTF-8")
    finally in.close()
  }
}
