package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

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

  /** S5 — `table_has_rows?` (hbase.rb:64-68): limit-1 probe;
    * LocalLimit(1) short-circuits the scan.
    */
  def tableHasRows(df: DataFrame): Boolean = !df.limit(1).isEmpty

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

  /** Row count from parquet footers only — a driver-side metadata read,
    * no Spark job and no data scan: every parquet file already carries
    * its row count. This is how sketch sizing (e10) gets its capacity
    * estimate: at production scale the number would come from the
    * catalog's export-time stats (e05 records n_rows per table); for a
    * standalone query the footer sum is the same statistic at the same
    * (zero-job) cost. Recursive, so partitioned layouts count too.
    */
  def parquetRowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    var total = 0L
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(f.getPath, conf))
        try total += rd.getRecordCount
        finally rd.close()
      }
    }
    total
  }

  /** Payload-plane takedown for a purged session ([EXT], r13 — the
    * disk half of BackupCatalog.purgeSession): delete the session's
    * export tree `<destRoot>/<session>/` (the reference layout,
    * export.rb:76) through the checked-rename discipline. The live dir
    * is first RENAMED to `<session>__purging` — one atomic namespace
    * operation, so a reader never lists a half-deleted session — and
    * only the staged dir is deleted recursively. A crash mid-delete
    * leaves `__purging`, which the NEXT invocation resumes deleting
    * (the recoverIfSwapped discipline, inverted: here the orphan dir
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
