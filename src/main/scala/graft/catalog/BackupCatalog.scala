package graft.catalog

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col
import graft.engine.Compactor.swapLock

/** Parquet-backed backup-metadata catalog — the Spark-native stand-in
  * for the reference's MySQL/SimpleDB store
  * (/root/reference/lib/hbacker/mysql.rb, db.rb.old).
  *
  * Layout: `<root>/sessions`, `<root>/tables`, `<root>/descriptors`,
  * `<root>/purges`, one Parquet append log each, plus `<root>/_staging`
  * for appends in flight, on ANY Hadoop-supported filesystem (every
  * probe goes through the scheme-aware FileSystem API, not java.io).
  * The catalog is metadata-scale (one row per table per run), so each
  * log lives on the driver as a snapshot: its rows plus the names of
  * the committed part files they came from (Spark part-file names are
  * unique, and a file keeps its name until a compaction folds it away).
  * A read lists each log it touches once; an unchanged listing serves
  * the snapshot, and any other listing (an append or compaction by
  * another instance or process) reloads that log whole. Reads are
  * `spark.createDataset(snapshot)` fed to the shared [[CatalogOps]]
  * predicates, so a warm lookup runs no Spark job.
  *
  * Concurrency: an append writes exactly one part file into a private
  * `<root>/_staging/<uuid>` dir with no lock held, then renames it into
  * its log under the instance lock and the JVM-wide
  * [[graft.engine.Compactor.swapLock]] and adds its rows to the
  * snapshot — so a log dir only ever holds complete files, and a
  * concurrent reader can never see a half-written append. The instance
  * lock covers listings, reloads, renames and compactions; append
  * writes run outside it, so concurrent table jobs record in parallel
  * and wait only for each other's renames. Compactions (rare: one per
  * `compactAfterFiles` appends to a log) fold, write and swap under the
  * lock. Across instances and processes the catalog assumes one writer
  * per root.
  *
  * Unlike the reference, which marks a session "ended" when the last
  * job is *enqueued* (export.rb:96 — a real quirk, see SURVEY.md §3.1
  * step 8), [[graft.orchestrate.BackupRunner]] only calls [[endInfo]]
  * after every table job has completed.
  */
final class BackupCatalog(spark: SparkSession, root: String,
                          compactAfterFiles: Int = 64) {
  import spark.implicits._
  import BackupCatalog.inFlight

  private def fs =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One append log's driver-resident snapshot: `rows` are exactly the
    * rows of the part files in `files`. Guarded by the instance lock.
    */
  private final class Log[T](val dir: String)(implicit val enc: Encoder[T]) {
    var files: Set[String] = Set.empty
    var rows: Vector[T] = Vector.empty
  }

  private val sessionsLog = new Log[BackupSession](s"$root/sessions")
  private val tablesLog = new Log[TableRecord](s"$root/tables")
  private val descsLog = new Log[ColumnDescriptor](s"$root/descriptors")
  private val purgesLog = new Log[PurgeRecord](s"$root/purges")
  private val stagingDir = s"$root/_staging"

  private def isCommitted(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  private def committedIn(dir: String): Set[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).iterator.filter(isCommitted)
      .map(_.getPath.getName).toSet
  }

  /** Crash recovery for a compaction swap: if a crash left a log with
    * `<dir>__old` (the previous copy) but no live dir, the old copy is
    * the truth — restore it before the log is read or appended to.
    * Callers hold the JVM-wide swap lock: two catalog INSTANCES on one
    * root would otherwise race a recovery against an in-flight swap.
    */
  private def recoverIfNeeded(dir: String): Unit = {
    val (p, pOld) = (new Path(dir), new Path(dir + "__old"))
    if (!fs.exists(p) && fs.exists(pOld))
      require(fs.rename(pOld, p),
        s"catalog recovery failed: cannot restore $pOld to $p")
  }

  /** The log's rows, brought up to date with its dir by one listing:
    * if the listing differs from the snapshot's files, the listed files
    * are reloaded whole with the log's schema (no inference job). List
    * and reload run under the JVM-wide swap lock, so no swap in this JVM
    * can land between them and the rows always match the listed files.
    * Caller holds the instance lock.
    */
  private def rowsOf[T](log: Log[T]): Vector[T] = swapLock.synchronized {
    recoverIfNeeded(log.dir)
    val listed = committedIn(log.dir)
    if (listed != log.files) {
      log.rows =
        if (listed.isEmpty) Vector.empty
        else spark.read.schema(log.enc.schema)
          .parquet(listed.toSeq.map(n => new Path(log.dir, n).toString): _*)
          .as[T](log.enc).collect().toVector
      log.files = listed
    }
    log.rows
  }

  /** Rows written to a private staging dir as exactly one part file,
    * not yet visible in their log.
    */
  private final class Staged[T](log: Log[T], val dir: String,
                                rows: Seq[T]) {
    private val part: Path = {
      val parts = fs.listStatus(new Path(dir)).filter(isCommitted)
      require(parts.length == 1,
        s"staged append in $dir wrote ${parts.length} part files, not 1")
      parts.head.getPath
    }

    /** Rename the part file into its log and add its rows to the
      * snapshot. Caller holds the instance lock.
      */
    def publish(): Unit = {
      val dst = new Path(log.dir, part.getName)
      swapLock.synchronized {
        recoverIfNeeded(log.dir)
        fs.mkdirs(new Path(log.dir))
        require(fs.rename(part, dst), s"cannot publish $part to $dst")
      }
      log.files += dst.getName
      log.rows ++= rows
    }
  }

  /** A fresh staging dir, registered as in flight until [[unstage]]. */
  private def newStagingDir(): String = {
    val id = UUID.randomUUID().toString
    inFlight.add(id)
    s"$stagingDir/$id"
  }

  private def unstage(dir: String): Unit = {
    val p = new Path(dir)
    if (fs.exists(p)) fs.delete(p, true)
    inFlight.remove(p.getName)
  }

  private def stage[T](log: Log[T], rows: Seq[T]): Staged[T] = {
    val dir = newStagingDir()
    try {
      spark.createDataset(rows)(log.enc).coalesce(1).write.parquet(dir)
      new Staged(log, dir, rows)
    } catch { case e: Throwable => unstage(dir); throw e }
  }

  /** Write each batch to staging with no lock held, then publish them
    * in order under the instance lock.
    */
  private def append(batches: (() => Staged[_])*): Unit = {
    val staged = scala.collection.mutable.ArrayBuffer.empty[Staged[_]]
    try {
      batches.foreach(b => staged += b())
      synchronized { staged.foreach(_.publish()) }
    } finally staged.foreach(s => unstage(s.dir))
  }

  private def fileCount(log: Log[_]): Int = synchronized {
    rowsOf(log); log.files.size
  }

  /** The sessions store is an append-structured log: [[startInfo]] and
    * [[endInfo]] only ever APPEND rows, and this read resolves the log
    * per (mode, session_name) — last writer (greatest ended_at) wins,
    * error flags merge as OR, error_info keeps the latest non-empty.
    * O(1) write per session close at any catalog size; the log is
    * folded back to one row per session by [[compactSessions]] once
    * enough close rows accrue.
    */
  def sessions: Dataset[BackupSession] = spark.createDataset(sessionRows)

  private def sessionRows: Seq[BackupSession] = synchronized {
    val purged = purgedKeys()
    resolveSessions(rowsOf(sessionsLog)
      .filterNot(s => purged((s.mode, s.session_name))))
  }

  private def resolveSessions(rows: Seq[BackupSession]): Seq[BackupSession] =
    rows.groupBy(s => (s.mode, s.session_name)).values.map { g =>
      // the final error_info component makes the pick TOTAL: two closes
      // with identical ended_at/error still resolve identically at any
      // read order (parquet row order is not deterministic)
      val best = g.maxBy(s =>
        (s.ended_at, s.error, s.error_info.nonEmpty, s.error_info))
      best.copy(error = g.exists(_.error),
        error_info = if (best.error_info.nonEmpty) best.error_info
          else g.map(_.error_info).filter(_.nonEmpty).sorted
            .lastOption.getOrElse(""))
    }.toSeq

  def tables: Dataset[TableRecord] = spark.createDataset(tableRows)

  private def tableRows: Seq[TableRecord] = synchronized {
    val purged = purgedKeys()
    rowsOf(tablesLog).filterNot(t => purged((t.mode, t.session_name)))
  }

  def descriptors: Dataset[ColumnDescriptor] =
    spark.createDataset(descriptorRows)

  private def descriptorRows: Seq[ColumnDescriptor] = synchronized {
    // descriptors are export-side rows (only exportedTableInfo writes
    // them), so an export-mode purge is what forgets them
    val purged = purgedKeys()
    rowsOf(descsLog).filterNot(d => purged(("export", d.session_name)))
  }

  /** The purge facts folded to keys — KB-scale (a takedown list). */
  private def purgedKeys(): Set[(String, String)] =
    rowsOf(purgesLog).iterator.map(p => (p.mode, p.session_name)).toSet

  // ---- writes (mysql.rb:143-267) ----

  /** Session start row (mysql.rb:226-239). */
  def startInfo(s: BackupSession): Unit =
    append(() => stage(sessionsLog, Seq(s)))

  /** Session end: a keyed update of (mode, session_name)
    * (mysql.rb:246-267), recorded as an APPENDED close row — the
    * resolved current row with ended_at/error/error_info updated.
    * [[sessions]]' last-writer-wins fold makes the append
    * indistinguishable from an in-place update, and the write cost is
    * one row regardless of catalog size (the old implementation
    * rewrote the whole sessions table per close — O(catalog) writes
    * per session at high session counts). Unknown keys append nothing,
    * matching the old no-op update.
    *
    * Once the log holds more than `compactAfterFiles` part files,
    * [[compactSessions]] folds it back to one row per session so read
    * cost stays bounded; a crash can lose at most the in-flight
    * append or leave the swap mid-rename, which [[recoverIfNeeded]]
    * already restores.
    */
  def endInfo(mode: String, sessionName: String, endedAt: Long,
              error: Boolean = false, errorInfo: String = ""): Unit = {
    val closes = synchronized {
      resolveSessions(rowsOf(sessionsLog))
        .filter(s => s.mode == mode && s.session_name == sessionName)
        .map(s => s.copy(ended_at = endedAt, error = s.error || error,
          error_info = if (errorInfo.nonEmpty) errorInfo else s.error_info))
    }
    if (closes.nonEmpty) append(() => stage(sessionsLog, closes))
    if (fileCount(sessionsLog) > compactAfterFiles) compactSessions()
  }

  /** Replace a log with `fold` of its rows, all under the instance
    * lock: the fold is written to a staging dir, then swapped in by
    * checked renames (dir → __old, staged → dir, drop __old) under the
    * swap lock, so a crash can lose at most the in-flight fold, never
    * the existing catalog (a plain Overwrite deletes-then-writes,
    * leaving a destroyed store dir if killed mid-way — fatal for a
    * catalog whose whole job is surviving crashed runs), and
    * [[recoverIfNeeded]] restores `<dir>__old` if a crash lands between
    * the renames.
    */
  private def compact[T](log: Log[T])(fold: => Seq[T]): Unit = synchronized {
    val folded = fold
    val staged = newStagingDir()
    try {
      spark.createDataset(folded)(log.enc).coalesce(1).write.parquet(staged)
      val written = committedIn(staged)
      val (p, pStaged, pOld) =
        (new Path(log.dir), new Path(staged), new Path(log.dir + "__old"))
      swapLock.synchronized {
        recoverIfNeeded(log.dir)
        if (fs.exists(pOld))
          require(fs.delete(pOld, true), s"cannot clear $pOld")
        if (fs.exists(p))
          require(fs.rename(p, pOld), s"cannot stage $p to $pOld")
        if (!fs.rename(pStaged, p)) {
          // roll back so the catalog is never left without a live dir
          if (fs.exists(pOld)) fs.rename(pOld, p)
          throw new IllegalStateException(s"cannot swap $pStaged into $p")
        }
        fs.delete(pOld, true) // old copy only removed after a full swap
      }
      log.files = written
      log.rows = folded.toVector
    } finally unstage(staged)
  }

  /** Purge a session — the takedown path the append-only logs
    * otherwise lack (the tombstone discipline of the EXT stores on
    * the metadata plane): appends a (mode, session_name) purge FACT;
    * [[sessions]]/[[tables]]/[[descriptors]] anti-join it immediately
    * (every derived read — session info, table listings, watermarks,
    * incremental planning — forgets the session in the same call),
    * and the threshold compactions drop the dead rows physically.
    * At-least-once replays append duplicate facts, harmless (reads
    * fold to keys). Purging a session the catalog has never seen is
    * a typo, refused loudly — EXCEPT when a purge fact already exists
    * (the replay-after-compaction case, where the rows are already
    * physically gone).
    */
  def purgeSession(mode: String, sessionName: String,
                   purgedAt: Long): Unit = {
    val known = synchronized {
      rowsOf(sessionsLog)
        .exists(s => s.mode == mode && s.session_name == sessionName) ||
        purgedKeys()((mode, sessionName))
    }
    require(known, s"no $mode session '$sessionName' in the catalog to purge")
    append(() => stage(purgesLog, Seq(PurgeRecord(mode, sessionName,
      purgedAt))))
    if (fileCount(purgesLog) > compactAfterFiles) compactPurges()
  }

  /** Run every threshold compaction NOW — the ops hook that makes a
    * purge PHYSICAL without waiting for the file-count thresholds
    * (the folds already read through the purge filter, so purged
    * rows are dropped from the rewritten logs) — and clear the staging
    * dirs a crashed append or fold left behind (any not in flight in
    * this JVM).
    */
  def compactAll(): Unit = {
    compactSessions(); compactTables(); compactDescriptors()
    compactPurges()
    val staging = new Path(stagingDir)
    if (fs.exists(staging))
      fs.listStatus(staging).map(_.getPath)
        .filterNot(p => inFlight.contains(p.getName))
        .foreach(p => fs.delete(p, true))
  }

  /** Fold the sessions log back to one row per session (purged
    * sessions drop out — the folds read through the purge filter). */
  private def compactSessions(): Unit =
    compact(sessionsLog)(sessionRows)

  /** Fold the tables/descriptors logs to one part file each, dropping
    * the bit-identical duplicate rows a retried record op can append
    * (the keyed dedup [[columnDescriptorRows]] does at read, applied
    * once at rest). Unlike sessions there is no LWW resolution —
    * table records are immutable facts — so the fold is distinct +
    * coalesce; the win is small-file accretion: without it a
    * high-session-count catalog accretes one part-file set per
    * recorded table forever.
    */
  private def compactTables(): Unit =
    compact(tablesLog)(tableRows.distinct)

  private def compactDescriptors(): Unit =
    compact(descsLog)(descriptorRows.distinct)

  /** Fold the purge log to one row per (mode, session_name) — unlike
    * the other three logs it previously grew one small file per
    * takedown forever, and every catalog read ([[purgedKeys]]) re-reads
    * them all. The kept `purged_at` is the EARLIEST (the first takedown
    * is the fact of record; replays only re-assert it). The fold never
    * drops a key, so a purged session stays purged across any number of
    * compactions. No-op when no purge fact has ever landed — compaction
    * must not conjure an empty store dir.
    */
  private def compactPurges(): Unit =
    if (fileCount(purgesLog) > 0)
      compact(purgesLog) {
        rowsOf(purgesLog).groupBy(p => (p.mode, p.session_name)).values
          .map(g => g.minBy(_.purged_at)).toSeq
          .sortBy(p => (p.mode, p.session_name))
      }

  /** Per-table record, export side (mysql.rb:154-190). Descriptors
    * land FIRST and the table row — the row `exists()` and every
    * count/watermark read key on — last: a retried record op (after a
    * failure between the two appends) can then only duplicate
    * descriptor rows, which [[columnDescriptorRows]] dedupes on read,
    * never the keyed table record.
    */
  def exportedTableInfo(t: TableRecord, descs: Seq[ColumnDescriptor]): Unit = {
    require(t.mode == "export", s"mode=${t.mode}")
    val descBatch: Seq[() => Staged[_]] =
      if (descs.isEmpty) Nil else Seq(() => stage(descsLog, descs))
    append(descBatch :+ (() => stage(tablesLog, Seq(t))): _*)
    compactIfAccreted()
  }

  /** Per-table record, import side (mysql.rb:200-215). */
  def importedTableInfo(t: TableRecord): Unit = {
    require(t.mode == "import", s"mode=${t.mode}")
    append(() => stage(tablesLog, Seq(t)))
    compactIfAccreted()
  }

  /** Threshold compaction for the append-only record logs — the same
    * upkeep [[endInfo]] runs for sessions, so tables/descriptors reads
    * stay bounded at high session counts instead of listing one
    * part-file set per recorded table forever.
    */
  private def compactIfAccreted(): Unit = {
    if (fileCount(tablesLog) > compactAfterFiles) compactTables()
    if (fileCount(descsLog) > compactAfterFiles) compactDescriptors()
  }

  // ---- reads: delegate to the shared CatalogOps logic ----

  def sessionInfo(mode: String, pattern: String): DataFrame =
    CatalogOps.sessionInfo(sessions.toDF(), mode, pattern)

  def sessionStarted(mode: String, cluster: String, sessionName: String,
                     destRoot: String): Boolean =
    !CatalogOps.sessionStarted(sessions.toDF(), mode, cluster,
      sessionName, destRoot).limit(1).isEmpty

  def listTableInfo(mode: String, sessionName: String,
                    tablePattern: String): DataFrame =
    CatalogOps.listTableInfo(tables.toDF(), mode, sessionName, tablePattern)

  def tableNames(mode: String, sessionPattern: String,
                 destRoot: String): Seq[String] =
    CatalogOps.tableNames(tables.toDF(), sessions.toDF(), mode,
      sessionPattern, destRoot).as[String].collect().toSeq.sorted

  def exists(mode: String, tableName: String, sessionName: String): Boolean =
    CatalogOps.exists(tables.toDF(), mode, tableName, sessionName)

  def columnDescriptorRows(sessionName: String,
                           tableName: String): Seq[ColumnDescriptor] =
    // distinct: a retried exportedTableInfo can legitimately re-append
    // descriptor rows (see its doc) — identical duplicates, dropped here
    descriptorRows.filter(d => d.session_name == sessionName &&
      d.table_name == tableName).distinct.sortBy(_.ordinal)

  def lastEndTime(mode: String, tableName: String): Long = {
    val rows = CatalogOps.lastEndTimes(tables.toDF(), mode)
      .filter(col("table_name") === tableName)
      .collect()
    if (rows.isEmpty) 0L else rows(0).getAs[Long]("last_end")
  }
}

object BackupCatalog {
  /** Staging dir names (UUIDs) of the appends and folds in flight in
    * this JVM — the ones [[BackupCatalog.compactAll]] must not clear.
    */
  private val inFlight = ConcurrentHashMap.newKeySet[String]()
}
