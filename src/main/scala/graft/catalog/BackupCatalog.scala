package graft.catalog

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.engine.FactLog

/** Parquet-backed backup-metadata catalog — the Spark-native stand-in
  * for the reference's MySQL/SimpleDB store
  * (/root/reference/lib/hbacker/mysql.rb, db.rb.old).
  *
  * Layout: `<root>/sessions`, `<root>/tables`, `<root>/descriptors`,
  * `<root>/purges`, one Parquet append log each, plus `<root>/_staging`
  * for appends in flight, on ANY Hadoop-supported filesystem (every
  * probe goes through the scheme-aware FileSystem API, not java.io).
  * Each log is a [[graft.engine.FactLog]]: appended facts, folded at
  * read, purged by purge facts, compacted by a log rewrite. The
  * catalog is metadata-scale (one row per table per run), so each log
  * is held on the driver in the instance's own snapshot: its rows plus
  * the names of the committed part files they came from. A read
  * lists each log it touches once; an unchanged listing serves the
  * snapshot, and any other listing (an append or compaction by another
  * instance or process) reloads that log whole. The DataFrame reads
  * are `spark.createDataset(snapshot)` fed to the shared [[CatalogOps]]
  * predicates; the lookups a table job makes ([[exists]],
  * [[sessionStarted]], [[tableNames]], [[lastEndTimes]]) apply the
  * same predicates to the snapshot rows in Scala. So a warm read runs
  * no Spark job.
  *
  * Concurrency: an append is staged by the driver with no lock held
  * ([[graft.engine.FactLog.stage]]: one part file under
  * `<root>/_staging`, no Spark job) and published under the instance
  * lock, so concurrent table jobs record in parallel and wait only for
  * each other's renames. The instance lock covers listings, reloads,
  * renames and compactions: a compaction (one per `compactAfterFiles`
  * appends to a log) folds, writes and swaps under it
  * ([[graft.engine.FactLog.rewrite]]). Across instances and processes
  * the catalog assumes one writer per root.
  *
  * Unlike the reference, which marks a session "ended" when the last
  * job is *enqueued* (export.rb:96 — a real quirk, see SURVEY.md §3.1
  * step 8), [[graft.orchestrate.BackupRunner]] only calls [[endInfo]]
  * after every table job has completed.
  */
final class BackupCatalog(spark: SparkSession, root: String,
                          compactAfterFiles: Int = 64) {
  import spark.implicits._

  // the four append logs; each restores a compaction swap's `__old`
  // copy before any read or append of it
  private val sessionsLog = FactLog[BackupSession](s"$root/sessions", root)
  private val tablesLog = FactLog[TableRecord](s"$root/tables", root)
  private val descsLog = FactLog[ColumnDescriptor](s"$root/descriptors", root)
  private val purgesLog = FactLog[PurgeRecord](s"$root/purges", root)

  private def rowsOf[T](log: FactLog[T]): Vector[T] = log.held(spark).get

  /** Write each batch to staging with no lock held, then publish them
    * in order under the instance lock.
    */
  private def append(batches: (() => FactLog.Staged[_])*): Unit = {
    val staged =
      scala.collection.mutable.ArrayBuffer.empty[FactLog.Staged[_]]
    try {
      batches.foreach(b => staged += b())
      synchronized { staged.foreach(_.publish()) }
    } finally staged.foreach(_.discard())
  }

  private def fileCount(log: FactLog[_]): Int = synchronized {
    log.fileCount(spark)
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
    append(() => sessionsLog.stage(spark, Seq(s)))

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
    * append or leave the swap mid-rename, whose `__old` copy the
    * log's snapshot restores before its next read.
    */
  def endInfo(mode: String, sessionName: String, endedAt: Long,
              error: Boolean = false, errorInfo: String = ""): Unit = {
    val closes = synchronized {
      resolveSessions(rowsOf(sessionsLog))
        .filter(s => s.mode == mode && s.session_name == sessionName)
        .map(s => s.copy(ended_at = endedAt, error = s.error || error,
          error_info = if (errorInfo.nonEmpty) errorInfo else s.error_info))
    }
    if (closes.nonEmpty) append(() => sessionsLog.stage(spark, closes))
    if (fileCount(sessionsLog) > compactAfterFiles) compactSessions()
  }

  /** Replace a log with `fold` of its rows, all under the instance
    * lock: the fold is written by the driver as one part file, as an
    * append is, and swapped in by the checked-rename swap
    * ([[graft.engine.FactLog.rewrite]]), so a crash can lose at most the
    * in-flight fold, never the existing catalog (a plain Overwrite
    * deletes-then-writes, leaving a destroyed store dir if killed
    * mid-way — fatal for a catalog whose whole job is surviving crashed
    * runs), and the log restores `<dir>__old` if a crash lands between
    * the renames. The rewrite also clears the staging dirs a crashed
    * append left.
    */
  private def compact[T](log: FactLog[T])(fold: => Seq[T]): Unit =
    synchronized { log.rewrite(spark, fold) }

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
    append(() => purgesLog.stage(spark, Seq(PurgeRecord(mode, sessionName,
      purgedAt))))
    if (fileCount(purgesLog) > compactAfterFiles) compactPurges()
  }

  /** Run every threshold compaction NOW — the ops hook that makes a
    * purge PHYSICAL without waiting for the file-count thresholds
    * (the folds already read through the purge filter, so purged
    * rows are dropped from the rewritten logs) — which also clears the
    * staging dirs a crashed append left behind (any not in flight in
    * this JVM).
    */
  def compactAll(): Unit = {
    compactSessions(); compactTables(); compactDescriptors()
    compactPurges()
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
    val descBatch: Seq[() => FactLog.Staged[_]] =
      if (descs.isEmpty) Nil else Seq(() => descsLog.stage(spark, descs))
    append(descBatch :+ (() => tablesLog.stage(spark, Seq(t))): _*)
    compactIfAccreted()
  }

  /** Per-table record, import side (mysql.rb:200-215). */
  def importedTableInfo(t: TableRecord): Unit = {
    require(t.mode == "import", s"mode=${t.mode}")
    append(() => tablesLog.stage(spark, Seq(t)))
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

  // The lookups below answer from the snapshot rows in Scala, with the
  // same predicates as their CatalogOps forms, so they run no Spark job.

  def sessionStarted(mode: String, cluster: String, sessionName: String,
                     destRoot: String): Boolean =
    sessionRows.exists(s => s.mode == mode && s.cluster_name == cluster &&
      s.session_name == sessionName && s.dest_root == destRoot)

  def listTableInfo(mode: String, sessionName: String,
                    tablePattern: String): DataFrame =
    CatalogOps.listTableInfo(tables.toDF(), mode, sessionName, tablePattern)

  /** [[CatalogOps.tableNames]]: the table names recorded under the
    * sessions matching `sessionPattern` whose session row has
    * `dest_root == destRoot`, sorted.
    */
  def tableNames(mode: String, sessionPattern: String,
                 destRoot: String): Seq[String] = {
    val inRoot = sessionRows.iterator.filter(_.dest_root == destRoot)
      .map(s => (s.mode, s.session_name)).toSet
    val matches = CatalogOps.nameMatcher(sessionPattern)
    tableRows.iterator
      .filter(t => t.mode == mode && matches(t.session_name) &&
        inRoot((t.mode, t.session_name)))
      .map(_.table_name).toSeq.distinct.sorted
  }

  def exists(mode: String, tableName: String, sessionName: String): Boolean =
    tableRows.exists(t => t.mode == mode && t.table_name == tableName &&
      t.session_name == sessionName)

  def columnDescriptorRows(sessionName: String,
                           tableName: String): Seq[ColumnDescriptor] =
    // distinct: a retried exportedTableInfo can legitimately re-append
    // descriptor rows (see its doc) — identical duplicates, dropped here
    descriptorRows.filter(d => d.session_name == sessionName &&
      d.table_name == tableName).distinct.sortBy(_.ordinal)

  /** [[CatalogOps.lastEndTimes]] as a map, by its fold
    * ([[CatalogOps.lastEndTimesOf]]): each table's greatest recorded
    * `end_time` over its non-error rows of `mode`.
    */
  def lastEndTimes(mode: String): Map[String, Long] =
    CatalogOps.lastEndTimesOf(tableRows.iterator.map(t =>
      (t.mode, t.error, t.table_name, t.end_time)), mode).toMap

  def lastEndTime(mode: String, tableName: String): Long =
    lastEndTimes(mode).getOrElse(tableName, 0L)
}
