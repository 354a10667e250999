package graft.engine

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for export destinations.
  *
  * A long-running incremental backup pipeline (the reference re-exports
  * each table's new window per session — export.rb:145-169) accretes
  * one file set per session; at 100 TB / thousands of sessions the
  * destination degenerates into millions of KB-sized files, and every
  * restore or analytic scan pays file-listing + per-file open cost that
  * dwarfs the actual IO. Compaction rewrites a destination directory
  * into ~targetBytes-sized files, preserving rows, schema, Hive
  * partition layout, and sidecar files.
  *
  * Scale design:
  *  - sizing is metadata-only (FileSystem.listStatus byte sums + parquet
  *    footer row counts) — zero Spark jobs before the decision, so a
  *    fleet-wide "compact if beneficial" sweep over thousands of tables
  *    is cheap;
  *  - the rewrite is a narrow `coalesce` (no shuffle) reading the very
  *    row groups it replaces;
  *  - partitioned layouts compact each leaf partition independently —
  *    the unit of rewrite (and of failure) is one partition, never the
  *    table;
  *  - the swap is the catalog's checked-rename protocol (dir → __old,
  *    tmp → dir, drop __old): a crash can leave a stale __old copy but
  *    never a half-written destination, and `recover` restores a
  *    destination whose swap died between the renames;
  *  - a footer-count integrity gate (rows after == rows before) aborts
  *    the swap rather than publishing a lossy rewrite.
  *
  * Parquet-only by design: the footer row count is what makes the
  * integrity gate and the sizing decision free; text formats would need
  * a full scan to know either.
  */
object Compactor {

  final case class Report(dir: String, filesBefore: Int, filesAfter: Int,
                          bytes: Long, rows: Long, compacted: Boolean)

  private[graft] def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def dataFiles(f: FileSystem, dir: Path) =
    f.listStatus(dir).filter(DirSnapshot.isCommitted)

  private def partitionDirs(f: FileSystem, dir: Path): Seq[Path] =
    f.listStatus(dir).filter(s => s.isDirectory &&
      s.getPath.getName.contains("=")).map(_.getPath).toSeq

  /** Crash recovery: a swap that died after staging leaves
    * `<dir>__old` with no `<dir>` — the old copy is the truth. Runs
    * under [[swapLock]], so it never mistakes a live swap for a crash.
    * Returns whether `dir` exists after it.
    */
  def recover(spark: SparkSession, dir: String): Boolean =
    swapLock.synchronized { restoreOld(fs(spark, dir), dir) }

  /** [[recover]]'s restore, for callers already holding [[swapLock]]. */
  private[graft] def restoreOld(f: FileSystem, dir: String): Boolean = {
    val (p, pOld) = (new Path(dir), new Path(dir + "__old"))
    f.exists(p) || f.exists(pOld) && {
      require(f.rename(pOld, p),
        s"recovery failed: cannot restore $pOld to $p")
      true
    }
  }

  /** Compact one directory (recursing into Hive partition dirs) to
    * ~targetBytes files. No-ops (and says so in the report) when the
    * directory already has few enough files.
    */
  def compact(spark: SparkSession, dir: String,
              targetBytes: Long = 512L << 20,
              zorderCols: Seq[String] = Nil): Report = {
    recover(spark, dir)
    val f = fs(spark, dir)
    val root = new Path(dir)
    val parts = partitionDirs(f, root)
    if (parts.nonEmpty) {
      // leaf-partition recursion: each partition is its own rewrite
      // unit; the layout (and partition pruning on restore) survives
      val reports =
        parts.map(p => compact(spark, p.toString, targetBytes, zorderCols))
      return Report(dir, reports.map(_.filesBefore).sum,
        reports.map(_.filesAfter).sum, reports.map(_.bytes).sum,
        reports.map(_.rows).sum, reports.exists(_.compacted))
    }

    val files = dataFiles(f, root)
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    // nothing to rewrite: no files means no rows to cluster either —
    // a zorder request on an empty dir is a no-op, not a crash
    if (files.isEmpty)
      return Report(dir, 0, 0, 0L, 0L, compacted = false)
    // a z-order request is a RE-LAYOUT: it must rewrite even when the
    // file count is already at target (the point is clustering, not
    // merging)
    if (files.length <= nOut && zorderCols.isEmpty)
      return Report(dir, files.length, files.length, bytes,
        TableOps.parquetRowCount(spark, dir), compacted = false)

    val rowsBefore = TableOps.parquetRowCount(spark, dir)
    val tmp = dir + "__compact_tmp"
    f.delete(new Path(tmp), true)
    val src = spark.read.parquet(dir)
    val rewritten =
      if (zorderCols.nonEmpty) Layout.zorderBy(src, zorderCols, nOut)
      else src.coalesce(nOut)
    rewritten.write.mode("overwrite").parquet(tmp)

    val rowsAfter = TableOps.parquetRowCount(spark, tmp)
    if (rowsAfter != rowsBefore) {
      f.delete(new Path(tmp), true)
      throw new IllegalStateException(
        s"compaction of $dir dropped rows ($rowsBefore -> $rowsAfter); aborted")
    }
    swapInto(f, dir, tmp)
    val after = dataFiles(f, root)
    Report(dir, files.length, after.length, after.map(_.getLen).sum,
      rowsAfter, compacted = true)
  }

  /** JVM-wide lock serializing every checked-rename swap against every
    * crash recovery ([[recover]], [[DirSnapshot]]): without it, a
    * reader thread probing between [[swapInto]]'s two renames sees
    * "root missing, __old present" — the crashed-swap signature — and
    * renames `__old` BACK, making the live swap's tmp→root rename fail
    * AND its rollback fail (root re-occupied), aborting a healthy
    * rebuild. One JVM-wide object is enough in-process because every
    * swap and every recovery path takes it; ACROSS processes the
    * stores assume a single writer (the catalog's own single-instance
    * discipline) — two JVMs rebuilding or recovering the same store
    * path concurrently are out of contract.
    */
  private[graft] val swapLock = new Object

  /** Carry sidecars into the rewrite, then publish it over `dir` via
    * the checked-rename [[swap]], under the cross-process writer lease.
    */
  private[graft] def swapInto(f: FileSystem, dir: String,
                              tmp: String): Unit =
    // the cross-process writer lease wraps the in-process swap lock
    // (lease outer, swapLock inner — everywhere, so no lock-order
    // inversion); reentrant, so a rebuild that already leased the
    // store publishes through here without re-acquiring
    StoreLease.withLease(f, dir) { swapLock.synchronized {
    val (p, pTmp) = (new Path(dir), new Path(tmp))
    // sidecars (_export_info.log etc.) move into the rewrite before the
    // swap so the published dir keeps its provenance; the rewrite's own
    // _SUCCESS already exists in tmp
    f.listStatus(p).filter { s =>
      val n = s.getPath.getName
      s.isFile && n.startsWith("_") && n != "_SUCCESS"
    }.foreach { s =>
      require(f.rename(s.getPath, new Path(pTmp, s.getPath.getName)),
        s"cannot carry sidecar ${s.getPath} into the compacted dir")
    }
    swap(f, dir, tmp) } }

  /** The checked-rename swap that publishes `tmp` as `dir`, under
    * [[swapLock]]: dir → `__old`, tmp → dir, drop `__old`. A crash can
    * leave `__old` with no dir, which [[recover]] restores, but never a
    * half-written dir; a failed second rename rolls the first back. A
    * `dir` that does not exist yet is simply created.
    */
  private[graft] def swap(f: FileSystem, dir: String,
                          tmp: String): Unit = swapLock.synchronized {
    val (p, pTmp, pOld) = (new Path(dir), new Path(tmp), new Path(dir + "__old"))
    if (f.exists(pOld)) require(f.delete(pOld, true), s"cannot clear $pOld")
    if (f.exists(p)) require(f.rename(p, pOld), s"cannot stage $p to $pOld")
    if (!f.rename(pTmp, p)) {
      // roll back: never leave the dest missing
      if (f.exists(pOld)) f.rename(pOld, p)
      throw new IllegalStateException(s"cannot swap $pTmp into $p")
    }
    f.delete(pOld, true)
    ()
  }

  final case class MajorReport(dir: String, rowsBefore: Long,
                               rowsAfter: Long, files: Int)

  /** HBase major compaction over a file-based restore target: imports
    * are additive (Hadoop Import appends cells — Importer.scala's
    * Append mode mirrors that), so a target restored from several
    * sessions accumulates every version of every key. Major compaction
    * enforces the column-family contract the catalog already records
    * (ColumnDescriptor.max_versions / ttl, mysql.rb:75-102 — HBase
    * drops beyond-maxVersions and TTL-expired cells when it rewrites
    * an HFile): keep the newest `maxVersions` rows per key, drop rows
    * older than the TTL, publish atomically.
    *
    * Scale: one hash shuffle on the key columns (the ranking window of
    * Exporter.versionCap — same skew bounds as a capped export), then
    * a sized write. The unit of rewrite is the table dir; at 100 TB
    * run it per partition dir like `compact` does.
    */
  def majorCompact(spark: SparkSession, dir: String, keyCols: Seq[String],
                   tsCol: String, tieBreakCols: Seq[String] = Nil,
                   maxVersions: Int = Int.MaxValue, ttlMs: Long = 0L,
                   nowMs: Long = 0L,
                   targetBytes: Long = 512L << 20): MajorReport = {
    require(keyCols.nonEmpty, "major compaction needs the row key columns")
    recover(spark, dir)
    val f = fs(spark, dir)
    val rowsBefore = TableOps.parquetRowCount(spark, dir)
    val bytes = dataFiles(f, new Path(dir)).map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

    val df = spark.read.parquet(dir)
    // HBase expiry is `now - ts >= ttl` (strict survival: ts > now-ttl).
    // Integral ts columns are epoch millis and compare as such — a
    // cast("timestamp") would reinterpret them as SECONDS.
    val alive =
      if (ttlMs > 0L) {
        import org.apache.spark.sql.types.{IntegerType, LongType}
        val cutoff = nowMs - ttlMs
        df.schema(tsCol).dataType match {
          case LongType | IntegerType => df.filter(col(tsCol) > lit(cutoff))
          case _ => df.filter(col(tsCol).cast("timestamp") >
            timestamp_millis(lit(cutoff)))
        }
      } else df
    val kept = Exporter.versionCap(alive, keyCols, tsCol, tieBreakCols,
      maxVersions)
    val tmp = dir + "__compact_tmp"
    f.delete(new Path(tmp), true)
    kept.coalesce(nOut).write.mode("overwrite").parquet(tmp)
    val rowsAfter = TableOps.parquetRowCount(spark, tmp)
    swapInto(f, dir, tmp)
    MajorReport(dir, rowsBefore, rowsAfter,
      dataFiles(f, new Path(dir)).length)
  }
}
