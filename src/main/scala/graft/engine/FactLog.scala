package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** An append-only fact log, the state of the backup catalog and of the
  * vector, BM25 and signature stores: one parquet dir of facts that are
  * only appended, folded at read (a replay is bit-identical, so a
  * distinct drops it), taken back by a tombstone log and compacted by a
  * checked-rename rewrite.
  *
  * A log is its dir, its encoder (the read schema every read passes, so
  * none runs a schema-inference job), the encoder its driver-written
  * parts carry (the read schema with the nullability of the Spark write
  * a part replaces, so the footers match) and its root: the dir itself
  * or an ancestor of it, the dir a whole-store swap replaces, under
  * whose `_staging` appends are written. Every operation first restores
  * a crashed swap of the root and of the dir, and the log is the only
  * layer that does: its [[DirSnapshot]] and staged appends only take
  * [[Compactor.swapLock]]. Its rows are held on the driver in a
  * [[DirSnapshot]]: the log's own, or the one this JVM shares for the
  * dir ([[FactLog.rows]]), which `snapshot` creates and `ifHeld` only
  * looks up.
  */
final class FactLog[T] private (
    val dir: String, val root: String, written: Encoder[T],
    snapshot: SparkSession => DirSnapshot[T],
    private val ifHeld: SparkSession => Option[DirSnapshot[T]])(
    implicit val enc: Encoder[T]) {
  require(dir == root || dir.startsWith(root + "/"),
    s"fact log $dir is not under its root $root")

  private def fs(spark: SparkSession) = Compactor.fs(spark, dir)

  /** Restore a crashed swap of the root, then of the dir (a [[rewrite]]
    * that died between its renames); whether the dir exists. A warm
    * call makes one probe: the root holds the dir, so a dir that exists
    * has no crashed root swap to restore.
    */
  private def recovered(spark: SparkSession): Boolean = {
    val f = fs(spark)
    f.exists(new Path(dir)) || Compactor.swapLock.synchronized {
      (root == dir || Compactor.restoreOld(f, root)) &&
        Compactor.restoreOld(f, dir)
    }
  }

  /** The raw facts, replays included; a dir never written is an empty
    * frame of the read schema.
    */
  def scan(spark: SparkSession): DataFrame =
    if (recovered(spark)) spark.read.schema(enc.schema).parquet(dir)
    else spark.createDataFrame(java.util.List.of[Row](), enc.schema)

  /** The raw facts from the held snapshot after one listing, or None
    * while the dir holds more than its bound.
    */
  def held(spark: SparkSession): Option[Vector[T]] = {
    recovered(spark)
    snapshot(spark).bounded(spark)
  }

  /** The number of committed part files, after one listing. */
  def fileCount(spark: SparkSession): Int = {
    recovered(spark)
    snapshot(spark).fileCount(spark)
  }

  /** `rows` written by the driver as one part file under the root's
    * `_staging`: publishing renames it in and commits the rows into the
    * held snapshot. The root is recovered first, so staging never
    * creates a root that a crashed swap's `__old` still holds.
    */
  def stage(spark: SparkSession, rows: Seq[T]): FactLog.Staged[T] = {
    recovered(spark)
    val s = DriverParquet.newStagingDir(root)
    try new FactLog.Staged(spark, this, s,
      DriverParquet.writePart(spark, s, rows)(written), rows)
    catch { case e: Throwable => DriverParquet.unstage(spark, s); throw e }
  }

  /** Append `rows` as one part file ([[stage]]d, then published): no
    * Spark job, and the next read of the held snapshot reloads nothing.
    */
  def append(spark: SparkSession, rows: Seq[T]): Unit = {
    val s = stage(spark, rows)
    try s.publish() finally s.discard()
  }

  /** The live facts: replays folded and the facts whose id (the first
    * column of `tombstones`) is tombstoned removed.
    */
  def live(spark: SparkSession, tombstones: FactLog[Row]): DataFrame = {
    val key = tombstones.enc.schema.fieldNames.head
    scan(spark).join(tombstones.scan(spark).select(col(key)), Seq(key),
      "left_anti").distinct()
  }

  /** Replace the log with what `write(tmp, nOut)` writes to
    * `<dir>__compact_tmp`, `nOut` sizing the files to about
    * `targetBytes` from the committed data files' bytes, published by
    * the checked-rename [[Compactor.swap]]; the next operation restores
    * a crash between its renames. The stages a crashed append left
    * under the root are removed.
    */
  def rewrite(spark: SparkSession, targetBytes: Long = 512L << 20)(
      write: (String, Int) => Unit): Unit = {
    require(recovered(spark), s"no fact log at $dir")
    val bytes = dataFiles(spark).map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    swapIn(spark, write(_, nOut), None)
  }

  /** The rows in the data files' footers and the number of data files:
    * what a compaction reports before and after its [[rewrite]].
    */
  def footprint(spark: SparkSession): (Long, Int) =
    if (!recovered(spark)) (0L, 0)
    else (TableOps.parquetRowCount(spark, dir), dataFiles(spark).length)

  private def dataFiles(spark: SparkSession) =
    fs(spark).listStatus(new Path(dir)).filter(DirSnapshot.isCommitted)

  /** Remove the stages a crashed append left under the root. */
  def clearStaging(spark: SparkSession): Unit =
    DriverParquet.clearStaging(spark, root)

  /** [[rewrite]] to exactly `rows`, written by the driver as one part
    * file and committed into the held snapshot (no Spark job). A log
    * never written is created.
    */
  def rewrite(spark: SparkSession, rows: Seq[T]): Unit = {
    recovered(spark)
    swapIn(spark, DriverParquet.writePart(spark, _, rows)(written), Some(rows))
  }

  private def swapIn(spark: SparkSession, write: String => Unit,
                     rows: Option[Seq[T]]): Unit = {
    val (f, tmp) = (fs(spark), dir + "__compact_tmp")
    clearStaging(spark)
    f.delete(new Path(tmp), true) // a crashed rewrite's stage
    try {
      write(tmp)
      def swap(): Unit = Compactor.swap(f, dir, tmp)
      rows.zip(ifHeld(spark)) match {
        case Some((r, s)) => s.replace(DirSnapshot.committed(f, tmp), r)(swap())
        case None => swap()
      }
    } finally f.delete(new Path(tmp), true)
  }
}

object FactLog {

  /** `rows` staged by [[FactLog.stage]], not yet in the log.
    * [[publish]] renames the part into the log under
    * [[Compactor.swapLock]] and commits its rows into the log's held
    * snapshot, if there is one; [[discard]] removes the staging dir
    * either way.
    */
  final class Staged[T] private[FactLog] (spark: SparkSession,
      log: FactLog[T], stagingDir: String, part: Path, rows: Seq[T]) {
    def publish(): Unit = {
      val (f, dir) = (log.fs(spark), log.dir)
      def move(): Unit = {
        f.mkdirs(new Path(dir))
        require(f.rename(part, new Path(dir, part.getName)),
          s"cannot append $part to $dir")
      }
      log.ifHeld(spark) match {
        case Some(s) => s.commit(part.getName, rows)(move())
        case None => Compactor.swapLock.synchronized(move())
      }
    }

    def discard(): Unit = DriverParquet.unstage(spark, stagingDir)
  }

  /** A log of `T` facts, written as read, holding its own snapshot. */
  def apply[T](dir: String, root: String)(implicit enc: Encoder[T])
      : FactLog[T] = {
    val own = new DirSnapshot[T](dir)
    new FactLog[T](dir, root, enc, _ => own, _ => Some(own))
  }

  /** A store log of `schema` rows written with `written`, held in this
    * JVM's shared snapshot of the dir ([[DirSnapshot.shared]]) up to
    * `maxRows` rows; every caller of one dir passes the same bound.
    */
  def rows(dir: String, root: String, schema: StructType,
           written: StructType, maxRows: Int = Int.MaxValue): FactLog[Row] =
    new FactLog[Row](dir, root, Encoders.row(written),
      DirSnapshot.shared(_, dir, schema, maxRows),
      DirSnapshot.held(_, dir))(Encoders.row(schema))

  /** A tombstone log of (`key`, deleted_at) facts ([[tombstoneSchema]]). */
  def tombstones(dir: String, root: String, key: String,
                 maxRows: Int = Int.MaxValue): FactLog[Row] =
    rows(dir, root, tombstoneSchema(key),
      tombstoneSchema(key, written = true), maxRows)

  /** The tombstone schema keyed by `key`: read nullable, `written` NOT
    * NULL, as the Spark write of a driver list of ids carries it.
    */
  def tombstoneSchema(key: String, written: Boolean = false): StructType = {
    val nn = if (written) " NOT NULL" else ""
    StructType.fromDDL(s"$key BIGINT$nn, deleted_at BIGINT$nn")
  }

  /** The non-null ids in the first column of held rows. */
  def ids(rows: Seq[Row]): Set[Long] =
    rows.iterator.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSet
}
