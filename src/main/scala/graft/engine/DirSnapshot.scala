package graft.engine

import graft.plans.DriverFold
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** A driver-resident snapshot of one metadata-scale parquet dir: its
  * rows plus the names of the committed part files they came from.
  * Spark part-file names are unique, and a file keeps its name until a
  * rewrite replaces it, so the set of names says whether the dir
  * changed.
  *
  * [[bounded]] lists the dir once per call. An unchanged listing serves
  * the held rows; any other listing (an append, delete, in-place
  * rewrite, swap or `__old` restore, by this or another process)
  * reloads the listed files whole with the encoder's schema, so no
  * schema-inference job runs. Listing and reload hold
  * [[Compactor.swapLock]]: no swap in this JVM lands between them, and
  * the held rows always match the listed files. A failed reload throws
  * and keeps the previous snapshot. A crashed swap is restored by the
  * caller, the dir's [[FactLog]], before it reads or writes.
  *
  * The whole dir is collected to the driver, so only dirs whose rows
  * the caller would collect anyway belong here. A dir that may outgrow
  * the driver takes a `maxRows` bound: a reload reads at most
  * `maxRows + 1` rows ([[graft.plans.DriverFold.collect]]), and a dir
  * holding more is not held
  * ([[bounded]] answers None until a file of it is replaced or
  * removed: appends alone cannot bring it back under). A caller
  * that writes the dir itself can apply its own appends and swaps
  * through [[commit]] and [[replace]], which update the snapshot
  * without a reload.
  */
final class DirSnapshot[T](val dir: String, val maxRows: Int = Int.MaxValue)(
    implicit val enc: Encoder[T]) {
  private var files: Set[String] = Set.empty
  private var held: Option[Vector[T]] = Some(Vector.empty)

  /** The dir's rows, brought up to date by one listing, or None when
    * the dir holds more than `maxRows` rows.
    */
  def bounded(spark: SparkSession): Option[Vector[T]] = synchronized {
    Compactor.swapLock.synchronized {
      val listed = DirSnapshot.committed(Compactor.fs(spark, dir), dir)
      if (listed != files) {
        held =
          if (listed.isEmpty) Some(Vector.empty)
          // files were only added to a dir already past the bound: it
          // still is, and nothing need be read to say so
          else if (held.isEmpty && files.subsetOf(listed)) None
          else {
            val ds = spark.read.schema(enc.schema)
              .parquet(listed.toSeq.map(n => new Path(dir, n).toString): _*)
              .as[T](enc)
            // a bounded dir is small by contract: one task reads it, so
            // the limit stops in one job, named for this reload
            if (maxRows == Int.MaxValue) Some(ds.collect().toVector)
            else DirSnapshot.asReload(spark)(
              DriverFold.collect(ds.coalesce(1), maxRows).map(_.toVector))
          }
        files = listed
      }
      held
    }
  }

  /** The number of committed part files, after one listing. */
  def fileCount(spark: SparkSession): Int = synchronized {
    bounded(spark); files.size
  }

  /** Move one part file holding exactly `added` into the dir (`move`
    * runs under the swap lock) and add its rows to the snapshot.
    */
  def commit(file: String, added: Seq[T])(move: => Unit): Unit =
      synchronized {
    Compactor.swapLock.synchronized(move)
    files += file
    held = held.map(_ ++ added).filter(_.length <= maxRows)
  }

  /** Swap a rewrite holding exactly `rewritten` in the part files
    * `rewrittenFiles` into place (`swap` runs under the swap lock) and
    * make it the snapshot.
    */
  def replace(rewrittenFiles: Set[String], rewritten: Seq[T])(
      swap: => Unit): Unit = synchronized {
    Compactor.swapLock.synchronized(swap)
    files = rewrittenFiles
    held = Some(rewritten.toVector).filter(_.length <= maxRows)
  }
}

object DirSnapshot {
  private val snapshots =
    new java.util.concurrent.ConcurrentHashMap[String, DirSnapshot[Row]]()

  /** This JVM's held snapshot of `dir`, keyed by the qualified dir path
    * and created on first use with `schema` and `maxRows`; a later call
    * must pass the same two.
    */
  private[engine] def shared(spark: SparkSession, dir: String,
                             schema: StructType,
                             maxRows: Int): DirSnapshot[Row] = {
    val s = snapshots.computeIfAbsent(key(spark, dir),
      _ => new DirSnapshot[Row](dir, maxRows)(Encoders.row(schema)))
    require(s.maxRows == maxRows && s.enc.schema == schema,
      s"$dir is held with ${s.maxRows} rows of ${s.enc.schema.simpleString}")
    s
  }

  /** This JVM's held snapshot of `dir`, if [[shared]] made one. */
  private[engine] def held(spark: SparkSession,
                           dir: String): Option[DirSnapshot[Row]] =
    Option(snapshots.get(key(spark, dir)))

  /** The call site a bounded reload's job is named by. */
  private[engine] val ReloadSite = "collect at DirSnapshot.reload"

  /** Run `body` with its jobs named [[ReloadSite]] rather than by the
    * shared bounded read's frame in `DriverFold`.
    */
  private def asReload[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("callSite.short")
    sc.setCallSite(ReloadSite)
    try body finally sc.setLocalProperty("callSite.short", prev)
  }

  private def key(spark: SparkSession, dir: String): String =
    Compactor.fs(spark, dir).makeQualified(new Path(dir)).toString

  /** A committed data file: not a `_`/`.` sidecar or in-flight dir. */
  def isCommitted(s: FileStatus): Boolean = {
    val n = s.getPath.getName
    s.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** The names of the committed part files directly under `dir`; none
    * when it does not exist.
    */
  def committed(f: FileSystem, dir: String): Set[String] =
    try f.listStatus(new Path(dir)).iterator.filter(isCommitted)
      .map(_.getPath.getName).toSet
    catch { case _: java.io.FileNotFoundException => Set.empty }
}
