package graft.engine

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.spark.sql.{Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet part files written by the driver: metadata-scale appends
  * (catalog records, serving-store batches) cost no Spark job.
  */
object DriverParquet {

  /** Write `rows` from the driver as one parquet part file in `dir`,
    * named as a Spark task names its file, and return its path. Spark's
    * own parquet write setup ([[ParquetFileFormat.prepareWrite]]: the
    * row schema, timestamp and legacy-format settings, the session's
    * codec) drives parquet-hadoop's writer with Spark's
    * [[ParquetWriteSupport]], fed by the encoder's serializer, so the
    * file carries the same parquet schema and Spark row-schema footer
    * metadata as a one-task Spark write of the same rows, and reads
    * back as the same StructType — without a Spark job.
    */
  def writePart[T](spark: SparkSession, dir: String, rows: Seq[T])(
      implicit enc: Encoder[T]): Path = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, enc.schema)
    val conf = job.getConfiguration
    val codec = CompressionCodecName.fromConf(
      conf.get(ParquetOutputFormat.COMPRESSION))
    val part = new Path(dir,
      s"part-00000-${new Path(dir).getName}-c000${codec.getExtension}.parquet")
    val toRow = encoderFor(enc).createSerializer()
    val writer = SQLConf.withExistingConf(spark.sessionState.conf) {
      new PartWriter(HadoopOutputFile.fromPath(part, conf))
        .withConf(conf).withCompressionCodec(codec).build()
    }
    try rows.foreach(r => writer.write(toRow(r)))
    finally writer.close()
    part
  }

  /** Staging dir names (UUIDs) of the appends and rewrites in flight
    * in this JVM — the ones [[clearStaging]] must not remove.
    */
  private val inFlight = ConcurrentHashMap.newKeySet[String]()

  /** A fresh `<parent>/_staging/<uuid>` dir, registered as in flight
    * until [[unstage]].
    */
  def newStagingDir(parent: String): String = {
    val id = UUID.randomUUID().toString
    inFlight.add(id)
    s"$parent/_staging/$id"
  }

  /** Delete a staging dir and drop it from the in-flight set. */
  def unstage(spark: SparkSession, dir: String): Unit = {
    val (f, p) = (Compactor.fs(spark, dir), new Path(dir))
    if (f.exists(p)) f.delete(p, true)
    inFlight.remove(p.getName)
  }

  /** Delete the staging dirs under `<parent>/_staging` that a crashed
    * append or rewrite left behind: every one not in flight in this
    * JVM. Readers never see them (`_` dirs are skipped); this only
    * reclaims the space. Assumes one writing process per `parent`.
    */
  def clearStaging(spark: SparkSession, parent: String): Unit = {
    val f = Compactor.fs(spark, parent)
    val staging = new Path(parent, "_staging")
    if (f.exists(staging))
      f.listStatus(staging).map(_.getPath)
        .filterNot(p => inFlight.contains(p.getName))
        .foreach(p => f.delete(p, true))
  }

  /** `rows` written by the driver ([[writePart]]) as one part file in a
    * fresh staging dir beside `dir`, not yet in it. [[publish]] moves
    * it in; [[discard]] removes the staging dir either way.
    */
  final class Staged[T] private[DriverParquet] (
      spark: SparkSession, dir: String, snap: Option[DirSnapshot[T]],
      val stagingDir: String, part: Path, rows: Seq[T]) {
    /** Rename the part into `dir` under [[Compactor.swapLock]], after
      * any `__old` restore, and commit its rows into `snap` when given.
      */
    def publish(): Unit = {
      val f = Compactor.fs(spark, dir)
      def move(): Unit = {
        f.mkdirs(new Path(dir))
        require(f.rename(part, new Path(dir, part.getName)),
          s"cannot append $part to $dir")
      }
      snap match {
        case Some(s) => s.commit(spark, part.getName, rows)(move())
        case None => Compactor.swapLock.synchronized {
          Compactor.restoreOld(f, dir)
          move()
        }
      }
    }

    def discard(): Unit = unstage(spark, stagingDir)
  }

  /** Stage `rows` for `dir` ([[Staged]]), with no lock held. `snap`,
    * when given, is the snapshot of `dir` that [[Staged.publish]]
    * commits the rows into.
    */
  def stage[T](spark: SparkSession, snap: Option[DirSnapshot[T]],
               dir: String, rows: Seq[T])(implicit enc: Encoder[T])
      : Staged[T] = {
    val s = newStagingDir(new Path(dir).getParent.toString)
    try new Staged(spark, dir, snap, s, writePart(spark, s, rows), rows)
    catch { case e: Throwable => unstage(spark, s); throw e }
  }

  /** Append `rows` to the parquet dir `dir` as one driver-written part
    * file: [[stage]]d, [[Staged.publish]]ed, then the staging dir
    * removed, so the dir only ever holds complete files.
    */
  def appendPart[T](spark: SparkSession, snap: Option[DirSnapshot[T]],
                    dir: String, rows: Seq[T])(implicit enc: Encoder[T])
      : Unit = {
    val s = stage(spark, snap, dir, rows)
    try s.publish() finally s.discard()
  }

  /** [[appendPart]] of rows of a serving store dir's read schema,
    * written with `schema` (which may differ from it only in
    * nullability, so the part matches the footer of the Spark write it
    * replaces). When this JVM holds a snapshot of `dir`
    * ([[DirSnapshot.heldRows]]) the rows are committed into it, and
    * the next read reloads nothing. Staging creates `dir`'s parent: a
    * caller whose parent may be a crashed swap's missing root recovers
    * it first ([[Compactor.recover]]).
    */
  def appendPart(spark: SparkSession, dir: String, schema: StructType,
                 rows: Seq[Row]): Unit =
    appendPart(spark, DirSnapshot.held(spark, dir), dir, rows)(
      Encoders.row(schema))

  private final class PartWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, PartWriter](file) {
    override def self(): PartWriter = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new ParquetWriteSupport()
  }
}
