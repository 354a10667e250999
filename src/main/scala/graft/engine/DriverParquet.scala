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
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.internal.SQLConf

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

  private final class PartWriter(file: OutputFile)
      extends ParquetWriter.Builder[InternalRow, PartWriter](file) {
    override def self(): PartWriter = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new ParquetWriteSupport()
  }
}
