package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole forked test JVM. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf0001 = "/root/testdata/sf0.001"

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** The embeddings with `vec_id < n` as a serving request carries its
    * query vectors: a local relation of (vec_id, embedding), so reading
    * them runs no Spark job.
    */
  def localVectors(embeddings: DataFrame, n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    embeddings.filter(col("vec_id") < n)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toSeq
      .map { case (id, emb) => (id, emb.toSeq) }
      .toDF("vec_id", "embedding")
  }

  /** A parquet dir as written: its rows as sorted strings (without the
    * `drop` columns), the StructType a reader infers, each data file's
    * parquet schema and Spark row-schema footer metadata, and its data
    * file count — what two writers of the same rows must agree on.
    */
  def writtenDir(dir: String, drop: String*)
      : (Seq[String], org.apache.spark.sql.types.StructType,
        Set[(String, String)], Int) = {
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val footers = files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath),
          spark.sparkContext.hadoopConfiguration))
      try {
        val meta = r.getFooter.getFileMetaData
        (meta.getSchema.toString, meta.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
      } finally r.close()
    }.toSet
    val df = spark.read.parquet(dir)
    (df.drop(drop: _*).collect().map(_.toSeq.toString).toSeq.sorted,
      df.schema, footers, files.length)
  }

  /** The Spark jobs `body` starts — on this thread and on the threads
    * Spark starts for it (broadcasts, subqueries) — each as its SQL
    * execution id: None for a job outside any SQL execution, such as a
    * schema-inference job. Jobs are told apart from other threads' by
    * a job group; a sentinel job in a second group flushes the ordered
    * listener bus, so every job the body started has been counted.
    */
  def jobsDuring(body: => Unit): Seq[Option[String]] =
    jobSitesDuring(body).map(_._1)

  /** [[jobsDuring]] with each job's call site — its result stage's
    * name, e.g. `collect at Similarity.scala:1600`, the first frame
    * outside Spark that started it.
    */
  def jobSitesDuring(body: => Unit): Seq[(Option[String], String)] = {
    val id = java.util.UUID.randomUUID().toString
    val (group, sentinel) = (s"jobs-$id", s"sentinel-$id")
    val jobs =
      new java.util.concurrent.ConcurrentLinkedQueue[(Option[String], String)]()
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        props.map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.add((props.flatMap(p =>
                Option(p.getProperty("spark.sql.execution.id"))),
              e.stageInfos.maxBy(_.stageId).name)); ()
          case Some(`sentinel`) => sentinelSeen.countDown()
          case _ => ()
        }
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsDuring")
      body
      sc.setJobGroup(sentinel, "jobsDuring sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the sentinel job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq
  }

  /** Every physical plan `body` executes, captured via a
    * QueryExecutionListener — the audit surface for operators whose
    * production-property stages (pushed scans, store-only reads) run
    * EAGERLY during construction and are therefore invisible on the
    * returned frame's executedPlan (the r15 driver folds). The
    * listener bus is async: the events of queries run before `body`
    * are drained first (a marker query's event is delivered after all
    * of theirs), and the capture waits until its count is stable
    * across consecutive observations.
    */
  def capturedPlans(body: => Unit): Seq[String] = {
    val marker = java.util.UUID.randomUUID().toString
    val drained = new java.util.concurrent.CountDownLatch(1)
    val drain = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.toString.contains(marker)) drained.countDown()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(drain)
    try {
      spark.range(1).select(lit(marker)).collect()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the marker query")
    } finally spark.listenerManager.unregister(drain)
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        plans.add(qe.executedPlan.toString); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      var seen = -1
      var stable = 0
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (stable < 2 && System.nanoTime() < deadline) {
        val n = plans.size()
        if (n == seen && n > 0) stable += 1
        else { stable = 0; seen = n }
        Thread.sleep(100)
      }
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }
}
