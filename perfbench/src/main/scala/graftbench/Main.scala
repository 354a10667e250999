package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by perfbench/run.py).
  *
  * `--workload W --seed N --seconds S --trace 0|1 --run-dir D --out F
  * --t0-ms T --corpus-cache C --golden G [--record-golden F]`
  */
object Main {
  val Workloads: Map[String, () => Workload] = Map(
    "backup_cycle" -> (() => new BackupCycle),
    "vector_serving" -> (() => new VectorServing))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = Workloads(args("workload"))()
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val runDir = new File(args("run-dir")).getAbsoluteFile
    val t0Ms = args("t0-ms").toLong
    val goldenFile = new File(args("golden"))
    val golden = if (goldenFile.isFile) Json.readStringMap(goldenFile)
      else Map.empty[String, String]
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir",
        new File(runDir, "warehouse").toURI.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark.sparkContext)
    val ctx = new Ctx(spark, runDir, seed, rec, golden,
      new File(args("corpus-cache")).getAbsoluteFile)
    val trace =
      if (args("trace") == "1") Some(new SparkTrace(spark, rec)) else None
    val status =
      try {
        rec.span("setup", "setup") { workload.setup(ctx) }
        val runStartUs = rec.nowUs
        workload.run(ctx, runStartUs + (seconds * 1e6).toLong)
        trace.foreach(_.drain())
        args.get("record-golden").foreach { f =>
          Json.write(new File(f), ctx.fingerprints)
        }
        Json.write(new File(args("out")), Map(
          "workload" -> args("workload"), "seed" -> seed,
          "t0_us" -> t0Ms * 1000L, "run_start_us" -> runStartUs,
          "heap_peak_mb" -> ctx.heapPeakMb,
          "failures" -> ctx.failures.toSeq,
          "counters" -> ctx.counters,
          "generated" -> ctx.generated,
          "host" -> hostStamp(spark, cores),
          "spans" -> rec.spans.map(spanJson)))
        0
      } catch { case e: Throwable =>
        e.printStackTrace()
        1
      } finally spark.stop()
    System.exit(status)
  }

  def spanJson(s: Span): Map[String, Any] = Map("id" -> s.id,
    "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
    "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)

  /** Driver heap in use after the latest collection of each heap pool;
    * sampled after every op, its maximum is the run's post-GC peak.
    */
  def postGcHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage).map(_.getUsed))
      .sum / 1048576.0

  def hostStamp(spark: SparkSession, cores: Int): Map[String, Any] = {
    val memKb = scala.util.Try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong)
        .getOrElse(-1L)
    }.getOrElse(-1L)
    Map("nproc" -> cores, "mem_total_kb" -> memKb,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "commit" -> sys.env.getOrElse("GRAFTBENCH_COMMIT", "unknown"))
  }
}
