package graftbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graftbench.ExecutionEnd

/** The traced run's view of Spark: a `SparkListener` for jobs, tasks and
  * SQL executions, including each execution's planning phases
  * (`QueryPlanningTracker`) and `BroadcastExchange` count from the
  * `QueryExecution` its end event carries. Nothing is written while the
  * run is timed; [[drain]] turns what was seen into spans under the bench
  * spans that caused them.
  *
  * A job belongs to the bench span named by its [[Recorder.SpanProperty]]
  * local property; a SQL execution to the span of its first job, or —
  * for an execution that ran no job — to the innermost bench span whose
  * interval contains it.
  */
final class SparkTrace(spark: SparkSession, rec: Recorder) {
  private final class JobAcc(val id: Int, val span: Long,
                             val execId: Option[Long], val startMs: Long,
                             val stages: Int) {
    @volatile var endMs: Long = startMs
    @volatile var ok: Boolean = true
    val counters = new ConcurrentHashMap[String, java.lang.Long]()
    def add(k: String, v: Long): Unit = counters.merge(k, v, (a, b) => a + b)
  }

  private val jobs = new ConcurrentHashMap[Int, JobAcc]()
  private val stageJob = new ConcurrentHashMap[Int, JobAcc]()
  private val execStart = new ConcurrentHashMap[Long, (Long, String)]()
  private val execs = new ConcurrentHashMap[Long, SparkTrace.Exec]()
  private val plans = new ConcurrentHashMap[Long, Map[String, Any]]()
  private val marker = new CountDownLatch(1)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val props = Option(j.properties)
      if (props.exists(_.getProperty(SparkTrace.MarkerProperty) != null))
        return
      val span = props.flatMap(p => Option(p.getProperty(Recorder.SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      val acc = new JobAcc(j.jobId, span, exec, j.time, j.stageInfos.size)
      jobs.put(j.jobId, acc)
      j.stageIds.foreach(s => stageJob.put(s, acc))
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobs.get(j.jobId)) match {
        case Some(acc) =>
          acc.endMs = j.time
          acc.ok = j.jobResult == JobSucceeded
        case None => marker.countDown()
      }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(t.stageId)).foreach { acc =>
        acc.add("tasks", 1)
        if (t.reason != Success) acc.add("failed_tasks", 1)
        Option(t.taskMetrics).foreach { m =>
          acc.add("task_ms", m.executorRunTime)
          acc.add("task_cpu_ns", m.executorCpuTime)
          acc.add("gc_ms", m.jvmGCTime)
          acc.add("input_bytes", m.inputMetrics.bytesRead)
          acc.add("input_records", m.inputMetrics.recordsRead)
          acc.add("output_bytes", m.outputMetrics.bytesWritten)
          acc.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          acc.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          acc.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart.put(s.executionId, (s.time, s.description))
      case s: SparkListenerSQLExecutionEnd =>
        Option(execStart.remove(s.executionId)).foreach { case (t0, d) =>
          execs.put(s.executionId, SparkTrace.Exec(t0, s.time, d))
        }
        ExecutionEnd.queryExecution(s).foreach { qe =>
          plans.put(s.executionId, Map(
            "planning_ms" -> qe.tracker.phases.values.map(_.durationMs).sum,
            "broadcasts" ->
              scala.util.Try(SparkTrace.broadcasts(qe.executedPlan)).getOrElse(0)))
        }
      case _ =>
    }
  }

  spark.sparkContext.addSparkListener(listener)

  /** Waits until every event posted so far has been delivered (a marker
    * job queued behind them has reached the listener), then converts
    * the recorded executions and jobs into spans.
    */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkTrace.MarkerProperty, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SparkTrace.MarkerProperty, null)
    marker.await(60, TimeUnit.SECONDS)
    sc.removeSparkListener(listener)

    val benchSpans = rec.spans
    def innermost(t0Us: Long, t1Us: Long): Long =
      benchSpans.filter(s => s.startUs <= t0Us && s.endUs >= t1Us)
        .sortBy(-_.startUs).headOption.map(_.id).getOrElse(0L)
    val jobsByExec = jobs.values.asScala.toSeq.groupBy(_.execId)
    val execSpan = execs.asScala.toSeq.sortBy(_._1).map { case (id, x) =>
      val parent = jobsByExec.get(Some(id)).map(_.minBy(_.id).span)
        .getOrElse(innermost(x.startMs * 1000, x.endMs * 1000))
      id -> rec.add(parent, s"sql $id", "spark.sql", x.startMs * 1000,
        x.endMs * 1000, plans.asScala.getOrElse(id, Map.empty) +
          ("description" -> x.desc.take(120)))
    }.toMap
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val parent = j.execId.flatMap(execSpan.get).getOrElse(j.span)
      rec.add(parent, s"job ${j.id}", "spark.job", j.startMs * 1000,
        j.endMs * 1000, j.counters.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap ++ Map("stages" -> j.stages,
          "ok" -> j.ok))
    }
  }
}

object SparkTrace {
  final case class Exec(startMs: Long, endMs: Long, desc: String)
  val MarkerProperty = "graftbench.marker"

  /** `BroadcastExchange` nodes in an executed plan, looking through
    * adaptive wrappers, query stages and subqueries.
    */
  def broadcasts(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => broadcasts(a.executedPlan)
    case s: QueryStageExec => broadcasts(s.plan)
    case b: BroadcastExchangeExec => 1 + broadcasts(b.child)
    case other =>
      other.children.map(broadcasts).sum + other.subqueries.map(broadcasts).sum
  }
}
