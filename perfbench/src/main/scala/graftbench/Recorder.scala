package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval. `parent` is 0 for a root span. Times are epoch
  * microseconds taken from a monotonic clock anchored once per run, so
  * bench spans and Spark listener times (epoch millis) share one axis.
  */
final case class Span(id: Long, parent: Long, name: String, kind: String,
                      startUs: Long, endUs: Long,
                      attrs: Map[String, Any] = Map.empty)

/** Records spans around the calls the benchmark makes into graft.
  *
  * The current span is kept in an inheritable thread-local, so a thread
  * started inside a span (BackupRunner's per-session pool) parents its
  * spans to it. The same id goes into the Spark local property
  * [[Recorder.SpanProperty]], which Spark copies onto every job the
  * thread (or a thread it starts) submits; the trace listener uses it to
  * hang jobs under the span that caused them.
  */
final class Recorder(sc: org.apache.spark.SparkContext) {
  private val anchorUs = System.currentTimeMillis() * 1000L
  private val anchorNs = System.nanoTime()
  def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  private val ids = new AtomicLong(0L)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new InheritableThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  private val notes = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Any]]()

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Adds an attribute to the innermost open span of this thread. */
  def annotate(key: String, value: Any): Unit = {
    val id: Long = current.get()
    notes.merge(id, Map(key -> value), (a, b) => a ++ b)
  }

  /** Times `body` as a span; a throw still closes the span, with the
    * error recorded, and propagates.
    */
  def span[T](name: String, kind: String,
              attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent: Long = current.get()
    val prevProp = sc.getLocalProperty(Recorder.SpanProperty)
    current.set(id)
    sc.setLocalProperty(Recorder.SpanProperty, id.toString)
    val t0 = nowUs
    var err: Option[String] = None
    try body
    catch { case e: Throwable =>
      err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      throw e
    } finally {
      val t1 = nowUs
      current.set(parent)
      sc.setLocalProperty(Recorder.SpanProperty, prevProp)
      val all = attrs ++ Option(notes.remove(id)).getOrElse(Map.empty)
      done.add(Span(id, parent, name, kind, t0, t1,
        err.fold(all)(m => all + ("error" -> m))))
    }
  }

  /** Adds a span measured elsewhere (Spark jobs and SQL executions). */
  def add(parent: Long, name: String, kind: String, startUs: Long,
          endUs: Long, attrs: Map[String, Any]): Long = {
    val id = ids.incrementAndGet()
    done.add(Span(id, parent, name, kind, startUs, endUs, attrs))
    id
  }
}

object Recorder {
  val SpanProperty = "graftbench.span"
}
