package graftbench

import java.io.File
import scala.collection.mutable

/** What a workload implements: untimed preparation (it counts in
  * `setup_s`), then the timed part, run as whole rounds by [[Ctx.rounds]].
  */
trait Workload {
  def setup(ctx: Ctx): Unit
  def run(ctx: Ctx, deadlineUs: Long): Unit
}

/** Per-run state handed to a workload: the Spark session, the run's own
  * directory, the seeded generator, the span recorder, and what the run
  * records besides spans.
  */
final class Ctx(val spark: org.apache.spark.sql.SparkSession, runDir: File,
                val seed: Long, val rec: Recorder,
                goldenFps: Map[String, String], corpusCache: File) {
  val rng = new scala.util.Random(seed)

  /** Properties of what the seed generated. */
  val generated = mutable.LinkedHashMap.empty[String, Any]
  def record(key: String, value: Any): Unit = generated(key) = value

  /** Counters and samples taken between ops (file counts, bytes). */
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def bump(key: String, by: Double = 1.0): Unit =
    counters(key) = counters.getOrElse(key, 0.0) + by
  def sample(key: String, v: Double): Unit =
    counters(key) = math.max(counters.getOrElse(key, 0.0), v)

  /** Every fingerprint the run took, by golden key, and every failure. */
  val fingerprints = mutable.LinkedHashMap.empty[String, String]
  val failures = mutable.ArrayBuffer.empty[String]
  var heapPeakMb = 0.0

  def dir(name: String): String = {
    val d = new File(runDir, name); d.mkdirs(); d.getAbsolutePath
  }

  /** The generated corpus, shared read-only by the runs of a checkout.
    * The run that finds no cached copy generates it, checks every table
    * against its golden fingerprint, and publishes it to the cache only
    * if all of them match.
    */
  lazy val corpus: String =
    if (new File(corpusCache, Corpus.Complete).isFile) corpusCache.getPath
    else {
      val fresh = new File(dir("corpus-generated"))
      Corpus.generate(spark, fresh.getPath, rec)
      val ok = Corpus.Rows.map(_._1).map { t =>
        op(s"corpus.$t", "check") {
          checkFp(s"corpus.$t",
            Fingerprint.table(graft.Tables.load(spark, fresh.getPath, t)))
        }
      }.forall(identity)
      if (!ok) fresh.getPath
      else { Corpus.publish(fresh, corpusCache); corpusCache.getPath }
    }

  /** A private copy of `tables` of the corpus, for a workload that writes
    * to its sources.
    */
  def corpusCopy(name: String, tables: Seq[String]): String = {
    val d = dir(name)
    Corpus.copy(corpus, d, tables)
    d
  }

  /** Runs whole rounds: always one, then another while the median round
    * so far would still end by `deadlineUs`.
    */
  def rounds(deadlineUs: Long)(round: Int => Unit): Unit = {
    val times = mutable.ArrayBuffer.empty[Long]
    def median = times.sorted.apply(times.size / 2)
    while (times.isEmpty || rec.nowUs + median <= deadlineUs) {
      val t0 = rec.nowUs
      rec.span(s"round ${times.size}", "round") { round(times.size) }
      times += rec.nowUs - t0
    }
    record("rounds", times.size)
  }

  /** One op: a span marked `op`, whose body returns None when the output
    * checks out and the reason otherwise; a throw is a failure too. Returns
    * whether the op succeeded. Every
    * op ends with graft's own bench reset: drop the SQL cache and every
    * persisted RDD, so no op inherits another's materializations.
    */
  def op(name: String, kind: String, attrs: Map[String, Any] = Map.empty)
        (body: => Option[String]): Boolean = {
    val verdict = rec.span(name, kind, attrs + ("op" -> true)) {
      val v =
        try body
        catch { case e: Throwable =>
          Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
      v.foreach(rec.annotate("failed", _))
      v
    }
    verdict.foreach { why =>
      failures += s"$name: $why"
      System.err.println(s"op $name failed: $why")
    }
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    heapPeakMb = math.max(heapPeakMb, Main.postGcHeapMb())
    verdict.isEmpty
  }

  /** The golden fingerprint for `key`; a missing one fails the op. */
  def golden(key: String): String =
    goldenFps.getOrElse(key, throw new NoSuchElementException(
      s"no golden fingerprint for $key"))

  /** Records `fp` under `key` and checks it against the golden one. */
  def checkFp(key: String, fp: String): Option[String] = {
    fingerprints(key) = fp
    goldenFps.get(key) match {
      case Some(g) if g == fp => None
      case Some(g) => Some(s"fingerprint $fp != golden $g")
      case None => Some(s"no golden fingerprint for $key (got $fp)")
    }
  }
}
