package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench's quadratic-twin exclusion list (no Spark session
  * needed — pure audits over the constant, the query registry, and
  * the ladder script):
  *
  *  - every annotated twin is a REAL query (a rename would silently
  *    un-exclude it: Bench's skip filter matches by name);
  *  - the newest ladder script's SPARK_GRAFT_BENCH_SKIP equals the
  *    annotation set EXACTLY — a future query cannot join the
  *    exclusion list without also joining
  *    [[Bench.QuadraticTruthTwins]] (whose scaladoc demands the
  *    documented-quadratic justification), and a twin cannot silently
  *    drop out of the ladder either.
  */
class BenchAuditSpec extends AnyFunSuite {

  test("every annotated quadratic twin is a registered query") {
    val keys = SparkEntry.queries.keySet
    val ghosts = Bench.QuadraticTruthTwins -- keys
    assert(ghosts.isEmpty,
      s"annotated twins with no query: ${ghosts.toSeq.sorted.mkString(", ")}")
  }

  /** r14 post-mortem: the stdout summary silently dropped its
    * per-query map when the registry grew past what the 2000-char
    * tail capture holds, and the driver's per-query comparison came
    * back empty. This pins the r15 contract: for the FULL current
    * registry — under pessimistic timings (every query slow, so the
    * integer encodings are at their widest) — the chosen line still
    * fits the capture AND still carries per-query data for every
    * registered query under one of the declared keys.
    */
  test("the stdout summary line fits the tail capture at the full " +
    "registry and keeps per-query data") {
    val names = SparkEntry.queries.keySet.toSeq.sorted
    val shortIds = names.map(_.takeWhile(_ != '_')).toSet
    def build(minOf: String => Double): String =
      Bench.summaryLine(names, minOf, names.map(minOf).map(math.max(_, 0)).sum,
        reps = 5, failedJson = "[]",
        detailJson = "\"BENCH_DETAIL_c32.json\"",
        sfDir = "/root/testdata/sf0.1")
    // realistic shape, pessimistically slow — ~2x the r14 driver's
    // slowest recorded run (199 s / 197 queries): 60% sub-second, 30%
    // 0.5–3 s, 10% 3–12 s. The line must fit AND carry a map entry
    // for EVERY query. (A suite several times slower than this
    // degrades gracefully to the families+top tier, pinned below.)
    val typical = build { k =>
      val r = math.abs(k.hashCode) % 100
      if (r < 60) 0.03 + r / 150.0
      else if (r < 90) 0.5 + (r - 60) / 12.0
      else 3.0 + (r - 90)
    }
    assert(typical.length <= Bench.SummaryLineMaxChars,
      s"summary line overflows the capture: ${typical.length} chars")
    val mapKey = Seq("queries", "queries_cs", "queries_ds")
      .find(k => typical.contains("\"" + k + "\":"))
    assert(mapKey.nonEmpty,
      s"summary line lost its per-query map at the full registry: " +
        s"len=${typical.length} head=${typical.take(160)}")
    val parsed = org.json4s.jackson.JsonMethods.parse(typical)
    val m = (parsed \ mapKey.get)
      .asInstanceOf[org.json4s.JObject].obj.toMap
    assert(m.keySet == shortIds,
      s"per-query map keys drifted from the registry's short ids " +
        s"(missing: ${(shortIds -- m.keySet).toSeq.sorted.take(5)})")
    // pathological (every query ~100 s — a 5.5 h bench): integer maps
    // can no longer fit, but the line must still parse, still fit, and
    // still carry families (full coverage) + the slowest queries
    val slow = build(_ => 99.94)
    assert(slow.length <= Bench.SummaryLineMaxChars,
      s"pathological summary line overflows: ${slow.length} chars")
    val slowParsed = org.json4s.jackson.JsonMethods.parse(slow)
    val fams = (slowParsed \ "families")
      .asInstanceOf[org.json4s.JObject].obj.toMap
    assert(fams.keySet == names.map(_.takeWhile(_.isLetter)).toSet)
    val top = (slowParsed \ "top")
      .asInstanceOf[org.json4s.JObject].obj.toMap
    assert(top.size == 20)
    // the -1 no-successful-rep sentinel survives every unit encoding
    val withFail = Bench.summaryLine(names,
      k => if (k == names.head) -1 else 0.4, 0.4 * (names.size - 1),
      reps = 5, failedJson = "[\"" + names.head + "\"]",
      detailJson = "null", sfDir = "/root/testdata/sf0.1")
    assert(withFail.contains(":-1"))
  }

  test("the newest ladder script's exclusion list == the annotation " +
    "set exactly") {
    val dir = new java.io.File("scripts")
    val scripts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("run_ladder_r\\d+\\.sh"))
      .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
    assert(scripts.nonEmpty, "no ladder scripts found under scripts/")
    val newest = scripts.last
    val line = scala.io.Source.fromFile(newest).getLines()
      .find(_.startsWith("export SPARK_GRAFT_BENCH_SKIP="))
      .getOrElse(fail(s"${newest.getName} sets no SPARK_GRAFT_BENCH_SKIP"))
    val scripted = line.stripPrefix("export SPARK_GRAFT_BENCH_SKIP=")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    assert(scripted == Bench.QuadraticTruthTwins,
      s"ladder exclusion list drifted from Bench.QuadraticTruthTwins:\n" +
        s"  script:    ${scripted.toSeq.sorted.mkString(", ")}\n" +
        s"  annotated: ${Bench.QuadraticTruthTwins.toSeq.sorted.mkString(", ")}")
  }
}
