package graft.engine

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkTestBase {

  test("bloom membership: zero false negatives, bounded false positives") {
    val li = Tables.lineitem(spark, sf0001)
    val present = li.select(col("l_orderkey").as("k")).distinct()
    val absent = present.select((col("k") + 1000000000L).as("k"))
    val fpp = 0.01 // the 10-bits/7-hashes design point (~0.0082 realized)
    val verdicts = Sketches.bloomMembership(spark, li, "l_orderkey",
      present.unionAll(absent), "k", expectedItems = 10000L)

    val nPresent = present.count()
    val presentHits = verdicts
      .join(present, "k").filter(col("might_contain")).count()
    assert(presentHits == nPresent, "a false negative is impossible")

    val nAbsent = absent.count()
    val absentHits = verdicts
      .join(absent, "k").filter(col("might_contain")).count()
    assert(absentHits.toDouble / nAbsent <= fpp * 5 + 0.01,
      s"false-positive rate ${absentHits.toDouble / nAbsent} far above fpp=$fpp")
  }

  test("bloom membership works for string keys (hash-normalized both sides)") {
    import spark.implicits._
    val keys = Seq("alpha", "beta", "gamma").toDF("k")
    val cands = Seq("alpha", "gamma", "delta", null).toDF("k")
    val v = Sketches.bloomMembership(spark, keys, "k", cands, "k", 100L)
      .collect().map(r => Option(r.getString(0)) -> r.getBoolean(1)).toMap
    assert(v(Some("alpha")) && v(Some("gamma")), "no false negatives")
    assert(!v(None), "null probes as non-member")
  }

  test("CMS heavy hitters equal the exact group-by answer on a skewed stream") {
    import spark.implicits._
    // zipf-ish skew: item i appears ~ 3000/i times; hitters at 1% of
    // ~22k total are the first few items, the tail is pruning fodder
    val stream = (1 to 60).flatMap(i => Seq.fill(3000 / i)(s"item_$i"))
      .toDF("v").repartition(7)
    val exact = stream.groupBy($"v").count()
      .withColumn("total", sum($"count").over())
      .filter($"count" > $"total" * 0.01)
      .select($"v", $"count").as[(String, Long)].collect().toMap
    val cms = Sketches.heavyHittersCms(stream, "v", minShare = 0.01)
      .select($"token", $"n_occurrences").as[(String, Long)].collect().toMap
    assert(cms == exact, s"cms=$cms exact=$exact")
    assert(exact.nonEmpty && exact.size < 60, "threshold should prune the tail")
  }

  test("CMS heavy hitters: coarse sketch still yields the exact answer " +
    "(false positives die in re-verification)") {
    import spark.implicits._
    val stream = (1 to 40).flatMap(i => Seq.fill(1000 / i)(s"w$i")).toDF("v")
    // eps of 5% >> minShare 2%: the candidate set is sloppy, the
    // answer must not be
    val loose = Sketches.heavyHittersCms(stream, "v",
      minShare = 0.02, eps = 0.05)
      .select($"token").as[String].collect().toSet
    val tight = Sketches.heavyHittersCms(stream, "v",
      minShare = 0.02, eps = 1e-4)
      .select($"token").as[String].collect().toSet
    assert(loose == tight, "answer must be independent of sketch precision")
  }

  test("bloom build is deterministic under repartitioning") {
    val li = Tables.lineitem(spark, sf0001)
    val cands = li.select(col("l_orderkey").as("k")).distinct()
      .unionAll(li.select((col("l_orderkey") + 777L).as("k")).distinct())
    def run(src: org.apache.spark.sql.DataFrame) =
      Sketches.bloomMembership(spark, src, "l_orderkey", cands, "k", 10000L)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(run(li) == run(li.repartition(7)))
  }

  test("portable HLL: estimates inside the m=4096 error envelope and " +
    "invariant under repartitioning") {
    val li = Tables.lineitem(spark, sf0001)
    def run(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllEstimates(df,
        Seq("ok" -> "l_orderkey", "pk" -> "l_partkey", "sk" -> "l_suppkey"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    val est = run(li)
    val exact = Map(
      "ok" -> li.select("l_orderkey").distinct().count(),
      "pk" -> li.select("l_partkey").distinct().count(),
      "sk" -> li.select("l_suppkey").distinct().count())
    val nRows = li.count()
    exact.foreach { case (tag, ex) =>
      assert(est(tag)._1 == nRows, s"$tag scanned-row count")
      val rel = math.abs(est(tag)._2 - ex).toDouble / ex
      // 3·rsd of 1.04/√4096 ≈ 4.9%; the small-NDV columns sit in the
      // linear-counting regime and come out near-exact
      assert(rel < 0.05, s"$tag est=${est(tag)._2} exact=$ex rel=$rel")
    }
    assert(est == run(li.repartition(13)),
      "register MAX-merge must be partition-invariant")
  }

  test("KMV below capacity is EXACT: sketch overlap equals true overlap " +
    "on the event stream") {
    import spark.implicits._
    val ev = Tables.eventsTs(spark, sf0001)
    val exact = ev.groupBy($"user_id")
      .agg(max(when($"event_type" === "click", 1).otherwise(0)).as("c"),
        max(when($"event_type" === "view", 1).otherwise(0)).as("v"))
      .filter($"c" === 1 && $"v" === 1).count()
    val k = 256
    val in = Sketches.kmvInput(
      ev.filter($"event_type".isin("click", "view")), "user_id",
      $"event_type" === "click", $"event_type" === "view")
    val (cs, vs) = in.select(Sketches.kmvPair(k).toColumn).head()
    assert(cs.length < k && vs.length < k, "fixture must be sub-capacity")
    assert(math.round(Sketches.kmvOverlap(cs, vs, k)) == exact,
      "sub-capacity KMV must be exact")
  }

  test("KMV estimator error is ~1/sqrt(k) on a 50k-NDV synthetic stream " +
    "with planted overlap") {
    import spark.implicits._
    val k = 256
    // A = ids [0, 30000), B = ids [20000, 50000) -> |A∩B| = 10000
    val rows = ((0L until 30000L).map(i => (i, true, false)) ++
      (20000L until 50000L).map(i => (i, false, true))).toDS()
      .toDF("id", "ia", "ib")
    val in = Sketches.kmvInput(rows, "id", $"ia", $"ib")
    val (as_, bs) = in.select(Sketches.kmvPair(k).toColumn).head()
    def relErr(est: Double, truth: Double) = math.abs(est - truth) / truth
    assert(relErr(Sketches.kmvNdv(as_, k), 30000) < 0.2,
      s"NDV(A) est ${Sketches.kmvNdv(as_, k)}")
    assert(relErr(Sketches.kmvNdv(bs, k), 30000) < 0.2,
      s"NDV(B) est ${Sketches.kmvNdv(bs, k)}")
    assert(relErr(Sketches.kmvOverlap(as_, bs, k), 10000) < 0.35,
      s"overlap est ${Sketches.kmvOverlap(as_, bs, k)}")
  }

  test("KMV sketch is identical under repartitioning (set minima are " +
    "order-free)") {
    import spark.implicits._
    val ev = Tables.eventsTs(spark, sf0001)
    def sketch(df: org.apache.spark.sql.DataFrame) = Sketches.kmvInput(
        df.filter($"event_type".isin("click", "view")), "user_id",
        $"event_type" === "click", $"event_type" === "view")
      .select(Sketches.kmvPair(64).toColumn).head()
    assert(sketch(ev) == sketch(ev.repartition(13)))
  }

  test("ev13's column-expression estimators equal the Scala estimators") {
    import spark.implicits._
    // the query computes kmvNdv/kmvOverlap as Catalyst array math (to
    // stay one lazy plan); this pins the two formulations together
    val k = 256
    val ev = Tables.eventsTs(spark, sf0001)
    val in = Sketches.kmvInput(
      ev.filter($"event_type".isin("click", "view")), "user_id",
      $"event_type" === "click", $"event_type" === "view")
    val (cs, vs) = in.select(Sketches.kmvPair(k).toColumn).head()
    val row = graft.queries.EventQueries
      .defs("ev13_user_overlap_kmv")(spark, sf0001).head()
    assert(row.getLong(0) == math.round(Sketches.kmvNdv(cs, k)))
    assert(row.getLong(1) == math.round(Sketches.kmvNdv(vs, k)))
    assert(row.getLong(2) == math.round(Sketches.kmvOverlap(cs, vs, k)))
  }
}
