package graft.streaming

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.functions._

/** Streaming twins must agree with their batch counterparts on the
  * same data — the batch results are oracle-checked against DuckDB, so
  * transitively the stream is too.
  */
class StreamingSpec extends SparkTestBase {

  private def eventsDir: String = {
    // stage the single events.parquet file into a directory the file
    // source can list (a file path also works, but a dir is the real
    // shape: new files arriving = new micro-batches)
    val dir = tmpDir("stream-events")
    val src = java.nio.file.Paths.get(Tables.path(sf0001, "events"))
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(dir, "events.parquet"))
    dir
  }

  test("streaming tumbling window agrees with batch ev01") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.runToCompletion(
      StreamingOps.tumblingCounts(stream), "stream_ev01")
    q.stop()
    val got = spark.table("stream_ev01")
    val expected = graft.queries.EventQueries
      .defs("ev01_tumbling")(spark, sf0001)
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("stateful sessionization agrees with batch ev02") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.runToCompletion(
      StreamingOps.sessionize(spark, stream), "stream_ev02",
      org.apache.spark.sql.streaming.OutputMode.Update())
    q.stop()
    // Update mode emits one row per user per batch; the final row per
    // user is the answer (single batch here, so no dedup needed beyond
    // taking the last state emission).
    val got = spark.table("stream_ev02")
      .groupBy("user_id")
      .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
    val expected = graft.queries.EventQueries
      .defs("ev02_sessionize")(spark, sf0001)
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("flatMapGroupsWithState emits exactly the closed sessions") {
    import org.apache.spark.sql.expressions.Window
    val gapUs = 1800000000L
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.runToCompletion(
      StreamingOps.sessionEmit(spark, stream, gapUs), "stream_sess_emit",
      org.apache.spark.sql.streaming.OutputMode.Append())
    q.stop()
    val got = spark.table("stream_sess_emit")

    // batch session boundaries (lag + cumsum)
    val ev = Tables.eventsTs(spark, sf0001)
      .withColumn("ts_us", expr("ts_ns div 1000"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("event_id"))
    val sess = ev
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .withColumn("new_sess", when(col("prev").isNull ||
        col("ts_us") - col("prev") > gapUs, 1).otherwise(0))
      .withColumn("sid", sum(col("new_sess"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
        count(lit(1)).as("n_events"))
    // a session is emitted if a later event closed it in-batch (it is
    // not the user's last session) OR its event-time timeout fired
    // (final watermark = max ts − 60 s passed end + gap)
    val maxUs = ev.agg(max(col("ts_us"))).first().getLong(0)
    val wmMs = maxUs / 1000 - 60000
    val lastSid = sess.groupBy(col("user_id"))
      .agg(max(col("sid")).as("last_sid"))
    val expected = sess.join(lastSid, "user_id")
      .filter(col("sid") < col("last_sid") ||
        lit(wmMs) > col("end_us") / 1000 + gapUs / 1000)
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events"))
    assert(got.count() == expected.count() && expected.count() > 0)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("streaming path mining + Markov transitions agree with batch " +
    "ev19/ev20 exactly") {
    // stage the events plus ONE far-future sentinel event: the final
    // watermark then passes every real session's end + gap, so the
    // drain emits ALL real sessions (the sentinel user's own open
    // session is the only unclosed one, filtered below) — which makes
    // the stream folds comparable to the ev19/ev20 contract queries
    // EXACTLY, not just on the closed subset
    val dir = tmpDir("stream-paths")
    val src = java.nio.file.Paths.get(Tables.path(sf0001, "events"))
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(dir, "events.parquet"))
    val orig = spark.read.parquet(src.toString)
    val sentinelDir = tmpDir("stream-paths-sentinel")
    orig.orderBy(col("ts").desc).limit(1)
      .withColumn("user_id", lit(-1L))
      .withColumn("event_id", lit(Long.MaxValue))
      .withColumn("ts", col("ts") + expr("INTERVAL 30 DAYS"))
      .coalesce(1).write.mode("overwrite").parquet(sentinelDir)
    val part = new java.io.File(sentinelDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(dir, "zz_sentinel.parquet"))

    val stream = StreamingOps.readEvents(spark, dir)
    val q = StreamingOps.runToCompletion(
      StreamingOps.sessionPathEmit(spark, stream), "stream_paths",
      org.apache.spark.sql.streaming.OutputMode.Append())
    q.stop()
    val got = spark.table("stream_paths").filter(col("user_id") =!= -1L)

    // every real session closed: one emitted row per batch session
    val nBatchSessions = graft.queries.EventQueries
      .defs("ev02_sessionize")(spark, sf0001)
      .agg(sum(col("n_sessions"))).first().getLong(0)
    assert(got.count() == nBatchSessions,
      s"${got.count()} emitted vs $nBatchSessions batch sessions")

    val gotTop = StreamingOps.pathCounts(got, 20)
    val ev19 = graft.queries.EventQueries
      .defs("ev19_path_mining")(spark, sf0001)
    assert(gotTop.count() == ev19.count())
    assert(gotTop.except(ev19).isEmpty && ev19.except(gotTop).isEmpty,
      "stream path ranking diverged from batch ev19")

    val gotTr = StreamingOps.pathTransitions(got)
    val ev20 = graft.queries.EventQueries
      .defs("ev20_markov_transitions")(spark, sf0001)
    assert(gotTr.count() == ev20.count())
    assert(gotTr.except(ev20).isEmpty && ev20.except(gotTr).isEmpty,
      "stream transition matrix diverged from batch ev20")
  }

  test("streaming dedup drops within-watermark duplicates, keeps one row each") {
    // stage the events twice: every event_id arrives exactly twice
    val dir = tmpDir("stream-dup")
    val src = java.nio.file.Paths.get(Tables.path(sf0001, "events"))
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(dir, "a.parquet"))
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(dir, "b.parquet"))
    val stream = StreamingOps.readEvents(spark, dir)
    val q = StreamingOps.runToCompletion(
      StreamingOps.dedupEvents(stream).select("event_id"), "stream_dedup",
      org.apache.spark.sql.streaming.OutputMode.Append())
    q.stop()
    val got = spark.table("stream_dedup")
    val distinctIds = Tables.eventsTs(spark, sf0001)
      .select("event_id").distinct().count()
    assert(got.count() == distinctIds)
    assert(got.groupBy("event_id").count()
      .filter(col("count") > 1).isEmpty)
  }

  test("stream-stream interval join agrees with the batch join") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.runToCompletion(
      StreamingOps.purchaseViewJoin(stream), "stream_ssj",
      org.apache.spark.sql.streaming.OutputMode.Append())
    q.stop()
    val got = spark.table("stream_ssj")

    val ev = Tables.eventsTs(spark, sf0001)
      .withColumn("ts_us", expr("ts_ns div 1000"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts_us").as("view_us"),
        col("event_id").as("view_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("purchase_us"),
        col("event_id").as("purchase_id"))
    val expected = purchases.join(views,
        col("user_id") === col("v_user") &&
          col("view_us") <= col("purchase_us") &&
          col("view_us") >= col("purchase_us") - 3600000000L)
      .select(col("user_id"), col("purchase_id"), col("purchase_us"),
        col("view_id"), col("view_us"))
    assert(got.count() == expected.count() && expected.count() > 0)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("streaming as-of enrichment agrees with batch ev07") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.runToCompletion(
      StreamingOps.asofEnrich(spark, stream), "stream_ev07",
      org.apache.spark.sql.streaming.OutputMode.Append())
    q.stop()
    val got = spark.table("stream_ev07")
    val expected = graft.queries.EventQueries
      .defs("ev07_asof_custom")(spark, sf0001)
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("as-of enrichment survives a single hot user filling a large " +
    "trigger and matches the brute-force answer") {
    import spark.implicits._
    // one user owns the whole trigger: 200k interleaved views and
    // purchases land in ONE group call — the primitive-buffer fold
    // (8 B/view + ~20 B/purchase) must handle it without boxing the
    // group into sorted tuple Seqs
    val n = 200000
    val dir = tmpDir("stream-hot")
    val rows = (0 until n).map { i =>
      val typ = if (i % 3 == 0) "purchase" else "view"
      // deterministic scrambled order within the file, ns timestamps
      (i.toLong, ((i.toLong * 2654435761L) % n) * 1000000000L, 7L, typ,
        0.0, "{}")
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val q = StreamingOps.runToCompletion(
      StreamingOps.asofEnrich(spark,
        StreamingOps.readEvents(spark, dir)), "stream_hot_asof",
      org.apache.spark.sql.streaming.OutputMode.Append())
    q.stop()
    val got = spark.table("stream_hot_asof")
    assert(got.count() == rows.count(_._4 == "purchase"))
    // brute-force oracle on a sample of purchases: last view <= p.ts
    val viewTs = rows.filter(_._4 == "view").map(_._2 / 1000).sorted.toArray
    val sample = got.filter(col("purchase_id") % 1000 === 0)
      .select("purchase_id", "purchase_us", "last_view_us")
      .as[(Long, Long, Option[Long])].collect()
    assert(sample.nonEmpty)
    sample.foreach { case (pid, pus, lv) =>
      val idx = {
        val i = java.util.Arrays.binarySearch(viewTs, pus)
        if (i >= 0) { // rightmost equal
          var j = i; while (j + 1 < viewTs.length && viewTs(j + 1) == pus) j += 1
          j
        } else -i - 2
      }
      val expect = if (idx >= 0) Some(viewTs(idx)) else None
      assert(lv == expect, s"purchase $pid: last_view $lv != $expect")
    }
  }

  test("streaming funnel agrees with batch ev14") {
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val q = StreamingOps.runToCompletion(
      StreamingOps.funnel(spark, stream), "stream_ev14",
      org.apache.spark.sql.streaming.OutputMode.Update())
    q.stop()
    // single batch → one emission per user; fold to the funnel counts
    val got = spark.table("stream_ev14")
      .agg(count(col("s1")).as("n_view"),
        count(col("s2")).as("n_click"),
        count(col("s3")).as("n_purchase"),
        coalesce(sum(when(col("s3").isNotNull, col("s3") - col("s1"))),
          lit(0L)).cast("long").as("total_convert_us"))
    val expected = graft.queries.EventQueries
      .defs("ev14_funnel")(spark, sf0001)
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
      s"stream=${got.collect().toSeq} batch=${expected.collect().toSeq}")
  }

  test("funnel never emits negative stage latency across triggers") {
    import spark.implicits._
    // Two files = two micro-batches (maxFilesPerTrigger=1). A click
    // (user 7) / purchase (user 9) straggling into trigger 2 with a
    // timestamp BEFORE the already-set prior stage must be dropped —
    // the batch contract ("first click at-or-after first view") can
    // never produce s2 < s1 or s3 < s2, so neither may the stream.
    // User 8's later click is the control: legitimate advancement
    // across triggers still works.
    val dir = tmpDir("stream-funnel-late")
    def rows(xs: (Long, Long, Long, String)*) =
      xs.map { case (id, us, u, t) => (id, us * 1000L, u, t, 0.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    rows((1L, 100L, 7L, "view"), (2L, 100L, 8L, "view"),
        (3L, 10L, 9L, "view"), (4L, 20L, 9L, "click"))
      .coalesce(1).write.parquet(dir + "/batch1")
    rows((5L, 50L, 7L, "click"), (6L, 150L, 8L, "click"),
        (7L, 15L, 9L, "purchase"))
      .coalesce(1).write.parquet(dir + "/batch2")
    // the file source does not recurse: flatten the two batches into
    // one listing (copy order fixes modification-time order, so
    // batch1 IS trigger 1)
    val flat = tmpDir("stream-funnel-late-flat")
    Seq("batch1", "batch2").zipWithIndex.foreach { case (b, i) =>
      val f = new java.io.File(dir + "/" + b).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val copied = java.nio.file.Paths.get(flat, f"part-$i%02d.parquet")
      java.nio.file.Files.copy(f.toPath, copied)
      // the source orders files by modification time — make it
      // unambiguous (copies can land in the same clock tick)
      copied.toFile.setLastModified(System.currentTimeMillis()
        - 60000L + i * 30000L)
    }
    val q = StreamingOps.runToCompletion(
      StreamingOps.funnel(spark, StreamingOps.readEvents(spark, flat)),
      "stream_funnel_late",
      org.apache.spark.sql.streaming.OutputMode.Update())
    q.stop()
    val emitted = spark.table("stream_funnel_late")
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect()
    info(s"emitted: ${emitted.toSeq.sortBy(_._1)}")
    emitted.foreach { case (u, s1, s2, s3) =>
      for (a <- s1; b <- s2) assert(b >= a, s"user $u: s2 $b < s1 $a")
      for (b <- s2; c <- s3) assert(c >= b, s"user $u: s3 $c < s2 $b")
    }
    def finalOf(u: Long) = {
      val e = emitted.filter(_._1 == u)
      (e.flatMap(_._2).maxOption, e.flatMap(_._3).maxOption,
        e.flatMap(_._4).maxOption)
    }
    assert(finalOf(7L) == (Some(100L), None, None),
      "user 7's pre-view click must be dropped")
    assert(finalOf(8L) == (Some(100L), Some(150L), None),
      "user 8's later click must still advance")
    assert(finalOf(9L) == (Some(10L), Some(20L), None),
      "user 9's pre-click purchase must be dropped")
  }

  test("sharded streaming KMV sketches merge to exactly the batch sketch") {
    import spark.implicits._
    val stream = StreamingOps.readEvents(spark, eventsDir)
    val k = 64
    val q = StreamingOps.runToCompletion(
      StreamingOps.overlapSketch(spark, stream, k = k, buckets = 8),
      "stream_kmv",
      org.apache.spark.sql.streaming.OutputMode.Update())
    q.stop()
    // single batch -> one emission per bucket; merge the shards
    val shards = spark.table("stream_kmv")
      .select("clicks", "views").as[(Seq[Long], Seq[Long])].collect()
    def mergeAll(xs: Seq[Seq[Long]]): List[Long] =
      xs.flatten.foldLeft(List.empty[Long])(
        graft.engine.Sketches.kmvInsert(_, _, k))
    val (mc, mv) = (mergeAll(shards.map(_._1)), mergeAll(shards.map(_._2)))
    // batch twin on the same rows — through kmvInput, so the spec pins
    // shard-merge == batch for WHATEVER hash family the engine uses
    // (base60 since r6; the family itself is pinned by ev13's oracle)
    val in = graft.engine.Sketches.kmvInput(
      Tables.eventsTs(spark, sf0001)
        .filter(col("event_type").isin("click", "view")),
      "user_id",
      col("event_type") === "click",
      col("event_type") === "view")
    val (bc, bv) = in.select(
      graft.engine.Sketches.kmvPair(k).toColumn).head()
    assert(mc == bc.toList && mv == bv.toList,
      "merged shard sketches must equal the batch sketch bit-for-bit")
  }

  test("late rows beyond the watermark are dropped in append mode") {
    // two files: the bulk, then a far-late single event — with a 60s
    // watermark the late row lands in a closed window and is dropped
    // from append output. This pins the hot-tail-guard semantics
    // (cli.rb:28-31) as event-time behavior.
    val dir = tmpDir("stream-late")
    val ev = Tables.eventsTs(spark, sf0001)
    ev.filter(col("event_id") =!= 0).select("event_id", "ts_ns", "user_id",
        "event_type", "value", "props")
      .withColumnRenamed("ts_ns", "ts")
      .coalesce(1).write.parquet(dir + "/batch1")
    val late = ev.filter(col("event_id") === 0)
      .select("event_id", "ts_ns", "user_id", "event_type", "value", "props")
      .withColumnRenamed("ts_ns", "ts")
    late.coalesce(1).write.parquet(dir + "/batch2")

    val all = tmpDir("stream-late-all")
    Seq("batch1", "batch2").zipWithIndex.foreach { case (b, i) =>
      val f = new java.io.File(dir + "/" + b).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(all, f"part-$i%02d.parquet"))
    }
    val stream = StreamingOps.readEvents(spark, all)
    val agg = StreamingOps.tumblingCounts(stream)
    val q = agg.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .format("memory").queryName("stream_late")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    q.stop()
    val appended = spark.table("stream_late")
    // the late event (event_id=0, earliest ts) never reaches append
    // output: its window closed when batch1 advanced the watermark
    val batchAll = graft.queries.EventQueries.defs("ev01_tumbling")(spark, sf0001)
    assert(appended.agg(sum("n")).first().getLong(0) <
      batchAll.agg(sum("n")).first().getLong(0))
  }

  test("readEvents on an empty directory defines the stream instead of " +
    "throwing, and drains files that arrive later") {
    // a not-yet-populated landing directory is a normal file-stream
    // startup state; the encoding probe must fall back to the
    // current-corpus default (timestamp[us]/NTZ), not fail
    val dir = tmpDir("stream-empty-start")
    val stream = StreamingOps.readEvents(spark, dir) // must not throw
    // files arriving AFTER definition are picked up by the ordinary
    // file-source listing (encoding matches the fallback)
    val src = java.nio.file.Paths.get(Tables.path(sf0001, "events"))
    val isNtz = spark.read.parquet(src.toString)
      .schema("ts").dataType.typeName != "long"
    assume(isNtz, "corpus is on the legacy nanos encoding")
    java.nio.file.Files.copy(src,
      java.nio.file.Paths.get(dir, "events.parquet"))
    val q = StreamingOps.runToCompletion(
      StreamingOps.tumblingCounts(stream), "stream_empty_start")
    q.stop()
    val n = spark.table("stream_empty_start")
      .agg(sum("n")).first().getLong(0)
    val batch = graft.queries.EventQueries
      .defs("ev01_tumbling")(spark, sf0001)
      .agg(sum("n")).first().getLong(0)
    assert(n == batch)
  }
}
