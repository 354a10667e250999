package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch event operators
  * (SURVEY.md §2.9). The reference's incremental-backup contract *is*
  * watermark semantics: "don't read the hot tail" (now − 60 s,
  * /root/reference/lib/hbacker/cli.rb:28-31) plus per-table windows
  * recorded in the catalog — the same shape as a watermarked
  * windowed aggregation over an append-only stream.
  *
  * At scale: the parquet file source lists new files per trigger
  * (`maxFilesPerTrigger` bounds a micro-batch); state for the window
  * agg / sessionization is keyed by (window, type) / user and lives in
  * the state store, partitioned by the same shuffle key as the batch
  * twin.
  */
object StreamingOps {

  /** Raw event schema as stored, parameterized on the on-disk `ts`
    * type — the corpus has shipped both TIMESTAMP(NANOS)-as-Long
    * (legacy, via nanosAsLong) and plain timestamp[us] (current), and a
    * stream reader MUST declare the physical type or the vectorized
    * reader reinterprets the raw int64 (micros read as "nanos" shrink
    * every timestamp 1000×).
    */
  def eventSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** A streaming reader over a directory of event parquet files,
    * normalized to the same (ts_ns long, ts timestamp) contract as
    * graft.Tables.eventsTs. The on-disk `ts` type is probed with a
    * one-off batch read (driver-side footer inspection, no job) so the
    * declared stream schema matches the files; thereafter both
    * encodings take the same downstream operators.
    *
    * An EMPTY (or not-yet-populated) directory is a normal
    * file-stream startup state: the probe then finds no footers and
    * the reader falls back to the current-corpus encoding,
    * timestamp[us] (read as TIMESTAMP_NTZ), instead of throwing at
    * stream definition. The encoding is pinned for the stream's
    * lifetime — a directory MUST be encoding-homogeneous (all legacy
    * nanos files or all timestamp[us] files); mixing encodings needs
    * two streams over two directories.
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      try spark.read.parquet(dir).schema("ts").dataType
      catch {
        case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.toLowerCase.contains("unable to infer") ||
            e.getMessage.toLowerCase.contains("path does not exist") =>
          TimestampNTZType
      }
    val raw = spark.readStream
      .schema(eventSchema(tsType))
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val normalized = tsType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampNTZType | TimestampType =>
        // NTZ→TZ is the identity on the stored micros ONLY under a
        // UTC session — checked here (same contract as Tables.eventsTs)
        require(spark.conf.get("spark.sql.session.timeZone") == "UTC",
          "events.ts is TIMESTAMP_NTZ: set spark.sql.session.timeZone" +
            "=UTC before streaming events (session TZ is " +
            s"'${spark.conf.get("spark.sql.session.timeZone")}')")
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other")
    }
    normalized.select(col("event_id"), col("ts_ns"), col("user_id"),
      col("event_type"), col("value"), col("props"), col("ts"))
  }

  /** ev01's streaming twin: tumbling 1h counts with a 60 s watermark
    * (the hot-tail guard as event-time semantics).
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "60 seconds")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .select(unix_millis(col("w.start")).as("bucket_ms"),
        col("event_type"), col("n"), col("sum_value"))

  final case class SessionState(lastUs: Long, nSessions: Long, nEvents: Long)
  final case class UserSessions(user_id: Long, n_sessions: Long,
                                n_events: Long)

  /** ev02's streaming twin: explicit keyed state via mapGroupsWithState
    * — 30-min-gap sessionization. (Update-mode state, one state row
    * per user.)
    */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapUs: Long = 1800000000L): DataFrame = {
    import spark.implicits._
    val typed = events
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"))
      .as[(Long, Long, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[SessionState, UserSessions](
        GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { case (_, ts, _) =>
            val isNew = st.lastUs == Long.MinValue || ts - st.lastUs > gapUs
            st = SessionState(ts, st.nSessions + (if (isNew) 1 else 0),
              st.nEvents + 1)
          }
          state.update(st)
          UserSessions(user, st.nSessions, st.nEvents)
      }.toDF()
  }

  final case class OpenSession(startUs: Long, lastUs: Long, nEvents: Long)
  final case class ClosedSession(user_id: Long, start_us: Long,
                                 end_us: Long, n_events: Long)

  /** Per-session emission via flatMapGroupsWithState + event-time
    * timeout: a user's session is EMITTED (not just counted) once the
    * gap elapses — either observed in-batch (a later event arrives
    * past the gap) or via state timeout when the watermark passes
    * lastSeen + gap. Append-mode output, one state row per user,
    * GC'd by the timeout — the production sessionization shape, where
    * downstream consumes finished sessions as rows.
    */
  def sessionEmit(spark: SparkSession, events: DataFrame,
                  gapUs: Long = 1800000000L): DataFrame = {
    import spark.implicits._
    // the watermarked `ts` column must survive the projection: Spark
    // requires the event-time attribute inside the child plan of a
    // flatMapGroupsWithState with EventTimeTimeout
    val typed = events
      .withWatermark("ts", "60 seconds")
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("ts"))
      .as[(Long, Long, Long, java.sql.Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[OpenSession]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            // watermark passed lastSeen + gap: the open session is over
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(user, s.startUs, s.lastUs,
              s.nEvents))
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSession]
            sorted.foreach { case (_, ts, _, _) =>
              open match {
                case Some(s) if ts - s.lastUs <= gapUs =>
                  // min/max, not assignment: an out-of-order event from
                  // a later micro-batch (legal within the watermark) may
                  // precede the session's recorded bounds
                  open = Some(OpenSession(math.min(s.startUs, ts),
                    math.max(s.lastUs, ts), s.nEvents + 1))
                case Some(s) =>
                  closed += ClosedSession(user, s.startUs, s.lastUs, s.nEvents)
                  open = Some(OpenSession(ts, ts, 1L))
                case None =>
                  open = Some(OpenSession(ts, ts, 1L))
              }
            }
            open.foreach { s =>
              state.update(s)
              // wake up when the watermark proves the gap has elapsed —
              // ceil to ms so the timeout can never fire before an event
              // at exactly lastUs+gap (which the in-batch rule merges)
              state.setTimeoutTimestamp((s.lastUs + gapUs + 999L) / 1000)
            }
            closed.result().iterator
          }
      }.toDF()
  }

  final case class OpenPathSession(events: Seq[(Long, Long, String)])
  final case class ClosedSessionPath(user_id: Long, start_us: Long,
                                     end_us: Long, path: String)

  /** ev19/ev20's streaming feeder — [[sessionEmit]]'s state machine
    * with the session's event-type PATH carried: state holds the open
    * session's (ts_us, event_id, event_type) triples (bounded by the
    * open session's own event count — the gap closes any pause, and
    * the event-time timeout GC's abandoned users), and at close the
    * triples sort on (ts, event_id) — ev19's total order, so an
    * out-of-order event arriving in a LATER micro-batch (legal within
    * the watermark) lands in its true position — and join to the
    * `a>b>c` path string. Append-mode, one open session per user.
    * [[pathCounts]] / [[pathTransitions]] fold the emitted sessions to
    * exactly ev19's ranking and ev20's transition matrix
    * (StreamingSpec pins drain == batch on both).
    */
  def sessionPathEmit(spark: SparkSession, events: DataFrame,
                      gapUs: Long = 1800000000L): DataFrame = {
    import spark.implicits._
    val typed = events
      .withWatermark("ts", "60 seconds")
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Long, Long, String, java.sql.Timestamp)]
    def close(user: Long, s: OpenPathSession): ClosedSessionPath = {
      val ordered = s.events.sortBy(e => (e._1, e._2))
      ClosedSessionPath(user, ordered.head._1, ordered.last._1,
        ordered.map(_._3).mkString(">"))
    }
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[OpenPathSession, ClosedSessionPath](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[OpenPathSession]) =>
          if (rows.isEmpty && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(close(user, s))
          } else {
            val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
            var open = state.getOption
            val closed = Seq.newBuilder[ClosedSessionPath]
            sorted.foreach { case (_, ts, eid, tpe, _) =>
              open match {
                // bounds are min/max over the kept triples, so the
                // membership test uses the recorded last event time
                case Some(s) if ts - s.events.iterator.map(_._1).max
                    <= gapUs =>
                  open = Some(OpenPathSession(s.events :+ ((ts, eid, tpe))))
                case Some(s) =>
                  closed += close(user, s)
                  open = Some(OpenPathSession(Seq((ts, eid, tpe))))
                case None =>
                  open = Some(OpenPathSession(Seq((ts, eid, tpe))))
              }
            }
            open.foreach { s =>
              state.update(s)
              val lastUs = s.events.iterator.map(_._1).max
              state.setTimeoutTimestamp((lastUs + gapUs + 999L) / 1000)
            }
            closed.result().iterator
          }
      }.toDF()
  }

  /** ev19's fold over emitted sessions: count per distinct path,
    * deterministic top-k (count desc, path asc — the query's exact
    * TakeOrdered cut). Runs on [[sessionPathEmit]]'s drained output
    * or any (path) table.
    */
  def pathCounts(closed: DataFrame, k: Int = 20): DataFrame =
    closed.groupBy(col("path"))
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)

  /** ev20's fold over emitted sessions: consecutive-type pairs from
    * each path (zip of the path with itself shifted by one — a
    * single-event session contributes none), counted and out-degree-
    * normalized on the round-6 grid exactly as the batch query.
    */
  def pathTransitions(closed: DataFrame): DataFrame = {
    val types = split(col("path"), ">")
    val pairs = closed
      .select(explode(zip_with(
        slice(types, lit(1), size(types) - 1),
        slice(types, lit(2), size(types) - 1),
        (a, b) => struct(a.as("prev_type"), b.as("event_type"))))
        .as("tr"))
      .select(col("tr.prev_type"), col("tr.event_type"))
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("tot"))
    pairs.join(totals, "prev_type")
      .select(col("prev_type"), col("event_type"), col("n"),
        round(col("n").cast("double") / col("tot").cast("double"), 6)
          .as("p"))
  }

  /** d01's streaming twin: exact dedup keyed on event_id with state
    * bounded by the watermark — duplicates arriving within the
    * watermark horizon are dropped, and dedup state is GC'd once the
    * watermark passes (unbounded-state-safe, unlike a plain
    * `dropDuplicates` on a stream).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "60 seconds")
      .dropDuplicatesWithinWatermark("event_id")

  final case class LastView(lastViewUs: Long)
  final case class EnrichedPurchase(user_id: Long, purchase_id: Long,
                                    purchase_us: Long,
                                    last_view_us: Option[Long])

  /** ev07's streaming twin — as-of ENRICHMENT as keyed state: one
    * `LastView` row per user carries the max view time seen so far;
    * each purchase is emitted immediately, enriched with it. Unlike
    * [[purchaseViewJoin]] (which buffers an hour of views per user in
    * join state), the as-of shape needs O(1) state per key and no
    * retraction — the right fold for "latest value at-or-before".
    *
    * Within a micro-batch, a user's rows are processed in (ts, views
    * before purchases at equal ts) order so a same-microsecond view
    * counts for its purchase exactly as the batch operator's `<=`
    * does; run as one AvailableNow batch the output equals ev07
    * row-for-row (StreamingSpec). Across micro-batches the append
    * output is best-effort-ordered: a view arriving in a LATER batch
    * than a purchase it precedes in event time cannot retro-update the
    * already-emitted row — the inherent as-of-enrichment/append trade,
    * bounded by the source's batch skew.
    *
    * MEMORY BOUND: one group call must buffer that user's rows of the
    * CURRENT trigger to order them (the state shuffle routes one key's
    * batch to one task — the inherent bound of every keyed-state
    * operator, not of this fold). The buffers are primitive arrays:
    * 8 bytes per view + ~20 per purchase, so even a pathological
    * 10M-event single-user trigger costs ~100-200 MB on one executor
    * rather than OOMing on boxed tuples; cap trigger size
    * (maxFilesPerTrigger / maxOffsetsPerTrigger) to bound it further.
    * Cross-trigger state stays O(1) per user regardless.
    */
  def asofEnrich(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[LastView, EnrichedPurchase](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[LastView]) =>
          // primitive buffers, not a boxed sort of the whole group:
          // views need only their sorted timestamps; purchases sort by
          // an index permutation (enrichment per purchase depends only
          // on ts, so purchase tie order cannot change any output row)
          val viewB = new scala.collection.mutable.ArrayBuilder.ofLong
          val pTsB = new scala.collection.mutable.ArrayBuilder.ofLong
          val pIdB = new scala.collection.mutable.ArrayBuilder.ofLong
          rows.foreach { case (_, ts, eid, typ) =>
            if (typ == "view") viewB += ts
            else { pTsB += ts; pIdB += eid }
          }
          val views = viewB.result(); java.util.Arrays.sort(views)
          val pTs = pTsB.result(); val pId = pIdB.result()
          val order = Array.range(0, pTs.length)
            .sortBy(i => pTs(i)) // boxes ints, not rows; stable
          var last = state.getOption.map(_.lastViewUs)
          if (views.nonEmpty)
            last = Some(last.fold(views.last)(math.max(_, views.last)))
          var vi = 0
          val out = new Array[EnrichedPurchase](pTs.length)
          var oi = 0
          var running = state.getOption.map(_.lastViewUs)
          order.foreach { p =>
            while (vi < views.length && views(vi) <= pTs(p)) {
              running = Some(running.fold(views(vi))(math.max(_, views(vi))))
              vi += 1
            }
            out(oi) = EnrichedPurchase(user, pId(p), pTs(p), running)
            oi += 1
          }
          last.foreach(v => state.update(LastView(v)))
          out.iterator
      }.toDF()
  }

  final case class FunnelState(s1: Long, s2: Long, s3: Long) // -1 = unset
  final case class FunnelRow(user_id: Long, s1: Option[Long],
                             s2: Option[Long], s3: Option[Long])

  /** ev14's streaming twin — the staged funnel (first view → first
    * click at-or-after it → first purchase at-or-after that click) as
    * keyed state: three timestamps per user, FOREVER O(1). Update mode
    * emits each user's current stage times every trigger; the funnel
    * counts are one tiny aggregate over the latest emission.
    *
    * Within a trigger, a user's rows sort by (ts, stage) — encoded
    * into one primitive long (`us·4 + stage`, us < 2⁶¹) so the buffer
    * is a single Array[Long] — exactly the batch operator's tie order
    * (a same-microsecond later stage still qualifies). Run as one
    * AvailableNow batch the per-user stages equal ev14's
    * (StreamingSpec); across micro-batches the fold is monotone (set
    * stages never move), so a view arriving AFTER a batch that
    * already advanced s2/s3 cannot retro-improve them — the same
    * append-trade as [[asofEnrich]], bounded by source batch skew.
    * Stage advancement also requires `us >= prior stage`: a click
    * that straggles into a LATER trigger with a timestamp before the
    * already-set s1 is dropped, so emitted rows always satisfy
    * s1 <= s2 <= s3 — the batch contract's invariant, never violated
    * regardless of trigger boundaries (within a trigger the sorted
    * fold makes the guard a no-op).
    */
  def funnel(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    val typed = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), expr("ts_ns div 1000").as("us"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1)
          .otherwise(2).as("stage"))
      .as[(Long, Long, Int)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[FunnelState, FunnelRow](
        GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[FunnelState]) =>
          val enc = new scala.collection.mutable.ArrayBuilder.ofLong
          rows.foreach { case (_, us, stage) => enc += us * 4 + stage }
          val sorted = enc.result(); java.util.Arrays.sort(sorted)
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          var i = 0
          while (i < sorted.length) {
            val us = sorted(i) >> 2
            (sorted(i) & 3L) match {
              case 0L => if (st.s1 < 0) st = st.copy(s1 = us)
              case 1L =>
                if (st.s2 < 0 && st.s1 >= 0 && us >= st.s1) st = st.copy(s2 = us)
              case _ =>
                if (st.s3 < 0 && st.s2 >= 0 && us >= st.s2) st = st.copy(s3 = us)
            }
            i += 1
          }
          state.update(st)
          def opt(v: Long) = if (v < 0) None else Some(v)
          FunnelRow(user, opt(st.s1), opt(st.s2), opt(st.s3))
      }.toDF()
  }

  final case class KmvState(a: Seq[Long], b: Seq[Long])
  final case class KmvBuckets(bucket: Int, clicks: Seq[Long],
                              views: Seq[Long])

  /** ev13's streaming twin — the paired KMV overlap sketch as keyed
    * streaming state, SHARDED by hash bucket so no single task owns
    * the whole stream: each of `buckets` keys maintains its own
    * (clicks, views) k-minima. Per-bucket minima merged downstream
    * are exactly the global minima (any global k-smallest hash is a
    * fortiori among its own bucket's k smallest), so the merged
    * estimate equals the batch sketch's bit-for-bit — asserted in
    * StreamingSpec. Update mode emits each bucket's current sketch
    * every trigger: a live overlap dashboard is one tiny batch merge
    * of `buckets` rows away at any moment. State is ≤ 2k longs per
    * bucket FOREVER — the sketch is the bounded summary, so unlike
    * sessionization there is nothing to time out or GC.
    */
  def overlapSketch(spark: SparkSession, events: DataFrame,
                    k: Int = 256, buckets: Int = 8): DataFrame = {
    import spark.implicits._
    val typed = graft.engine.Sketches.kmvInput(
      events.filter(col("event_type").isin("click", "view")),
      "user_id",
      col("event_type") === "click",
      col("event_type") === "view")
    typed.groupByKey(t => math.floorMod(t._1, buckets.toLong).toInt)
      .mapGroupsWithState[KmvState, KmvBuckets](
        GroupStateTimeout.NoTimeout) {
        case (bucket, rows, state: GroupState[KmvState]) =>
          var sa = state.getOption.map(_.a.toList).getOrElse(Nil)
          var sb = state.getOption.map(_.b.toList).getOrElse(Nil)
          rows.foreach { case (h, ia, ib) =>
            if (ia) sa = graft.engine.Sketches.kmvInsert(sa, h, k)
            if (ib) sb = graft.engine.Sketches.kmvInsert(sb, h, k)
          }
          state.update(KmvState(sa, sb))
          KmvBuckets(bucket, sa, sb)
      }.toDF()
  }

  final case class DomainCapState(rev: Long, picked: Seq[(Long, Long)])
  final case class DomainCapPick(doc_id: Long, source: String,
                                 pick: Long, rev: Long)

  /** x26's streaming twin: maintain the per-domain document cap online
    * as documents stream in. State per source is the current bottom-k
    * of (portable hash, doc_id) — the identical total order as the
    * batch [[graft.ext.TextAnalysis.domainCap]] / BottomKAggregator,
    * so after a full drain the latest emission per source is
    * bit-identical to the batch picks (asserted in StreamingDedupSpec).
    *
    * State is BOUNDED at `cap` (hash, id) pairs per domain forever —
    * the eviction IS the bottom-k partial merge, applied per
    * micro-batch — so like [[overlapSketch]] there is nothing to time
    * out: a mega-domain streams through a constant-size state cell.
    * The pre-merge `.distinct` makes a replayed micro-batch (at-least-
    * once delivery) a no-op rather than a double-insert. Update mode:
    * each trigger re-emits the current picks (with a monotone state
    * revision) for the domains it touched; [[domainCapFinalize]]
    * resolves the drained sink to the latest revision per domain.
    */
  def domainCapStream(spark: SparkSession, docs: DataFrame,
                      cap: Int = 10): DataFrame = {
    import spark.implicits._
    val keyed = docs
      .select(col("source"),
        graft.ext.Hashing.base60(col("doc_id").cast("string")).as("h"),
        col("doc_id").cast("long").as("doc_id"))
      .as[(String, Long, Long)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[DomainCapState, DomainCapPick](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (source, rows, state: GroupState[DomainCapState]) =>
          val prev = state.getOption.getOrElse(DomainCapState(0L, Nil))
          val merged = (prev.picked ++ rows.map(r => (r._2, r._3)))
            .distinct.sorted.take(cap)
          state.update(DomainCapState(prev.rev + 1, merged))
          merged.iterator.zipWithIndex.map { case ((_, id), i) =>
            DomainCapPick(id, source, i + 1L, prev.rev + 1) }
      }.toDF()
  }

  /** x34's streaming twin: maintain the per-stratum weighted sample
    * (A-ES) online — the [[domainCapStream]] shape with the selection
    * key swapped from the uniform hash to the shared A-ES key
    * ([[graft.ext.TextAnalysis.aesKey]] — ONE definition with the
    * batch operator, so the two cannot drift). State per source stays
    * BOUNDED at k (key, doc_id) pairs forever; replays fold via the
    * pre-merge distinct; drain + [[domainCapFinalize]] == the batch
    * [[graft.ext.TextAnalysis.weightedSample]] (spec-pinned).
    */
  def weightedSampleStream(spark: SparkSession, docs: DataFrame,
                           k: Int = 5): DataFrame = {
    import spark.implicits._
    val keyed = docs
      .select(col("source"), graft.ext.TextAnalysis.aesKey.as("lk"),
        col("doc_id").cast("long").as("doc_id"))
      .as[(String, Long, Long)]
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[DomainCapState, DomainCapPick](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        case (source, rows, state: GroupState[DomainCapState]) =>
          val prev = state.getOption.getOrElse(DomainCapState(0L, Nil))
          val merged = (prev.picked ++ rows.map(r => (r._2, r._3)))
            .distinct.sorted.take(k)
          state.update(DomainCapState(prev.rev + 1, merged))
          merged.iterator.zipWithIndex.map { case ((_, id), i) =>
            DomainCapPick(id, source, i + 1L, prev.rev + 1) }
      }.toDF()
  }

  /** Batch finalize over [[domainCapStream]]'s drained Update-mode
    * sink: the latest revision per domain is the answer. The sink is
    * emissions-sized (≤ batches × domains × cap rows — KB-scale next
    * to the corpus), so a per-source window here is a few rows per
    * partition, not the mega-domain hazard the batch operator avoids
    * (and it sidesteps the self-join ambiguity a max-rev join hits on
    * memory-sink views).
    */
  def domainCapFinalize(emitted: DataFrame): DataFrame = {
    val bySource = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
    emitted
      .withColumn("max_rev", max(col("rev")).over(bySource))
      .filter(col("rev") === col("max_rev"))
      .select("doc_id", "source", "pick")
  }

  /** Stream-stream interval join (the watermarked join shape): each
    * purchase matched to the same user's view events in the preceding
    * hour. Both sides carry watermarks and the join condition bounds
    * event-time distance, so join state is GC-able; inner-join matches
    * emit eagerly. State is shuffle-partitioned by user_id on both
    * sides — the same key the batch twin shuffles on.
    */
  def purchaseViewJoin(events: DataFrame): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", "60 seconds")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", "60 seconds")
    purchases.join(views,
        col("p_user") === col("v_user") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        unix_micros(col("p_ts")).as("purchase_us"),
        col("view_id"), unix_micros(col("v_ts")).as("view_us"))
  }

  /** Drive a streaming query to completion over static files (memory
    * sink), returning the sink table name.
    */
  def runToCompletion(df: DataFrame, name: String,
                      mode: OutputMode = OutputMode.Complete()): StreamingQuery = {
    val q = df.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    val finished = q.awaitTermination(120000)
    if (!finished) {
      q.stop()
      throw new IllegalStateException(
        s"streaming query $name did not finish within 120s — " +
          "memory sink would be incomplete")
    }
    q
  }
}
