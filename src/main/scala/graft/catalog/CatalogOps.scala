package graft.catalog

import graft.plans.DriverFold
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.StringUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Pure DataFrame→DataFrame catalog query logic, shared by the
  * persistent [[BackupCatalog]] and the fixture-backed query surface.
  *
  * Each op cites the reference behavior it reproduces
  * (/root/reference/lib/hbacker/mysql.rb). All of these run over
  * catalog *metadata* (thousands of rows at most, even for a
  * 100 TB payload: one row per table per backup run). The joins of
  * the listing ops broadcast their session side; the aggregate and
  * join reads ([[lastEndTimes]], [[sessionDiff]]) fold the records on
  * the driver, with their Spark plan kept for input past the fold cap.
  */
object CatalogOps {

  /** The reference's LIKE-vs-equality dispatch: a `%` anywhere in the
    * pattern routes to LIKE, otherwise exact match
    * (mysql.rb:275,307,347; CLI docs cli.rb:191-193,275-278).
    */
  def nameFilter(c: Column, pattern: String): Column =
    if (pattern.contains("%")) c.like(pattern) else c === pattern

  /** [[nameFilter]] as a predicate over driver-held names: the same
    * dispatch, with LIKE compiled by Spark's own `escapeLikeRegex`
    * (escape `\`), so `%`, `_` and escapes match as `Column.like`
    * does. A null name matches nothing, as the filter drops it.
    */
  def nameMatcher(pattern: String): String => Boolean =
    if (pattern.contains("%")) {
      val re = java.util.regex.Pattern.compile(
        StringUtils.escapeLikeRegex(pattern, '\\'))
      n => n != null && re.matcher(n).matches()
    } else n => n != null && n == pattern

  /** P1/P4 — session lookup by name or %-pattern (mysql.rb:346-353). */
  def sessionInfo(sessions: DataFrame, mode: String,
                  sessionPattern: String): DataFrame =
    sessions.filter(col("mode") === mode &&
      nameFilter(col("session_name"), sessionPattern))

  /** P2 — the 4-way conjunctive "has this run already started" probe
    * (mysql.rb:253).
    */
  def sessionStarted(sessions: DataFrame, mode: String, cluster: String,
                     sessionName: String, destRoot: String): DataFrame =
    sessions.filter(col("mode") === mode &&
      col("cluster_name") === cluster &&
      col("session_name") === sessionName &&
      col("dest_root") === destRoot)

  /** P3 — table records by session + table %-pattern
    * (mysql.rb:277-281,306-311).
    */
  def listTableInfo(tables: DataFrame, mode: String, sessionName: String,
                    tablePattern: String): DataFrame =
    tables.filter(col("mode") === mode &&
      col("session_name") === sessionName &&
      nameFilter(col("table_name"), tablePattern))

  /** P5+P9+J1 — table names of a session under a dest root: the
    * reference does an N+1 Ruby loop child→parent (mysql.rb:285); here
    * it is a broadcast equi-join on (mode, session_name) followed by
    * the parent predicate.
    */
  def tableNames(tables: DataFrame, sessions: DataFrame, mode: String,
                 sessionPattern: String, destRoot: String): DataFrame = {
    val s = sessions.filter(col("dest_root") === destRoot)
      .select("mode", "session_name")
    tables.filter(col("mode") === mode &&
        nameFilter(col("session_name"), sessionPattern))
      .join(broadcast(s), Seq("mode", "session_name"))
      .select(col("table_name")).distinct()
  }

  /** P8 — existence probe (mysql.rb:290-297). Limit-1 short-circuit,
    * as `table_has_rows?` (S5).
    */
  def exists(tables: DataFrame, mode: String, tableName: String,
             sessionName: String): Boolean =
    !tables.filter(col("mode") === mode &&
      col("table_name") === tableName &&
      col("session_name") === sessionName).limit(1).isEmpty

  /** P7 — column descriptors with the AVAILABLE_OPTS whitelist
    * projection (mysql.rb:324-337, whitelist test at :333).
    */
  def columnDescriptors(descs: DataFrame, sessionName: String,
                        tableName: String): DataFrame =
    descs.filter(col("session_name") === sessionName &&
        col("table_name") === tableName)
      .select(ColumnDescriptor.AvailableOpts.map(col): _*)

  /** J2 — requested ∩ exported semi-join + missing check
    * (import.rb:56-63). Returns (table_name, status) with status
    * 'ok' | 'missing' so the caller can raise on any 'missing' row.
    */
  def requestedVsExported(requested: DataFrame,
                          exported: DataFrame): DataFrame = {
    val e = exported.select(col("table_name")).distinct()
      .withColumn("__present", lit(1))
    requested.join(broadcast(e), Seq("table_name"), "left_outer")
      .select(col("table_name"),
        when(col("__present").isNotNull, "ok").otherwise("missing")
          .as("status"))
  }

  /** J3 — the CLI `db` display join: sessions with their table rows
    * (cli.rb:299-321), one plan instead of the reference's per-session
    * query loop.
    */
  def displayJoin(sessions: DataFrame, tables: DataFrame,
                  mode: String): DataFrame =
    sessions.filter(col("mode") === mode)
      .select("mode", "session_name", "cluster_name", "dest_root")
      .join(tables.select("mode", "session_name", "table_name", "empty",
        "error", "row_count"), Seq("mode", "session_name"))

  /** A2 — last recorded end_time per table: the incremental-backup
    * lower bound (docs/…HBASE-1684.txt:40-47). Error rows don't
    * advance the watermark.
    *
    * A [[graft.plans.DriverFold]] frame: its collect folds the records
    * on the driver ([[lastEndTimesOf]]), which over a local relation
    * such as `BackupCatalog.tables` runs no Spark job. Past the fold cap,
    * on any null in a column it reads, or on columns not typed as a
    * [[TableRecord]]'s, the aggregate plan runs; its schema is the
    * frame's.
    */
  def lastEndTimes(tables: DataFrame, mode: String): DataFrame = {
    val plan = tables.filter(col("mode") === mode && !col("error"))
      .groupBy(col("table_name"))
      .agg(max(col("end_time")).as("last_end"))
    foldOrPlan(tables, plan, "lastEndTimes",
      "mode STRING, error BOOLEAN, table_name STRING, end_time BIGINT") {
      rows =>
        lastEndTimesOf(rows.iterator.map(r =>
          (r.getString(0), r.getBoolean(1), r.getString(2), r.getLong(3))),
          mode).map { case (t, end) => Row(t, end) }
    }
  }

  /** The fold of [[lastEndTimes]] over (mode, error, table_name,
    * end_time) records: each table's greatest end_time over its
    * non-error records of `mode`, sorted by table_name. A null mode
    * matches nothing and a null table_name is a group of its own, as
    * in the plan.
    */
  def lastEndTimesOf(records: Iterator[(String, Boolean, String, Long)],
                     mode: String): Seq[(String, Long)] =
    records.filter { case (m, error, _, _) => m == mode && !error }
      .map { case (_, _, t, end) => (t, end) }.toSeq
      .groupMapReduce(_._1)(_._2)(math.max).toSeq.sortBy(_._1)(nullsFirst)

  /** A3 — largest max_versions per table over the descriptor schema
    * (docs/…HBASE-1684.txt:28-34).
    */
  def largestVersions(descs: DataFrame): DataFrame =
    descs.groupBy(col("table_name"))
      .agg(max(col("max_versions")).as("largest_versions"))

  /** [EXT] Session diff — "what changed between two backup sessions",
    * the natural follow-up to every `db` listing (cli.rb:266-322
    * prints sessions side by side; the comparison is left to the
    * operator's eyeballs): a full-outer join of the two sessions'
    * table rows classifying each table as only_in_a / only_in_b /
    * error / changed / unchanged by recorded row_count.
    *
    * A [[graft.plans.DriverFold]] frame, as [[lastEndTimes]] is: its
    * collect folds the records on the driver ([[sessionDiffOf]]), and
    * the join plan runs past the fold cap, on any null in a column the
    * fold reads, or on columns not typed as a [[TableRecord]]'s.
    */
  def sessionDiff(tables: DataFrame, mode: String,
                  sessionA: String, sessionB: String): DataFrame = {
    def side(s: String, rc: String, err: String) =
      tables.filter(col("mode") === mode && col("session_name") === s)
        .select(col("table_name"), col("row_count").as(rc),
          col("error").as(err))
    val plan = side(sessionA, "rows_a", "err_a")
      .join(side(sessionB, "rows_b", "err_b"), Seq("table_name"),
        "full_outer")
      .withColumn("status",
        when(col("rows_a").isNull, "only_in_b")
          .when(col("rows_b").isNull, "only_in_a")
          .when(col("err_a") || col("err_b"), "error")
          .when(col("rows_a") === col("rows_b"), "unchanged")
          .otherwise("changed"))
      .select(col("table_name"), col("rows_a"), col("rows_b"),
        col("status"))
    foldOrPlan(tables, plan, "sessionDiff", "mode STRING, " +
        "session_name STRING, table_name STRING, row_count BIGINT, " +
        "error BOOLEAN") { rows =>
      sessionDiffOf(rows.iterator.map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getLong(3), r.getBoolean(4))), mode, sessionA,
        sessionB).map { case (t, a, b, status) =>
          Row(t, a.map(Long.box).orNull, b.map(Long.box).orNull, status)
        }
    }
  }

  /** The fold of [[sessionDiff]] over (mode, session_name, table_name,
    * row_count, error) records, sorted by table_name: per table, every
    * pair of a record of `sessionA` and one of `sessionB` (a full
    * outer join's cross product per key), or each record of the one
    * session that has the table alone, with the plan's status.
    */
  def sessionDiffOf(records: Iterator[(String, String, String, Long, Boolean)],
                    mode: String, sessionA: String, sessionB: String)
      : Seq[(String, Option[Long], Option[Long], String)] = {
    val rs = records.filter(_._1 == mode).toSeq
    def side(s: String) = rs.filter(_._2 == s)
      .groupMap(_._3)(r => (r._4, r._5))
    val (a, b) = (side(sessionA), side(sessionB))
    (a.keySet ++ b.keySet).toSeq.sorted(nullsFirst).flatMap { t =>
      (a.getOrElse(t, Nil), b.getOrElse(t, Nil)) match {
        case (as, Nil) => as.map(r => (t, Some(r._1), None, "only_in_a"))
        case (Nil, bs) => bs.map(r => (t, None, Some(r._1), "only_in_b"))
        case (as, bs) =>
          for ((ra, ea) <- as; (rb, eb) <- bs) yield (t, Some(ra), Some(rb),
            if (ea || eb) "error" else if (ra == rb) "unchanged"
            else "changed")
      }
    }
  }

  private val nullsFirst: Ordering[String] =
    Ordering.Option[String].on(Option(_))

  /** `plan` as a [[graft.plans.DriverFold]] frame over `tables`'
    * `columns` (a DDL list), folded by `fold`, which sees no null; the
    * plan itself when `tables` does not carry `columns` with their
    * types.
    */
  private def foldOrPlan(tables: DataFrame, plan: DataFrame, name: String,
                         columns: String)(
      fold: IndexedSeq[Row] => Seq[Row]): DataFrame = {
    val read = StructType.fromDDL(columns)
    val types = tables.schema.map(f => f.name -> f.dataType).toMap
    if (!read.forall(f => types.get(f.name).contains(f.dataType))) plan
    else DriverFold.frame(tables.select(read.fieldNames.toSeq.map(col): _*),
        plan.schema, name, DriverFold.cap) { rows =>
      if (rows.exists(r => r.anyNull)) None else Some(fold(rows))
    }(plan)
  }

  /** P10 — key canonicalization (helpers.rb:70-77): lowercase and
    * `[-\s.]`→`_` over column names, applied at DataFrame construction
    * (the reference recursively munges every hash key; a DataFrame has
    * one schema, so this is a single toDF).
    */
  def canonicalizeColumns(df: DataFrame): DataFrame = {
    val names = df.columns.map(
      _.toLowerCase(java.util.Locale.ROOT).replaceAll("[-\\s.]", "_"))
    val dupes = names.groupBy(identity).collect {
      case (n, g) if g.length > 1 => n
    }
    // fail here, not later with AMBIGUOUS_REFERENCE far from the cause
    require(dupes.isEmpty,
      s"canonicalization collides on: ${dupes.mkString(", ")}")
    df.toDF(names.toIndexedSeq: _*)
  }
}
