package graftbench

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.catalog.{BackupCatalog, CatalogOps, ColumnDescriptor}
import graft.engine.{Exporter, Importer}
import graft.engine.Exporter.{ExportSpec, Outcome}
import graft.incremental.Incremental
import graft.orchestrate.BackupRunner

/** `BackupRunner` with each protected seam timed as a span. */
final class TimedRunner(spark: SparkSession, cat: BackupCatalog, rec: Recorder)
    extends BackupRunner(spark, cat, maxConcurrent = BackupCycle.Jobs) {
  override protected def exportAttempt(spec: ExportSpec, sessionName: String,
                                       destRoot: String)
      : (Outcome, Seq[ColumnDescriptor]) =
    rec.span(s"export ${spec.table}", "engine.export",
        Map("table" -> spec.table)) {
      val r = super.exportAttempt(spec, sessionName, destRoot)
      r._1 match {
        case Exporter.Exported(_, rows, _) => rec.annotate("rows", rows)
        case _ => rec.annotate("rows", 0L)
      }
      r
    }

  override protected def importAttempt(exportCat: BackupCatalog,
                                       table: String, sessionName: String,
                                       destRoot: String, targetPath: String,
                                       format: String): Importer.Imported =
    rec.span(s"import $table", "engine.import", Map("table" -> table)) {
      val r = super.importAttempt(exportCat, table, sessionName, destRoot,
        targetPath, format)
      rec.annotate("rows", r.rows)
      r
    }

  override protected def recordExport(spec: ExportSpec, sessionName: String,
                                      outcome: Outcome,
                                      descs: Seq[ColumnDescriptor]): Unit =
    rec.span(s"record ${spec.table}", "catalog.record",
      Map("table" -> spec.table)) {
      super.recordExport(spec, sessionName, outcome, descs)
    }
}

/** The backup plane end to end, on a private copy of the corpus.
  *
  * A round: one full `exportAll` session over all ten tables (`events.ts`,
  * `orders.o_orderdate` and `lineitem.l_shipdate` windowed, events
  * version-capped per `user_id`, the rest full snapshots), then
  * [[Incrementals]] incremental sessions over the three windowed tables —
  * each after a seeded delta of rows timestamped past the watermark is
  * appended to the source and planned with `Incremental.planIncremental` —
  * then an `importAll` restore of the full session into a fresh target.
  * After the full session, the `db` command's five catalog reads run once
  * as a warm-up op; after the restore they run [[DbPasses]] times, each
  * pass one timed read op.
  *
  * Session clocks are logical (`nowMs` starts a day after the corpus's
  * last event and advances an hour per session), so windows and deltas
  * are the same on every run of a seed.
  */
final class BackupCycle extends Workload {
  import BackupCycle._

  private var srcDir: String = _

  def setup(ctx: Ctx): Unit =
    srcDir = ctx.corpusCopy("source", Tables.names)

  def run(ctx: Ctx, deadlineUs: Long): Unit =
    ctx.rounds(deadlineUs)(cycle(ctx, _))

  private def specsFor(tables: Seq[String], endMs: Long): Seq[ExportSpec] =
    tables.map { t =>
      val capped = t == "events"
      ExportSpec(t, Tables.path(srcDir, t), tsCol = Windowed.get(t),
        keyCols = if (capped) Seq("user_id") else Nil,
        tieBreakCols = if (capped) Seq("event_id") else Nil,
        versions = if (capped) EventVersions else 100000,
        endMs = endMs)
    }

  private def cycle(ctx: Ctx, round: Int): Unit = {
    val spark = ctx.spark
    val root = ctx.dir(s"backup_$round")
    val catalogRoot = s"$root/_catalog"
    val cat = new BackupCatalog(spark, catalogRoot)
    val runner = new TimedRunner(spark, cat, ctx.rec)
    // each round starts a day later, past the previous round's deltas
    var nowMs = FullNowMs + round * 86400000L
    val sessions = scala.collection.mutable.ArrayBuffer.empty[String]
    var catalogFiles = dataFiles(catalogRoot)

    // one `db` command: its five catalog reads as one op, each read a
    // layer span; every failed check is reported
    def dbPass(kind: String, session: String, tables: Seq[String]): Unit =
      ctx.op("db", kind, Map("session" -> session)) {
        val bad = dbReads(cat, root, session, sessions.toSeq, tables,
          Tables.names.size).flatMap { case (name, read) =>
            ctx.rec.span(s"catalog.$name", "catalog.read")(read())
              .map(why => s"$name: $why")
          }
        if (bad.isEmpty) None else Some(bad.mkString("; "))
      }
    // after each session: the catalog's data files (fewer than before
    // means a compaction ran) and the files and bytes the session wrote
    def afterSession(session: String): Unit = {
      sessions += session
      val files = dataFiles(catalogRoot)
      if (files.exists { case (d, n) => n < catalogFiles.getOrElse(d, 0) })
        ctx.bump("catalog_compactions")
      catalogFiles = files
      ctx.sample("catalog_data_files", files.values.sum.toDouble)
      val sessionDir = new File(s"$root/$session")
      ctx.bump("backup_files", filesUnder(sessionDir).size.toDouble)
      ctx.bump("backup_bytes", filesUnder(sessionDir).map(_.length).sum.toDouble)
    }

    // full session
    val fullEnd = nowMs - Incremental.HotTailGuardMs
    val fullSpecs = specsFor(Tables.names, fullEnd)
    val sourceBytes0 = Tables.names.map(t =>
      filesUnder(new File(Tables.path(srcDir, t))).map(_.length).sum).sum
    ctx.bump("source_bytes", sourceBytes0.toDouble)
    ctx.op("full_backup", "backup.full") {
      val s = runner.exportAll(fullSpecs, "bench", "full", root, nowMs,
        specifiedEnd = fullEnd)
      outcomesCheck(s.outcomes, Tables.names.size)
    }
    afterSession("full")
    // the first pass warms the catalog's read path and is not a timed read
    dbPass("catalog.db_warmup", "full", Tables.names)
    // what the restore must reproduce: the windowed tables' windows,
    // taken before any delta lands; the snapshot tables are the corpus
    val windows = fullSpecs.filter(_.tsCol.nonEmpty)
      .map(s => s.table -> windowOf(spark, s)).toMap

    // incremental sessions, each after a seeded delta
    for (i <- 1 to Incrementals) {
      val prevEnd = nowMs - Incremental.HotTailGuardMs
      nowMs += SessionStepMs
      val end = nowMs - Incremental.HotTailGuardMs
      val delta = appendDelta(ctx, round, i, prevEnd, end)
      ctx.bump("source_bytes", delta.values.map(_._2).sum.toDouble)
      val session = s"incr$i"
      ctx.op(s"incr_backup", "backup.incr", Map("session" -> session)) {
        val plan = ctx.rec.span("planIncremental", "incremental.plan") {
          Incremental.planIncremental(cat, specsFor(Windowed.keys.toSeq.sorted,
            end), nowMs)
        }
        val s = runner.exportAll(plan, "bench", session, root, nowMs,
          specifiedStart = prevEnd, specifiedEnd = end)
        val bad = s.outcomes.collect {
          case Exporter.Exported(t, rows, _) if rows != delta(t)._1 =>
            s"$t exported $rows rows, delta had ${delta(t)._1}"
          case o: Exporter.Failed => s"${o.table} failed: ${o.e.getMessage}"
        }
        if (bad.nonEmpty) Some(bad.mkString("; "))
        else outcomesCheck(s.outcomes, Windowed.size)
      }
      afterSession(session)
    }

    // restore the full session into a fresh target and check it
    val target = ctx.dir(s"restore_$round")
    val importCat = new BackupCatalog(spark, s"$target/_catalog")
    val restorer = new TimedRunner(spark, importCat, ctx.rec)
    ctx.op("restore", "backup.restore") {
      val out = restorer.importAll(cat, Tables.names, "bench", "full", root,
        target, nowMs + 1, importSessionName = Some("restore"))
      val failed = out.collect { case f: Importer.Failed => f.table }
      if (failed.nonEmpty) Some(s"restore failed: ${failed.mkString(",")}")
      else None
    }
    // an operator checks the backup's catalog again after a restore; the
    // timed reads, repeated so their median is steady
    for (_ <- 1 to DbPasses)
      dbPass("catalog.db", sessions.last, Windowed.keys.toSeq.sorted)
    ctx.op("restore_check", "check") {
      val catRows = cat.tables.collect()
        .filter(r => r.mode == "export" && r.session_name == "full")
        .map(r => r.table_name -> r.row_count).toMap
      val bad = Tables.names.flatMap { t =>
        val restored = Fingerprint.table(spark.read.parquet(s"$target/$t"))
        val source = windows.getOrElse(t, ctx.golden(s"corpus.$t"))
        val rows = restored.takeWhile(_ != ':').toLong
        if (restored != source) Some(s"$t restored $restored != source $source")
        else if (catRows.get(t).contains(rows)) None
        else Some(s"$t restored $rows rows, catalog says ${catRows.get(t)}")
      }
      if (bad.isEmpty) None else Some(bad.mkString("; "))
    }
  }

  /** The `db` command's reads after `session`, each with its check:
    * sessions listed, the session's tables, last end times of all
    * `allTables` recorded tables, and the diff against the first session.
    */
  private def dbReads(cat: BackupCatalog, root: String, session: String,
                      sessions: Seq[String], tables: Seq[String],
                      allTables: Int): Seq[(String, () => Option[String])] =
    Seq(
      "sessionInfo" -> { () =>
        val n = cat.sessionInfo("export", "%").collect().length
        expect(n == sessions.size, s"sessionInfo listed $n of ${sessions.size}")
      },
      "listTableInfo" -> { () =>
        val n = cat.listTableInfo("export", session, "%").collect().length
        expect(n == tables.size, s"listTableInfo listed $n of ${tables.size}")
      },
      "tableNames" -> { () =>
        val names = cat.tableNames("export", session, root)
        expect(names == tables.sorted, s"tableNames $names")
      },
      "lastEndTimes" -> { () =>
        val n = Incremental.lastEndTimes(cat.tables.toDF()).collect().length
        expect(n == allTables, s"lastEndTimes listed $n tables")
      },
      "sessionDiff" -> { () =>
        val n = CatalogOps.sessionDiff(cat.tables.toDF(), "export",
          sessions.head, session).collect().length
        expect(n == allTables, s"sessionDiff gave $n rows")
      })

  /** Appends round `round`'s `i`-th seeded delta to the windowed source
    * tables: rows with fresh keys, timestamped in `[fromMs, toMs)`.
    * Returns rows and bytes added per table.
    */
  private def appendDelta(ctx: Ctx, round: Int, i: Int, fromMs: Long,
                          toMs: Long): Map[String, (Long, Long)] = {
    val spark = ctx.spark
    val sizes = Windowed.keys.toSeq.sorted.map { t =>
      t -> (DeltaRows(t) / 2 + ctx.rng.nextInt(DeltaRows(t).toInt)).toLong
    }.toMap
    ctx.record(s"delta_rows.$i", sizes)
    val stepUs = (toMs - fromMs) * 1000L
    val keyBase = 1000000000L * (round * 100 + i)
    val salt = ctx.seed * 7919 + round * 101 + i
    sizes.map { case (t, n) =>
      val rows: DataFrame = t match {
        case "events" =>
          Corpus.events(spark.range(0, n, 1, 1).toDF(), fromMs * 1000L,
            stepUs / n, keyBase + salt)
        case other =>
          val base = Corpus.table(spark, other, n)
          val key = if (other == "orders") "o_orderkey" else "l_orderkey"
          val tsCol = Windowed(other)
          base.withColumn(key, col(key) + lit(keyBase))
            .withColumn(tsCol, timestamp_micros(
              lit(fromMs * 1000L) + pmod(xxhash64(col(key), lit(salt)),
                lit(stepUs))).cast("timestamp_ntz"))
      }
      val dir = Tables.path(srcDir, t)
      val before = filesUnder(new File(dir)).map(_.length).sum
      rows.coalesce(1).write.mode("append").parquet(dir)
      t -> (n, filesUnder(new File(dir)).map(_.length).sum - before)
    }
  }

  /** What the full session must contain for `spec`: the window, then for
    * events the newest [[EventVersions]] rows per user — computed here
    * independently of graft's exporter — as its table fingerprint.
    */
  private def windowOf(spark: SparkSession, spec: ExportSpec): String = {
    val src = spark.read.parquet(spec.srcPath)
    val windowed = spec.tsCol.fold(src) { ts =>
      src.filter(col(ts).cast("timestamp") < timestamp_millis(lit(spec.endMs)))
    }
    val capped = if (spec.keyCols.isEmpty) windowed else {
      val w = Window.partitionBy(spec.keyCols.map(col): _*)
        .orderBy(col(spec.tsCol.get).desc, col("event_id").desc)
      windowed.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= spec.versions).drop("__rn")
    }
    Fingerprint.table(capped)
  }
}

object BackupCycle {
  /** The CLI's default number of concurrent table jobs. */
  val Jobs = 6
  val Incrementals = 2
  /** Timed `db` passes after the restore. */
  val DbPasses = 5
  val EventVersions = 60
  val Windowed: Map[String, String] = Map("events" -> "ts",
    "orders" -> "o_orderdate", "lineitem" -> "l_shipdate")
  /** Mean delta size per incremental session (uniform in [n/2, 3n/2)). */
  val DeltaRows: Map[String, Long] = Map("events" -> 2000L,
    "orders" -> 1500L, "lineitem" -> 6000L)
  /** Logical clock: one day after the corpus's last event. */
  val FullNowMs: Long =
    (Corpus.EventsStartUs + Corpus.EventsSpanUs) / 1000L + 86400000L
  val SessionStepMs: Long = 3600000L

  def expect(ok: Boolean, why: => String): Option[String] =
    if (ok) None else Some(why)

  def outcomesCheck(outcomes: Seq[Outcome], n: Int): Option[String] = {
    val bad = outcomes.collect { case f: Exporter.Failed =>
      s"${f.table}: ${f.e.getMessage}" }
    if (bad.nonEmpty) Some(bad.mkString("; "))
    else expect(outcomes.size == n, s"${outcomes.size} outcomes for $n tables")
  }

  def filesUnder(d: File): Seq[File] =
    if (d.isFile) Seq(d)
    else Option(d.listFiles()).toSeq.flatten.flatMap(filesUnder)

  /** Parquet data files per catalog store directory. */
  def dataFiles(catalogRoot: String): Map[String, Int] =
    Option(new File(catalogRoot).listFiles()).toSeq.flatten
      .filter(_.isDirectory).map { d =>
        d.getName -> filesUnder(d).count(f =>
          f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      }.toMap
}
