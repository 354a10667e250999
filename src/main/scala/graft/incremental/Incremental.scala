package graft.incremental

import graft.catalog.{BackupCatalog, CatalogOps}
import graft.engine.Exporter.ExportSpec
import org.apache.spark.sql.DataFrame

/** Incremental-backup planning — the watermark arithmetic of
  * /root/reference/docs/Proposed_HBase_Backup_using_HBASE-1684.txt:21-58,
  * which the reference documents but never automated
  * (README.textile:187).
  *
  * Contract (kept identical to the reference's):
  *  - window lower bound = last recorded `end_time` per table (A2);
  *    `0` = full backup (cli.rb:79-83, mysql.rb:221-223)
  *  - upper bound = now − 60 s: the hot-tail guard (cli.rb:28-31),
  *    don't read rows still being written
  *  - append-only: deletes between windows are invisible
  *    (README.textile:7-9 — documented limitation, same here)
  */
object Incremental {

  val HotTailGuardMs: Long = 60000L

  /** The next backup window for one table. */
  def nextWindow(cat: BackupCatalog, table: String,
                 nowMs: Long): (Long, Long) =
    (cat.lastEndTime("export", table), nowMs - HotTailGuardMs)

  /** Plan incremental specs for a set of tables: each picks up at its
    * own watermark (tables can fail/lag independently, so bounds are
    * per-table, not per-session).
    */
  def planIncremental(cat: BackupCatalog, base: Seq[ExportSpec],
                      nowMs: Long): Seq[ExportSpec] = {
    val watermarks = cat.lastEndTimes("export")
    base.map { spec =>
      spec.copy(startMs = watermarks.getOrElse(spec.table, 0L),
        endMs = nowMs - HotTailGuardMs)
    }
  }

  /** A2 as a relational result (for the query surface). */
  def lastEndTimes(tables: DataFrame): DataFrame =
    CatalogOps.lastEndTimes(tables, "export")
}
