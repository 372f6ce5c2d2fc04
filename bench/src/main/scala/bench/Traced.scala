package bench

import graft.etl._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** Layer counts gathered at the same boundaries as the spans. */
final class EtlCounts {
  var gridCalls, cells, rowsTransformed, reloaded, hashSkipped = 0L
  var replaceCalls, readCalls, metaBytesWritten = 0L
  var loadRows, loadFiles, loadBytes = 0L
}

/** Timing decorator over the extract boundary. */
final class TracedGridSource(inner: GridSource, trace: Trace, counts: EtlCounts)
    extends GridSource {
  override def list(cursorModified: String, cursorId: String, count: Int): Seq[SpreadsheetMeta] =
    trace.span("extract.list")(inner.list(cursorModified, cursorId, count))

  override def meta(id: String): Option[SpreadsheetMeta] =
    trace.span("extract.meta")(inner.meta(id))

  override def grid(id: String, sheetName: String): SheetGrid = {
    val g = trace.span("extract.grid")(inner.grid(id, sheetName))
    counts.gridCalls += 1
    counts.cells += g.rows.iterator.map(_.size.toLong).sum
    g
  }
}

/** Timing decorator over the accounting storage boundary. Bytes written
  * are read from the file system after each replace, never from Spark.
  */
final class TracedMetaStorage(inner: SnapshotMetaStorage, trace: Trace, counts: EtlCounts)
    extends MetaStorage {
  override def exists(table: String): Boolean =
    trace.span("meta_storage.exists")(inner.exists(table))

  override def read(table: String, schema: StructType): DataFrame = {
    counts.readCalls += 1
    trace.span("meta_storage.read")(inner.read(table, schema))
  }

  override def replace(table: String, df: DataFrame): Unit = {
    counts.replaceCalls += 1
    trace.span("meta_storage.replace")(inner.replace(table, df))
    counts.metaBytesWritten += Main.duBytes(inner.tablePath(table))
  }
}

/** The traced ETL tick: EtlMain's batch sequence with `Tasks`' public
  * calls replayed from outside, one span around each, in `Tasks`' exact
  * order. The untraced run calls `Tasks` itself; a replay that drifted from
  * it shows as a different warehouse digest or Spark job count.
  */
final class TracedTick(source: GridSource, meta: MetaStore, targets: TargetStore,
    loadTime: Long, trace: Trace, counts: EtlCounts) {

  private val defaultCursor = new Tasks(source, meta, targets, loadTime).defaultCursor

  /** One tick; returns the jobs loaded and the access-audit verdict. */
  def run(configPath: String): (Seq[EtlConfig], Boolean) = {
    val configs = trace.span("tasks.configure")(EtlConfig.fromFile(configPath))
    trace.span("accounting.set_up")(meta.setUpAccounting())
    trace.span("tasks.discover") {
      val (m, id) = trace.span("accounting.cursor")(meta.getGreatestModified())
        .getOrElse(defaultCursor)
      val found = source.list(m, id, 200)
      trace.span("accounting.set_seen")(meta.setSpreadsheetsSeen(found, loadTime))
    }
    val jobs = trace.span("tasks.load") {
      val jobs = trace.span("accounting.filter")(meta.filterExtractable(configs))
      jobs.foreach(loadSheet)
      jobs
    }
    val ok = trace.span("tasks.audit") {
      trace.span("accounting.oldest_seen")(meta.getOldestSeen()) match {
        case None => true
        case Some(id) =>
          source.meta(id) match {
            case None => false
            case Some(m) =>
              trace.span("accounting.set_seen")(meta.setSpreadsheetSeen(m, loadTime)); true
          }
      }
    }
    (jobs, ok)
  }

  /** `Tasks.loadSheet`, call for call. */
  private def loadSheet(cfg: EtlConfig): Unit = trace.span("tasks.load_sheet") {
    val grid = source.grid(cfg.googleSpreadsheetId, cfg.sheetName)
    val (selectors, outNames) = trace.span("transform") {
      val selectors =
        try grid.columnSelectorsFromHeaderRow(cfg.columnMapping.map(_._2), cfg.headerRow)
        catch {
          case e: Exception => throw new IllegalArgumentException(
            s"${e.getMessage} in spreadsheet ${cfg.googleSpreadsheetId} sheet ${cfg.sheetName}", e)
        }
      (selectors, Normalize.columnNames(cfg.columnMapping.map(_._1)))
    }
    val oldHash = trace.span("accounting.get_job_hash")(
      meta.getJobHash(cfg.googleSpreadsheetId, cfg.sheetName))
    val jobId = trace.span("accounting.ensure_job")(
      meta.ensureJob(cfg.googleSpreadsheetId, cfg.sheetName, cfg.targetTable))
    if (!oldHash.contains(grid.hash)) {
      val rows = trace.span("transform")(grid.toRows(selectors, cfg.skipRows))
      counts.rowsTransformed += rows.size
      counts.reloaded += 1
      trace.span("load")(targets.loadJobRows(cfg.targetTable, jobId, outNames, rows))
      val part = s"${targets.path(cfg.targetTable)}/_origin_etl_job_id=$jobId"
      counts.loadRows += rows.size
      counts.loadFiles += Main.parquetFiles(part)
      counts.loadBytes += Main.duBytes(part)
    } else counts.hashSkipped += 1
    trace.span("accounting.commit_job")(
      meta.commitJob(cfg.googleSpreadsheetId, cfg.sheetName, grid.hash))
  }
}
