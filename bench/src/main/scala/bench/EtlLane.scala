package bench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.etl._
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The ETL workloads over `LocalGridSource` fixtures and
  * `SnapshotMetaStorage`. A tick is EtlMain's batch sequence
  * (loadConfiguration → setUpAccounting → findSomeUpdatedSpreadsheets →
  * loadSomeUpdatedSpreadsheets → verifyOldestSpreadsheet); a cold sync
  * repeats ticks on a fresh warehouse until every configured job is loaded.
  * With tracing on, every untraced pass is followed by a traced replay of
  * the same pass into a warehouse of its own.
  */
final class EtlLane(spark: SparkSession, spec: Spec, trace: Trace, counter: JobCounter,
    memory: LiveMemory) {
  private val root = spec.root
  private val fixtures = spec.str("fixtures")
  private val config = spec.str("config")
  private val loadTime = spec.num("load_time").toLong
  private val order = new PassOrder(spec)
  private val mapper = new ObjectMapper()
  /** No-op ticks after each cold sync or delta tick: cheap, so taken
    * twice for a steadier median. */
  private val NoopTicks = 2

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** (result, wall seconds, Spark work) of one call; counts are read with
    * the listener bus drained, outside the timed interval.
    */
  private def measured[T](body: => T): (T, Double, Work) = {
    val w0 = counter.all
    val t0 = System.nanoTime()
    val r = body
    val s = secondsSince(t0)
    (r, s, counter.all - w0)
  }

  /** One tick on warehouse `wh`; returns (jobs loaded, access audit ok). */
  private def tick(wh: String, fixtureDir: String, configPath: String, time: Long,
      traced: Option[EtlCounts]): (Int, Boolean) = {
    val storage = new SnapshotMetaStorage(spark, s"$wh/meta")
    val targets = new TargetStore(spark, s"$wh/tables")
    traced match {
      case None =>
        val meta = new MetaStore(spark, storage)
        val tasks = new Tasks(new LocalGridSource(fixtureDir), meta, targets, time)
        tasks.loadConfiguration(configPath)
        meta.setUpAccounting()
        tasks.findSomeUpdatedSpreadsheets()
        val loaded = tasks.loadSomeUpdatedSpreadsheets()
        (loaded.size, tasks.verifyOldestSpreadsheet())
      case Some(c) =>
        val meta = new MetaStore(spark, new TracedMetaStorage(storage, trace, c))
        val source = new TracedGridSource(new LocalGridSource(fixtureDir), trace, c)
        val (jobs, ok) = new TracedTick(source, meta, targets, time, trace, c).run(configPath)
        (jobs.size, ok)
    }
  }

  private def coldSync(wh: String, fixtureDir: String, configPath: String,
      traced: Option[EtlCounts]): Unit = {
    val jobs = EtlConfig.fromFile(configPath).size
    var loaded = 0
    while (loaded < jobs) {
      val (n, ok) = tick(wh, fixtureDir, configPath, loadTime, traced)
      require(ok, s"access audit failed on $wh")
      require(n > 0, s"cold sync stalled at $loaded of $jobs jobs")
      loaded += n
    }
  }

  /** Per-layer numbers of one traced pass. */
  private def layers(run: String, c: EtlCounts, work: Work): Map[String, Double] = {
    val tot = trace.totals(run)
    def s(n: String): Double = tot.getOrElse(n, 0.0)
    Map(
      "extract.list.s" -> s("extract.list"),
      "extract.meta.s" -> s("extract.meta"),
      "extract.grid.s" -> s("extract.grid"),
      "extract.grid.calls" -> c.gridCalls.toDouble,
      "extract.cells" -> c.cells.toDouble,
      "transform.s" -> s("transform"),
      "transform.rows" -> c.rowsTransformed.toDouble,
      "accounting.s" -> tot.collect { case (n, t) if n.startsWith("accounting.") => t }.sum,
      "accounting.get_job_hash.s" -> s("accounting.get_job_hash"),
      "accounting.ensure_job.s" -> s("accounting.ensure_job"),
      "accounting.commit_job.s" -> s("accounting.commit_job"),
      "accounting.set_seen.s" -> s("accounting.set_seen"),
      "accounting.filter.s" -> s("accounting.filter"),
      "meta_storage.replace.calls" -> c.replaceCalls.toDouble,
      "meta_storage.replace.s" -> s("meta_storage.replace"),
      "meta_storage.read.calls" -> c.readCalls.toDouble,
      "meta_storage.bytes_written" -> c.metaBytesWritten.toDouble,
      "load.s" -> s("load"),
      "load.rows" -> c.loadRows.toDouble,
      "load.files_written" -> c.loadFiles.toDouble,
      "load.bytes_written" -> c.loadBytes.toDouble,
      "tasks.discover.s" -> s("tasks.discover"),
      "tasks.audit.s" -> s("tasks.audit"),
      "etl.sheets_reloaded" -> c.reloaded.toDouble,
      "etl.sheets_hash_skipped" -> c.hashSkipped.toDouble,
      "etl.extract_useful_ratio" ->
        (if (c.gridCalls == 0) 0.0 else c.reloaded.toDouble / c.gridCalls),
      "etl.spark_jobs" -> work.jobs.toDouble,
      "etl.spark_jobs_per_sheet" ->
        (if (c.gridCalls == 0) 0.0 else work.jobs.toDouble / c.gridCalls),
      "etl.spark_tasks" -> work.tasks.toDouble)
  }

  /** `SheetGrid.hashOf` of every fixture's raw values, keyed "id\tsheet". */
  private def fixtureHashes(): Map[String, String] = {
    val s = Files.list(Paths.get(fixtures))
    try s.iterator().asScala.filter(_.toString.endsWith(".json")).map { p =>
      val n = mapper.readTree(Files.readAllBytes(p))
      val values = n.get("values").elements().asScala
        .map(_.elements().asScala.map(_.asText()).toSeq).toSeq
      s"${n.get("spreadsheetId").asText()}\t${n.get("sheetName").asText()}" ->
        SheetGrid.hashOf(values)
    }.toMap
    finally s.close()
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)

  def cold(): Map[String, Any] = {
    // warm-up: one cold sync of the same fixtures, so that the measured
    // syncs do not pay class loading and JIT compilation
    val warm = measured(coldSync(s"$root/wh-warm-up", fixtures, config, None))._2
    memory.checkpoint()
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val errors = ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var i = 0
    try {
      while (order.more(i, secondsSince(t0))) {
        for (traced <- order(i)) {
          val run = s"cold-$i"
          val wh = s"$root/wh-$i-${if (traced) "traced" else "plain"}"
          val c = Option.when(traced)(new EtlCounts)
          val (_, syncS, syncWork) = trace.inRun(run)(measured(coldSync(wh, fixtures, config, c)))
          val reruns = (1 to NoopTicks).map { _ =>
            val ((n, ok), s, work) =
              trace.inRun(run)(measured(tick(wh, fixtures, config, loadTime, c)))
            require(ok && n == 0, s"no-op rerun after the cold sync loaded $n job(s), audit ok=$ok")
            (s, work)
          }
          val work = reruns.map(_._2).foldLeft(syncWork)(_ + _)
          passes += Map("traced" -> traced, "sync_s" -> syncS, "rerun_s" -> reruns.map(_._1),
            "jobs" -> work.jobs, "warehouse" -> wh, "layers" -> c.map(layers(run, _, work)))
        }
        if (i == 0) memory.checkpoint()
        i += 1
      }
    } catch { case e: Exception => errors += errorText(e) }
    Map("warmup_s" -> warm, "passes" -> passes, "errors" -> errors,
      "hashes" -> fixtureHashes())
  }

  /** Rewrite fixture files as one delta tick's edits say: a new
    * `modifiedTime`, and for content edits one cell's new value.
    */
  private def applyEdits(tick: Int): Unit =
    spec.node.get("ticks").get(tick).elements().asScala.foreach { e =>
      val p = Paths.get(fixtures, e.get("file").asText())
      val doc = mapper.readTree(Files.readAllBytes(p)).asInstanceOf[ObjectNode]
      doc.put("modifiedTime", e.get("modifiedTime").asText())
      if (!e.get("value").isNull)
        doc.get("values").get(e.get("row").asInt()).asInstanceOf[ArrayNode]
          .set(e.get("col").asInt(), e.get("value").asText())
      Files.write(p, mapper.writeValueAsBytes(doc))
    }

  def delta(): Map[String, Any] = {
    val whs = order(0).map(t => t -> s"$root/wh-${if (t) "traced" else "plain"}")
    val coldLoads = whs.map { case (traced, wh) =>
      val c = Option.when(traced)(new EtlCounts)
      trace.inRun("cold-load")(measured(coldSync(wh, fixtures, config, c)))._2
    }
    memory.checkpoint()
    val deltaJobs = spec.num("delta_jobs").toInt
    val ticks = ArrayBuffer.empty[Map[String, Any]]
    val cycleLayers = ArrayBuffer.empty[Map[String, Double]]
    val errors = ArrayBuffer.empty[String]
    val nTicks = spec.node.get("ticks").size()
    val t0 = System.nanoTime()
    var cycle = 0
    try {
      while (order.more(cycle, secondsSince(t0))) {
        require(cycle < nTicks, s"only $nTicks delta ticks were generated")
        applyEdits(cycle)
        val run = s"cycle-$cycle"
        val c = new EtlCounts
        var tracedWork = Work.zero
        val kinds = ("delta", deltaJobs) +: Seq.fill(NoopTicks)(("noop", 0))
        for (((kind, expected), k) <- kinds.zipWithIndex; traced <- order(cycle)) {
          val wh = whs.toMap.apply(traced)
          val time = loadTime + kinds.size * cycle + k + 1
          val ((n, ok), s, work) =
            trace.inRun(run)(measured(tick(wh, fixtures, config, time, Option.when(traced)(c))))
          require(ok && n == expected,
            s"$kind tick $cycle loaded $n job(s), expected $expected; audit ok=$ok")
          if (traced) tracedWork += work
          ticks += Map("cycle" -> cycle, "kind" -> kind, "traced" -> traced, "s" -> s,
            "jobs" -> work.jobs)
        }
        if (spec.traced) cycleLayers += layers(run, c, tracedWork)
        if (cycle == 0) memory.checkpoint()
        cycle += 1
      }
    } catch { case e: Exception => errors += errorText(e) }
    Map("cold_load_s" -> coldLoads, "ticks" -> ticks,
      "cycles" -> cycle, "layers" -> cycleLayers, "errors" -> errors,
      "warehouses" -> whs.map(_._2), "hashes" -> fixtureHashes())
  }
}
