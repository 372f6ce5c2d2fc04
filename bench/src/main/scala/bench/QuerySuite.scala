package bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** The analytic read side: every `SparkEntry.queries` entry executed once
  * per pass through a full-materialization sink (`noop`), `Caches.release`
  * after each, in the order `run.py` derived from the seed. The cold pass
  * on an empty warehouse pays every staged-artifact build and is set-up;
  * the warm passes after it are measured; a final untimed pass writes each
  * result as parquet for the digest check.
  */
final class QuerySuite(spark: SparkSession, spec: Spec, trace: Trace, counter: JobCounter,
    memory: LiveMemory) {
  private val sf = spec.str("sf")
  private val all = graft.SparkEntry.queries
  private val order = spec.strs("queries")
  private val moduleOf: Map[String, String] = Seq(
    "Relational" -> graft.queries.Relational.queries,
    "TextAnalysis" -> graft.queries.TextAnalysis.queries,
    "Events" -> graft.queries.Events.queries,
    "Similarity" -> graft.queries.Similarity.queries,
    "Dedup" -> graft.queries.Dedup.queries,
    "Curation" -> graft.queries.Curation.queries,
    "Multimodal" -> graft.queries.Multimodal.queries,
  ).flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap

  /** One query's (build seconds, execution seconds, error). Build is the
    * query function's own construction work; execution is planning plus
    * running the noop write. Release is outside both.
    */
  private def execute(name: String, group: String, traced: Boolean,
      sink: DataFrame => Unit): (Double, Double, Option[String]) = {
    def span[T](n: String)(body: => T): T = if (traced) trace.span(n)(body) else body
    val m = moduleOf(name)
    spark.sparkContext.setJobGroup(group, name)
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val df = span(s"queries.$m.build")(all(name)(spark, sf))
      t1 = System.nanoTime()
      span(s"queries.$m.exec")(sink(df))
      (1e-9 * (t1 - t0), 1e-9 * (System.nanoTime() - t1), None)
    } catch {
      case e: Throwable =>
        (1e-9 * (t1 - t0), 1e-9 * (System.nanoTime() - t1),
          Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)))
    } finally {
      span("queries.release")(graft.Caches.release(spark))
      spark.sparkContext.clearJobGroup()
    }
  }

  private val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** One pass over every query; per-query seconds, errors and Spark work. */
  private def pass(label: String, traced: Boolean): Map[String, Any] = {
    val t0 = System.nanoTime()
    val runs = trace.inRun(label) {
      order.map(n => n -> execute(n, s"$label/$n", traced, noop))
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val work = order.map(n => n -> counter.group(s"$label/$n")).toMap
    Map(
      "label" -> label, "traced" -> traced, "wall_s" -> wall,
      "build_s" -> runs.map { case (n, r) => n -> r._1 }.toMap,
      "exec_s" -> runs.map { case (n, r) => n -> r._2 }.toMap,
      "errors" -> runs.collect { case (n, (_, _, Some(e))) => n -> e }.toMap,
      "jobs" -> work.map { case (n, w) => n -> w.jobs },
      "tasks" -> work.map { case (n, w) => n -> w.tasks },
      "shuffle_bytes" -> work.map { case (n, w) => n -> w.shuffleBytes },
      "spill_bytes" -> work.map { case (n, w) => n -> w.spillBytes },
      "release_s" ->
        (if (traced) trace.totals(label).getOrElse("queries.release", 0.0) else 0.0))
  }

  def run(): Map[String, Any] = {
    val cold = pass("cold", spec.traced)
    memory.checkpoint()
    val passOrder = new PassOrder(spec)
    val warm = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var i = 0
    while (passOrder.more(i, (System.nanoTime() - t0) / 1e9)) {
      passOrder(i).foreach(traced => warm += pass(s"warm-$i-${if (traced) "traced" else "plain"}", traced))
      if (i == 0) memory.checkpoint()
      i += 1
    }
    val checkDir = spec.str("check_dir")
    val checkErrors = order.flatMap { n =>
      execute(n, s"check/$n", traced = false,
        _.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$n"))._3.map(n -> _)
    }.toMap
    Map("cold" -> cold, "warm" -> warm, "check_errors" -> checkErrors,
      "modules" -> moduleOf,
      "warehouse_bytes" -> Main.duBytes(s"${spec.root}/spark-warehouse"))
  }
}
