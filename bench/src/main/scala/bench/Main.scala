package bench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** What `run.py` hands the JVM: the generated inputs and where to work. */
final case class Spec(node: JsonNode) {
  def str(k: String): String = node.get(k).asText()
  def num(k: String): Double = node.get(k).asDouble()
  def strs(k: String): Seq[String] =
    Option(node.get(k)).toSeq.flatMap(_.elements().asScala.map(_.asText()))
  def workload: String = str("workload")
  def root: String = str("root")
  def seconds: Double = num("seconds")
  def traced: Boolean = node.get("trace").asBoolean()
}

/** How the measured phase repeats its passes: until `--seconds` is used up,
  * and at least twice. The first measured pass runs slower than the later
  * ones, so a median that sometimes had one sample and sometimes more
  * would move with the number of passes that fit. With tracing on, every
  * pass runs untraced and traced, in alternating order, so that the JVM
  * warming up across a pair does not count as tracing overhead.
  */
final class PassOrder(spec: Spec) {
  def more(done: Int, elapsedS: Double): Boolean = done < 2 || elapsedS < spec.seconds

  def apply(pass: Int): Seq[Boolean] =
    if (!spec.traced) Seq(false)
    else if (pass % 2 == 0) Seq(false, true)
    else Seq(true, false)
}

/** Memory the program holds: heap in use right after a full collection,
  * plus the non-heap pools (metaspace, code cache), in MiB. A workload
  * takes a reading after its set-up and after its first measured pass,
  * outside every timed interval; [[peakMb]] is the larger. Both points
  * follow a fixed amount of work, so the figure does not depend on how
  * many passes fit the measured phase.
  */
final class LiveMemory {
  /** (heap, non-heap) MiB of each reading. */
  val readings = ArrayBuffer.empty[(Double, Double)]

  def checkpoint(): Unit = {
    // collect twice: the first collection hands Spark's ContextCleaner the
    // RDDs, shuffles and broadcasts that became unreachable, and the
    // cleaner then drops their blocks
    System.gc()
    Thread.sleep(250)
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    readings += ((m.getHeapMemoryUsage.getUsed / 1048576.0,
      m.getNonHeapMemoryUsage.getUsed / 1048576.0))
  }

  def peakMb: Double = readings.map { case (h, n) => h + n }.maxOption.getOrElse(0.0)
}

/** JVM side of the benchmark. Usage: `bench.Main <spec.json>`; writes the
  * result JSON to the spec's `out` path and the spans to its `spans` path.
  */
object Main {
  /** Writes the result and span files (Scala maps, sequences, options). */
  val json: ObjectMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val spec = Spec(new ObjectMapper().readTree(Files.readAllBytes(Paths.get(args(0)))))
    val sessionStart = System.nanoTime()
    val spark = session(spec)
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spec.traced)
    val counter = new JobCounter(spark.sparkContext)
    val memory = new LiveMemory
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    val result =
      try spec.workload match {
        case "etl_cold" => new EtlLane(spark, spec, trace, counter, memory).cold()
        case "etl_delta" => new EtlLane(spark, spec, trace, counter, memory).delta()
        case "query_suite" => new QuerySuite(spark, spec, trace, counter, memory).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally spark.stop()
    if (spec.traced) trace.writeJsonLines(Paths.get(spec.str("spans")))
    json.writeValue(Paths.get(spec.str("out")).toFile,
      result ++ Map("session_s" -> sessionS, "peak_live_mb" -> memory.peakMb,
        "memory_readings" -> memory.readings.map { case (h, n) => Seq(h, n) }))
  }

  /** The session settings of `graft.Bench` (and `EtlMain`), with every
    * location the session writes to moved under the run's own root.
    */
  private def session(spec: Spec): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName(s"graft-bench-${spec.workload}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.warehouse.dir", s"${spec.root}/spark-warehouse")
      .config("spark.local.dir", s"${spec.root}/spark-local")
    if (spec.workload == "query_suite") b.config("spark.sql.extensions", "graft.GraftExtensions")
    b.getOrCreate()
  }

  /** Bytes of every regular file under `dir` (0 when it does not exist). */
  def duBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  /** Number of parquet data files under `dir`. */
  def parquetFiles(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => f.getFileName.toString.endsWith(".parquet")).toLong
      finally s.close()
    }
  }
}
