package bench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark work attributed to one job group (or to all jobs). */
final case class Work(jobs: Long, tasks: Long, shuffleBytes: Long, spillBytes: Long) {
  def +(o: Work): Work =
    Work(jobs + o.jobs, tasks + o.tasks, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  def -(o: Work): Work =
    Work(jobs - o.jobs, tasks - o.tasks, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
}

object Work { val zero: Work = Work(0, 0, 0, 0) }

/** Listener-side job, task, shuffle and spill counts per job group, in the
  * manner of sparkMeasure's stage metrics: everything comes from scheduler
  * events, so counting adds no Spark job. Registered in traced and untraced
  * runs alike.
  */
final class JobCounter(sc: SparkContext) extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val groups = new ConcurrentHashMap[String, Work]

  sc.addSparkListener(this)

  private def add(group: String, w: Work): Unit = {
    groups.merge(group, w, (a, b) => a + b)
    groups.merge(JobCounter.All, w, (a, b) => a + b)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, group))
    add(group, Work(1, 0, 0, 0))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val (shuffle, spill) =
      if (m == null) (0L, 0L)
      else (m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
    add(stageGroup.getOrDefault(e.stageId, ""), Work(0, 1, shuffle, spill))
  }

  /** Counts after every event posted so far has been delivered. */
  def group(name: String): Work = {
    org.apache.spark.BenchTap.drain(sc)
    groups.getOrDefault(name, Work.zero)
  }

  def all: Work = group(JobCounter.All)
}

object JobCounter { val All = "\u0000all" }
