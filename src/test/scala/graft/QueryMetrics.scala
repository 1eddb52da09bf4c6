package graft

import scala.collection.mutable

import org.apache.spark.graftprobe.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The one listener behind the dev probes and the job-count specs: what
  * Spark ran while a body executed — the jobs started, and per completed
  * stage its wall, tasks, task run/CPU/deserialize/GC ms, input, shuffle
  * read/write and spill bytes. Obtain one through [[QueryMetrics.measure]],
  * which attaches it only for the body.
  */
final class QueryMetrics private () extends SparkListener {
  import QueryMetrics.Stage

  private var jobCount = 0
  private val completed = mutable.ArrayBuffer[Stage]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobCount += 1 }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val wall = (for (end <- si.completionTime; start <- si.submissionTime) yield end - start)
      .getOrElse(-1L)
    completed += Stage(si.stageId, si.attemptNumber(), si.name, si.numTasks, wall,
      m.executorRunTime, m.executorCpuTime / 1000000, m.executorDeserializeTime, m.jvmGCTime,
      m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  def jobs: Int = synchronized(jobCount)
  def stages: Seq[Stage] = synchronized(completed.toList)

  def tasks: Int = stages.map(_.tasks).sum
  def taskRunMs: Long = stages.map(_.runMs).sum
  def cpuMs: Long = stages.map(_.cpuMs).sum
  def gcMs: Long = stages.map(_.gcMs).sum
  def shuffleReadBytes: Long = stages.map(_.shuffleReadBytes).sum
  def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  def spillBytes: Long = stages.map(_.spillBytes).sum
}

object QueryMetrics {
  final case class Stage(id: Int, attempt: Int, name: String, tasks: Int, wallMs: Long,
                         runMs: Long, cpuMs: Long, deserMs: Long, gcMs: Long, inputBytes: Long,
                         shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long)

  /** Runs `body` with a fresh listener on the bus and returns what it saw.
    * The bus is drained before the listener is attached (so no earlier
    * action's events are counted) and after the body (so every event of
    * the body's actions is), and the listener is removed again.
    */
  def measure(spark: SparkSession)(body: => Unit): QueryMetrics = {
    val sc = spark.sparkContext
    val metrics = new QueryMetrics
    ListenerBus.drain(sc)
    sc.addSparkListener(metrics)
    try {
      body
      ListenerBus.drain(sc)
    } finally sc.removeSparkListener(metrics)
    metrics
  }
}
