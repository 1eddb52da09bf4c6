package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** What Spark executed, split by job group. The benchmark names every job
  * group after the phase that issued it (`stages`, `restore`,
  * `write.<table>`, `build`, ...), so the split is per phase.
  */
final class SparkMeter extends SparkListener {
  import SparkMeter._
  final class Agg {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    def +=(o: Agg): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
      gcMs += o.gcMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    }
  }

  @volatile var recording = false
  private val groups = mutable.Map[String, Agg]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(JobGroup))).getOrElse("(none)")

  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (recording) {
      val g = group(e.properties)
      agg(g).jobs += 1
      e.stageIds.foreach(stageGroup.put(_, g))
      jobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = agg(g)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
    }
  }

  def reset(): Unit = synchronized {
    groups.clear(); stageGroup.clear(); jobStart.clear(); intervals.clear()
  }

  def byGroup: Map[String, Agg] = synchronized(groups.toMap)

  def total: Agg = synchronized { val t = new Agg; groups.values.foreach(t += _); t }

  /** Milliseconds of [from, to] during which no job was running. */
  def idleMs(from: Long, to: Long): Long = synchronized {
    var covered = 0L; var cursor = from
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > cursor) { covered += e - math.max(s, cursor); cursor = e }
      }
    (to - from) - covered
  }
}

object SparkMeter {
  // the local properties `SparkContext.setJobGroup` sets
  val JobGroup = "spark.jobGroup.id"
  val JobDescription = "spark.job.description"
}

final case class Span(id: Int, name: String, parent: Int, run: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the engine. When disabled, a
  * span only runs its body: untraced runs pay no timer and set no job group.
  */
final class Tracer(var enabled: Boolean, sc: SparkContext) {
  import SparkMeter._
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 0
  var run = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prevGroup = sc.getLocalProperty(JobGroup)
      val prevDesc = sc.getLocalProperty(JobDescription)
      sc.setLocalProperty(JobGroup, name)
      sc.setLocalProperty(JobDescription, name)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, run, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(JobGroup, prevGroup)
        sc.setLocalProperty(JobDescription, prevDesc)
      }
    }

  def runSpans(r: String): Seq[Span] = spans.filter(_.run == r).toSeq

  /** Self time per span name within run `r`: duration minus the part of it
    * its child spans cover.
    */
  def selfSeconds(r: String): Map[String, Double] = {
    val ss = runSpans(r)
    val childTime = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    ss.groupBy(_.name).map { case (n, xs) => n -> xs.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum }
  }

  def seconds(r: String, name: String): Double = runSpans(r).filter(_.name == name).map(_.seconds).sum
}
