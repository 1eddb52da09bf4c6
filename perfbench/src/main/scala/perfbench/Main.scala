package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.sql.SparkSession

/** One benchmark invocation: a named workload, a seed, a measuring window.
  *
  *   perfbench.Main --workload pls_cold|pls_incremental --seed N
  *                  --seconds S --trace 0|1 --work DIR
  *
  * Set-up (session start, inputs, untimed warm-up runs) comes first; then
  * runs repeat, one at a time, until `--seconds` have passed and at least
  * two ran. Every run is checked. With `--trace 1` two untraced and two
  * traced runs follow in ABBA order, and the per-layer metrics come from
  * the traced ones. The last stdout line is the result as one JSON object.
  */
object Main {

  private val sparkLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.driver_gap_s" -> "s", "spark.cache_mb" -> "MB", "spark.cache_mb_released" -> "MB",
    "phase.run.self_s" -> "s", "trace.run_s" -> "s", "trace.untraced_run_s" -> "s", "trace.overhead_s" -> "s")

  /** The per-layer metrics a traced run reports. */
  val perLayerNames: Seq[(String, String)] = Seq(
    "pipeline.stages_s" -> "s", "phase.stages.self_s" -> "s",
    "sources.restore_s" -> "s", "sources.fetch_pages" -> "count", "sources.fetch_rows" -> "count",
    "sources.fetch_wait_s" -> "s", "operators.idmap.new_keys" -> "count",
    "operators.prune.dropped_rows" -> "count") ++
    (PlsShape(1).entities.flatMap(e => Seq(e.name, s"id_map_${e.name}")) ++
      Seq("geocodes", "pid_map", "metadata")).map(t => s"sinks.write_s.$t" -> "s") ++ Seq(
    "sinks.commit_s" -> "s", "sinks.publish_s" -> "s", "sinks.rows_written" -> "count",
    "sinks.write_amp" -> "ratio", "sinks.header_duration_s" -> "s") ++ sparkLayer

  val endToEndNames: Seq[(String, String)] = Seq(
    "run_s" -> "s", "cpu_s" -> "s", "written_mb" -> "MB", "heap_peak_mb" -> "MB",
    "setup_s" -> "s", "ok_ratio" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: File)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(m.getOrElse("work", ".bench_build/work")))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  private def cacheMb(spark: SparkSession): Double = {
    BusAccess.drain(spark.sparkContext)
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv)
    require(Set("pls_cold", "pls_incremental")(a.workload), s"unknown workload ${a.workload}")
    val work = new File(a.work, a.workload)
    Workload.delete(work)
    work.mkdirs()
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]").appName("perfbench")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath),
      cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val tracer = new Tracer(false, sc)
    val meter = new SparkMeter
    sc.addSparkListener(meter)

    val workload = new PlsWorkload(spark, a.seed, incremental = a.workload == "pls_incremental",
      Sizes.plsAddresses, Sizes.pageDelayMs, work, tracer)
    var attempted = 0
    var failed = 0
    val runS, cpuS, writtenMb, heapMb = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[(Double, Map[String, Double])]()

    def once(r: Int, timed: Boolean, trace: Boolean): Unit = {
      attempted += 1
      try {
        val s0 = System.nanoTime()
        workload.setup(r)
        val setupSeconds = (System.nanoTime() - s0) / 1e9
        tracer.enabled = trace
        tracer.run = s"run-$r"
        if (trace) { BusAccess.drain(sc); meter.reset(); meter.recording = true }
        HeapPeak.reset()
        val cpu0 = processCpuNs()
        val wallStart = System.currentTimeMillis()
        val t0 = System.nanoTime()
        tracer.span("run")(workload.run(r))
        val seconds = (System.nanoTime() - t0) / 1e9
        val cpu = (processCpuNs() - cpu0) / 1e9
        val wallEnd = System.currentTimeMillis()
        val heap = HeapPeak.mb()
        tracer.enabled = false
        val cached = cacheMb(spark)
        meter.recording = false
        graft.SparkEntry.releaseSharedCaches()
        val released = cacheMb(spark)
        val c0 = System.nanoTime()
        val outcome = workload.after(r, trace)
        val checkSeconds = (System.nanoTime() - c0) / 1e9
        if (outcome.failures.nonEmpty) {
          failed += 1
          System.err.println(s"[perfbench] run $r FAILED: ${outcome.failures.mkString("; ")}")
        }
        System.err.println(f"[perfbench] run $r%d ${if (timed) "timed" else "warm-up"}%s" +
          f"${if (trace) " traced" else ""}%s: $seconds%.3f s, cpu $cpu%.2f s " +
          f"(inputs $setupSeconds%.2f s, checks $checkSeconds%.2f s, heap $heap%.0f MB)")
        if (timed && !trace) {
          runS += seconds; cpuS += cpu; writtenMb += outcome.writtenBytes / 1e6; heapMb += heap
        }
        if (timed && trace) {
          val t = meter.total
          val self = tracer.selfSeconds(tracer.run)
          val span = (n: String) => tracer.seconds(tracer.run, n)
          val layer = outcome.layer ++ Map(
            "pipeline.stages_s" -> span("stages"), "sources.restore_s" -> span("restore"),
            "sinks.commit_s" -> span("commit"), "sinks.publish_s" -> (span("upload") + span("publish")),
            "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble, "spark.tasks" -> t.tasks.toDouble,
            "spark.task_run_s" -> t.runMs / 1e3, "spark.task_cpu_s" -> t.cpuNs / 1e9, "spark.gc_s" -> t.gcMs / 1e3,
            "spark.shuffle_read_mb" -> t.shuffleRead / 1e6, "spark.shuffle_write_mb" -> t.shuffleWrite / 1e6,
            "spark.spill_mb" -> t.spill / 1e6, "spark.driver_gap_s" -> meter.idleMs(wallStart, wallEnd) / 1e3,
            "spark.cache_mb" -> cached, "spark.cache_mb_released" -> released,
            "phase.run.self_s" -> self.getOrElse("run", 0.0),
            "phase.stages.self_s" -> self.getOrElse("stages", 0.0),
          ) ++ tracer.runSpans(tracer.run).filter(_.name.startsWith("write."))
            .map(s => s"sinks.write_s.${s.name.stripPrefix("write.")}" -> s.seconds)
          traced += ((seconds, layer))
          spanLog += SpanDump(tracer.run, tracer.runSpans(tracer.run), meter.byGroup.map { case (g, x) =>
            g -> Map("jobs" -> x.jobs.toDouble, "stages" -> x.stages.toDouble, "tasks" -> x.tasks.toDouble,
              "task_run_s" -> x.runMs / 1e3, "task_cpu_s" -> x.cpuNs / 1e9,
              "shuffle_read_mb" -> x.shuffleRead / 1e6, "shuffle_write_mb" -> x.shuffleWrite / 1e6)
          })
        }
      } catch {
        case e: Exception =>
          failed += 1
          tracer.enabled = false
          meter.recording = false
          System.err.println(s"[perfbench] run $r FAILED with ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace()
          graft.SparkEntry.releaseSharedCaches()
      }
    }

    System.err.println(f"[perfbench] session up after ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s")
    // warm-up: one untimed run (for pls_incremental, the chain's bootstrap).
    // A traced invocation adds a second, so that the first timed run, still
    // warming up, does not land on the untraced side of the overhead
    val warmups = if (a.trace) 2 else 1
    (0 until warmups).foreach(once(_, timed = false, trace = false))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    val measureStart = System.nanoTime()
    var r = warmups
    var timed = 0
    // at least two runs (the median of two is their mean: across seeds it
    // spread no more than the median of three, at two thirds of the time).
    // Traced invocations run untraced and traced runs in ABBA order, so a
    // drift across runs cancels out of the overhead
    val minRuns = if (a.trace) 4 else 2
    while (timed < minRuns || (System.nanoTime() - measureStart) / 1e9 < a.seconds) {
      once(r, timed = true, trace = a.trace && (timed % 4 == 1 || timed % 4 == 2))
      r += 1; timed += 1
    }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val values = Map("run_s" -> median(runS.toSeq), "cpu_s" -> median(cpuS.toSeq),
          "written_mb" -> median(writtenMb.toSeq), "heap_peak_mb" -> median(heapMb.toSeq), "setup_s" -> setupS,
          "ok_ratio" -> (attempted - failed).toDouble / attempted)
        endToEndNames.map { case (n, u) => (n, values(n), u) }
      } else {
        val tracedRun = median(traced.map(_._1).toSeq)
        val untraced = median(runS.toSeq)
        val names = perLayerNames
        val values = names.map(_._1).map(n => n -> median(traced.map(_._2.getOrElse(n, 0.0)).toSeq)).toMap ++
          Map("trace.run_s" -> tracedRun, "trace.untraced_run_s" -> untraced, "trace.overhead_s" -> (tracedRun - untraced))
        writeSpans(new File(a.work, s"trace/${a.workload}-seed${a.seed}.spans.jsonl"))
        names.map { case (n, u) => (n, values(n), u) }
      }

    metrics.foreach { case (n, v, u) => System.err.println(f"[perfbench] $n%-32s $v%14.6f $u") }
    System.err.println(s"[perfbench] ${a.workload}: $attempted runs attempted, $failed failed, " +
      s"${runS.size} untraced samples, ${traced.size} traced samples")
    val json = metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    spark.stop()
    Workload.delete(work)
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  final case class SpanDump(run: String, spans: Seq[Span], groups: Map[String, Map[String, Double]])
  private val spanLog = mutable.ArrayBuffer[SpanDump]()

  /** One JSON line per span (name, start, end, parent, run, self time) and
    * one per (run, phase) with what Spark executed for that phase.
    */
  private def writeSpans(f: File): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try spanLog.foreach { d =>
      val t0 = d.spans.map(_.startNs).minOption.getOrElse(0L)
      val child = d.spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
      d.spans.sortBy(_.startNs).foreach { s =>
        w.println(s"""{"run": "${d.run}", "span": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
          s""""start_s": ${fmt((s.startNs - t0) / 1e9)}, "end_s": ${fmt((s.endNs - t0) / 1e9)}, """ +
          s""""self_s": ${fmt(s.seconds - child.getOrElse(s.id, 0.0))}}""")
      }
      d.groups.toSeq.sortBy(_._1).foreach { case (g, m) =>
        w.println(s"""{"run": "${d.run}", "phase": "$g", """ +
          m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString(", ") + "}")
      }
    } finally w.close()
    System.err.println(s"[perfbench] spans written to ${f.getPath}")
  }
}

/** Workload sizes, fixed so every run of the benchmark measures the same work. */
object Sizes {
  val plsAddresses = 60000
  val pageDelayMs = 20
}
