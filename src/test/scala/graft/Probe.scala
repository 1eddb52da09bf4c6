package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev probe (test scope) over registry queries and `layer:<name>` rows
  * (the spelling Bench times). Modes:
  *
  *  - `stages`: after an untimed warm-up on the `sf0.001` fixture next to
  *    `sfDir` (skipped when absent or when it is `sfDir`), per rep the wall,
  *    the job count and a per-stage table — wall, task/CPU/deserialize/GC
  *    ms, tasks, shuffle read/write and input bytes — slowest stage first;
  *  - `driver-gap`: after a warm-up at `sfDir` that fills the guarded
  *    persists, per rep the split of one invocation into plan build,
  *    analysis, optimization (incl. the CacheManager's substitute pass),
  *    physical planning and execution, with the analyzed and optimized node
  *    counts — for rows whose steady-state cost is driver wall;
  *  - `plan`: `explain formatted` per query, printed, or written to
  *    `<outDir>/<query>.txt` when an output directory is given.
  *
  * Execution materializes with a `noop` write: `count()` would let Catalyst
  * prune computed columns away. The width is `SPARK_GRAFT_CPUS` (default:
  * the processor count, see [[GraftSession.local]]).
  *
  * Usage: `sbt "Test/runMain graft.Probe <mode> <query,...> [sfDir] [reps|outDir]"`;
  * `sfDir` defaults to `SPARK_GRAFT_SF_DIR`.
  */
object Probe {
  private type Query = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe <stages|driver-gap|plan> <query,...> [sfDir] [reps|outDir]"
    require(args.length >= 2, usage)
    val Array(mode, names) = args.take(2)
    val sfDir = args.lift(2).orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(sys.error(usage))
    val spark = GraftSession.local("probe")
    try names.split(",").foreach { name =>
      val q = query(name)
      mode match {
        case "stages" => stages(spark, name, q, sfDir, args.lift(3).fold(1)(_.toInt))
        case "driver-gap" => driverGap(spark, name, q, sfDir, args.lift(3).fold(3)(_.toInt))
        case "plan" => plan(spark, name, q, sfDir, args.lift(3))
        case _ => sys.error(usage)
      }
    } finally spark.stop()
  }

  private def query(name: String): Query =
    if (name.startsWith("layer:"))
      SparkEntry.layerWarmups.find(_._1 == name.stripPrefix("layer:")).map(_._2)
        .getOrElse(sys.error(s"unknown layer $name"))
    else SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def stages(spark: SparkSession, name: String, q: Query, sfDir: String, reps: Int): Unit = {
    val warmDir = Paths.get(sfDir).resolveSibling("sf0.001").toString
    if (Files.isDirectory(Paths.get(warmDir)) && !graft.util.PathsUtil.samePath(warmDir, sfDir))
      scala.util.Try(materialize(q(spark, warmDir)))
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      val m = QueryMetrics.measure(spark)(materialize(q(spark, sfDir)))
      val secs = (System.nanoTime() - t0) / 1e9
      val rows = m.stages.sortBy(-_.wallMs)
      println(f"== $name rep $r: $secs%.3f s, jobs=${m.jobs}%d, ${rows.size}%d stages, " +
        f"sum(stage wall)=${rows.map(_.wallMs).sum}%d ms, sum(task time)=${m.taskRunMs}%d ms, " +
        f"sum(task cpu)=${m.cpuMs}%d ms, sum(deser)=${rows.map(_.deserMs).sum}%d ms, " +
        f"sum(gc)=${m.gcMs}%d ms, spill=${m.spillBytes}%d B")
      println(f"${"stage"}%-9s${"wall ms"}%9s${"task ms"}%9s${"cpu ms"}%9s${"deser"}%7s${"gc"}%5s" +
        f"${"tasks"}%7s${"shufR"}%10s${"shufW"}%10s${"input"}%10s  name")
      rows.take(40).foreach { s =>
        println(f"${s.id}%-4d.${s.attempt}%-4d${s.wallMs}%9d${s.runMs}%9d${s.cpuMs}%9d${s.deserMs}%7d" +
          f"${s.gcMs}%5d${s.tasks}%7d${s.shuffleReadBytes}%10d${s.shuffleWriteBytes}%10d" +
          f"${s.inputBytes}%10d  ${s.name.take(90)}")
      }
    }
  }

  private def driverGap(spark: SparkSession, name: String, q: Query, sfDir: String, reps: Int): Unit = {
    materialize(q(spark, sfDir))
    for (r <- 1 to reps) {
      var t = System.nanoTime()
      def lap(): Double = { val n = System.nanoTime(); val d = (n - t) / 1e9; t = n; d }
      val df = q(spark, sfDir)
      val tBuild = lap()
      val analyzed = df.queryExecution.analyzed
      val tAnalyze = lap()
      val optimized = df.queryExecution.optimizedPlan
      val tOptimize = lap()
      df.queryExecution.executedPlan
      val tPhysical = lap()
      materialize(df)
      val tExec = lap()
      println(f"== $name rep $r: build=$tBuild%.3f analyze=$tAnalyze%.3f " +
        f"optimize=$tOptimize%.3f physical=$tPhysical%.3f exec=$tExec%.3f s; " +
        f"analyzed nodes=${analyzed.collect { case p => p }.size}%d " +
        f"optimized nodes=${optimized.collect { case p => p }.size}%d")
    }
  }

  private def plan(spark: SparkSession, name: String, q: Query, sfDir: String,
                   outDir: Option[String]): Unit = {
    val text = q(spark, sfDir).queryExecution.explainString(FormattedMode)
    outDir match {
      case Some(dir) =>
        val path = Files.createDirectories(Paths.get(dir)).resolve(s"$name.txt")
        Files.writeString(path, text)
        println(s"[probe] wrote $path")
      case None => println(s"== $name\n$text")
    }
  }
}
