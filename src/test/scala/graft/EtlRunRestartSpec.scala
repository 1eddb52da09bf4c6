package graft

import java.io.File
import java.nio.file.Files
import java.time.Instant

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.EtlRun
import graft.sinks.Sinks
import graft.sources.SnapshotStore
import graft.util.FileRunLock

/** Crash-and-restart matrix for `EtlRun`. A run that dies before its
  * commit marker — a stage failing lazily inside its table write, or the
  * commit itself failing — uploads and publishes nothing, releases the
  * lock, and leaves the last COMMITTED run as the restore point (none on a
  * cold root), although its partial run directory stays on disk. A healthy
  * rerun then writes exactly the tables a clean run writes. A publish that
  * fails after the upload is the at-least-once case of the `EtlRun`
  * scaladoc: the artifact and the committed snapshot stay durable, and a
  * rerun announces again.
  */
class EtlRunRestartSpec extends SparkSpec {

  private val config = EtlRun.Config("pls", "bkt", "pls-etl/", "t1")
  private val tables = Seq("t1", "t2", "t3")
  private val tPrior = Instant.parse("2026-08-01T00:00:00Z")
  private val tCrash = tPrior.plusSeconds(3600)
  private val tRerun = tPrior.plusSeconds(7200)

  private def newRoot(): String = Files.createTempDirectory("restart").toString

  /** Fails at once when held, so a leaked lock fails the test instead of waiting. */
  private def newLock(): FileRunLock =
    new FileRunLock("restart", Files.createTempDirectory("restart-lock"), retryTimeoutSeconds = 0)

  /** Successive whole seconds from `start`: a run stamps start, end (its run id) and upload. */
  private def clock(start: Instant): () => Instant = {
    val it = Iterator.iterate(start)(_.plusSeconds(1))
    () => it.next()
  }

  /** The run's stage frames; the one named `failing` throws only when its write executes it. */
  private def stages(failing: Option[String] = None): () => Map[String, DataFrame] = () =>
    tables.map { t =>
      val df = spark.range(4).select(col("id"), lit(t).as("tbl"))
      t -> (if (failing.contains(t)) df.filter(assert_true(col("id") < 0, lit(s"$t blew up")).isNull)
            else df)
    }.toMap

  /** Every table a run wrote, as sorted row strings by table name. */
  private def written(root: String, runId: String): Map[String, Seq[String]] = {
    val store = new SnapshotStore(root)
    new File(s"$root/$runId").listFiles().filter(_.isDirectory).map { d =>
      d.getName -> store.read(spark, runId, d.getName).collect().map(_.mkString("|")).toSeq.sorted
    }.toMap
  }

  /** A store whose commit fails: every table is on disk, the run is not committed. */
  private final class FailingCommitStore(root: String) extends SnapshotStore(root) {
    override def commit(spark: SparkSession, runId: String): Unit =
      throw new java.io.IOException(s"commit of $runId failed")
  }

  private type Crash = (String, FileRunLock, Sinks.FakeArtifactStore, Sinks.CollectingNotifier) => Unit

  private def crashThenRerun(withPriorRun: Boolean)(crash: Crash): Unit = {
    val root = newRoot()
    val store = new SnapshotStore(root)
    val lock = newLock()
    val prior = if (!withPriorRun) None else Some(EtlRun.run(spark, config, lock, store,
      new Sinks.FakeArtifactStore, new Sinks.CollectingNotifier(), "topic", stages(),
      now = clock(tPrior)).runId)

    val artifacts = new Sinks.FakeArtifactStore
    val notifier = new Sinks.CollectingNotifier()
    intercept[Exception](crash(root, lock, artifacts, notifier))
    assert(artifacts.uploads.isEmpty && notifier.records.isEmpty)
    lock.acquire(); lock.release() // re-acquirable = released by the crashed run
    // the crashed run's directory is on disk, but it is not a restore point
    assert(new File(s"$root/${Sinks.brisbaneTimestamp(tCrash.plusSeconds(1))}").isDirectory)
    assert(store.latestRun(spark) == prior)

    val rerun = EtlRun.run(spark, config, lock, store, artifacts, notifier, "topic", stages(),
      now = clock(tRerun))
    val cleanRoot = newRoot()
    val clean = EtlRun.run(spark, config, newLock(), new SnapshotStore(cleanRoot),
      new Sinks.FakeArtifactStore, new Sinks.CollectingNotifier(), "topic", stages(),
      now = clock(tRerun))
    assert(rerun.runId == clean.runId)
    val rerunTables = written(root, rerun.runId)
    assert(rerunTables == written(cleanRoot, clean.runId))
    assert(rerunTables.keySet == (tables :+ "metadata").toSet)
    assert(store.latestRun(spark).contains(rerun.runId))
    assert(artifacts.uploads.map(_._3).toSeq == Seq(rerun.s3Key))
    assert(notifier.records.map(_._2).toSeq == Seq(rerun.presignedUrl))
  }

  for ((withPriorRun, rootKind) <- Seq(false -> "an empty root", true -> "a root with one committed run")) {
    test(s"lazy failure in table 2 of 3 on $rootKind: nothing announced, last commit restores, rerun converges") {
      crashThenRerun(withPriorRun) { (root, lock, artifacts, notifier) =>
        EtlRun.run(spark, config, lock, new SnapshotStore(root), artifacts, notifier, "topic",
          stages(failing = Some("t2")), now = clock(tCrash))
      }
    }

    test(s"commit failure on $rootKind: nothing announced, last commit restores, rerun converges") {
      crashThenRerun(withPriorRun) { (root, lock, artifacts, notifier) =>
        EtlRun.run(spark, config, lock, new FailingCommitStore(root), artifacts, notifier, "topic",
          stages(), now = clock(tCrash))
      }
    }
  }

  test("publish failure after the upload: artifact and snapshot stay durable, a rerun announces again") {
    val root = newRoot()
    val store = new SnapshotStore(root)
    val lock = newLock()
    val artifacts = new Sinks.FakeArtifactStore
    val down = new Sinks.CollectingNotifier(deliveryError = Some("broker down"))
    val e = intercept[RuntimeException](EtlRun.run(spark, config, lock, store, artifacts, down,
      "topic", stages(), now = clock(tCrash)))
    assert(e.getMessage.contains("broker down"))
    val runId = Sinks.brisbaneTimestamp(tCrash.plusSeconds(1))
    // the upload happened and the message was produced once before delivery failed
    assert(artifacts.uploads.map(_._3).toSeq == Seq(s"pls-etl/$runId/t1"))
    assert(down.records.size == 1)
    lock.acquire(); lock.release()
    // committed before the upload: the announced-late run is the restore point
    assert(store.latestRun(spark).contains(runId))
    assert(written(root, runId).keySet == (tables :+ "metadata").toSet)

    val notifier = new Sinks.CollectingNotifier()
    val rerun = EtlRun.run(spark, config, lock, store, artifacts, notifier, "topic", stages(),
      now = clock(tRerun))
    assert(notifier.records.map(_._2).toSeq == Seq(rerun.presignedUrl))
    assert(artifacts.uploads.map(_._3).toSeq == Seq(s"pls-etl/$runId/t1", rerun.s3Key))
    assert(store.latestRun(spark).contains(rerun.runId))
  }
}
