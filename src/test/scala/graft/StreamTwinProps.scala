package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import graft.streaming.EventsStream

/** Randomized batch==stream twins: the fixture specs in EventsStreamSpec
  * pin hand-built micro-batch sequences; these properties feed RANDOM
  * event sets through MemoryStream in RANDOM chunk splits — the state
  * handoff across micro-batch boundaries is exactly what fixtures
  * under-exercise. Events are fed in event-time order so the watermark
  * can never drop a row (late-data divergence is a designed behavior
  * difference, covered by its own fixture test), making strict equality
  * with the batch twin the correct oracle.
  */
object StreamTwinProps extends Properties("StreamTwin") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6).withWorkers(1)

  private lazy val spark = SparkSpec.session
  private val qn = new java.util.concurrent.atomic.AtomicInteger(0)

  private def tsOf(minute: Int) = f"2026-01-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00"

  private val feedGen: Gen[(List[(Long, String, Long, String, Double)], Int)] = for {
    m <- Gen.choose(2, 24)
    minutes <- Gen.listOfN(m, Gen.choose(0, 179))
    us <- Gen.listOfN(m, Gen.choose(1L, 4L))
    types <- Gen.listOfN(m, Gen.oneOf("click", "view", "buy"))
    cents4 <- Gen.listOfN(m, Gen.choose(0L, 20L))
    chunks <- Gen.choose(1, 3)
  } yield (minutes.lazyZip(us).lazyZip(types).lazyZip(cents4).toList
      .zipWithIndex
      .map { case ((minute, u, t, c), i) => (i.toLong, tsOf(minute), u, t, c / 4.0) }
      .sortBy(e => (e._2, e._1)), chunks) // event-time order: nothing late

  private def chunksOf[A](xs: List[A], n: Int): List[List[A]] = {
    val size = math.max(1, (xs.size + n - 1) / n)
    xs.grouped(size).toList
  }

  property("hourlyTypeCounts: streaming over random chunked feeds == batch") =
    forAllNoShrink(feedGen) { case (events, nChunks) =>
      val s = spark; import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val name = s"twin_hourly_${qn.incrementAndGet()}"
      val mem = MemoryStream[(Long, String, Long, String, Double)]
      val streamDf = mem.toDF().toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      val q = EventsStream.hourlyTypeCounts(streamDf.withWatermark("ts", "1 hour"))
        .writeStream.format("memory").queryName(name).outputMode("complete").start()
      val streamed =
        try {
          chunksOf(events, nChunks).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
          s.table(name).collect().map(_.toSeq).toSet
        } finally { q.stop(); s.catalog.dropTempView(name); () }
      val batchDf = events.toDF("event_id", "ts_s", "user_id", "event_type", "value")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      val batch = EventsStream.hourlyTypeCounts(batchDf).collect().map(_.toSeq).toSet
      streamed == batch
    }

  property("runningUserTotals: state across random chunk splits == batch sums") =
    forAllNoShrink(
      Gen.choose(1, 20).flatMap(m => Gen.listOfN(m,
        Gen.zip(Gen.choose(1L, 4L), Gen.choose(0L, 20L).map(_ / 4.0)))),
      Gen.choose(1, 4)) { (rows, nChunks) =>
      val s = spark; import s.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val name = s"twin_totals_${qn.incrementAndGet()}"
      val mem = MemoryStream[(Long, Double)]
      val streamDf = mem.toDF().toDF("user_id", "value")
      val q = EventsStream.runningUserTotals(streamDf)
        .toDF("user_id", "n_events", "value_cents")
        .writeStream.format("memory").queryName(name).outputMode("update").start()
      val last =
        try {
          chunksOf(rows, nChunks).foreach { c => mem.addData(c: _*); q.processAllAvailable() }
          // update mode: the latest (highest-n) row per user is the state
          s.table(name).collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
            .groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).maxBy(_._1) }
        } finally { q.stop(); s.catalog.dropTempView(name); () }
      val want = rows.groupBy(_._1).map { case (u, vs) =>
        u -> ((vs.size.toLong, vs.map(v => math.round(v._2 * 100)).sum))
      }
      last == want
    }
}
