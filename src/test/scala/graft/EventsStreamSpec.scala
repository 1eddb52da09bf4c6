package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventsStream

/** The batch/streaming-twin contract: the same transform produces the same
  * rows under readStream (via MemoryStream + complete/update modes) as in
  * batch — SURVEY §2.9's incremental semantics, expressed the Spark way.
  */
class EventsStreamSpec extends SparkSpec {

  private def eventRows = Seq(
    (1L, "2026-01-01 10:05:00", 7L, "click", 1.25),
    (2L, "2026-01-01 10:45:00", 7L, "click", 2.50),
    (3L, "2026-01-01 11:05:00", 7L, "view", 0.75),
    (4L, "2026-01-01 10:20:00", 8L, "click", 3.00),
    (5L, "2026-01-01 12:00:00", 7L, "click", 1.00) // >30min gap -> new session
  )

  private def batchDf = {
    val s = spark; import s.implicits._
    eventRows.toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
  }

  test("hourlyTypeCounts: streaming (MemoryStream, complete mode) == batch") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, String, Double)]
    mem.addData(eventRows.map(e => (e._1, e._2, e._3, e._4, e._5)): _*)
    val streamDf = mem.toDF()
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

    val q = EventsStream.hourlyTypeCounts(streamDf.withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("hourly_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("hourly_out").collect().map(_.toSeq).toSet
    val batch = EventsStream.hourlyTypeCounts(batchDf).collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.contains(Seq("2026-01-01 10:00:00", "click", 3L, 675L)))
  }

  test("watermark drops a late row: an event older than the watermark never reaches its window") {
    // the one behavior the MemoryStream==batch twins CANNOT mirror: batch
    // has no lateness, so this drives withWatermark's dropping semantics
    // directly — append mode, 1 h watermark upstream of hourlyTypeCounts
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, String, Double)]
    val streamDf = mem.toDF()
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val q = EventsStream.hourlyTypeCounts(streamDf.withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("late_out").outputMode("append").start()
    try {
      // batch 1: one on-time click in the 10:00 window
      mem.addData((1L, "2026-01-01 10:05:00", 7L, "click", 1.00))
      q.processAllAvailable()
      // batch 2: advance event time to 12:30 → after this batch the
      // watermark is 11:30, PAST the 10:00 window's end
      mem.addData((2L, "2026-01-01 12:30:00", 7L, "click", 1.00))
      q.processAllAvailable()
      // batch 3: a LATE click into the now-closed 10:00 window — older
      // than the 11:30 watermark, so the engine must drop it entirely
      mem.addData((3L, "2026-01-01 10:10:00", 7L, "click", 99.00))
      q.processAllAvailable()
      // batch 4: push the watermark past 12:00 so that window emits too
      mem.addData((4L, "2026-01-01 14:00:00", 9L, "tick", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("late_out").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap
    // the 10:00 window holds exactly the ONE on-time click — had the late
    // 99.00 row leaked in, n would be 2 and cents 10000
    assert(rows(("2026-01-01 10:00:00", "click")) === ((1L, 100L)),
      s"late row leaked into a closed window: $rows")
    assert(rows(("2026-01-01 12:00:00", "click")) === ((1L, 100L)))
    assert(!rows.valuesIterator.contains((2L, 10000L)))
  }

  test("dedupAgainstBaselineStream: stream-static anti join == batch dedup half") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val baseline = Seq((10L, "already in the corpus")).toDF("doc_id", "text")
    val incoming = Seq(
      (20L, "already in the corpus"),   // exact baseline collision → dropped
      (21L, "Already  in the corpus"),  // normalize-equal collision → dropped
      (22L, "brand new document"))
    val mem = MemoryStream[(Long, String)]
    mem.addData(incoming: _*)
    val q = graft.streaming.EventsStream.dedupAgainstBaselineStream(
      mem.toDF().toDF("doc_id", "text"), baseline)
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_out").collect().map(_.getLong(0)).toSet
    assert(streamed === Set(22L))
    // identical to the batch operator over the same frames
    val batch = graft.streaming.EventsStream.dedupAgainstBaselineStream(
      incoming.toDF("doc_id", "text"), baseline)
      .collect().map(_.getLong(0)).toSet
    assert(batch === streamed)
  }

  test("runningUserTotals: mapGroupsWithState accumulates across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    val streamDf = mem.toDF().toDF("user_id", "value")
    val q = EventsStream.runningUserTotals(streamDf)
      .toDF("user_id", "n_events", "value_cents")
      .writeStream.format("memory").queryName("totals_out").outputMode("update").start()
    try {
      mem.addData((7L, 1.25), (8L, 2.00))
      q.processAllAvailable()
      mem.addData((7L, 0.75))
      q.processAllAvailable()
    } finally q.stop()
    // update mode: latest row per user is the accumulated state
    val last = spark.table("totals_out").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
      .groupBy(_._1).map { case (u, rows) => u -> rows.map(_._2).maxBy(_._1) }
    assert(last == Map(7L -> ((2L, 200L)), 8L -> ((1L, 200L))))
  }

  test("spendAlerts: flatMapGroupsWithState emits per crossed boundary, across micro-batches") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq((1L, "2026-01-01 10:00:00", 7L, 7.50),   // cum 750: no boundary
                 (2L, "2026-01-01 10:05:00", 7L, 5.00))   // cum 1250: crosses 1000
    val b2 = Seq((3L, "2026-01-01 10:10:00", 7L, 25.00))  // cum 3750: crosses 2000 AND 3000
    def mkDf(df: org.apache.spark.sql.DataFrame) = df
      .toDF("event_id", "ts_s", "user_id", "value")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")

    val mem = MemoryStream[(Long, String, Long, Double)]
    val q = EventsStream.spendAlerts(mkDf(mem.toDF()), stepCents = 1000L)
      .toDF("user_id", "boundary_cents", "event_id")
      .writeStream.format("memory").queryName("alerts_out").outputMode("append").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("alerts_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == Set((7L, 1000L, 2L), (7L, 2000L, 3L), (7L, 3000L, 3L)))
    // in-order replay == one batch pass over the concatenation
    val batch = EventsStream.spendAlerts(mkDf((b1 ++ b2).toDF()), stepCents = 1000L)
      .collect().map(t => (t._1, t._2, t._3)).toSet
    assert(streamed == batch)
  }

  test("upsertStream: micro-batches merge into carried state, last write wins per key") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("upsert-stream")
    val statePath = s"$dir/state"
    EventsStream.writeState(
      Seq(("k1", "orig"), ("k2", "orig")).toDF("k", "v"), statePath, 0L)

    val mem = MemoryStream[(String, String)]
    val q = EventsStream.upsertStream(mem.toDF().toDF("k", "v"), Seq("k"),
      statePath, s"$dir/ckpt")
    try {
      mem.addData(("k2", "upd1"), ("k3", "new"))
      q.processAllAvailable()
      mem.addData(("k3", "upd2"))
      q.processAllAvailable()
    } finally q.stop()

    val state = EventsStream.readState(spark, statePath).get
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(state == Map("k1" -> "orig", "k2" -> "upd1", "k3" -> "upd2"))

    // GC keeps the latest committed version plus ONE prior (concurrent-
    // reader grace); the seeded v0 from before both batches is gone
    val files = new java.io.File(statePath).listFiles().map(_.getName).toSet
    assert(files.count(_.startsWith("commit-")) == 2, files)
    assert(files.count(_.startsWith("v-")) == 2, files)
    assert(!files.exists(_.endsWith("0" * 20)), files) // seeded version 0 GC'd
  }

  test("upsertStream fails loudly when state is AHEAD of the batch counter (checkpoint reset)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("upsert-reset")
    val statePath = s"$dir/state"
    // state already at version 42, but the (fresh) checkpoint restarts batch ids at 0
    EventsStream.writeState(Seq(("k1", "v")).toDF("k", "v"), statePath, 42L)
    val mem = MemoryStream[(String, String)]
    val q = EventsStream.upsertStream(mem.toDF().toDF("k", "v"), Seq("k"),
      statePath, s"$dir/ckpt")
    try {
      mem.addData(("k2", "new"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getMessage.contains("ahead of micro-batch") ||
        Option(e.getCause).exists(_.getMessage.contains("ahead of micro-batch")))
    } finally q.stop()
    // state untouched — the mismatched batch was NOT silently dropped into it
    val state = EventsStream.readState(spark, statePath).get.collect()
    assert(state.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("k1", "v")))
  }

  test("state store: cold start is None; uncommitted write is invisible; committed read propagates errors") {
    val s = spark; import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("state-store")
    val statePath = s"$dir/state"
    assert(EventsStream.readState(spark, statePath).isEmpty)

    // a crash mid-write = parquet dir without its commit marker → still cold
    Seq(("k1", "partial")).toDF("k", "v").write.parquet(s"$statePath/v-00000000000000000007")
    assert(EventsStream.readState(spark, statePath).isEmpty)

    // a committed version is read back exactly
    EventsStream.writeState(Seq(("k1", "good")).toDF("k", "v"), statePath, 8L)
    val rows = EventsStream.readState(spark, statePath).get.collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("k1", "good")))

    // corruption of a COMMITTED version fails loudly instead of resetting state
    val vDir = new java.io.File(s"$statePath/v-00000000000000000008")
    vDir.listFiles().foreach(_.delete()); vDir.delete()
    intercept[Exception] {
      EventsStream.readState(spark, statePath).get.collect()
    }
  }

  test("halfUpCents: HALF_UP on exact binary .5 values, agreeing with Spark's round") {
    val s = spark; import s.implicits._
    // 0.125*100 = 12.5 exactly in binary: HALF_UP gives 13 where
    // math.rint (half-even) gives 12 — the divergence the per-user state
    // aggregator must NOT have vs the hourly batch query and the oracle
    assert(EventsStream.halfUpCents(0.125) == 13L)
    assert(EventsStream.halfUpCents(-0.125) == -13L)
    val sparkRound = Seq(0.125, -0.125, 0.115, 1.005, 2.675)
      .toDF("v").select(round(col("v") * 100).cast("long")).collect().map(_.getLong(0)).toSeq
    val ours = Seq(0.125, -0.125, 0.115, 1.005, 2.675).map(EventsStream.halfUpCents)
    assert(ours == sparkRound)
  }

  test("sessionize: 30-minute gap splits sessions per user") {
    val out = EventsStream.sessionize(batchDf, 30)
      .orderBy("user_id", "session_no")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // user 7: (10:05,10:45) session 1... wait 40min gap -> splits; 11:05 within 20min of 10:45;
    // 12:00 is 55min after 11:05 -> third session. user 8: one session.
    assert(out == Seq((7L, 1L, 1L), (7L, 2L, 2L), (7L, 3L, 1L), (8L, 1L, 1L)))
  }

  test("spanDedupStream: multi-batch replay == batch twin when no gram straddles the cap") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // baseline doc 0 carries the canonical passage; incoming 10 repeats it
    // mid-document, 11 shares nothing, 12 shares a shorter run. Every
    // duplicated gram occurs far below the cap, so per-batch cap counting
    // cannot diverge from the batch operator whatever the batch split.
    val passage = "one two three four five six seven eight nine ten"
    val baseline = Seq((0L, s"lead in $passage trail out"),
      (1L, "unrelated baseline text entirely")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, s"prefix words here $passage and a suffix"),
      (11L, "nothing shared with anyone at all"),
      (12L, "one two three four five six seven padding padding padding"))
    val batchWant = graft.operators.Dedup.duplicateSpansAgainstBaseline(
      incoming.toDF("doc_id", "text"), baseline, n = 5, maxOcc = 64)
      .collect().map(_.toSeq).toSet
    assert(batchWant.nonEmpty)

    val mem = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("span-stream").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventsStream.spanDedupStream(
      mem.toDF().toDF("doc_id", "text"), baseline, ckpt, n = 5, maxOcc = 64) { spans =>
      buf.synchronized { buf ++= spans.collect().map(_.toSeq) }
    }
    try {
      mem.addData(incoming.take(2)); q.processAllAvailable()
      mem.addData(incoming.drop(2)); q.processAllAvailable()
    } finally q.stop()
    assert(buf.toSet == batchWant)
  }

  test("noveltyStream: any batch split == batch twin (novelty is fully batch-invariant)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val baseline = Seq((0L, "a b c d e"), (1L, "x y z w v")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "a b c d e"),      // fully seen
      (11L, "p q r s t"),      // fully novel
      (12L, "a b c q r s"),    // mixed
      (13L, "a b"))            // too short for n=3 -> NULL novelty
    val batchWant = graft.operators.Dedup.noveltyRate(
      incoming.toDF("doc_id", "text"), baseline, n = 3)
      .collect().map(_.toSeq).toSet
    assert(batchWant.size == 4)

    val mem = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("novelty-stream").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventsStream.noveltyStream(
      mem.toDF().toDF("doc_id", "text"), baseline, ckpt, n = 3) { nov =>
      buf.synchronized { buf ++= nov.collect().map(_.toSeq) }
    }
    try {
      mem.addData(incoming.take(1)); q.processAllAvailable()
      mem.addData(incoming.drop(1)); q.processAllAvailable()
    } finally q.stop()
    assert(buf.toSet == batchWant)
  }

  test("scoreStream: any batch split == batch scorer (scoring is stateless)") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (0L, "good clean prose about customers and orders"),
      (1L, "spam spam spam buy now"),
      (2L, "more customer text with real words"),
      (3L, "zzz qqq"),
      (4L, ""))                                  // featureless -> midpoint row
      .toDF("doc_id", "text")
    val weights = graft.operators.Classifier.trainWeights(
      corpus, org.apache.spark.sql.functions.col("text").contains("customer"),
      iters = 3, buckets = 64)
    val batchWant = graft.operators.Classifier.scoreLogistic(corpus,
      graft.operators.Classifier.weightsToArray(weights), "doc_id", "text")
      .collect().map(_.toSeq).toSet
    assert(batchWant.size == 5)

    val mem = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("score-stream").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventsStream.scoreStream(
      mem.toDF().toDF("doc_id", "text"), weights, ckpt) { scored =>
      buf.synchronized { buf ++= scored.collect().map(_.toSeq) }
    }
    val feed = corpus.collect().toSeq.map(r => (r.getLong(0), r.getString(1)))
    try {
      mem.addData(feed.take(2)); q.processAllAvailable()
      mem.addData(feed.drop(2)); q.processAllAvailable()
    } finally q.stop()
    assert(buf.toSet == batchWant)
  }

  test("mediaNearDupStream: any batch split == batch twin when no bucket nears the cap") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // baseline 1..10, incoming 11..20 + 257 (pattern k=1: cross-side twin
    // of baseline doc 1) — the inc_mm_near_dup spec fixture, streamed
    val fixture = ((1L to 20L) :+ 257L).map(i => (i, "x" * (3 + i.toInt * 5 % 29))).toDF("doc_id", "text")
    val media = graft.operators.Multimodal.syntheticImagesPatterned(fixture)
    val basFp = graft.operators.Multimodal.perceptualHash(media.filter($"doc_id" <= 10))
    val incFp = graft.operators.Multimodal.perceptualHash(media.filter($"doc_id" > 10))
    val batchWant = graft.operators.Multimodal.nearDupAgainstBaseline(incFp, basFp)
      .collect().map(_.toSeq).toSet
    assert(batchWant.exists(_.take(2) == Seq(257L, 1L)))

    val mem = MemoryStream[(Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("media-near-dup-stream").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventsStream.mediaNearDupStream(
      mem.toDF().toDF("doc_id", "phash"), basFp, ckpt) { pairs =>
      buf.synchronized { buf ++= pairs.collect().map(_.toSeq) }
    }
    val feed = incFp.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    try {
      mem.addData(feed.take(4)); q.processAllAvailable()
      mem.addData(feed.drop(4)); q.processAllAvailable()
    } finally q.stop()
    assert(buf.toSet == batchWant)
  }

  test("urlDedupStream: per-class batch splits == batch twin; crawled aliases suppressed") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val crawled = Seq(
      (1L, "https://a.example.com/x"),
      (2L, "https://b.example.com/y?id=1")).toDF("doc_id", "url")
    val frontier = Seq(
      (10L, "HTTP://WWW.a.example.com/x/"),          // alias of crawled 1 -> suppressed
      (11L, "https://c.example.com/z?utm_source=t"), // fresh class...
      (12L, "https://c.example.com/z"),              // ...same class, keep-first 11
      (13L, "https://b.example.com/y?id=2"))         // fresh (different real param)
    val batchWant = graft.operators.Dedup.urlDedupAgainstBaseline(
      frontier.toDF("doc_id", "url"), crawled).collect().map(_.toSeq).toSet
    assert(batchWant.map(_.head) == Set(11L, 13L))

    val mem = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("url-dedup-stream-spec").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventsStream.urlDedupStream(mem.toDF().toDF("doc_id", "url"), crawled, ckpt) {
      fresh => buf.synchronized { buf ++= fresh.collect().map(_.toSeq) }
    }
    try {
      // canonical classes kept whole per batch: {10}, {11, 12, 13}
      mem.addData(frontier.take(1)); q.processAllAvailable()
      mem.addData(frontier.drop(1)); q.processAllAvailable()
    } finally q.stop()
    assert(buf.toSet == batchWant)
  }

  test("videoNearDupStream: per-video batch splits == batch twin when no sketch key nears the cap") {
    val s = spark; import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    // baseline evens, incoming odds — the parity split every planted twin
    // {d-1, d} crosses; a video's sketch rows must arrive in ONE batch
    // (the per-pair count spans a video's keys), so the feed splits
    // BETWEEN videos, not inside one
    val fixture = (1L to 19L).map(i => (i, "y" * (2 + i.toInt * 3 % 23))).toDF("doc_id", "text")
    val media = graft.operators.Multimodal.syntheticVideoPatterned(fixture)
    val sk = graft.util.Caching.ensurePersisted(graft.operators.Multimodal.videoSketch(
      graft.operators.Multimodal.videoFrameHashes(media)))
    val basSk = sk.filter($"doc_id" % 2 === 0)
    val incSk = sk.filter($"doc_id" % 2 === 1)
    val batchWant = graft.operators.Multimodal.nearDupVideoAgainstBaseline(incSk, basSk)
      .collect().map(_.toSeq).toSet
    assert(batchWant.exists(_.take(2) == Seq(9L, 8L))) // twin 9 vs source 8 crosses

    val mem = MemoryStream[(Long, Long)]
    val ckpt = java.nio.file.Files.createTempDirectory("video-near-dup-stream").toString
    val buf = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val q = EventsStream.videoNearDupStream(
      mem.toDF().toDF("doc_id", "sketch_hash"), basSk, ckpt) { pairs =>
      buf.synchronized { buf ++= pairs.collect().map(_.toSeq) }
    }
    val feed = incSk.collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
    val (b1, b2) = feed.partition(_._1 <= 9L) // whole videos per batch
    try {
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    assert(buf.toSet == batchWant)
  }
}
