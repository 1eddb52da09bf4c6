package graft

import org.apache.spark.sql.functions.col
import graft.operators.{Bpe, Dedup, TextAnalysis}
import graft.sources.SnapshotStore

/** The production monitoring loop's persistence path: every
  * carry-forward state (span baseline, seen-gram set, unigram counts, a
  * trained BPE merge table) round-trips through SnapshotStore between
  * crawls — SCALE.md claims "a production loop checkpoints both
  * (SnapshotStore) so crawl k's lineage never embeds crawl k−1's plan";
  * this drives it: write the state after crawl 1, read it back COLD (a
  * fresh parquet scan, no lineage), advance with crawl 2, and require
  * the same signals the in-memory chain produces.
  */
class StateCheckpointSpec extends SparkSpec {

  private def store() = new SnapshotStore(
    java.nio.file.Files.createTempDirectory("state-ckpt").toString)

  private def rows(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet

  test("gram-set state round-trips: checkpointed advance == in-memory advance") {
    val s = spark; import s.implicits._
    val b0 = Seq((0L, "a b c d e f")).toDF("doc_id", "text")
    val b1 = Seq((1L, "c d e f g h")).toDF("doc_id", "text")
    val b2 = Seq((2L, "a b c x y z"), (3L, "g h a b")).toDF("doc_id", "text")
    val st = store()
    val (_, seen1) = Dedup.advanceGramSet(Dedup.initGramSet(b0, n = 3), b1, n = 3)
    st.write(seen1, "run1", "gram_set")
    val restored = st.read(spark, "run1", "gram_set")
    val (novMem, _) = Dedup.advanceGramSet(seen1, b2, n = 3)
    val (novCkpt, _) = Dedup.advanceGramSet(restored, b2, n = 3)
    assert(rows(novCkpt) == rows(novMem))
    assert(rows(novCkpt) == rows(Dedup.noveltyRate(b2, b0.unionByName(b1), n = 3)))
  }

  test("unigram-count state round-trips through the snapshot layout") {
    val s = spark; import s.implicits._
    val b0 = Seq((0L, "a a b c")).toDF("doc_id", "text")
    val b1 = Seq((1L, "b c c d")).toDF("doc_id", "text")
    val b2 = Seq((2L, "a d e e")).toDF("doc_id", "text")
    val st = store()
    val (_, c1, rel) = TextAnalysis.advanceUnigramsManaged(TextAnalysis.unigramCounts(b0), b1)
    st.write(c1, "run1", "unigrams")
    rel()
    val restored = st.read(spark, "run1", "unigrams")
    val (driftCkpt, _) = TextAnalysis.advanceUnigrams(restored, b2)
    assert(rows(driftCkpt) == rows(TextAnalysis.vocabDrift(b2, b0.unionByName(b1))))
  }

  test("fingerprint state round-trips: checkpointed advance == in-memory == stateless union") {
    val s = spark; import s.implicits._
    // the patterned-PNG fixture: 257 rides crawl 2 and is the cross-side
    // twin of crawl 0's doc 1 (same pattern k=1, different dimensions)
    val fixture = ((1L to 21L) :+ 257L).map(i => (i, "x" * (3 + i.toInt * 5 % 29))).toDF("doc_id", "text")
    val media = graft.operators.Multimodal.syntheticImagesPatterned(fixture)
    def fp(pred: org.apache.spark.sql.Column) =
      graft.operators.Multimodal.perceptualHash(media.filter(pred))
    val st = store()
    val (_, st1) = graft.operators.Multimodal.advanceFingerprints(
      fp(col("doc_id") <= 7), fp(col("doc_id") > 7 && col("doc_id") <= 14))
    st.write(st1, "run1", "phash_state")
    val restored = st.read(spark, "run1", "phash_state")
    val batch2 = fp(col("doc_id") > 14)
    val (pMem, _) = graft.operators.Multimodal.advanceFingerprints(st1, batch2)
    val (pCkpt, _) = graft.operators.Multimodal.advanceFingerprints(restored, batch2)
    assert(rows(pCkpt) == rows(pMem))
    assert(rows(pCkpt) == rows(
      graft.operators.Multimodal.nearDupAgainstBaseline(batch2, fp(col("doc_id") <= 14))))
    assert(rows(pCkpt).exists(_.take(2) == Seq(257L, 1L)))
  }

  test("video sketch state round-trips: checkpointed advance == in-memory == stateless union") {
    val s = spark; import s.implicits._
    // the patterned-video fixture: doc 18 is the trimmed/rescaled twin of
    // doc 17 (twin rule d % 9 == 0) and the crawl split keeps them on
    // opposite sides, so the cross-side pair must surface in crawl 2
    val fixture = (1L to 18L).map(i => (i, "y" * (2 + i.toInt * 3 % 23))).toDF("doc_id", "text")
    val sk = graft.util.Caching.ensurePersisted(
      graft.operators.Multimodal.videoSketch(
        graft.operators.Multimodal.videoFrameHashes(
          graft.operators.Multimodal.syntheticVideoPatterned(fixture))))
    def side(pred: org.apache.spark.sql.Column) = sk.filter(pred)
    val st = store()
    val (_, st1) = graft.operators.Multimodal.advanceVideoSketches(
      side(col("doc_id") <= 7), side(col("doc_id") > 7 && col("doc_id") <= 17))
    st.write(st1, "run1", "video_sketch_state")
    val restored = st.read(spark, "run1", "video_sketch_state")
    val batch2 = side(col("doc_id") > 17)
    val (pMem, _) = graft.operators.Multimodal.advanceVideoSketches(st1, batch2)
    val (pCkpt, _) = graft.operators.Multimodal.advanceVideoSketches(restored, batch2)
    assert(rows(pCkpt) == rows(pMem))
    assert(rows(pCkpt) == rows(
      graft.operators.Multimodal.nearDupVideoAgainstBaseline(batch2, side(col("doc_id") <= 17))))
    assert(rows(pCkpt).exists(_.take(2) == Seq(18L, 17L)))
  }

  test("span baseline (docs + gram counts) round-trips and keeps the cross-run cap") {
    val s = spark; import s.implicits._
    // the DedupSpec cross-run-cap fixture: the fold's as-arrived counts
    // must survive persistence, or crawl 2 re-pairs excised boilerplate
    def doc(id: Long) = Seq((id, Seq.fill(30)("aa").mkString(" "))).toDF("doc_id", "text")
    val st = store()
    val a1 = Dedup.advanceSpanBaseline(Dedup.initSpanBaseline(doc(0), n = 3), doc(1), maxOcc = 64)
    assert(a1.spans.count() > 0)
    st.write(a1.state.docs, "run1", "span_docs")
    st.write(a1.state.gramCounts, "run1", "span_gram_counts")
    a1.release()
    val restored = Dedup.SpanBaseline(
      st.read(spark, "run1", "span_docs"),
      st.read(spark, "run1", "span_gram_counts"), n = 3)
    val a2 = Dedup.advanceSpanBaseline(restored, doc(2), maxOcc = 64)
    assert(a2.spans.count() == 0, "cumulative cap must survive the checkpoint")
    a2.release()
  }

  test("trained BPE merges round-trip as a snapshot table") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "low low lowest")).toDF("doc_id", "text")
    val st = store()
    st.write(Bpe.train(docs, 3), "run1", "bpe_merges")
    val restored = st.read(spark, "run1", "bpe_merges")
      .orderBy("merge_rank").collect()
      .map(r => (r.getAs[String]("sym_a"), r.getAs[String]("sym_b"))).toSeq
    assert(Bpe.encodeWord("lowest", restored) == Seq("low", "e", "s", "t", Bpe.EOW))
  }
}
