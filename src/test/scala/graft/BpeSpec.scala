package graft

import org.apache.spark.sql.functions.col
import graft.operators.Bpe

class BpeSpec extends SparkSpec {

  private def corpus(rows: (Long, String)*) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("wordFreqs + pairCounts: frequency-weighted adjacent pairs incl. the EOW pair") {
    val wf = Bpe.wordFreqs(corpus((1L, "low low lower"), (2L, "low")))
    val freqs = wf.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(freqs == Map("low" -> 3L, "lower" -> 1L))
  }

  test("pairCounts counts overlapping occurrences and weighs by freq") {
    val s = spark; import s.implicits._
    val dict = Seq(("aaa", 5L)).toDF("word", "freq")
      .withColumn("syms", Bpe.initSymbols(col("word")))
    val pc = Bpe.pairCounts(dict).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // a a a </w> -> (a,a) twice, (a,</w>) once, each x5
    assert(pc == Map(("a", "a") -> 10L, ("a", Bpe.EOW) -> 5L))
  }

  test("applyMergeCol: greedy left-to-right, non-overlapping on tandem runs") {
    val s = spark; import s.implicits._
    def apply(word: String, a: String, b: String): Seq[String] =
      Seq(Tuple1(word)).toDF("word")
        .select(Bpe.applyMergeCol(Bpe.initSymbols(col("word")), a, b).as("out"))
        .head().getSeq[String](0)
    assert(apply("aaaa", "a", "a") == Seq("aa", "aa", Bpe.EOW))
    assert(apply("aaa", "a", "a") == Seq("aa", "a", Bpe.EOW))
    assert(apply("abab", "a", "b") == Seq("ab", "ab", Bpe.EOW))
    assert(apply("low", "l", "o") == Seq("lo", "w", Bpe.EOW))
    assert(apply("w", "w", Bpe.EOW) == Seq("w" + Bpe.EOW))
  }

  test("trainMerges learns the classic Sennrich progression on a toy corpus") {
    // freqs: low x2, lowest x1 -> pairs: (l,o) 3, (o,w) 3, (w,</w>) 2, ...
    // tie (l,o) vs (o,w) breaks lexicographically: (l,o) first
    val docs = corpus((1L, "low low lowest"))
    val merges = Bpe.trainMerges(docs, 3)
    assert(merges.head == (("l", "o", 3L)))
    assert(merges(1) == (("lo", "w", 3L)))
    // after lo+w: "low</w>" x2, "low est</w>"-ish x1 -> best is (low,</w>) x2
    assert(merges(2) == (("low", Bpe.EOW, 2L)))
  }

  test("driver and distributed training paths learn identical merges") {
    val docs = corpus(
      (1L, "the cat sat on the mat"),
      (2L, "the cats sat"),
      (3L, "a catalog of mats and hats"))
    val viaDriver = Bpe.trainMerges(docs, 8, driverMaxBytes = Long.MaxValue)
    val viaCluster = Bpe.trainMerges(docs, 8, driverMaxBytes = 0L)
    assert(viaDriver == viaCluster)
    assert(viaDriver.length == 8)
  }

  test("encodeWord replays merges in rank order; subwordFreqs weighs by corpus freq") {
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", Bpe.EOW))
    assert(Bpe.encodeWord("low", merges) == Seq("low" + Bpe.EOW))
    assert(Bpe.encodeWord("lowest", merges) ==
      Seq("low", "e", "s", "t", Bpe.EOW))
    assert(Bpe.encodeWord("glow", merges) == Seq("g", "low" + Bpe.EOW))

    val docs = corpus((1L, "low low lowest"))
    val sf = Bpe.subwordFreqs(docs, merges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sf == Map(
      "low" + Bpe.EOW -> 2L, "low" -> 1L,
      "e" -> 1L, "s" -> 1L, "t" -> 1L, Bpe.EOW -> 1L))
  }

  test("docTokenCounts: exact counts under the vocabulary; tokenless docs count 0") {
    val s = spark; import s.implicits._
    val docs = Seq((1L, "low low lowest"), (2L, "low"), (3L, " ")).toDF("doc_id", "text")
    val merges = Seq(("l", "o"), ("lo", "w"), ("low", Bpe.EOW))
    // low -> [low</w>] (1), lowest -> [low,e,s,t,</w>] (5)
    val r = Bpe.docTokenCounts(docs, merges).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(r == Map(1L -> 7L, 2L -> 1L, 3L -> 0L))
  }

  test("packByBpe budgets by BPE counts, not the whitespace proxy") {
    val s = spark; import s.implicits._
    // two docs x 1 word each: whitespace counts are 1+1, but under zero
    // merges "abcd" is 5 subwords (a b c d </w>) — budget 6 straddles
    val docs = Seq((1L, "abcd", "x"), (2L, "abcd", "x")).toDF("doc_id", "text", "source")
    val packed = Bpe.packByBpe(docs, Seq.empty, budget = 6).collect()
      .map(row => row.getAs[Long]("doc_id") ->
        (row.getAs[Long]("n_tokens"), row.getAs[Long]("seq_id"), row.getAs[Long]("seq_offset"))).toMap
    assert(packed(1L) == ((5L, 0L, 0L)))
    assert(packed(2L) == ((5L, 0L, 5L)))
  }

  test("tie-break is UTF-8 binary order on both paths (code-unit order would diverge)") {
    // U+FFFD is a single UTF-16 code unit but sorts AFTER the supplementary
    // U+1F600 (surrogate pair) in code-unit order, while UTF-8 bytes order
    // it BEFORE — equal-frequency pairs from these two words force the
    // tie-break to decide, and both gated paths must pick the same pair
    val docs = corpus((1L, "��"), (2L, "😀😀"))
    val viaDriver = Bpe.trainMerges(docs, 1, driverMaxBytes = Long.MaxValue)
    val viaCluster = Bpe.trainMerges(docs, 1, driverMaxBytes = 0L)
    assert(viaDriver == viaCluster)
    // UTF-8 orders U+FFFD (ef bf bd) before U+1F600 (f0 9f 98 80); UTF-16
    // code units order them the other way (D83D < FFFD)
    assert(viaDriver.head == (("�", Bpe.EOW, 1L)))
  }

  test("train emits 1-based ranks and stops early when nothing is left to merge") {
    val docs = corpus((1L, "a a a"))
    // "a</w>" has exactly one pair -> one merge, then nothing
    val t = Bpe.train(docs, 10).collect()
    assert(t.length == 1)
    assert(t(0).getAs[Long]("merge_rank") == 1L)
    assert(t(0).getAs[String]("sym_a") == "a" && t(0).getAs[String]("sym_b") == Bpe.EOW)
    assert(t(0).getAs[Long]("cnt") == 3L)
  }
}
