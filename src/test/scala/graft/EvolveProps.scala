package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.operators.{Dedup, TextAnalysis}

/** Engine-free restatement of the carry-forward monitor contracts: for
  * ANY corpus and ANY split into (seed, batch₁, batch₂), advancing the
  * state twice must make batch₂'s signal equal the STATELESS operator
  * against seed ∪ batch₁ — because gram sets and unigram counts are pure
  * text tallies with nothing excised, cumulative state ≡ union corpus.
  * (The span family deliberately does NOT satisfy this — excision makes
  * its as-arrived counts diverge from a recount, which is
  * `SpanEvolveProps`' subject; these two must.)
  */
object EvolveProps extends Properties("Evolve") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6).withWorkers(1)

  private lazy val spark = SparkSpec.session

  private val wordGen = Gen.oneOf("a", "b", "c", "d", "e", "f")
  private val docGen: Gen[String] = for {
    n <- Gen.choose(0, 7)
    ws <- Gen.listOfN(n, wordGen)
  } yield ws.mkString(" ")

  private val corpusGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(4, 12)
    texts <- Gen.listOfN(n, docGen)
  } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def df(rows: List[(Long, String)]) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  private def rows(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(_.toSeq).toSet

  property("advanceGramSet twice == stateless noveltyRate vs the union corpus") =
    forAllNoShrink(corpusGen) { docs =>
      val (b0, rest) = docs.splitAt(docs.length / 3)
      val (b1, b2) = rest.splitAt(rest.length / 2)
      val (nov1, seen1) = Dedup.advanceGramSet(Dedup.initGramSet(df(b0), n = 2), df(b1), n = 2)
      val (nov2, _) = Dedup.advanceGramSet(seen1, df(b2), n = 2)
      rows(nov1) == rows(Dedup.noveltyRate(df(b1), df(b0), n = 2)) &&
        rows(nov2) == rows(Dedup.noveltyRate(df(b2), df(b0 ++ b1), n = 2))
    }

  property("advanceUnigrams twice == stateless vocabDrift vs the union corpus") =
    forAllNoShrink(corpusGen) { docs =>
      val (b0, rest) = docs.splitAt(docs.length / 3)
      val (b1, b2) = rest.splitAt(rest.length / 2)
      val (d1, c1, rel1) =
        TextAnalysis.advanceUnigramsManaged(TextAnalysis.unigramCounts(df(b0)), df(b1))
      val (d2, _, rel2) = TextAnalysis.advanceUnigramsManaged(c1, df(b2))
      val ok = rows(d1) == rows(TextAnalysis.vocabDrift(df(b1), df(b0))) &&
        rows(d2) == rows(TextAnalysis.vocabDrift(df(b2), df(b0 ++ b1)))
      rel2(); rel1()
      ok
    }
}
