package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import org.apache.spark.sql.functions.col
import graft.operators.{RelOps, Spatial}

/** Brute-force oracles for the layout/skew primitives:
  *
  *   - `Spatial.zValue` against a driver-side Morton interleave (spread
  *     the 31 bits of each cell index, OR them offset by one) — the
  *     locality property every z-ordered layout rests on;
  *   - `RelOps.saltedJoin` against the plain join it must be
  *     row-for-row equivalent to (MULTISET equality — duplicate keys on
  *     both sides are where a salting bug would double or drop rows),
  *     for inner and left joins.
  */
object LayoutProps extends Properties("Layout") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private lazy val spark = SparkSpec.session

  private def spread(v: Long): Long = {
    var r = 0L; var i = 0
    while (i < 31) { r |= ((v >> i) & 1L) << (2 * i); i += 1 }
    r
  }

  property("zValue == driver-side Morton bit interleave") =
    forAllNoShrink(Gen.listOfN(20, Gen.zip(
      Gen.oneOf(Gen.choose(0L, 100L), Gen.oneOf(0L, 0x7FFFFFFFL, 0x40000000L)),
      Gen.oneOf(Gen.choose(0L, 100L), Gen.oneOf(0L, 0x7FFFFFFFL, 1L << 20))))) { cells =>
      val s = spark; import s.implicits._
      val got = cells.toDF("cx", "cy")
        .select(Spatial.zValue(col("cx"), col("cy")).as("z"))
        .collect().map(_.getLong(0)).toSeq
      val want = cells.map { case (cx, cy) => spread(cx) | (spread(cy) << 1) }
      got == want
    }

  private val sideGen: Gen[List[(Int, String)]] = Gen.choose(0, 15).flatMap(m =>
    Gen.listOfN(m, Gen.zip(Gen.choose(1, 4), Gen.alphaLowerStr.map(_.take(3)))))

  property("saltedJoin == plain join (multiset, duplicate keys both sides; inner and left)") =
    forAllNoShrink(sideGen, sideGen, Gen.choose(2, 5), Gen.oneOf("inner", "left")) {
      (l, r, salt, joinType) =>
        val s = spark; import s.implicits._
        val left = l.toDF("k", "lv"); val right = r.toDF("k", "rv")
        val got = RelOps.saltedJoin(left, right, Seq("k"), salt, joinType)
          .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
        val want = left.join(right, Seq("k"), joinType)
          .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
        got == want
    }
}
