package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.operators.RelOps

/** Brute-force oracle for the table profile: per-column null counts,
  * exact distinct counts (nulls excluded, as countDistinct defines),
  * and the typed extrema split (numerics in min_num/max_num, strings in
  * min_str/max_str, the other side null) over random mixed frames with
  * null-heavy columns — including the all-null column whose extrema
  * must be null and distinct count zero.
  */
object ProfileProps extends Properties("Profile") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private lazy val spark = SparkSpec.session

  private val rowGen: Gen[(Option[Long], Option[String], Double)] = for {
    n <- Gen.option(Gen.choose(-50L, 50L))
    st <- Gen.option(Gen.oneOf("ant", "bee", "cat", "dog"))
    d <- Gen.choose(-1000, 1000).map(_ / 10.0)
  } yield (n, st, d)

  property("profile == driver-side per-column tally") =
    forAllNoShrink(Gen.choose(0, 25).flatMap(m => Gen.listOfN(m, rowGen))) { rows =>
      val s = spark; import s.implicits._
      val df = rows.map { case (n, st, d) =>
        (n.map(Long.box).orNull, st.orNull, d) }.toDF("n", "s", "d")
      val cols = Seq("n", "s", "d")
      def collectProfile(p: org.apache.spark.sql.DataFrame) = p.collect().map { r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          Option(r.getString(6)), Option(r.getString(7)))
      }.toSet
      val got = collectProfile(RelOps.profile(df, cols))

      val nRows = rows.size.toLong
      val ns = rows.flatMap(_._1); val ss = rows.flatMap(_._2); val ds = rows.map(_._3)
      val want = Set(
        ("n", nRows, nRows - ns.size, ns.distinct.size.toLong,
          ns.minOption.map(_.toDouble), ns.maxOption.map(_.toDouble), None, None),
        ("s", nRows, nRows - ss.size, ss.distinct.size.toLong,
          None, None, ss.minOption, ss.maxOption),
        ("d", nRows, 0L, ds.distinct.size.toLong,
          ds.minOption, ds.maxOption, None, None))

      got == want
    }
}
