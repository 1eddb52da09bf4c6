package graft

import org.apache.spark.sql.functions._
import graft.operators.Spatial

/** Spatial.radiusJoin / nearestWithinRadius vs brute-force all-pairs. */
class SpatialSpec extends SparkSpec {

  private def points(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, -29.0 + rnd.nextInt(300) * 0.01, 151.0 + rnd.nextInt(300) * 0.01))
  }

  test("radiusJoin equals the brute-force pair set (boundary inclusive, no dup pairs)") {
    val s = spark; import s.implicits._
    val ls = points(80, 1)
    val rs = points(120, 2)
    val radius = 0.07
    val got = Spatial.radiusJoin(
      ls.toDF("lid", "llat", "llon"), rs.toDF("rid", "rlat", "rlon"),
      "llat", "llon", "rlat", "rlon", radius)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
    // exactly once per qualifying pair — a duplicate would double-count downstream aggs
    assert(got.length === got.toSet.size, "duplicate pairs emitted")
    val expected = (for {
      (lid, la, lo) <- ls; (rid, ra, ro) <- rs
      d2 = (la - ra) * (la - ra) + (lo - ro) * (lo - ro)
      if d2 <= radius * radius
    } yield (lid, rid)).toSet
    assert(got.toSet === expected)
    assert(expected.nonEmpty, "fixture produced no pairs — radius too small to test anything")
  }

  test("points exactly at the radius are included") {
    val s = spark; import s.implicits._
    val l = Seq((1L, 0.0, 0.0)).toDF("lid", "llat", "llon")
    val r = Seq((2L, 0.1, 0.0), (3L, 0.100001, 0.0)).toDF("rid", "rlat", "rlon")
    val got = Spatial.radiusJoin(l, r, "llat", "llon", "rlat", "rlon", 0.1)
      .select("rid").collect().map(_.getLong(0)).toSet
    assert(got === Set(2L))
  }

  test("nearestWithinRadius picks the closest, tie-broken deterministically") {
    val s = spark; import s.implicits._
    val l = Seq((1L, 0.0, 0.0), (2L, 5.0, 5.0)).toDF("lid", "llat", "llon")
    // two candidates for lid=1 — one nearer; two EQUIDISTANT for the tie case
    val r = Seq((10L, 0.02, 0.0), (11L, 0.01, 0.0), (12L, -0.01, 0.0))
      .toDF("rid", "rlat", "rlon")
    val got = Spatial.nearestWithinRadius(l, r, "llat", "llon", "rlat", "rlon",
      0.5, Seq("lid"), Seq("rid"))
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(got(1L) === 11L) // 11 and 12 equidistant at 0.01 → min rid wins
    assert(!got.contains(2L)) // out of radius → absent, not null
  }

  test("zValue matches a reference bit-interleave") {
    val s = spark; import s.implicits._
    def refZ(x: Long, y: Long): Long = {
      var z = 0L
      for (b <- 0 until 31) {
        z |= ((x >> b) & 1L) << (2 * b)
        z |= ((y >> b) & 1L) << (2 * b + 1)
      }
      z
    }
    val rnd = new scala.util.Random(11)
    val pts = (0 until 200).map(_ => (rnd.nextInt(Int.MaxValue).toLong, rnd.nextInt(Int.MaxValue).toLong))
    val got = pts.toDF("x", "y")
      .select(col("x"), col("y"), Spatial.zValue(col("x"), col("y")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pts.foreach { case (x, y) => assert(got((x, y)) === refZ(x, y), s"($x,$y)") }
  }

  test("zValue interleave order: cx occupies even bits, cy odd — and out-of-range raises") {
    val s = spark; import s.implicits._
    val z = Seq((1L, 0L), (0L, 1L), (3L, 5L)).toDF("x", "y")
      .select(Spatial.zValue(col("x"), col("y")).as("z")).collect().map(_.getLong(0))
    assert(z(0) === 1L && z(1) === 2L) // pins the cx/cy bit assignment vs the oracle
    assert(z(2) === (1L | 4L | 2L | 32L)) // 3=0b11 → bits 0,2; 5=0b101 → bits 1,5
    val bad = Seq((0x80000000L, 0L)).toDF("x", "y")
      .select(Spatial.zValue(col("x"), col("y")).as("z"))
    val e = intercept[Exception](bad.collect())
    assert(e.getMessage.contains("out of [0, 2^31) range") ||
      Option(e.getCause).exists(_.getMessage.contains("out of [0, 2^31) range")))
  }

  test("plan is an equi join on cells — no cartesian/broadcast-nested-loop") {
    val s = spark; import s.implicits._
    val l = points(50, 3).toDF("lid", "llat", "llon")
    val r = points(50, 4).toDF("rid", "rlat", "rlon")
    val plan = Spatial.radiusJoin(l, r, "llat", "llon", "rlat", "rlon", 0.05)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan)
  }
}
