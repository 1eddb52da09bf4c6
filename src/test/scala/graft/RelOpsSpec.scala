package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.RelOps

class RelOpsSpec extends SparkSpec {

  test("latestPerKey keeps exactly the max-orderBy row, tie-broken deterministically") {
    val s = spark; import s.implicits._
    val df = Seq(("a", 1, "x"), ("a", 3, "y"), ("a", 3, "z"), ("b", 2, "w"))
      .toDF("k", "ts", "v")
    val out = RelOps.latestPerKey(df, Seq("k"), col("ts"), Seq(col("v")))
      .orderBy("k").collect().toSeq
    assert(out == Seq(Row("a", 3, "z"), Row("b", 2, "w")))
  }

  test("latestPerKey: null orderBy loses to any non-null; all-null group falls to tieBreak") {
    val s = spark; import s.implicits._
    // the max_by struct ordering must match the old window's desc
    // (nulls-last) semantics: a null ts never beats a real one
    val df = Seq(("a", Some(1), "hi"), ("a", None, "zz"),
      ("b", None, "p"), ("b", None, "q")).toDF("k", "ts", "v")
    val out = RelOps.latestPerKey(df, Seq("k"), col("ts"), Seq(col("v")))
      .orderBy("k").collect().toSeq
    assert(out == Seq(Row("a", 1, "hi"), Row("b", null, "q")))
  }

  test("firstWinsDedup keeps the lexicographically-lowest row per key") {
    val s = spark; import s.implicits._
    val df = Seq(("k1", 2, 9), ("k1", 1, 5), ("k1", 1, 3), ("k2", 7, 7))
      .toDF("k", "a", "b")
    val out = RelOps.firstWinsDedup(df, Seq("k"), Seq(col("a"), col("b")))
      .orderBy("k").collect().toSeq
    assert(out == Seq(Row("k1", 1, 3), Row("k2", 7, 7)))
  }

  test("upsert: updates win per key, base survives elsewhere; upsertWithReset nulls reset cols") {
    val s = spark; import s.implicits._
    val base = Seq(("k1", "old", 1.0), ("k2", "old", 2.0)).toDF("k", "v", "x")
    val upd = Seq(("k1", "new", 9.0)).toDF("k", "v", "x")
    val out = RelOps.upsert(base, upd, Seq("k")).orderBy("k").collect().toSeq
    assert(out == Seq(Row("k1", "new", 9.0), Row("k2", "old", 2.0)))

    val reset = RelOps.upsertWithReset(base, upd, Seq("k"), Seq("x")).orderBy("k").collect().toSeq
    assert(reset == Seq(Row("k1", "new", null), Row("k2", "old", 2.0)))
  }

  test("carryForward nulls selected columns on previous rows only") {
    val s = spark; import s.implicits._
    val prev = Seq(("k1", "p", "site1"), ("k2", "p", "site2")).toDF("k", "src", "site")
    val cur = Seq(("k2", "c", "siteC")).toDF("k", "src", "site")
    val out = RelOps.carryForward(prev, cur, Seq("k"), Seq("site")).orderBy("k").collect().toSeq
    assert(out == Seq(Row("k1", "p", null), Row("k2", "c", "siteC")))
  }

  test("validate counts violations per check") {
    val s = spark; import s.implicits._
    val bad = Seq(1, 2, 3).toDF("x").filter(col("x") > 1)
    val ok = Seq(1).toDF("x").filter(col("x") > 99)
    val out = RelOps.validate(Seq("some_bad" -> bad, "all_good" -> ok))
      .orderBy("check_name").collect().toSeq
    assert(out == Seq(Row("all_good", 0L), Row("some_bad", 2L)))
  }

  test("parseEsriDatetime round-trips esriDatetime") {
    val s = spark; import s.implicits._
    import graft.functions.GraftFunctions
    val n = Seq("2026-01-05 04:30:00").toDF("t")
      .select(GraftFunctions.esriDatetime(GraftFunctions.parseEsriDatetime(col("t"))).as("rt"))
      .head().getString(0)
    assert(n == "2026-01-05 04:30:00")
  }

  test("diffFrames classifies added/removed/changed and drops unchanged") {
    val s = spark; import s.implicits._
    val prev = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", null: String))
      .toDF("id", "v", "w")
    val curr = Seq((2L, "b", "y"), (3L, "c", ""), (4L, "d", "z"))
      .toDF("id", "v", "w")
    val out = RelOps.diffFrames(prev, curr, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "removed", 3L -> "changed", 4L -> "added"))
    // id 2 is unchanged and absent; null vs empty string on id 3 DIFFERS
  }

  test("saltedJoin == plain join, with the hot key scattered") {
    val s = spark; import s.implicits._
    val left = (1 to 500).map(i => (if (i <= 450) "hot" else s"k$i", i)).toDF("k", "v")
    val right = Seq(("hot", "H"), ("k451", "A"), ("k999", "Z")).toDF("k", "tag")
    val plain = left.join(right, Seq("k")).collect().map(_.toSeq).toSet
    val salted = RelOps.saltedJoin(left, right, Seq("k"), salt = 8).collect().map(_.toSeq).toSet
    assert(salted == plain && plain.size == 451)
    val plainLeft = left.join(right, Seq("k"), "left").collect().map(_.toSeq).toSet
    val saltedLeft = RelOps.saltedJoin(left, right, Seq("k"), 8, "left").collect().map(_.toSeq).toSet
    assert(saltedLeft == plainLeft)
  }

  test("watermarkDelta pushes the predicate into the parquet scan") {
    val df = graft.sources.Tables.orders(spark, "/root/testdata/sf0.001")
    val plan = RelOps.watermarkDelta(df, "o_orderdate", lit("1997-06-01").cast("timestamp"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("o_orderdate"),
      s"watermark not pushed to scan:\n$plan")
  }

  test("topKPerKey == the row_number window formulation, and bounds k") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(3)
    val rows = (0 until 1000).map(i => (rnd.nextInt(30).toLong, rnd.nextInt(500).toDouble, i.toLong))
    val df = rows.toDF("k", "score", "id")
    val agg = RelOps.topKPerKey(df, Seq("k"), col("score"), col("id"), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val w = Window.partitionBy("k").orderBy(col("score").desc, col("id").asc)
    val win = df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("k"), col("rank"), col("id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(agg === win)
    assert(agg.groupBy(_._1).values.forall(_.size <= 5))
  }

  test("mergeAggState: previous ⊕ delta == full re-aggregation, for any split") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 500).map(i => (rnd.nextInt(20).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val df = rows.toDF("k", "v", "ord")
    def aggOf(d: org.apache.spark.sql.DataFrame) = d.groupBy("k").agg(
      sum("v").as("sv"), count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
    val full = aggOf(df).collect().map(_.toSeq).toSet
    for (cut <- Seq(0L, 120L, 499L, 500L)) { // empty prev, mid, near-full, empty delta
      val merged = RelOps.mergeAggState(
        aggOf(df.filter(col("ord") < cut)), aggOf(df.filter(col("ord") >= cut)),
        Seq("k"), sumCols = Seq("sv", "n"), minCols = Seq("mn"), maxCols = Seq("mx"))
        .collect().map(_.toSeq).toSet
      assert(merged === full, s"cut=$cut")
    }
  }

  test("profile: one row per column with exact null/distinct/extrema stats") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, Some("b"), Some(2.5), Some(100L)),
      (2L, None: Option[String], Some(-1.0), Some(200L)),
      (3L, Some("a"), None: Option[Double], Some(100L)),
      (3L, Some("a"), Some(2.5), None: Option[Long]))
      .toDF("k", "s", "v", "ms")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
    val out = RelOps.profile(df, Seq("k", "s", "v", "ts")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("k", "s", "v", "ts"))
    val k = out("k")
    assert(k.getLong(1) === 4L && k.getLong(2) === 0L && k.getLong(3) === 3L)
    assert(k.getDouble(4) === 1.0 && k.getDouble(5) === 3.0)
    assert(k.isNullAt(6) && k.isNullAt(7)) // numeric col: no string extrema
    val str = out("s")
    assert(str.getLong(2) === 1L && str.getLong(3) === 2L)
    assert(str.isNullAt(4) && str.getString(6) === "a" && str.getString(7) === "b")
    val v = out("v")
    assert(v.getLong(2) === 1L && v.getLong(3) === 2L)
    assert(v.getDouble(4) === -1.0 && v.getDouble(5) === 2.5)
    val ts = out("ts")
    assert(ts.getLong(2) === 1L && ts.getLong(3) === 2L)
    assert(ts.getDouble(4) === 100.0 && ts.getDouble(5) === 200.0) // epoch ms
    // date columns profile as epoch days (a direct date→double cast is
    // illegal); zero-row inputs profile with n_nulls = 0, not NULL
    val dd = df.withColumn("d", to_date(lit("1970-01-03")))
    val dRow = RelOps.profile(dd, Seq("d")).collect().head
    assert(dRow.getDouble(4) === 2.0 && dRow.getDouble(5) === 2.0)
    val empty = RelOps.profile(df.filter(lit(false)), Seq("k", "s")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(empty("k").getLong(1) === 0L && empty("k").getLong(2) === 0L)
    assert(empty("s").getLong(2) === 0L && empty("s").isNullAt(6))
  }

  test("rangeJoin == brute-force containment; exactly-once; no cartesian in the plan") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(3)
    val points = (0 until 400).map(i => (i.toLong, rnd.nextInt(1000).toLong)).toDF("pid", "x")
    // intervals cross cell boundaries (cell=50), include empty (lo>hi),
    // zero-length (lo==hi), and a long multi-cell span
    val intervals = ((0 until 60).map { i =>
      val lo = rnd.nextInt(950).toLong; (i.toLong, lo, lo + rnd.nextInt(120).toLong)
    } ++ Seq((100L, 500L, 400L), (101L, 77L, 77L), (102L, 0L, 999L)))
      .toDF("iid", "lo", "hi")
    val got = RelOps.rangeJoin(points, intervals, "x", "lo", "hi", cellSize = 50L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = for {
      p <- points.collect().map(r => (r.getLong(0), r.getLong(1)))
      iv <- intervals.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      if p._2 >= iv._2 && p._2 <= iv._3
    } yield (p._1, iv._1)
    // multiset equality: exactly-once emission means no duplicate pairs
    assert(got.sorted === expected.toSeq.sorted)
    val plan = RelOps.rangeJoin(points, intervals, "x", "lo", "hi", 50L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"range join must stay an equi join on the cell:\n$plan")
  }

  test("keySkew: top-N hot keys with exact shares; null keys profiled, ties deterministic") {
    val s = spark; import s.implicits._
    // key "a": 6 rows, "b": 3, null: 2, "c": 1 → 4 keys, 12 rows, mean 3
    val df = (Seq.fill(6)(Some("a")) ++ Seq.fill(3)(Some("b")) ++
      Seq.fill(2)(None: Option[String]) :+ Some("c")).toDF("k")
    val out = RelOps.keySkew(df, Seq("k"), topN = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // order: n_rows desc, key asc; "c" (1 row) falls off the top-3
    assert(out.map(_._1).toSeq === Seq("a", "b", "<null>"))
    assert(out.head === (("a", 6L, 12L, 4L, 2000L)))  // 6 = 2.0x the mean of 3
    assert(out(2) === (("<null>", 2L, 12L, 4L, 666L))) // floor(2000/3)
    // non-integral mean: 13 rows / 5 keys → floored mean 2 (overflow-safe
    // formula divides by the floored mean, not n_rows*1000*n_keys/total)
    val out2 = RelOps.keySkew(df.unionByName(Seq(Some("d")).toDF("k")), Seq("k"), topN = 1)
      .collect().head
    assert(out2.getLong(4) === 3000L) // a: 6*1000 div 2
  }

  test("histogram: exact integral bins, hi lands in the last bin, out-of-range drops") {
    val s = spark; import s.implicits._
    // [0, 100) in 4 bins of 25; values at edges and out of range
    val df = Seq(0L, 24L, 25L, 99L, 100L, -1L, 101L).toDF("v")
    val out = RelOps.histogram(df, col("v"), lo = 0L, hi = 100L, nBins = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // -1 and 101 dropped; 100 (== hi) clamps into bin 3
    assert(out === Map(
      0L -> ((2L, 0L, 25L)),   // 0, 24
      1L -> ((1L, 25L, 50L)),  // 25
      3L -> ((2L, 75L, 100L)))) // 99, 100
    intercept[IllegalArgumentException](RelOps.histogram(df, col("v"), 10L, 10L, 4))
  }

  test("rangeJoin rejects shared column names and a reserved __cell up front") {
    val s = spark; import s.implicits._
    val points = Seq((1L, 10L)).toDF("user_id", "x")
    val intervals = Seq((2L, 0L, 20L)).toDF("user_id", "lo", "hi")
    val e = intercept[IllegalArgumentException](
      RelOps.rangeJoin(points, intervals, "x", "lo", "hi", 50L))
    assert(e.getMessage.contains("user_id"))
    val withCell = Seq((1L, 10L)).toDF("__cell", "x")
    intercept[IllegalArgumentException](
      RelOps.rangeJoin(withCell, Seq((0L, 20L)).toDF("lo", "hi"), "x", "lo", "hi", 50L))
  }

  test("null keys: upsert last-write-wins and diffFrames matches null = null") {
    val s2 = spark; import s2.implicits._
    val base = Seq((Some(1L), "old1"), (None, "oldN")).toDF("k", "v")
    val updates = Seq((Some(1L), "new1"), (None, "newN")).toDF("k", "v")
    val up = RelOps.upsert(base, updates, Seq("k")).collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getString(1)).toMap
    // a null key conflicts with a null key (the ON CONFLICT convention):
    // exactly one row per key, updates winning
    assert(up == Map(Some(1L) -> "new1", None -> "newN"))
    // diffFrames: an unchanged null-keyed row emits NOTHING (not a
    // phantom removed+added pair), a changed one classifies as changed
    val prev = Seq((Some(1L), "a"), (None, "same"), (Some(2L), "x")).toDF("k", "v")
    val cur = Seq((Some(1L), "a"), (None, "same"), (Some(3L), "y")).toDF("k", "v")
    val diff = RelOps.diffFrames(prev, cur, Seq("k")).collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getString(1)).toMap
    assert(diff == Map(Some(2L) -> "removed", Some(3L) -> "added"))
    val diff2 = RelOps.diffFrames(prev,
      Seq((Some(1L), "a"), (None, "CHANGED"), (Some(2L), "x")).toDF("k", "v"),
      Seq("k")).collect()
      .map(r => Option(r.get(0)).map(_.asInstanceOf[Long]) -> r.getString(1)).toMap
    assert(diff2 == Map(None -> "changed"))
    // topKPerKey: a null score is excluded, not a mid-job crash
    val scored = Seq((1L, Some(0.5), 10L), (1L, None, 11L), (1L, Some(0.9), 12L))
      .toDF("g", "score", "id")
    val tk = RelOps.topKPerKey(scored, Seq("g"),
      org.apache.spark.sql.functions.col("score"),
      org.apache.spark.sql.functions.col("id"), 5).collect()
    assert(tk.map(_.getAs[Long]("id")).toSet == Set(10L, 12L))
  }
}
