package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  private def docs = {
    val s = spark; import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "The quick  brown fox jumps over the lazy dog", "en"), // exact dup after normalize
      (3L, "the quick brown fox jumps over the lazy cat and dog", "en"),  // near dup
      (4L, "completely different content about spark shuffles here", "en"),
      (5L, "le renard brun rapide saute par dessus le chien", "fr")
    ).toDF("doc_id", "text", "lang")
  }

  test("exact dedup returns surviving ROWS (lowest id) with group sizes") {
    val out = Dedup.exact(docs).select("doc_id", "n_copies")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out.keySet == Set(1L, 3L, 4L, 5L)) // 2 collapsed into 1
    assert(out(1L) == 2L && out(3L) == 1L)
  }

  test("dedupAgainstBaseline: batch-internal dupes collapse, baseline collisions drop") {
    val s = spark; import s.implicits._
    val baseline = Seq((10L, "already in the corpus", "en")).toDF("doc_id", "text", "lang")
    val incoming = Seq(
      (20L, "already in the corpus", "en"),      // collides with baseline → dropped
      (21L, "Already  in the corpus", "en"),     // same after normalize → dropped
      (22L, "brand new document", "en"),
      (23L, "brand new document", "en"),         // batch-internal dup → one survivor
      (24L, "another new one", "fr")
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.dedupAgainstBaseline(incoming, baseline)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_copies"))).toMap
    assert(out.keySet === Set(22L, 24L))  // lowest id survives the internal dup
    assert(out(22L) === 2L)               // copy count reflects the batch
  }

  test("dedupAgainstBaselineBloom == dedupAgainstBaseline on randomized batches") {
    val s = spark; import s.implicits._
    // overlapping content pools force baseline collisions, batch-internal
    // dups, and plenty of definite-new docs the bloom gate must not drop
    val rnd = new scala.util.Random(41)
    val pool = (0 until 120).map(i => s"document body number ${rnd.nextInt(80)} variant $i")
    val baseline = (0 until 150).map(i => (i.toLong, pool(rnd.nextInt(pool.size)))).toDF("doc_id", "text")
    val incoming = (200 until 400).map(i => (i.toLong, pool(rnd.nextInt(pool.size)))).toDF("doc_id", "text")
    val plain = Dedup.dedupAgainstBaseline(incoming, baseline)
      .collect().map(_.toSeq).toSet
    val gated = Dedup.dedupAgainstBaselineBloom(incoming, baseline, expectedItems = 1000L)
      .collect().map(_.toSeq).toSet
    assert(gated === plain)
    // the gate must sit on the baseline side as a native probe. Analyzed
    // plan, not executed: over these LOCAL fixtures ConvertToLocalRelation
    // folds the (deterministic) probe away at optimization time — against
    // a file source it survives as a map-side Filter above the scan
    val plan = Dedup.dedupAgainstBaselineBloom(incoming, baseline, expectedItems = 1000L)
      .queryExecution.analyzed.toString
    assert(plan.contains("bloom_might_contain"), s"bloom gate missing from plan:\n$plan")
  }

  test("minhashLshAgainstBaseline == full-corpus LSH restricted to cross-side pairs") {
    val s = spark; import s.implicits._
    // near-dup families spanning the id split at 100, plus unrelated docs
    val rnd = new scala.util.Random(7)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    def doc(family: Int, mutate: Int) = (0 until 30).map { i =>
      if (i == mutate) "MUT" + i else words((family * 3 + i) % words.size) + (i % 5)
    }.mkString(" ")
    val all = (0 until 40).map { i =>
      val fam = i % 8
      (i.toLong, if (i < 20) doc(fam, -1) else doc(fam, rnd.nextInt(30)))
    }.toDF("doc_id", "text")
    val baseline = all.filter($"doc_id" < 20)
    val incoming = all.filter($"doc_id" >= 20)
    val cross = Dedup.minhashLshAgainstBaseline(incoming, baseline,
        k = 32, bands = 16, threshold = 0.3, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cross.nonEmpty)
    // orientation: id_in is always from the incoming side, id_bas baseline
    cross.foreach { case (in, bas, _) => assert(in >= 20 && bas < 20) }
    // identical params + capping unreached → exactly the straddling subset
    // of full-corpus LSH (which orders pairs id_a < id_b = (baseline, inc))
    val full = Dedup.minhashLsh(all, k = 32, bands = 16, threshold = 0.3, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 20 && b >= 20 }
      .map { case (a, b, j) => (b, a, j) }.toSet
    assert(cross === full)
    val plan = Dedup.minhashLshAgainstBaseline(incoming, baseline)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs join in plan:\n$plan")
  }

  test("minhashLshAgainstBaselineBloom == ungated twin, gate in the baseline plan") {
    val s = spark; import s.implicits._
    // same family construction as the ungated test: cross-side near-dups
    // the gate must keep, and unrelated baseline docs it should drop
    val rnd = new scala.util.Random(13)
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
    def doc(family: Int, mutate: Int) = (0 until 30).map { i =>
      if (i == mutate) "MUT" + i else words((family * 3 + i) % words.size) + (i % 5)
    }.mkString(" ")
    val all = (0 until 40).map { i =>
      val fam = i % 8
      (i.toLong, if (i < 20) doc(fam, -1) else doc(fam, rnd.nextInt(30)))
    }.toDF("doc_id", "text")
    val baseline = all.filter($"doc_id" < 20)
    val incoming = all.filter($"doc_id" >= 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = rows(Dedup.minhashLshAgainstBaseline(incoming, baseline,
      k = 32, bands = 16, threshold = 0.3, shingleN = 2))
    val gated = rows(Dedup.minhashLshAgainstBaselineBloom(incoming, baseline,
      k = 32, bands = 16, threshold = 0.3, shingleN = 2, expectedItems = 1000L))
    assert(plain.nonEmpty)
    assert(gated === plain)
    // analyzed plan (ConvertToLocalRelation folds the deterministic probe
    // over local fixtures, same caveat as the exact-dedup twin)
    val plan = Dedup.minhashLshAgainstBaselineBloom(incoming, baseline,
      k = 32, bands = 16, threshold = 0.3, shingleN = 2, expectedItems = 1000L)
      .queryExecution.analyzed.toString
    assert(plan.contains("bloom_might_contain"), s"bloom gate missing from plan:\n$plan")
  }

  test("managed Bloom variants: release() drops the internal caches, results stay valid") {
    // Per-crawl plans differ, so a recurring pipeline accumulates one cache
    // entry per crawl unless it releases them; the managed variants hand
    // back that release. Contract: same rows as the unmanaged twin, release
    // runs cleanly after materialization, and the result frame still
    // evaluates identically AFTERWARD (lineage intact — cache-independence).
    val s = spark; import s.implicits._
    val baseline = Seq((10L, "already in the corpus"), (11L, "shared body text here"))
      .toDF("doc_id", "text")
    val incoming = Seq((20L, "already in the corpus"), (21L, "brand new document"),
      (22L, "shared body text here"), (23L, "another fresh one"))
      .toDF("doc_id", "text")
    val (exactDf, exactRelease) =
      Dedup.dedupAgainstBaselineBloomManaged(incoming, baseline, expectedItems = 100L)
    val before = exactDf.collect().map(_.toSeq).toSet
    assert(exactDf.collect().map(_.getAs[Long]("doc_id")).toSet === Set(21L, 23L))
    exactRelease()
    assert(exactDf.collect().map(_.toSeq).toSet === before)

    val (lshDf, lshRelease) = Dedup.minhashLshAgainstBaselineBloomManaged(
      incoming, baseline, k = 32, bands = 16, threshold = 0.3, shingleN = 2,
      expectedItems = 100L)
    val lshBefore = lshDf.collect().map(_.toSeq).toSet
    lshRelease()
    assert(lshDf.collect().map(_.toSeq).toSet === lshBefore)
  }

  test("minhashLsh finds the planted near-dup pair, never compares all pairs") {
    val out = Dedup.minhashLsh(docs, threshold = 0.3, k = 32, bands = 16, shingleN = 2)
    val pairs = out.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dups always collide
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)), s"near-dup missed: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated doc stays out
    // plan shape: banded equi-join only — no cartesian product
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs join in plan:\n$plan")
  }

  test("native MinHashSigExpr projection == explode/groupBy-min aggregate form") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(29)
    val texts = (0 until 50).map(i =>
      (i.toLong, Seq.fill(rnd.nextInt(25))("w" + rnd.nextInt(40)).mkString(" "))) :+
      ((99L, ""))  // zero-shingle doc: dropped by both forms
    val df = texts.toDF("doc_id", "text")
    val base = Dedup.shingleBase(df, "doc_id", "text", Nil, 3)
    def rows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong).toSeq).toMap
    val native = rows(Dedup.signatures(base, "doc_id", Nil, 16))
    val agg = rows(Dedup.hofSignatures(base, "doc_id", Nil, 16))
    assert(native === agg)
    // projection form: no Aggregate in the signature stage's plan
    val plan = Dedup.signatures(base, "doc_id", Nil, 16)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate"), s"signatures must be a pure projection:\n$plan")
  }

  test("native SimHash60Expr projection == explode/groupBy aggregate form") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val words = Seq("red", "blue", "green", "up", "down", "x1", "y2", "z3")
    val texts = (0 until 60).map { i =>
      (i.toLong, Seq.fill(rnd.nextInt(20))(words(rnd.nextInt(words.size))).mkString(" "))
    } :+ ((98L, "")) :+ ((99L, "   "))  // zero-token docs: excluded by both
    val df = texts.toDF("doc_id", "text")
    val native = Dedup.simhash(df).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val agg = Dedup.hofSimhash(df).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(native === agg)
    assert(!native.contains(98L) && !native.contains(99L))
    // the projection form plans no aggregate before banding
    val plan = Dedup.simhash(df).queryExecution.optimizedPlan.toString
    assert(!plan.contains("Aggregate"), s"simhash must be a pure projection:\n$plan")
  }

  test("simhash pairs respect the hamming bound and the 4x15-bit banding") {
    val out = Dedup.simhashPairs(docs, maxHamming = 3)
    out.collect().foreach(r => assert(r.getAs[Long]("hamming") <= 3))
    intercept[IllegalArgumentException](Dedup.simhashPairs(docs, maxHamming = 8))
  }

  test("ngramJaccard blocks by language: cross-language pairs are impossible") {
    val out = Dedup.ngramJaccard(docs, shingleN = 2, k = 32, bands = 16, threshold = 0.1)
    val pairs = out.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // fr never pairs with en
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("dedupClusters: transitive closure collapses chains to the minimum id") {
    val s = spark; import s.implicits._
    val ids = (1L to 7L).toDF("doc_id")
    // chain 1-2, 2-3 (transitive), pair 5-6; 4 and 7 singletons
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (5L, 6L, 0.8))
      .toDF("id_a", "id_b", "jaccard")
    val out = Dedup.dedupClusters(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L))
  }

  test("collapseKeepBest keeps the highest-score member per cluster, lowest id on ties") {
    val s = spark; import s.implicits._
    val ids = (1L to 7L).toDF("doc_id")
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (5L, 6L, 0.8))
      .toDF("id_a", "id_b", "jaccard")
    // cluster {1,2,3}: 3 wins on score; {5,6}: tie → lowest id 5; singletons keep themselves
    val scores = Seq(1L -> 0.1, 2L -> 0.5, 3L -> 0.9, 4L -> 0.2, 5L -> 0.7, 6L -> 0.7, 7L -> 0.0)
      .toDF("doc_id", "score")
    val out = Dedup.collapseKeepBest(ids, pairs, scores)
      .collect().map(r => r.getLong(1) -> ((r.getLong(0), r.getLong(2), r.getDouble(3)))).toMap
    assert(out == Map(
      1L -> ((3L, 3L, 0.9)), 4L -> ((4L, 1L, 0.2)),
      5L -> ((5L, 2L, 0.7)), 7L -> ((7L, 1L, 0.0))))
  }

  test("winnow: shared-passage docs pair up; sketch guarantee holds on a long common run") {
    val s = spark; import s.implicits._
    val common = (1 to 30).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $common"),
      (2L, s"$common delta epsilon zeta"),   // long shared run with doc 1
      (3L, "totally different words entirely here now")).toDF("doc_id", "text")
    val out = Dedup.winnow(docs, shingleN = 3, w = 4, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 2L))) // guarantee: run >= w+n-1 tokens -> shared sketch hash
  }

  test("exact dedup: null ids rank FIRST (window-asc semantics), no fabricated rows") {
    val s = spark; import s.implicits._
    val df = Seq((Option.empty[Long], "same text"), (Some(7L), "same text"),
      (Some(9L), "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df).orderBy(col("n_copies").desc)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getLong(3))).toSeq
    // the null-id row survives its group (nulls-first), nothing fabricated
    assert(out == Seq((None, 2L), (Some(9L), 1L)))
  }

  test("survivors keeps exactly one row (minimum id) per near-dup cluster") {
    val s = spark; import s.implicits._
    val docs = (1L to 7L).map(i => (i, s"text_$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.9), (5L, 6L, 0.8))
      .toDF("id_a", "id_b", "jaccard")
    val out = Dedup.survivors(docs, pairs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "text_1"), (4L, "text_4"), (5L, "text_5"), (7L, "text_7")))
  }

  test("advanceSpanBaseline: the occurrence cap accumulates ACROSS crawls") {
    val s = spark; import s.implicits._
    // one gram dominates: 30 identical tokens per doc → the n=3 gram
    // occurs 28× per doc. Cap 64: crawl 1 counts 56 (seed + batch
    // as-arrived) → pairs found and the batch copy excised; crawl 2
    // counts 84 → gated, NO pairs — where a per-invocation count over
    // (batch ∪ current baseline) reads only 56 (crawl 1's copy is gone
    // from the text) and re-pairs the same boilerplate every crawl.
    def doc(id: Long) = Seq((id, Seq.fill(30)("aa").mkString(" "))).toDF("doc_id", "text")
    val a1 = Dedup.advanceSpanBaseline(
      Dedup.initSpanBaseline(doc(0), n = 3), doc(1), maxOcc = 64)
    assert(a1.spans.count() > 0, "crawl 1 under the cap must pair")
    val a2 = Dedup.advanceSpanBaseline(a1.state, doc(2), maxOcc = 64)
    assert(a2.spans.count() == 0, "cumulatively-hot gram must be gated in crawl 2")
    val fresh = Dedup.duplicateSpansAgainstBaseline(doc(2), a1.state.docs, n = 3, maxOcc = 64)
    assert(fresh.count() > 0, "per-invocation counting would re-pair — the gap the fold closes")
    a2.release(); a1.release()
  }

  test("advanceGramSet: two advances == stateless novelty against the union corpus") {
    val s = spark; import s.implicits._
    val b0 = Seq((0L, "a b c d")).toDF("doc_id", "text")
    val b1 = Seq((1L, "c d e f")).toDF("doc_id", "text")
    val b2 = Seq((2L, "a b c x"), (3L, "d e f g")).toDF("doc_id", "text")
    val (nov1, seen1) = Dedup.advanceGramSet(Dedup.initGramSet(b0, n = 3), b1, n = 3)
    val (nov2, _) = Dedup.advanceGramSet(seen1, b2, n = 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rows(nov1) == rows(Dedup.noveltyRate(b1, b0, n = 3)))
    assert(rows(nov2) == rows(Dedup.noveltyRate(b2, b0.unionByName(b1), n = 3)))
  }

  test("noveltyRate: seen grams score 0, fresh grams score 1, short docs stay NULL") {
    val s = spark; import s.implicits._
    val bas = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val inc = Seq(
      (10L, "a b c d"),   // every 3-gram in the baseline -> novelty 0
      (11L, "x y z w"),   // nothing shared -> novelty 1
      (12L, "a b c x"),   // grams: abc (seen), bcx (novel) -> 0.5
      (13L, "a b"),       // shorter than n -> no grams, novelty NULL
    ).toDF("doc_id", "text")
    val r = Dedup.noveltyRate(inc, bas, n = 3).collect()
      .map(row => row.getAs[Long]("doc_id") ->
        (row.getAs[Long]("n_grams"), row.getAs[Long]("n_novel"),
          Option(row.getAs[java.lang.Double]("novelty")))).toMap
    assert(r(10L) == ((2L, 0L, Some(0.0))))
    assert(r(11L) == ((2L, 2L, Some(1.0))))
    assert(r(12L) == ((2L, 1L, Some(0.5))))
    assert(r(13L) == ((0L, 0L, None)))
  }

  test("urlDedup: scheme/www/slash/tracking/fragment variants collapse; real params split; order kept") {
    val s = spark; import s.implicits._
    val urls = Seq(
      (1L, "https://Example.com/a/b"),
      (2L, "HTTP://WWW.example.com/a/b/"),                       // case+www+slash noise
      (3L, "example.com/a/b?utm_source=x&fbclid=1#frag"),        // tracking+fragment noise
      (4L, "https://example.com/a/b?id=7"),                      // REAL param -> its own key
      (5L, "https://example.com/a/b?utm_term=z&id=7&gclid=2"),   // tracking stripped around it
      (6L, "https://example.com/a/b?id=7&page=2"),               // order preserved -> distinct
      (7L, "https://example.com/a/b?page=2&id=7"),               //   from the reversed order
      (8L, "https://example.com/a/b?ref=r&ref_x=1"),             // ref dropped, ref_x kept
    ).toDF("doc_id", "url")
    val out = Dedup.urlDedup(urls).collect()
      .map(r => r.getString(1) -> (r.getLong(0), r.getLong(2))).toMap
    assert(out("example.com/a/b") == ((1L, 3L)))                 // 1, 2, 3 collapse
    assert(out("example.com/a/b?id=7") == ((4L, 2L)))            // 4, 5 collapse
    assert(out("example.com/a/b?id=7&page=2") == ((6L, 1L)))
    assert(out("example.com/a/b?page=2&id=7") == ((7L, 1L)))
    assert(out("example.com/a/b?ref_x=1") == ((8L, 1L)))
    assert(out.size == 5)
    // null urls are dropped, never merged into one "duplicate class"
    val withNulls = Seq((20L, "https://example.com/a/b"), (21L, null), (22L, null))
      .toDF("doc_id", "url")
    assert(Dedup.urlDedup(withNulls).count() == 1)
  }

  test("urlDedupAgainstBaseline: aliases of crawled urls suppressed, fresh keys keep-first") {
    val s = spark; import s.implicits._
    val crawled = Seq(
      (1L, "https://example.com/a"),
      (2L, "https://example.com/b?id=1"),
    ).toDF("doc_id", "url")
    val frontier = Seq(
      (10L, "HTTP://WWW.example.com/a/"),          // alias of crawled /a -> suppressed
      (11L, "https://example.com/b?id=1&utm_source=x"), // alias of crawled b?id=1 -> suppressed
      (12L, "https://example.com/b?id=2"),         // fresh key
      (13L, "example.com/c"),                      // fresh key, two frontier aliases
      (14L, "https://www.example.com/c/"),
    ).toDF("doc_id", "url")
    val out = Dedup.urlDedupAgainstBaseline(frontier, crawled).collect()
      .map(r => r.getAs[String]("canonical_url") ->
        (r.getAs[Long]("doc_id"), r.getAs[Long]("n_copies"))).toMap
    assert(out == Map(
      "example.com/b?id=2" -> ((12L, 1L)),
      "example.com/c" -> ((13L, 2L))))
  }

  test("dirty input: null text, null scores, and null-id pairs degrade instead of corrupting") {
    val s2 = spark; import s2.implicits._
    // null-TEXT rows each survive as their own singleton — never one
    // shared "null duplicate class" with a single survivor
    val docs = Seq(
      (0L, "alpha beta"), (1L, "alpha beta"),
      (2L, null.asInstanceOf[String]), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val ex = Dedup.exact(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(ex == Map(0L -> 2L, 2L -> 1L, 3L -> 1L))
    // a NULL-score member must rank LAST in its cluster, not win it
    val ids = Seq(10L, 11L, 12L).toDF("doc_id")
    val pairs = Seq((10L, 11L), (11L, 12L)).toDF("id_a", "id_b")
    val scores = Seq((10L, 0.2), (12L, 0.9))
      .toDF("doc_id", "score")
      .unionByName(Seq(11L).toDF("doc_id").withColumn("score",
        org.apache.spark.sql.functions.lit(null).cast("double")))
    val best = Dedup.collapseKeepBest(ids, pairs, scores).collect()
    assert(best.length == 1 && best.head.getAs[Long]("doc_id") == 12L,
      s"null-score member must not win: ${best.mkString}")
    // null-id pairs are dropped as edges on BOTH strategies (the local
    // union-find used to NPE on them)
    val dirtyPairs = Seq((Some(10L), Some(11L)), (None, Some(12L)), (Some(12L), None))
      .toDF("id_a", "id_b")
    val cl = Dedup.dedupClusters(ids, dirtyPairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(10L -> 10L, 11L -> 10L, 12L -> 12L))
  }
}
