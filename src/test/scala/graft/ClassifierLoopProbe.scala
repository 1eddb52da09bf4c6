package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev probe (test scope, never shipped in a query path): decompose the
  * classifier training loop's per-iteration wall and A/B candidate
  * iteration shapes — the measurement `docs/SCALE.md` §"Quality
  * classifier" asks for before touching the adjudicated per-iteration
  * literal-weights shape.
  *
  * Modes: `list`   = the shipped shape (per-doc agg with collect_list,
  *                   explode, per-bucket agg);
  *        `window` = per-doc factor via a window over the id-partitioned
  *                   cache, per-bucket agg directly (no list/explode);
  *        `windowSorted` = window over a cache persisted SORTED by id
  *                   (no per-iteration sort).
  *
  * Run with `sbt "Test/runMain graft.ClassifierLoopProbe <mode> [sfDir] [reps]"`.
  */
object ClassifierLoopProbe {
  def main(args: Array[String]): Unit = {
    val mode = if (args.length > 0) args(0) else "list"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.configureLocal(
      SparkSession.builder().master(s"local[$cpus]"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val buckets = 1024
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val label = col("text").contains("customer")

    // replicate acquireFeatsY (the loop's persisted input)
    def featsYOf(sorted: Boolean): org.apache.spark.sql.DataFrame = {
      val base = graft.operators.Dedup.fullHashBase(docs, "doc_id", "text")
      def grams(n: Int) = base.select(col("doc_id"),
        explode(graft.operators.Dedup.rolledGramHashes(col("__fh"), n, reduceInputs = true)).as("__g"))
      val fc = grams(1).unionByName(grams(2))
        .select(col("doc_id"), pmod(col("__g"), lit(buckets.toLong)).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
      val fr = fc.repartition(col("doc_id")).withColumn("n_feats", sum("cnt").over(w))
      val bias = fr.withColumn("__rn", row_number().over(w.orderBy(col("b"))))
        .filter(col("__rn") === 1)
        .select(col("doc_id"), lit(buckets.toLong).as("b"),
          col("n_feats").as("cnt"), col("n_feats"))
      val lab = docs.select(col("doc_id"), label.cast("long").as("__y"))
      val joined = fr.select(col("doc_id"), col("b"), col("cnt"), col("n_feats"))
        .unionByName(bias).join(lab, Seq("doc_id")).repartition(col("doc_id"))
      (if (sorted) joined.sortWithinPartitions("doc_id") else joined).persist()
    }

    for (rep <- 1 to reps) {
      val featsY = featsYOf(mode == "windowSorted")
      val labeled = featsY.filter(col("__y").isNotNull)
      val t00 = System.nanoTime()
      val cls = labeled.filter(col("b") === lit(buckets.toLong))
        .agg(count(lit(1)).as("n"), sum("__y").as("np")).head()
      val tCls = (System.nanoTime() - t00) / 1e9
      val nDocs = cls.getLong(0); val nPos = cls.getLong(1)
      val wMicro = Array.fill(buckets + 1)(0L)
      wMicro(buckets) = math.round(
        math.log((nPos + 1).toDouble / (nDocs - nPos + 1).toDouble) * 1000000.0)
      val tq0 = System.nanoTime()
      val qNano = labeled
        .select(col("b"), round(col("cnt") * col("cnt") * lit(1000000000.0)
          / col("n_feats") / col("n_feats"), 0).cast("long").as("__q"))
        .groupBy(col("b")).agg(sum(col("__q")).as("__qs"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val tQ = (System.nanoTime() - tq0) / 1e9
      println(f"rep $rep mode=$mode: cls=$tCls%.3f qNano=$tQ%.3f rows=${featsY.count()}")
      var sumExec = 0.0
      for (it <- 1 to 8) {
        var t = System.nanoTime()
        def lap(): Double = { val n = System.nanoTime(); val d = (n - t) / 1e9; t = n; d }
        val wTerm = col("cnt") * element_at(
          typedlit(wMicro.toIndexedSeq), col("b").cast("int") + 1)
        val gradDf = mode match {
          case "list" =>
            val z = col("__sm").cast("double") / lit(1000000.0) / col("nf")
            val p6 = round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
            val g = labeled
              .groupBy(col("doc_id"))
              .agg(sum(wTerm).as("__sm"),
                first(col("n_feats")).as("nf"), first(col("__y")).as("yy"),
                collect_list(struct(col("b"), col("cnt"))).as("__it"))
              .select(round((p6 - col("yy")) / col("nf") * lit(1000000000.0), 0)
                  .cast("long").as("__g"), col("__it"))
            g.select(col("__g"), explode(col("__it")).as("__e"))
              .groupBy(col("__e.b").as("b"))
              .agg(sum(col("__e.cnt") * col("__g")).as("__grad"))
          case _ =>
            val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            val z = col("__sm").cast("double") / lit(1000000.0) / col("n_feats")
            val p6 = round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
            labeled
              .withColumn("__sm", sum(wTerm).over(w))
              .withColumn("__g",
                round((p6 - col("__y")) / col("n_feats") * lit(1000000000.0), 0)
                  .cast("long"))
              .groupBy(col("b"))
              .agg(sum(col("cnt") * col("__g")).as("__grad"))
        }
        val tBuild = lap()
        val grads = gradDf.collect()
        val tExec = lap()
        sumExec += tBuild + tExec
        for (r <- grads) {
          val b = r.getLong(0)
          wMicro(b.toInt) -= math.round(
            1.0 * math.pow(0.8, it - 1) * r.getLong(1) /
              math.max(qNano.getOrElse(b, 1L), 1L) * 1000000.0)
        }
        println(f"  it $it: build=$tBuild%.3f exec=$tExec%.3f")
      }
      // weight checksum: modes must be bit-identical
      println(f"rep $rep mode=$mode: loop total=$sumExec%.3f s, " +
        s"wsum=${wMicro.sum} whash=${java.util.Arrays.hashCode(wMicro)}")
      featsY.unpersist()
    }
    spark.stop()
  }
}
