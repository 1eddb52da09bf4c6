package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Dev-only A/B harness (test scope, like `Probe`): measures the
  * `Dedup.dedupClusters` strategy switch — driver-side union-find vs
  * distributed min-label propagation — AT its `maxLocalEdges` gate (2^20 until r15,
  * now 2^22 — measured here, raised on this harness's evidence).
  *
  * Graph shape mirrors a near-dup pair graph: many small chain clusters
  * (size 8 — chains are the propagation-unfriendly shape; real LSH
  * clusters are denser, which only helps the distributed path's min-agg)
  * plus one 4096-node chain so pointer doubling has a deep component to
  * collapse. Edge counts are the SYMMETRIZED count `dedupClusters`
  * actually gates on (2× the undirected count).
  *
  * Run: `sbt "Test/runMain graft.CcCrossover [symEdgeExp...]"`
  * (default exponents 19..22), each point min-of-3 per strategy,
  * alternating A/B within a pass per the measurement protocol.
  */
object CcCrossover {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.configureLocal(
      SparkSession.builder().master("local[32]"), "32").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val exps = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(19, 20, 21, 22)

    /** Chain clusters of size 8 over `nodes` ids + one deep 4096-chain:
      * undirected edges ≈ nodes·7/8; ids are stable longs so both paths
      * label identically (min id per component).
      */
    def graph(undirected: Long): (DataFrame, DataFrame, Long) = {
      val clusterSize = 8L
      val nodes = undirected * clusterSize / (clusterSize - 1)
      val docs = spark.range(nodes).select(col("id").as("doc_id"))
      val chain = spark.range(nodes)
        .filter(col("id") % clusterSize =!= (clusterSize - 1) && col("id") + 1 < nodes)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      val deep = spark.range(4095)
        .select((col("id") * clusterSize).as("id_a"),
          ((col("id") + 1) * clusterSize).as("id_b"))
        .filter(col("id_b") < nodes)
      (docs, chain.unionByName(deep), nodes)
    }

    for (e <- exps) {
      val sym = 1L << e
      val (docs, pairs, nodes) = graph(sym / 2)
      // materialize inputs so neither strategy pays generation cost
      docs.persist().count()
      val undirected = pairs.persist().count()
      // the deep 4096-chain rides ON TOP of the chain-cluster budget, so
      // the count the gate actually compares slightly exceeds the nominal
      // 2^e — print the MEASURED symmetrized count (chain and deep edge
      // sets are disjoint and a<b by construction, so sym = 2×undirected)
      // so the published table never inherits the label as the number
      val symMeasured = 2L * undirected
      def time(maxLocal: Long): Double = {
        val t0 = System.nanoTime()
        val n = Dedup.dedupClusters(docs, pairs, maxLocalEdges = maxLocal)
          .agg(countDistinct("cluster_id")).collect()(0).getLong(0)
        val dt = (System.nanoTime() - t0) / 1e9
        require(n > 0)
        dt
      }
      // alternating min-of-3 A/B (docs/SCALE.md measurement protocol)
      val (local, dist) = (Array.fill(3)(0.0), Array.fill(3)(0.0))
      for (i <- 0 until 3) {
        local(i) = time(Long.MaxValue) // force driver union-find
        dist(i) = time(0L)             // force distributed propagation
      }
      println(f"[cc] sym=2^$e%d (measured sym=$symMeasured%d edges, ${nodes / 1000000.0}%.1fM nodes) " +
        f"local=${local.min}%.2f s distributed=${dist.min}%.2f s " +
        f"(passes local=${local.map(v => f"$v%.2f").mkString(",")} dist=${dist.map(v => f"$v%.2f").mkString(",")})")
      docs.unpersist(); pairs.unpersist()
    }
    spark.stop()
  }
}
