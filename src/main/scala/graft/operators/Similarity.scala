package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toCol, expression => toExpr}
import graft.functions.{NearestCellExpr, NearestCellsExpr, VectorOps}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *   - `bruteForceTopK` is the exact baseline: broadcast the (small) query
  *     set against the corpus — one scan of the corpus, no corpus shuffle,
  *     and a bounded `TopKAgg` aggregation so map-side partial aggregation
  *     shrinks each partition to k candidates per query BEFORE the shuffle
  *     (the round-1 window plan shuffled every scored row).
  *   - `lshTopK` is the scale path: random-hyperplane buckets on both sides;
  *     a query only scans its own bucket, turning the cross product into an
  *     equi join. Recall < 1 by construction.
  *   - `cosineNearDup` routes pair generation through the same LSH buckets
  *     (the round-1 version was an unrestricted crossJoin).
  *
  * All ranking happens on the cosine ROUNDED to 6 decimals with the id as
  * tie-break, so results are deterministic and reproducible across engines
  * (unrounded FP ties would make rank order engine-dependent).
  */
object Similarity {

  /** Norms are computed once per input row BEFORE the join (they're
    * per-vector, not per-pair); only the dot product is per-pair work.
    */
  /** Cosine from a dot product and the two norms, 6-decimal rounded —
    * null-safe for dirty corpora: a zero-norm vector (a failed or padded
    * embedding, routine in a 100 TB crawl) yields a ±Inf/NaN ratio (double
    * division never throws, even under ANSI), and a NaN element produces a
    * NaN cosine — either would break every comparator's totality
    * downstream. Both map to NULL instead ([[graft.functions.Cos6RawExpr]],
    * whose codegen evaluates the expensive dot child exactly ONCE per
    * evaluation — the builtin `when/isnan` form referenced the dot twice
    * and predicate pushdown multiplied it further, the r20 ANN-family
    * regression; see the expression's scaladoc), and every ranking tail
    * excludes null cosines — malformed vectors drop out of the candidate
    * set rather than crashing the job or fabricating neighbors. For
    * well-formed inputs this is bit-identical to `round(dot/(na·nb), 6)`.
    */
  private def cos6(dot: Column, na: Column, nb: Column): Column =
    round(toCol(graft.functions.Cos6RawExpr(toExpr(dot), toExpr(na), toExpr(nb))), 6)

  /** Append `cosine` = [[cos6]] — the one spelling every scoring path
    * shares (so plan asserts and the oracle mirror agree on the column).
    */
  private def withCos6(df: DataFrame, dot: Column, na: Column, nb: Column): DataFrame =
    df.withColumn("cosine", cos6(dot, na, nb))

  private def scored(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", VectorOps.norm(col("q_vec"))))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", VectorOps.norm(col("c_vec")))
    c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .transform(withCos6(_, VectorOps.dot(col("q_vec"), col("c_vec")), col("q_norm"), col("c_norm")))
  }

  /** Exact cosine top-k neighbors per query, ranked through a window —
    * the simple plan; fine when queries×corpus is modest. Prefer
    * `bruteForceTopKAgg` at scale.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    // null cosines (malformed vectors, see cos6) are excluded OUTRIGHT,
    // not merely sorted last — identical semantics to rankTopK's filter
    scored(corpus, queries, idCol, vecCol)
      .filter(col("cosine").isNotNull)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cosine"))
  }

  /** Exact cosine top-k with a bounded aggregation buffer: identical result
    * to `bruteForceTopK`, but the shuffle carries partitions×k rows instead
    * of the full scored set.
    */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame, k: Int,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    rankTopK(scored(corpus, queries, idCol, vecCol), k)

  /** Shared ranking tail: scored (query_id, neighbor_id, cosine) rows →
    * top-k per query through the bounded `TopKAgg`, so the shuffle carries
    * at most partitions×queries×k rows (a `row_number` window would
    * shuffle-sort every scored candidate). Requires a LONG neighbor id
    * (the aggregator's buffer type); rank = 1-based in (cosine desc,
    * neighbor_id asc) order — identical to the window formulation
    * (asserted in SimilaritySpec).
    */
  private def rankTopK(sc: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new TopKAgg(k))
    // a NULL cosine entering the typed udaf would silently deserialize
    // to 0.0 and fabricate a neighbor that outranks true negatives —
    // malformed candidates are excluded before the aggregate instead
    sc.filter(col("cosine").isNotNull)
      .groupBy("query_id")
      .agg(topk(col("cosine"), col("neighbor_id")).as("tk"))
      .select(col("query_id"), posexplode(arrays_zip(col("tk._1"), col("tk._2"))))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("neighbor_id"), col("col._1").as("cosine"))
  }

  /** LSH-bucketed ANN with multi-probe: besides its own hyperplane bucket,
    * each query probes every bucket at Hamming distance 1 (one flipped
    * sign bit — the buckets a near neighbor most likely fell into), so
    * recall rises from ~(1-θ/π)^n to covering all single-plane
    * misclassifications at the cost of nPlanes+1 probes. The corpus side
    * keeps ONE bucket per row; a (query, neighbor) pair can match at most
    * one probe, so no pair dedup is needed.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int, nPlanes: Int = 8,
              multiProbe: Boolean = true,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucket = VectorOps.lshBucket(col(vecCol), dim, nPlanes)
    val probes =
      if (multiProbe)
        explode(array(col("__b") +: (0 until nPlanes).map(p =>
          col("__b").bitwiseXOR(shiftleft(lit(1L), p))): _*))
      else col("__b")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), bucket.as("__b"))
      .withColumn("bucket", probes).drop("__b")
      .withColumn("q_norm", VectorOps.norm(col("q_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), bucket.as("bucket"))
      .withColumn("c_norm", VectorOps.norm(col("c_vec")))
    val sc = c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .transform(withCos6(_, VectorOps.dot(col("q_vec"), col("c_vec")), col("q_norm"), col("c_norm")))
    rankTopK(sc, k)
  }

  /** Random-projection (Johnson–Lindenstrauss) ANN: both sides project to
    * `rpDim` dims through `VectorOps.randomProject` (deterministic md5-
    * derived planes), a per-query SHORTLIST is ranked on the projected
    * cosine (rpDim multiplies per pair instead of dim), and only shortlist
    * members are reranked with the exact cosine. Identical output schema
    * and ranking rules to the other top-k variants; recall < 1 by
    * construction (JL distorts angles, so a true neighbor can fall off
    * the shortlist — widen `shortlist` to trade work for recall, and
    * `shortlist` = |corpus| degenerates to the exact result).
    *
    * Scale shape: projection is per-ROW (rpDim×dim multiplies once),
    * amortized across every query — at production scale the projected
    * column is materialized alongside the corpus and the break-even is
    * ~rpDim×dim/(dim−rpDim) queries. The scoring pass broadcasts the
    * query side (one corpus scan, no corpus shuffle, bounded `TopKAgg`
    * map-side combine); the rerank re-reads only shortlisted vectors
    * through a broadcast equi-join on the shortlist pairs (one output row
    * per (query, neighbor) — a corpus vector shared by many shortlists
    * fans out once per query that shortlisted it, bounded by
    * nq×shortlist), so the corpus is scanned, never shuffled, and
    * full-width vectors cross no exchange.
    */
  def rpTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             rpDim: Int = 16, shortlist: Int = 32,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(shortlist >= k, "shortlist must be at least k")
    val rp = VectorOps.randomProject(col(vecCol), dim, rpDim)
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"), rp.as("q_rp"))
      .withColumn("q_rnorm", sqrt(VectorOps.norm2(col("q_rp"))))
      .withColumn("q_norm", VectorOps.norm(col("q_vec"))))
    // scoring pass: projected vectors only — no full-width vector per pair
    val cRp = corpus.select(col(idCol).as("neighbor_id"), rp.as("c_rp"))
      .withColumn("c_rnorm", sqrt(VectorOps.norm2(col("c_rp"))))
    val approx = cRp.crossJoin(q.select(col("query_id"), col("q_rp"), col("q_rnorm")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .transform(withCos6(_, VectorOps.dot(col("q_rp"), col("c_rp")), col("q_rnorm"), col("c_rnorm")))
    val sl = rankTopK(approx, shortlist).select("query_id", "neighbor_id")
    // rerank pass: exact cosine over shortlist members only
    val cV = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", VectorOps.norm(col("c_vec")))
    val sc = cV.join(broadcast(sl), Seq("neighbor_id"))
      .join(q.select(col("query_id"), col("q_vec"), col("q_norm")), Seq("query_id"))
      .transform(withCos6(_, VectorOps.dot(col("q_vec"), col("c_vec")), col("q_norm"), col("c_norm")))
    rankTopK(sc, k)
  }

  /** IVF (inverted-file) ANN: a deterministic coarse codebook — the
    * `nCentroids` lowest-id corpus vectors — partitions the corpus into
    * cells (argmin squared distance); each query probes its `nProbe`
    * nearest cells only. The codebook is collected once on the driver
    * (nCentroids×dim doubles) and shipped as plan literals; the corpus
    * side is one scan + an equi join on the cell id, so at scale the
    * probed fraction ~ nProbe/nCentroids of the corpus. (A production
    * codebook would come from k-means; the deterministic seed keeps this
    * oracle-checkable — the structure is identical.)
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              codebook: Option[IndexedSeq[IndexedSeq[Double]]] = None): DataFrame = {
    // default codebook: the nCentroids lowest-id vectors (deterministic,
    // oracle-checkable); pass `kmeansCodebook(...)` for the production
    // k-means-refined cells — same plan, better-balanced partitions
    val cb: Seq[(Int, Seq[Double])] = codebook match {
      case Some(c) => c.zipWithIndex.map { case (v, i) => (i, v) }
      case None => corpus
        .orderBy(col(idCol)).limit(nCentroids)
        // toDouble, not getSeq[Float]: every other path in the file
        // accepts array<float|double>; a double-typed embedding column
        // would otherwise ClassCastException on the driver
        .select(VectorOps.toDouble(col(vecCol)).as("__v")).collect()
        .toSeq.zipWithIndex
        .map { case (r, i) => (i, r.getSeq[Double](0)) }
    }
    require(cb.size >= nProbe,
      s"corpus has only ${cb.size} seed vectors for nProbe=$nProbe probed cells")

    // both sides assign through the native codebook kernel — one k×dim
    // loop per row instead of k Dist2Expr calls + struct-array plumbing
    val cbRows: Seq[Seq[Double]] = cb.sortBy(_._1).map(_._2)
    def cellOf(v: Column): Column =
      toCol(NearestCellExpr(toExpr(v), cbRows)).getField("cell")

    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("cell", cellOf(col("c_vec")))
      .withColumn("c_norm", VectorOps.norm(col("c_vec")))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("cell", explode(toCol(
        NearestCellsExpr(toExpr(col("q_vec")), cbRows, nProbe))))
      .withColumn("q_norm", VectorOps.norm(col("q_vec")))
    val sc = c.join(broadcast(q), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .transform(withCos6(_, VectorOps.dot(col("q_vec"), col("c_vec")), col("q_norm"), col("c_norm")))
    rankTopK(sc, k)
  }

  /** Embedding-cosine near-duplicate pairs above `threshold`, blocked by LSH
    * bucket: pairs are generated only within a hyperplane bucket (equi join),
    * never all-pairs. Recall < 1 by construction — near-dups land in the
    * same bucket with probability (1 - θ/π)^nPlanes; lower `nPlanes` for
    * higher recall, raise it for tighter buckets.
    */
  /** Incremental embedding near-dup — the vector-space analog of
    * `Dedup.minhashLshAgainstBaseline`: cosine-near pairs BETWEEN an
    * incoming batch and the baseline only, never within either side. Each
    * vector keeps its ONE hyperplane-signature bucket (same plan-time
    * planes both sides — signatures are comparable by construction), so
    * the bucket equi join generates each cross pair at most once and the
    * per-crawl candidate volume tracks the batch, not the corpus.
    * Output: (id_in, id_bas, cosine ≥ threshold).
    */
  def cosineNearDupAgainstBaseline(incoming: DataFrame, baseline: DataFrame,
                                   threshold: Double, dim: Int, nPlanes: Int = 8,
                                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucket = VectorOps.lshBucket(col(vecCol), dim, nPlanes)
    val l = incoming.select(col(idCol).as("id_in"), col(vecCol).as("v_a"), bucket.as("bucket"))
      .withColumn("n_a", VectorOps.norm(col("v_a")))
    val r = baseline.select(col(idCol).as("id_bas"), col(vecCol).as("v_b"), bucket.as("bucket"))
      .withColumn("n_b", VectorOps.norm(col("v_b")))
    l.join(r, Seq("bucket"))
      .transform(withCos6(_, VectorOps.dot(col("v_a"), col("v_b")), col("n_a"), col("n_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_in"), col("id_bas"), col("cosine"))
  }

  /** Semantic benchmark decontamination — the embedding-space sibling of
    * `TextAnalysis.decontaminate`'s n-gram collision pass: flag every
    * corpus vector whose cosine against ANY benchmark/eval vector reaches
    * `threshold` (paraphrased leakage that shares no verbatim n-gram still
    * lands near the benchmark in embedding space). Exhaustive over the
    * benchmark — an LSH shortcut here would trade RECALL on exactly the
    * rows the pass exists to catch, and benchmark corpora are small by
    * definition, so exactness costs only |benchmark| dot products per
    * corpus row.
    *
    * Output keeps every corpus row with the audit columns
    * (n_hits, max_cosine, nearest_id, contaminated) so callers can drop,
    * review, or threshold-sweep. `nearest_id` ties break to the smallest
    * benchmark id on the 6-dp-rounded cosine (the family's determinism
    * rule), via the bounded `TopKAgg` at k = 1 — its (score DESC, id ASC)
    * ordering IS this rule, and as a typed-imperative aggregate it keeps
    * the fold in ObjectHashAggregate (a `max(struct(cosine, −id))`
    * formulation would demote the whole aggregate to SortAggregate and
    * sort every partition's pair stream).
    *
    * Scale shape: the benchmark side BROADCASTS with its norms
    * precomputed; scoring is map-side (corpus never shuffles full-width);
    * the per-vector fold partial-aggregates to ONE narrow row per corpus
    * vector before its exchange — ids and doubles on the wire, never
    * embeddings. Empty-benchmark degenerates to zero hits for every row
    * (the left join back onto the corpus ids keeps the output total).
    */
  def semanticDecontaminate(corpus: DataFrame, benchmark: DataFrame, threshold: Double,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val b = broadcast(benchmark
      .select(col(idCol).as("__bid"), col(vecCol).as("b_vec"))
      .withColumn("b_norm", VectorOps.norm(col("b_vec"))))
    val c = corpus.select(col(idCol), col(vecCol).as("c_vec"))
      .withColumn("c_norm", VectorOps.norm(col("c_vec")))
    val top1 = udaf(new TopKAgg(1))
    val agg = c.crossJoin(b)
      .transform(withCos6(_, VectorOps.dot(col("c_vec"), col("b_vec")), col("c_norm"), col("b_norm")))
      .groupBy(idCol)
      .agg(sum(when(col("cosine") >= threshold, 1L).otherwise(0L)).as("n_hits"),
        top1(col("cosine"), col("__bid")).as("__t"))
    corpus.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        element_at(col("__t._1"), 1).as("max_cosine"),
        element_at(col("__t._2"), 1).as("nearest_id"),
        coalesce(element_at(col("__t._1"), 1) >= threshold, lit(false)).as("contaminated"))
  }

  def cosineNearDup(vectors: DataFrame, threshold: Double, dim: Int, nPlanes: Int = 8,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucket = VectorOps.lshBucket(col(vecCol), dim, nPlanes)
    val l = vectors.select(col(idCol).as("id_a"), col(vecCol).as("v_a"), bucket.as("bucket"))
      .withColumn("n_a", VectorOps.norm(col("v_a")))
    val r = vectors.select(col(idCol).as("id_b"), col(vecCol).as("v_b"), bucket.as("bucket"))
      .withColumn("n_b", VectorOps.norm(col("v_b")))
    l.join(r, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .transform(withCos6(_, VectorOps.dot(col("v_a"), col("v_b")), col("n_a"), col("n_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Lloyd's k-means over embedding vectors: refine the deterministic
    * IVF seed codebook (`nCentroids` lowest-id vectors) with `iters`
    * assign-then-average rounds, then emit the final per-vector cell
    * assignment — upgrading `ivfTopK`'s "a production codebook would come
    * from k-means" caveat into the real index-build path.
    *
    * Each round: (1) assign every vector to its nearest centroid — the
    * centroids are plan LITERALS, so assignment is one embarrassingly
    * parallel scan; (2) average each cell's members via the
    * `classCentroids` recipe — per-dim micro-quantized exact long sums,
    * map-side combined, k×dim partial rows on the shuffle; (3) collect the
    * k×dim stats to the driver and rebuild the literals (the MLlib
    * pattern — per-round driver traffic is O(k·dim), never rows). A cell
    * that attracts no vectors keeps its previous centroid, so the codebook
    * never shrinks.
    *
    * Determinism end-to-end: seeds are id-ordered, sums are exact longs,
    * means round HALF_UP to 6 (the same arithmetic the oracle replays),
    * distance folds run left-to-right (`Dist2Expr` == the HOF twin the
    * SQL mirrors), and argmin ties break toward the lower cell id.
    */
  private def assignStruct(cb: IndexedSeq[IndexedSeq[Double]], v: Column): Column =
    toCol(NearestCellExpr(toExpr(v), cb))

  /** The refined codebook alone (see `kmeansAssign` for the algorithm) —
    * feed it to `ivfTopK(codebook = ...)` to build the ANN index from
    * k-means cells instead of raw seed vectors.
    */
  def kmeansCodebook(vectors: DataFrame, k: Int, iters: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): IndexedSeq[IndexedSeq[Double]] = {
    require(k > 0 && iters >= 0, "need k > 0 and iters >= 0")
    val corpus = vectors.select(col(idCol), VectorOps.toDouble(col(vecCol)).as("__v"))
    // Spark's round() semantics for the driver-side mean: HALF_UP on the
    // shortest-decimal BigDecimal of the double — byte-identical to what
    // round(col, 6) would produce for the same division
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    var cb: IndexedSeq[IndexedSeq[Double]] = corpus.orderBy(col(idCol)).limit(k)
      .select(col("__v")).collect()
      .map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    // a clear driver error beats the IndexOutOfBounds the PQ LUT builders
    // would otherwise throw deep in plan construction when |corpus| < k
    require(cb.size == k,
      s"corpus has only ${cb.size} vectors for a $k-cell codebook")
    for (_ <- 1 to iters) {
      // micro-quantization guard: a NaN/±Inf element (or |x| past the
      // long range at 1e6 scale) would throw CAST_OVERFLOW under default
      // ANSI — quantize it to NULL instead and average over the values
      // that contributed (count(xq), not count(*)), so one dirty element
      // biases one (cell, dim) mean instead of killing the index build.
      // For well-formed corpora both counts are equal, bit-identical to
      // the oracle's replay.
      val xq = when(isnan(col("x")) || abs(col("x")) > lit(9.0e12),
        lit(null).cast("long"))
        .otherwise(round(col("x") * 1000000).cast("long"))
      val stats = corpus
        .withColumn("cell", assignStruct(cb, col("__v")).getField("cell"))
        .select(col("cell"), posexplode(col("__v")).as(Seq("dim", "x")))
        .groupBy("cell", "dim")
        .agg(sum(xq).as("sq"), count(xq).as("n"))
        .collect()
      val next = cb.map(_.toArray).toArray
      stats.foreach { r =>
        // wrong-length vectors route to cell 0 (NearestCellExpr's
        // malformed-vector convention) but still explode their REAL dim
        // indices, and an all-null (cell, dim) group sums to null —
        // skip both instead of AIOOBE/NPE on the driver
        if (r.getInt(1) < next(r.getInt(0)).length && !r.isNullAt(2) && r.getLong(3) > 0L)
          next(r.getInt(0))(r.getInt(1)) =
            round6(r.getLong(2).toDouble / r.getLong(3).toDouble / 1000000.0)
      }
      cb = next.map(_.toIndexedSeq).toIndexedSeq
    }
    cb
  }

  /** Train the `m` per-subspace PQ sub-codebooks in ONE distributed job per
    * phase instead of `m` independent [[kmeansCodebook]] calls (the r20
    * shape): the seed collect fetches the `ksub` lowest-id FULL vectors
    * once and slices them on the driver, and each Lloyd round aggregates
    * every subspace's (cell, dim) stats in one pass keyed by
    * (subspace, cell, dim). Per-subspace results are BIT-IDENTICAL to the
    * sequential builds (same seed rows, same per-group micro-quantized
    * exact long sums, same HALF_UP means — `SimilaritySpec` pins the ANN
    * rows and `AnnProps` the recall), but the driver pays 2 job round-trips
    * instead of 2·m — at any scale the training data is scanned once per
    * round, not m times (guide §1.2: don't compute things m times; §2.6:
    * job-count is driver wall).
    */
  private def pqCodebooks(corpus: DataFrame, m: Int, dsub: Int, ksub: Int, iters: Int,
                          idCol: String, vecCol: String)
      : IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val vAsD = VectorOps.toDouble(col(vecCol))
    val corpusD = corpus.select(col(idCol), vAsD.as("__v"))
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val seeds = corpusD.orderBy(col(idCol)).limit(ksub)
      .select(col("__v")).collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    require(seeds.size == ksub,
      s"corpus has only ${seeds.size} vectors for a $ksub-cell codebook")
    var cbs: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
      (0 until m).map(j => seeds.map(_.slice(j * dsub, (j + 1) * dsub)))
    for (_ <- 1 to iters) {
      val xq = when(isnan(col("x")) || abs(col("x")) > lit(9.0e12),
        lit(null).cast("long"))
        .otherwise(round(col("x") * 1000000).cast("long"))
      // one row per (subspace, cell, subspace-local dim): the same stats
      // the m sequential kmeansCodebook rounds collected, in one job
      val perJ = array((0 until m).map { j =>
        val sv = slice(col("__v"), j * dsub + 1, dsub)
        struct(lit(j).as("__j"),
          assignStruct(cbs(j), sv).getField("cell").as("cell"), sv.as("sv"))
      }: _*)
      val stats = corpusD
        .select(explode(perJ).as("__s"))
        .select(col("__s.__j").as("__j"), col("__s.cell").as("cell"),
          posexplode(col("__s.sv")).as(Seq("dim", "x")))
        .groupBy("__j", "cell", "dim")
        .agg(sum(xq).as("sq"), count(xq).as("n"))
        .collect()
      val next = cbs.map(_.map(_.toArray).toArray).toArray
      stats.foreach { r =>
        // same malformed-row guards as kmeansCodebook: wrong-length
        // vectors route to cell 0 but explode their real dims, and an
        // all-null (cell, dim) group sums to null — skip both
        if (r.getInt(2) < next(r.getInt(0))(r.getInt(1)).length &&
            !r.isNullAt(3) && r.getLong(4) > 0L)
          next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
            round6(r.getLong(3).toDouble / r.getLong(4).toDouble / 1000000.0)
      }
      cbs = next.map(_.map(_.toIndexedSeq).toIndexedSeq).toIndexedSeq
    }
    cbs
  }

  def kmeansAssign(vectors: DataFrame, k: Int, iters: Int, dim: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = kmeansCodebook(vectors, k, iters, idCol, vecCol)
    vectors.select(col(idCol), VectorOps.toDouble(col(vecCol)).as("__v"))
      .select(col(idCol), assignStruct(cb, col("__v")).as("__a"))
      .select(col(idCol), col("__a.cell").cast("long").as("cell"),
        round(col("__a.d"), 6).as("dist2"))
  }

  /** Quantized-scan ANN — the search path `quantizeInt8` exists for. At
    * 100 TB the index stores the int8 codes + two bounds (~4× less scan
    * bandwidth than float32); stage 1 brute-force-scores the DEQUANTIZED
    * codes (`lo + code·(hi−lo)/255`) through the bounded `TopKAgg` to a
    * `rerank`-deep shortlist per query, and stage 2 reads full-precision
    * vectors ONLY for the shortlist (rerank × |queries| rows — the only
    * rows that ever touch float32) and ranks the final top-k.
    *
    * Determinism: both stages rank on round(cosine, 6) with id
    * tie-breaks; the dequantization scale is materialized once per
    * vector before the per-element lambda (the HOF rule), and the
    * rounded `lo`/`hi` that `quantizeInt8` EMITS are what dequantization
    * reads — exactly what a consumer of the stored codes would have.
    * Recall < 1 by construction: a true neighbor can fall off the
    * quantized shortlist; `rerank` is the knob.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int, rerank: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(rerank >= k, "rerank depth must be >= k")
    def dequant(vectors: DataFrame): DataFrame =
      quantizeInt8(vectors, idCol, vecCol)
        .select(col(idCol), col("lo"), col("codes"),
          ((col("hi") - col("lo")) / lit(255.0)).as("__scale"))
        .select(col(idCol),
          transform(col("codes"),
            c => col("lo") + c.cast("double") * col("__scale")).as(vecCol))
    val shortlist = rankTopK(
      scored(dequant(corpus), dequant(queries), idCol, vecCol), rerank)
      .select(col("query_id"), col("neighbor_id"))
    val cand = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", VectorOps.norm(col("c_vec")))
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", VectorOps.norm(col("q_vec"))))
    val exact = shortlist.join(cand, Seq("neighbor_id")).join(qv, Seq("query_id"))
      .transform(withCos6(_, VectorOps.dot(col("q_vec"), col("c_vec")), col("q_norm"), col("c_norm")))
      .select("query_id", "neighbor_id", "cosine")
    rankTopK(exact, k)
  }

  /** Product-quantized ANN (the Jégou et al. 2011 IVF-less ADC form):
    * split the `dim` space into `m` subspaces, train an independent
    * `ksub`-cell sub-codebook per subspace (the [[kmeansCodebook]] recipe
    * on each slice — id-ordered seeds, exact micro-quantized Lloyd
    * rounds), and ENCODE every corpus vector as m sub-cell ids plus its
    * stored norm — at 100 TB the scan index holds m small ints + one
    * double per vector instead of dim floats (the memory-bandwidth ANN
    * path int8 quantization cannot reach). Scoring is asymmetric
    * distance computation: each query precomputes an m×ksub LUT of
    * exact sub-dot-products against the sub-centroids (centroids are
    * plan literals, so the LUT is a projection on the broadcast query
    * side), and a candidate's approximate dot product is m LUT lookups
    * summed in subspace order — zero per-pair float multiplies.
    * Approximate cosine = LUT sum / (stored norm × query norm); a
    * `rerank`-deep shortlist per query is then re-scored exactly, and
    * only shortlist rows ever touch full-width vectors (the
    * rpTopK/quantizedTopK two-stage discipline — corpus scanned, never
    * shuffled; bounded `TopKAgg` both stages). Recall < 1 by
    * construction; `m`, `ksub`, `iters`, `rerank` are the knobs.
    * Determinism end-to-end: left-to-right folds for every dot/norm,
    * nearest-cell ties to the lower cell id, both rankings on
    * round(·, 6) with id tie-breaks — the whole path replays in the
    * oracle.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             m: Int = 4, ksub: Int = 8, iters: Int = 1, rerank: Int = 32,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    require(rerank >= k, "rerank depth must be >= k")
    val dsub = dim / m
    val vAsD = VectorOps.toDouble(col(vecCol))
    def sub(j: Int): Column = slice(vAsD, j * dsub + 1, dsub)
    // the sub-codebook build runs a seed collect plus `iters` stat scans —
    // stage the corpus in a guarded cache for the duration (codebook
    // training is EAGER, so the release fires before any lazy consumer
    // could recompute; the semanticDedup acquire/release shape). All m
    // subspaces train in ONE job per phase ([[pqCodebooks]]).
    val cbs: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
      val (corp, release) = graft.util.Caching.acquire(corpus)
      try pqCodebooks(corp, m, dsub, ksub, iters, idCol, vecCol)
      finally release()
    }
    val codes = array((0 until m).map(j => assignStruct(cbs(j), sub(j)).getField("cell")): _*)
    val c = corpus.select(col(idCol).as("neighbor_id"), codes.as("codes"),
      VectorOps.norm(vAsD).as("c_norm"))
    val luts = array((0 until m).map { j =>
      array((0 until ksub).map(cc => VectorOps.dot(sub(j), typedlit(cbs(j)(cc)))): _*)
    }: _*)
    val q = broadcast(queries.select(col(idCol).as("query_id"), luts.as("luts"),
      VectorOps.norm(vAsD).as("q_norm")))
    val approxDot = aggregate(
      zip_with(col("codes"), col("luts"), (cd, lt) => element_at(lt, cd.cast("int") + 1)),
      lit(0.0), (acc, x) => acc + x)
    val approx = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .transform(withCos6(_, approxDot, col("q_norm"), col("c_norm")))
    val sl = rankTopK(approx, rerank).select("query_id", "neighbor_id")
    exactRerank(corpus, queries, sl, k, idCol, vecCol)
  }

  /** Shared exact-rerank tail (pqTopK / ivfPqTopK): re-score a
    * (query_id, neighbor_id) shortlist with full-width cosines and rank to
    * top-k — the only rows that ever touch float32 vectors, broadcast-
    * joined so the corpus is scanned, never shuffled.
    */
  private def exactRerank(corpus: DataFrame, queries: DataFrame, sl: DataFrame, k: Int,
                          idCol: String, vecCol: String): DataFrame = {
    val cV = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
      .withColumn("c_norm", VectorOps.norm(col("c_vec")))
    val qv = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .withColumn("q_norm", VectorOps.norm(col("q_vec"))))
    val sc = cV.join(broadcast(sl), Seq("neighbor_id")).join(qv, Seq("query_id"))
      .transform(withCos6(_, VectorOps.dot(col("q_vec"), col("c_vec")), col("q_norm"), col("c_norm")))
    rankTopK(sc, k)
  }

  /** IVF-PQ ANN — the FAISS IVFADC composition of the two halves above:
    * [[ivfTopK]]'s coarse cells bound WHICH codes a query scans, and
    * [[pqTopK]]'s asymmetric distance computation bounds what scanning one
    * code COSTS — the production layout for billion-vector corpora, where
    * neither "touch every code" (pqTopK) nor "full-width floats inside the
    * probed cells" (ivfTopK) survives.
    *
    * Index side, built once: a [[kmeansCodebook]]-refined coarse quantizer
    * assigns every vector a cell id, and `m` independent `ksub`-cell
    * sub-codebooks (the pqTopK recipe) encode it as m sub-cell ids plus
    * its stored norm — the long-lived 100 TB artifact is
    * (cell, m codes, norm) per vector, never floats. The sub-codebooks
    * train on the RAW vectors, not per-cell residuals, so a code means the
    * same thing in every cell and probing ALL cells scores exactly the
    * pqTopK candidate set (the spec anchor `nProbe = nCentroids ⇒ ≡ pqTopK`);
    * the residual encoding (FAISS's default) refines only what a code
    * reconstructs, not the plan shape.
    *
    * Query side: each query precomputes its m×ksub LUT of exact
    * sub-dot-products (centroids are plan literals — the LUT is a
    * projection on the broadcast side), probes its `nProbe` nearest coarse
    * cells, and the ADC scan becomes a cell EQUI JOIN — a code row is
    * scored only when its cell is probed, so the expected scan fraction is
    * ~nProbe/nCentroids of the corpus, with each scored candidate costing
    * m LUT lookups and zero float multiplies. A `rerank`-deep shortlist
    * then re-scores exactly ([[exactRerank]]). Recall < 1 twice over
    * (a true neighbor can live in an unprobed cell, or fall off the ADC
    * shortlist); `nProbe` and `rerank` are the knobs. Determinism:
    * id-ordered seeds + exact Lloyd sums both quantizers, nearest-cell
    * ties to the lower id, both rankings on round(·, 6) with id
    * tie-breaks — the whole path replays in the oracle.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
                nCentroids: Int = 16, nProbe: Int = 4,
                m: Int = 4, ksub: Int = 8, iters: Int = 1, rerank: Int = 32,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(dim % m == 0, "m must divide dim")
    require(rerank >= k, "rerank depth must be >= k")
    require(nProbe >= 1 && nProbe <= nCentroids, "nProbe must be in [1, nCentroids]")
    val dsub = dim / m
    val vAsD = VectorOps.toDouble(col(vecCol))
    def sub(j: Int): Column = slice(vAsD, j * dsub + 1, dsub)
    // stage the corpus for BOTH eager codebook builds (coarse + the one
    // combined m-subspace job, [[pqCodebooks]]) — one source read instead
    // of (m+1)×(iters+1); the pqTopK/semanticDedup acquire/release
    // discipline
    val (coarse, cbs) = {
      val (corp, release) = graft.util.Caching.acquire(corpus)
      try {
        val co = kmeansCodebook(corp, nCentroids, iters, idCol, vecCol)
        (co, pqCodebooks(corp, m, dsub, ksub, iters, idCol, vecCol))
      } finally release()
    }
    val codes = array((0 until m).map(j => assignStruct(cbs(j), sub(j)).getField("cell")): _*)
    val c = corpus.select(col(idCol).as("neighbor_id"), codes.as("codes"),
      VectorOps.norm(vAsD).as("c_norm"),
      toCol(NearestCellExpr(toExpr(vAsD), coarse)).getField("cell").as("cell"))
    val luts = array((0 until m).map { j =>
      array((0 until ksub).map(cc => VectorOps.dot(sub(j), typedlit(cbs(j)(cc)))): _*)
    }: _*)
    val q = broadcast(queries.select(col(idCol).as("query_id"), luts.as("luts"),
      VectorOps.norm(vAsD).as("q_norm"),
      explode(toCol(NearestCellsExpr(toExpr(vAsD), coarse, nProbe))).as("cell")))
    val approxDot = aggregate(
      zip_with(col("codes"), col("luts"), (cd, lt) => element_at(lt, cd.cast("int") + 1)),
      lit(0.0), (acc, x) => acc + x)
    // the cell equi join IS the inverted file: it replaces pqTopK's
    // corpus-wide ADC crossJoin, and a (query, candidate) pair can match at
    // most once — the corpus side keeps ONE cell per row
    val approx = c.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .transform(withCos6(_, approxDot, col("q_norm"), col("c_norm")))
    val sl = rankTopK(approx, rerank).select("query_id", "neighbor_id")
    exactRerank(corpus, queries, sl, k, idCol, vecCol)
  }

  /** SemDeDup-style semantic deduplication: cluster the embedding space
    * with k-means, generate cosine-similar pairs only WITHIN a cell
    * (never all-pairs — the cell equi join is the blocking step, exactly
    * the published SemDeDup recipe), and collapse the pair graph to
    * connected components keeping the minimum-id representative. Output:
    * one row per vector with its component label and a `keep` flag.
    *
    * Shape at 100 TB: the codebook build is `kmeansCodebook` (O(k·dim)
    * driver traffic per round); pair generation is one equi join on the
    * cell with pair volume Σ|cell|²/2 — k is the knob (SemDeDup uses
    * k ≈ N/1000, keeping expected cell size constant as the corpus
    * grows); the collapse is the size-gated union-find / pointer-doubling
    * of `Dedup.dedupClusters`. Recall < 1 by construction: only
    * same-cell pairs are candidates.
    */
  def semanticDedup(vectors: DataFrame, k: Int, iters: Int, dim: Int,
                    threshold: Double, idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    // cell assignment is a pure projection given the codebook — computing it
    // inline (instead of joining `kmeansAssign` back by id, as earlier
    // rounds did) removes an N-row shuffle join whose only payload was the
    // cell id
    val cb = kmeansCodebook(vectors, k, iters, idCol, vecCol)
    // the assigned frame feeds BOTH sides of the cell self-join (and the
    // pair stream is materialized again inside dedupClusters' checkpoint),
    // so stage it in a guarded cache — uncached, the toDouble + k-way
    // argmin scan runs once per consumer. dedupClusters is EAGER (it
    // counts the checkpointed pair graph before picking a strategy), so by
    // the time it returns nothing reads the assignment again — release the
    // entry right there instead of leaving it to LRU: the codebook is a
    // plan literal, so a recurring pipeline would strand one dead
    // corpus-sized entry per run (the capBucketsManaged lesson).
    val (v, release) = graft.util.Caching.acquire(
      vectors.select(col(idCol), VectorOps.toDouble(col(vecCol)).as("__v"))
        .withColumn("cell", assignStruct(cb, col("__v")).getField("cell")))
    try {
      val a = v.select(col("cell"), col(idCol).as("id_a"), col("__v").as("__va"))
        .withColumn("__na", VectorOps.norm(col("__va")))
      val b = v.select(col("cell"), col(idCol).as("id_b"), col("__v").as("__vb"))
        .withColumn("__nb", VectorOps.norm(col("__vb")))
      val pairs = a.join(b, Seq("cell"))
        .filter(col("id_a") < col("id_b"))
        .transform(withCos6(_, VectorOps.dot(col("__va"), col("__vb")), col("__na"), col("__nb")))
        .filter(col("cosine") >= threshold)
        .select("id_a", "id_b")
      Dedup.dedupClusters(vectors.select(col(idCol)), pairs, idCol)
        .select(col(idCol), col("cluster_id"),
          (col(idCol) === col("cluster_id")).as("keep"))
    } finally release()
  }

  /** Mean-pooled class centroids — the distributed shape for averaging
    * vectors (class prototypes, cluster centers, nearest-centroid
    * classifiers): explode to (class, dim, value) and let a plain
    * map-side-combined sum do the work, so the shuffle carries
    * |classes|×dim partial sums, never vectors. One row per (class, dim) —
    * no array reassembly, so no collect_list ordering hazard.
    *
    * Values are quantized to micros (`round(v·1e6)` as long) BEFORE
    * summation: a double sum is partition-order-dependent in its last
    * bits, which would make the result nondeterministic across runs and
    * engines; the long sum is exact and associative. The final division
    * back to a rounded double mean is deterministic given identical sums.
    */
  /** Per-vector affine int8 quantization — the embedding STORAGE primitive
    * at 100 TB: a dim-64 float32 vector (256 B) becomes 64 byte-codes plus
    * two float bounds (~72 B), and ANN candidate generation (LSH/IVF cell
    * joins) runs on reconstructed `lo + code·(hi−lo)/255` values with the
    * exact re-rank reading full vectors only for the survivors. Codes are
    * `round((x−lo)·255/(hi−lo))` ∈ [0,255] (a constant vector maps to all
    * zeros); `lo`/`hi` ride along for dequantization.
    *
    * Pure per-row projection — no shuffle, composes with scan pruning.
    * `lo`/`hi` are materialized as OWN multi-referenced columns before the
    * per-element lambda: inlined `array_min(v)` inside `transform` would
    * re-scan the vector per element (the interpreted-HOF rule,
    * docs/SCALE.md "Text analysis"). All arithmetic left-to-right in doubles; codes are
    * integers, so the output hash carries no float-formatting risk beyond
    * the two rounded bounds.
    */
  def quantizeInt8(vectors: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    vectors
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .select(col(idCol), col("__v"),
        array_min(col("__v")).as("__lo"), array_max(col("__v")).as("__hi"))
      .select(
        col(idCol),
        round(col("__lo"), 6).as("lo"),
        round(col("__hi"), 6).as("hi"),
        transform(col("__v"), x =>
          when(col("__hi") === col("__lo"), lit(0L))
            .otherwise(round((x - col("__lo")) * lit(255.0) / (col("__hi") - col("__lo")), 0)
              .cast("long"))).as("codes"))

  def classCentroids(vectors: DataFrame, classCol: String = "label",
                     vecCol: String = "embedding"): DataFrame =
    vectors
      .select(col(classCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col(classCol), col("dim").cast("long").as("dim"))
      .agg(
        sum(round(col("v").cast("double") * 1000000).cast("long")).as("__sq"),
        count(lit(1)).cast("long").as("n"))
      .select(col(classCol), col("dim"), col("n"),
        round(col("__sq") / col("n") / 1000000.0, 6).as("centroid"))
}
