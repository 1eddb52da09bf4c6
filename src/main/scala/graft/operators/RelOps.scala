package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core relational operators of the reference ETL, re-expressed as pure
  * `DataFrame => DataFrame` combinators (SURVEY.md §2, §7.3 "ops").
  *
  * Every operator here is shuffle-aware and designed for a multi-executor
  * cluster even though tests run on local[*]:
  *   - per-key operators shuffle ONCE on the key and keep the partitioning;
  *   - small sides (dictionaries, id maps, key sets) are broadcast;
  *   - nothing collects to the driver.
  */
object RelOps {

  /** A1/W1 — "latest row per key" (reference: latest lifecycle stage per
    * address, `address_etl/pls/queries/address.py:32-47`). Latest = highest
    * `(orderBy, tieBreak...)` lexicographically; `tieBreak` columns make the
    * result deterministic when `orderBy` has duplicates (the reference is
    * only accidentally deterministic — SURVEY.md §7.4.3).
    *
    * Implemented as `max_by` over a struct ordering, NOT a `row_number`
    * window: an aggregate combines map-side, so the shuffle carries at most
    * one row per key per input partition, where the window shape shuffles
    * and sorts the ENTIRE table. Same single shuffle on `keys`, a fraction
    * of the payload — the difference between the two at 100 TB is the whole
    * table. Struct comparison ranks a null field lowest, matching the
    * window form's `desc` (nulls-last) semantics.
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], orderBy: Column, tieBreak: Seq[Column] = Nil): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    val ord = struct(orderBy +: tieBreak: _*)
    df.groupBy(keys.map(col): _*)
      .agg(max_by(payload, ord).as("__row"))
      .select(col("__row.*"))
  }

  /** J4/J5 — referential pruning: keep rows of `df` whose `key` appears in
    * `referenced` (reference: DELETE ... WHERE NOT EXISTS,
    * `address_etl/pls/tables.py:817-830, 895-908`). The DELETE becomes the
    * complement: a semi join on the survivors.
    */
  def pruneUnreferenced(df: DataFrame, referenced: DataFrame, key: String): DataFrame =
    df.join(referenced.select(key).distinct(), Seq(key), "left_semi")

  /** J7/J8 — rows of `df` whose `key` has no match in `existing` (new-IRI
    * detection, `address_etl/id_map.py:36-63`).
    */
  def unmatched(df: DataFrame, existing: DataFrame, key: String): DataFrame =
    df.join(existing.select(key).distinct(), Seq(key), "left_anti")

  /** M1/M2 — upsert ("INSERT ... ON CONFLICT DO UPDATE", last-write-wins per
    * key; `address_etl/address_iri_pid_map.py:121-137`). New rows win; base
    * rows survive only where no update exists. One shuffle (the anti join);
    * when `updates` is small relative to `base` Spark broadcasts it under
    * AQE, which is the common incremental-delta case at scale.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = base.columns.toSeq
    // NULL-SAFE anti join: a plain equi anti join never matches null
    // keys, so a null-keyed base row would survive alongside its
    // null-keyed update — both versions in the output, violating
    // last-write-wins. `<=>` treats null as a key value (SQLite's ON
    // CONFLICT does the same: NULL keys conflict with NULL keys), and
    // null-safe equality still plans as a hash join.
    // string aliases (the diffFrames rule): base and updates often share
    // lineage, and df(col) refs would be ambiguous under the analyzer's
    // self-join check
    val b = base.alias("__upb")
    val upd = updates.select(keys.map(col): _*).distinct().alias("__upu")
    val cond = keys.map(k => col(s"__upb.$k") <=> col(s"__upu.$k")).reduce(_ && _)
    updates.select(cols.map(col): _*)
      .unionByName(b.join(upd, cond, "left_anti").select(cols.map(col): _*))
  }

  /** M3 — check-then-insert/update for geocodes: incoming rows win and reset
    * `resetCols` to null on the *incoming* side too per the reference
    * (`address_etl/geocode.py:231-270` resets site_id on update).
    */
  def upsertWithReset(base: DataFrame, incoming: DataFrame, keys: Seq[String], resetCols: Seq[String]): DataFrame = {
    val reset = resetCols.foldLeft(incoming) { (d, c) =>
      d.withColumn(c, lit(null).cast(base.schema(c).dataType))
    }
    upsert(base, reset, keys)
  }

  /** U3/M5 — carry-forward: previous-snapshot rows flow into the run with
    * selected columns nulled (`main_pls.py:121-134`), then current rows win.
    */
  def carryForward(previous: DataFrame, current: DataFrame, keys: Seq[String], nullCols: Seq[String]): DataFrame = {
    val nulled = nullCols.foldLeft(previous) { (d, c) =>
      d.withColumn(c, lit(null).cast(previous.schema(c).dataType))
    }
    upsert(nulled, current, keys)
  }

  /** A3 — deterministic "first wins" dedup (reference keeps the first row per
    * road_id in arrival order, `address_etl/pls/tables.py:434-446`). We make
    * the ordering explicit (SURVEY.md §7.4.3): first = LOWEST
    * `(orderBy...)` lexicographically. `orderBy` takes plain value columns
    * (ascending — the dual of `latestPerKey`), not `.asc`/`.desc` sort
    * orders.
    *
    * `min_by` aggregate, not a `row_number` window — see `latestPerKey` for
    * why (map-side combine vs whole-table shuffle-sort).
    */
  def firstWinsDedup(df: DataFrame, keys: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    val ord = struct(orderBy: _*)
    df.groupBy(keys.map(col): _*)
      .agg(min_by(payload, ord).as("__row"))
      .select(col("__row.*"))
  }

  /** J6 — join-based backfill with the mandatory one-row-per-key
    * pre-aggregation (SQLite's scalar subquery silently picks an arbitrary
    * match; we deterministically take the MIN — SURVEY.md §7.4.2, reference
    * `address_etl/pls/tables.py:833-892`).
    *
    * Fills `targetCol` of `df` where null, from `mapping(key -> valueCol)`.
    */
  def backfillFromJoin(df: DataFrame, mapping: DataFrame, key: String, valueCol: String, targetCol: String): DataFrame = {
    val oneRow = mapping
      .groupBy(key)
      .agg(min(valueCol).as("__fill"))
    df.join(oneRow, Seq(key), "left")
      .withColumn(targetCol, coalesce(col(targetCol), col("__fill")))
      .drop("__fill")
  }

  /** P11/J10 — declarative constraint validation: returns one row per check
    * with its violation count. FK checks are anti joins; CHECKs are filters.
    * At scale all checks share one pass per table (they are independent
    * aggregates Catalyst can collapse), and nothing is collected beyond the
    * per-check counts.
    */
  def validate(checks: Seq[(String, DataFrame)]): DataFrame = {
    require(checks.nonEmpty, "no checks given")
    checks.map { case (name, violations) =>
      violations.agg(count(lit(1)).cast("long").as("violations"))
        .withColumn("check_name", lit(name))
        .select("check_name", "violations")
    }.reduce(_ unionByName _)
  }

  /** Skew-salted join: replicate each `right` row `salt` times and scatter
    * `left` rows uniformly across the replicas, so one hot key spreads over
    * `salt` reducers instead of one straggler task. Use when a key's row
    * count dwarfs the rest and AQE's skew splitting isn't enough (e.g. the
    * reference's address_pid distribution if one PID mapped millions of
    * geocodes). Inner/left joins only (semantics preserved: each left row
    * matches exactly its salt replica).
    */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String], salt: Int,
                 joinType: String = "inner"): DataFrame = {
    require(salt > 1, "salt must exceed 1")
    // the replicate-right scheme preserves semantics ONLY for join types
    // where unmatched RIGHT rows never surface: a full/right outer join
    // would emit `salt` copies of every unmatched right row
    require(Set("inner", "left", "left_outer", "leftouter").contains(joinType),
      s"saltedJoin preserves semantics for inner/left joins only, got '$joinType'")
    val saltedLeft = left.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salt)).cast("int"))
    val saltedRight = right.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedLeft.join(saltedRight, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Single-pass table profile — the data-quality summary every ingest
    * wants before trusting a source: per column, null count, exact
    * distinct count, and extrema. ONE wide aggregation over one scan
    * (every per-column statistic is an aggregate in the same groupBy-less
    * agg, map-side combined), then a driver-free unpivot via
    * explode(array(struct…)).
    *
    * Engine-portable output: numeric/timestamp extrema land in
    * `min_num`/`max_num` as doubles (min/max SELECT an input value —
    * no accumulation, so no FP-order hazard; timestamps as epoch ms),
    * string extrema in `min_str`/`max_str` — never a double formatted
    * THROUGH a string, where Spark and DuckDB render differently.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def isStr(c: String) = types(c) == org.apache.spark.sql.types.StringType
    def numOf(c: String): Column = types(c) match {
      case org.apache.spark.sql.types.TimestampType => unix_millis(col(c)).cast("double")
      // dates surface as epoch DAYS — Spark forbids a direct date→numeric cast
      case org.apache.spark.sql.types.DateType => unix_date(col(c)).cast("double")
      case org.apache.spark.sql.types.StringType => lit(null).cast("double")
      case _ => col(c).cast("double")
    }
    val aggs = cols.flatMap { c =>
      Seq(
        // count−count, not sum(when): a zero-row input must profile as
        // n_nulls = 0 (a sum over no rows is NULL), matching the oracle
        (count(lit(1)) - count(col(c))).as(s"__null_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(numOf(c)).as(s"__minn_$c"), max(numOf(c)).as(s"__maxn_$c"),
        min(if (isStr(c)) col(c) else lit(null).cast("string")).as(s"__mins_$c"),
        max(if (isStr(c)) col(c) else lit(null).cast("string")).as(s"__maxs_$c"))
    }
    val entries = cols.map { c =>
      struct(lit(c).as("column_name"), col("__n").as("n_rows"),
        col(s"__null_$c").as("n_nulls"), col(s"__nd_$c").as("n_distinct"),
        col(s"__minn_$c").as("min_num"), col(s"__maxn_$c").as("max_num"),
        col(s"__mins_$c").as("min_str"), col(s"__maxs_$c").as("max_str"))
    }
    df.agg(count(lit(1)).as("__n"), aggs: _*)
      .select(explode(array(entries: _*)).as("e"))
      .select(col("e.*"))
  }

  /** Join-key skew profile — the diagnostic that picks the [[saltedJoin]]
    * salt and flags AQE-skew candidates BEFORE a 100 TB join runs: the
    * `topN` heaviest key values with their share of the table and their
    * skew factor (key count ÷ mean key count, ×1000 integral — a key at
    * 1000 is average; 50000 is a 50× hot key that will stall its reducer).
    *
    * One map-side-combined groupBy (shuffle ≈ |distinct keys|), a TakeOrdered
    * for the top-N (no global sort materialization), and a single-row
    * totals broadcast. NULL key components take a sentinel so an all-null
    * key row is profiled, not dropped. `(n_rows desc, key asc)` is a total
    * order, so the boundary of the top-N is deterministic cross-engine.
    * Division audit: all operands are non-negative counts — truncating
    * `div` and the oracle's `//` are both floor here. The factor divides
    * by the FLOORED mean (never 0: every key has ≥ 1 row) rather than
    * computing `n_rows·1000·n_keys`, whose product overflows a long at
    * realistic 100 TB counts (10¹² rows × 10⁹ keys); `n_rows·1000` is
    * safe to ~9·10¹⁵ rows per key.
    */
  def keySkew(df: DataFrame, keyCols: Seq[String], topN: Int = 10): DataFrame = {
    require(keyCols.nonEmpty && topN > 0, "keySkew needs key columns and topN > 0")
    // group by the EXACT key struct, render the display string after: a
    // '|' inside a value (or a literal "<null>") would otherwise merge
    // distinct composite keys into one profiled key and miscalibrate the
    // salt a caller picks from this diagnostic
    val keyed = df
      .select(struct(keyCols.map(col): _*).as("__k"))
      .groupBy("__k").agg(count(lit(1)).as("n_rows"))
      .select(concat_ws("|",
        keyCols.map(c => coalesce(col(s"__k.$c").cast("string"), lit("<null>"))): _*).as("key"),
        col("n_rows"))
    val totals = keyed.agg(
      sum("n_rows").cast("long").as("total_rows"), count(lit(1)).as("n_keys"))
    keyed
      .orderBy(col("n_rows").desc, col("key"))
      .limit(topN)
      .crossJoin(broadcast(totals))
      .withColumn("skew_x1000", expr("(n_rows * 1000) div (total_rows div n_keys)"))
  }

  /** Exact fixed-bin histogram over an INTEGRAL column (cents, epoch-ms,
    * ids — the engine's money/time idiom) — the distribution profile that
    * complements `profile`'s extrema and `Sketches.quantiles`: one
    * map-side-combined groupBy on the bin id, ≤ `nBins` rows out.
    *
    * All binning is long arithmetic — `bin = ((v−lo)·nBins) div (hi−lo)`
    * — so no floating-point boundary can place a value differently across
    * engines (a double-width histogram puts edge values wherever the FP
    * rounding of `(hi-lo)/n` happens to fall). `v == hi` lands in the
    * last bin (the closed top edge every histogram reader expects);
    * out-of-range and null rows drop — callers take [lo, hi] from
    * `profile`'s exact extrema. Edges are the integral floors
    * `lo + (bin·(hi−lo)) div nBins`; empty bins emit no row. The
    * overflow guard keeps `(hi−lo)·nBins` inside a long.
    */
  def histogram(df: DataFrame, valueCol: Column, lo: Long, hi: Long, nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo, "histogram needs nBins > 0 and hi > lo")
    // exact-width check: `hi - lo` itself wraps negative for spans past
    // Long.MaxValue (lo < 0 < hi), which would sail through a long-typed
    // guard and bin garbage
    require(BigInt(hi) - BigInt(lo) <= BigInt(Long.MaxValue / nBins),
      "(hi - lo) * nBins overflows")
    val range = hi - lo
    df.select(valueCol.cast("long").as("__v"))
      .filter(col("__v").isNotNull && col("__v") >= lo && col("__v") <= hi)
      .withColumn("bin", least(expr(s"((__v - $lo) * $nBins) div $range"), lit(nBins - 1L)))
      .groupBy("bin").agg(count(lit(1)).as("n_rows"))
      .withColumn("lo_edge", expr(s"$lo + (bin * $range) div $nBins"))
      .withColumn("hi_edge", expr(s"$lo + ((bin + 1) * $range) div $nBins"))
  }

  /** Keyless 1-D range join: each point row joins every interval row
    * whose `[lo, hi]` contains its ordinate — the temporal analog of
    * `Spatial.radiusJoin`, and the join shape Spark has no native
    * operator for (a raw `BETWEEN` condition with no equi key plans a
    * BroadcastNestedLoop/cartesian, which is quadratic at scale).
    *
    * Shape: points keep their ONE containing cell (`⌊pt/cell⌋`);
    * intervals explode across the cells they span; the join is a plain
    * equi join on the cell plus the exact bounds residual. Exactly-once
    * emission needs NO dedup — a (point, interval) pair can only meet in
    * the point's single cell. Cost: interval replication = interval
    * length / cellSize (pick cellSize near the typical interval length;
    * a pathologically long interval is the skew knob, same as a giant
    * radius in the spatial join), and the equi join shuffles/broadcasts
    * under AQE like any other.
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, ptCol: String,
                loCol: String, hiCol: String, cellSize: Long): DataFrame = {
    require(cellSize > 0, "cellSize must be positive")
    // the result keeps every column from both sides, so a shared name
    // (both carrying user_id, say) would surface as an ambiguous duplicate
    // the caller only hits downstream; fail here with the offenders named
    val shared = points.columns.toSeq.intersect(intervals.columns.toSeq)
    require(shared.isEmpty,
      s"rangeJoin requires disjoint column names; rename on one side: ${shared.mkString(", ")}")
    require(!(points.columns ++ intervals.columns).contains("__cell"),
      "rangeJoin reserves the __cell column name")
    // `/` here is double division, which is inexact past 2^53 — but the
    // cell id never needs to be exact, only MONOTONE (long→double and
    // x↦⌊x/c⌋ both are): lo ≤ x ≤ hi always lands the point's cell
    // inside the interval's exploded span, the bounds residual below is
    // exact integer comparison, and no oracle computes cells. Contrast
    // Funnel, where the divided value IS the output and must use `div`.
    val pts = points.withColumn("__cell", floor(col(ptCol) / cellSize).cast("long"))
    val iv = intervals
      .filter(col(loCol) <= col(hiCol)) // empty/invalid intervals match nothing
      .withColumn("__cell", explode(sequence(
        floor(col(loCol) / cellSize).cast("long"),
        floor(col(hiCol) / cellSize).cast("long"))))
    pts.join(iv, Seq("__cell"))
      .filter(col(ptCol) >= col(loCol) && col(ptCol) <= col(hiCol))
      .drop("__cell")
  }

  /** Snapshot diff — the audit/CDC twin of the upsert/carry-forward
    * family: classify every key as `added`, `removed`, or `changed`
    * between two runs (unchanged keys are dropped — at 100 TB they ARE
    * the snapshot). One full-outer join on the keys; payloads compare by
    * an md5 fingerprint over the non-key columns computed BEFORE the join
    * (null fields take a sentinel so `(null)` and `("")` differ), so the
    * shuffle carries keys + one hash per side, never payloads, and the
    * comparison has no engine-specific null-equality semantics.
    */
  def diffFrames(previous: DataFrame, current: DataFrame, keys: Seq[String]): DataFrame = {
    require(previous.columns.sameElements(current.columns),
      "diffFrames requires identical schemas")
    val payload = previous.columns.filterNot(keys.contains).toSeq
    // fingerprint over to_json(struct): separator-INJECTIVE where the
    // old concat_ws form let a payload value containing \u0001 (or the
    // literal "\u0000" vs a real null) collide two different payloads
    // into "unchanged" — JSON escaping makes distinct values render
    // distinctly, and ignoreNullFields=false keeps null ≠ "null"-shaped
    // strings distinct too
    def fp(df: DataFrame, as: String) = df.select(keys.map(col) :+
      md5(to_json(struct(payload.map(col): _*),
        Map("ignoreNullFields" -> "false"))).as(as): _*)
    // NULL-SAFE key join (the upsert rule): a plain full_outer equi join
    // never matches null keys, so an UNCHANGED null-keyed row came back
    // as a phantom removed+added pair every run
    // string aliases, not DataFrame#apply refs: prev and current usually
    // derive from the SAME source, and df(col) references are ambiguous
    // under the analyzer's self-join check
    val p = fp(previous, "__old").alias("__dfp")
    val c = fp(current, "__new").alias("__dfc")
    val cond = keys.map(k => col(s"__dfp.$k") <=> col(s"__dfc.$k")).reduce(_ && _)
    p.join(c, cond, "full_outer")
      .withColumn("op",
        when(col("__old").isNull, lit("added"))
          .when(col("__new").isNull, lit("removed"))
          .when(col("__old") =!= col("__new"), lit("changed")))
      .filter(col("op").isNotNull)
      .select(keys.map(k =>
        coalesce(col(s"__dfp.$k"), col(s"__dfc.$k")).as(k)) :+ col("op"): _*)
  }

  /** I1 — watermark-based incremental filter (reference pushes
    * `last_edited_date >= <prev start>` to the remote layer,
    * `address_etl/geocode.py:190-202`). Here the predicate lands on the scan
    * so parquet row groups outside the watermark are skipped entirely.
    */
  def watermarkDelta(df: DataFrame, tsCol: String, watermark: Column): DataFrame =
    df.filter(col(tsCol) >= watermark)

  /** Group-wise top-k through the bounded `TopKAgg` buffer: each partition
    * contributes at most k rows per key to the shuffle (map-side partial
    * aggregation), where the `row_number` window formulation shuffle-SORTS
    * every row of every group — the same aggregate-vs-window trade as
    * `latestPerKey`, generalized from top-1 to top-k. Requires a LONG id
    * and numeric score; rank is 1-based in (score desc, id asc) order —
    * identical to the window form (asserted in RelOpsSpec). Callers with
    * FP scores should pre-round them (cross-engine rank stability).
    */
  def topKPerKey(df: DataFrame, keys: Seq[String], scoreCol: Column,
                 idCol: Column, k: Int): DataFrame = {
    val topk = org.apache.spark.sql.functions.udaf(new TopKAgg(k))
    // null scores/ids are EXCLUDED up front: TopKAgg's primitive input
    // encoder would otherwise throw AssertNotNull mid-job (where the
    // window formulation and the max_by siblings tolerate nulls) — and a
    // null score is not a rankable candidate anyway (the Similarity
    // ranking-tail rule)
    df.select((keys.map(col) :+ scoreCol.cast("double").as("__sc")
        :+ idCol.cast("long").as("__id")): _*)
      .filter(col("__sc").isNotNull && col("__id").isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(topk(col("__sc"), col("__id")).as("__tk"))
      .select(keys.map(col) :+ posexplode(arrays_zip(col("__tk._1"), col("__tk._2"))): _*)
      .select(keys.map(col) ++ Seq((col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("id"), col("col._1").as("score")): _*)
  }

  /** Incremental aggregate maintenance: merge the PREVIOUS run's per-key
    * aggregate state with the aggregate of a watermark delta, giving the
    * same result as re-aggregating the full corpus — for the decomposable
    * aggregates (sum, count, min, max) whose merge is their own combine
    * function. The incremental twin of the carry-forward pattern (I1/I2):
    * steady-state cost is agg(delta) + a shuffle of ~|keys in delta ∪
    * previous| state rows, never a corpus re-scan. (avg = merged sum /
    * merged count; distinct needs a sketch — see Sketches.)
    *
    * Both inputs must already be one row per key with identical columns:
    * `sumCols` merge by +, `minCols` by least, `maxCols` by greatest.
    */
  def mergeAggState(previous: DataFrame, delta: DataFrame, keys: Seq[String],
                    sumCols: Seq[String], minCols: Seq[String] = Nil,
                    maxCols: Seq[String] = Nil): DataFrame = {
    val aggs = sumCols.map(c => sum(col(c)).as(c)) ++
      minCols.map(c => min(col(c)).as(c)) ++ maxCols.map(c => max(col(c)).as(c))
    require(aggs.nonEmpty, "mergeAggState needs at least one sum/min/max column")
    // NOTE: inputs must already be one row per key — a non-aggregated
    // `previous` is double-counted here, not detected (checking would cost
    // a full pass; the caller owns the contract like the reference's
    // carried-forward state tables)
    previous.unionByName(delta)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }
}
