package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial joins over point columns — the operator family the reference's
  * domain (point geocodes with `centoid_lat`/`centoid_lon`,
  * `address_etl/pls/tables.py:244-256`) invites but its SQLite engine never
  * attempts. Both operators are GRID-BUCKETED: candidate pairs come from an
  * equi join on spatial cell ids, never from a cross join, so pair counts
  * scale with data density rather than |left|×|right|.
  *
  * Scheme (the standard fixed-grid bucketing used by Sedona/GeoSpark and
  * ESRI's own GeoAnalytics):
  *   - cell size = radius, cell id = (floor(lat/r), floor(lon/r));
  *   - the LEFT side explodes to its 3×3 cell neighborhood, the right side
  *     maps to its single home cell — every pair within `radius` shares at
  *     least one (leftNeighbor, rightHome) cell, and a given (left, right)
  *     pair meets in EXACTLY one cell (the right row's home), so no
  *     post-join dedup is needed;
  *   - the join is a plain equi join on the cell id → shuffles hash-partition
  *     by cell, AQE handles density skew (urban cells) like any other key
  *     skew, and broadcast kicks in when one side is small. Pass the SMALLER
  *     side as `left`: the ×9 explode costs 9·|left| shuffle rows.
  *
  * Distances are PLANAR squared-degree (`dlat² + dlon²`) — pure IEEE
  * arithmetic, deterministic across engines, correct for neighborhood-scale
  * radii away from the poles and the antimeridian. For geodesic fidelity
  * swap `dist2` for a haversine expression at the edges; the bucketing
  * (great-circle distance ≤ planar degree distance × cos-lat bounds) keeps
  * the same shape with a latitude-scaled cell width.
  */
object Spatial {

  private def cellOf(c: Column, size: Double): Column =
    floor(c / lit(size)).cast("long")

  /** All (left, right) pairs within `radius` (inclusive, planar degrees).
    * Output: every left column, every right column (names must be
    * disjoint), plus `dist2` — the squared degree distance.
    */
  def radiusJoin(left: DataFrame, right: DataFrame,
                 latL: String, lonL: String, latR: String, lonR: String,
                 radius: Double): DataFrame = {
    require(radius > 0, "radius must be positive")
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val l = left
      .withColumn("__o", explode(offsets))
      .withColumn("__cx", cellOf(col(latL), radius) + col("__o.dx"))
      .withColumn("__cy", cellOf(col(lonL), radius) + col("__o.dy"))
      .drop("__o")
    val r = right
      .withColumn("__cx", cellOf(col(latR), radius))
      .withColumn("__cy", cellOf(col(lonR), radius))
    val dlat = col(latL) - col(latR)
    val dlon = col(lonL) - col(lonR)
    l.join(r, Seq("__cx", "__cy"))
      .withColumn("dist2", dlat * dlat + dlon * dlon)
      .filter(col("dist2") <= lit(radius * radius))
      .drop("__cx", "__cy")
  }

  /** Bit-spread step of the Morton (Z-order) curve: inserts a zero between
    * consecutive bits of a 31-bit non-negative value (classic mask-shift
    * chain — pure codegen'd bitwise arithmetic, no UDF).
    */
  private def spreadBits(c: Column): Column = {
    var x = c.bitwiseAND(lit(0x7FFFFFFFL))
    x = (x.bitwiseOR(shiftleft(x, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    x = (x.bitwiseOR(shiftleft(x, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    x = (x.bitwiseOR(shiftleft(x, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    x = (x.bitwiseOR(shiftleft(x, 2))).bitwiseAND(lit(0x3333333333333333L))
    x = (x.bitwiseOR(shiftleft(x, 1))).bitwiseAND(lit(0x5555555555555555L))
    x
  }

  /** Morton z-value of two NON-NEGATIVE cell indices (≤ 2³¹−1): interleaves
    * their bits so points close in 2-D are close in the 1-D sort order.
    * Out-of-range indices RAISE rather than silently truncating — a masked
    * high bit would collapse far-apart points onto the same curve position,
    * quietly destroying the locality the layout exists for.
    */
  def zValue(cx: Column, cy: Column): Column = {
    def checked(c: Column, name: String): Column =
      when(c < 0L || c > 0x7FFFFFFFL,
        raise_error(concat(lit(s"z-order cell index $name out of [0, 2^31) range: "), c.cast("string"))))
        .otherwise(c)
    spreadBits(checked(cx, "cx")).bitwiseOR(shiftleft(spreadBits(checked(cy, "cy")), 1))
  }

  /** Z-value for raw coordinates: cells of `cellSize` degrees, offset to
    * non-negative (lat+90, lon+180).
    */
  def zValueOf(lat: Column, lon: Column, cellSize: Double): Column =
    zValue(floor((lat + lit(90.0)) / lit(cellSize)).cast("long"),
           floor((lon + lit(180.0)) / lit(cellSize)).cast("long"))

  /** Nearest right point within `radius` for each left row that has one —
    * top-1 per left key via a `min_by` struct aggregate (map-side combined;
    * no window sort), ranked by (dist2, tieBreak) for total-order
    * determinism when two candidates are equidistant.
    */
  def nearestWithinRadius(left: DataFrame, right: DataFrame,
                          latL: String, lonL: String, latR: String, lonR: String,
                          radius: Double, leftKeys: Seq[String],
                          tieBreak: Seq[String]): DataFrame = {
    val cand = radiusJoin(left, right, latL, lonL, latR, lonR, radius)
    val all = cand.columns.filterNot(leftKeys.contains)
    cand.groupBy(leftKeys.map(col): _*)
      .agg(min_by(struct(all.toIndexedSeq.map(col): _*),
        struct((col("dist2") +: tieBreak.map(col)): _*)).as("__n"))
      .select(leftKeys.map(col) ++ all.map(c => col(s"__n.$c").as(c)): _*)
  }
}
