package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import graft.sources.{PageFetcher, ScanSpec}

/** Counters a fetcher reports through Spark accumulators: exact for every
  * successful task, and summed across executors.
  */
final case class FetchMeters(pages: LongAccumulator, rows: LongAccumulator, waitNs: LongAccumulator)

object FetchMeters {
  def apply(sc: org.apache.spark.SparkContext): FetchMeters =
    FetchMeters(sc.longAccumulator("fetch_pages"), sc.longAccumulator("fetch_rows"),
      sc.longAccumulator("fetch_wait_ns"))
}

/** The two ESRI layers the PLS run imports, as a simulated feature service.
  *
  * The rows a run can ask for are built before the run by
  * `LayerFetcher.prepare` and held once per JVM, shared by the driver's
  * count and every page task; the fetcher itself is serialized into every
  * page task, so it carries only parameters. Serving a request only slices,
  * projects and sleeps `delayMs`, the service's round trip.
  */
final class LayerFetcher(val layer: String, shapeN: Int, world: Long, step: Int,
                         delayMs: Int, meters: FetchMeters) extends PageFetcher {

  def schema: StructType = LayerFetcher.schemas(layer)

  private def matching(spec: ScanSpec): Array[Row] = {
    require(spec.keys.isEmpty && !spec.distinct && spec.topN.isEmpty,
      s"the simulated $layer layer serves where/lowerBound/columns scans only: $spec")
    val fromWhere = spec.whereClause.filter(_.trim != "1=1").map { w =>
      val Array(c, v) = w.split(">=").map(_.trim)
      require(c == "last_edited_date", s"unsupported where clause: $w")
      v.stripPrefix("DATE").trim.stripPrefix("'").stripSuffix("'")
    }
    val fromBound = spec.lowerBound.map { case (c, v) =>
      require(c == "last_edited_date", s"unsupported lower bound on $c"); v
    }
    // the earliest write step whose edit stamp satisfies every bound
    val bound = (fromWhere ++ fromBound).toSeq
    val minStep = (0 to step + 1).find { j =>
      j > step || bound.forall(b => SimClock.esri(SimClock.editTime(j)) >= b)
    }.get
    LayerFetcher.prepared(layer, shapeN, world, step, minStep)
  }

  override def count(spec: ScanSpec): Long = {
    Thread.sleep(delayMs)
    matching(spec).length.toLong
  }

  override def fetch(offset: Long, limit: Int, spec: ScanSpec): Iterator[Row] = {
    val t0 = System.nanoTime()
    Thread.sleep(delayMs)
    val rows = matching(spec)
    val cols = spec.columns.getOrElse(schema.fieldNames.toSeq).map(schema.fieldIndex).toArray
    val end = math.min(rows.length.toLong, offset + limit).toInt
    val out = (offset.toInt until end).map(r => Row.fromSeq(cols.map(rows(r).get).toSeq)).toVector
    meters.pages.add(1)
    meters.rows.add(out.size.toLong)
    meters.waitNs.add(System.nanoTime() - t0)
    out.iterator
  }
}

object LayerFetcher {
  val schemas: Map[String, StructType] = Map(
    "geocodes" -> StructType(Seq(
      StructField("objectid", LongType), StructField("geocode_type", StringType),
      StructField("address_pid", StringType), StructField("geocode_source", StringType),
      StructField("geocode_status", StringType), StructField("lat", DoubleType),
      StructField("lon", DoubleType), StructField("last_edited_date", StringType))),
    "pid" -> StructType(Seq(
      StructField("objectid", LongType), StructField("iri", StringType),
      StructField("pid", StringType), StructField("last_edited_date", StringType))),
  )

  val geocodeTypes: Array[String] = Array("property_centroid", "frontage_centre", "building_centroid",
    "parcel_centroid", "driveway_frontage", "unit_centroid", "emergency_access", "postal_delivery")
    .map(t => s"https://linked.data.gov.au/def/geocode-types/$t")

  private val worlds = new ConcurrentHashMap[(Int, Long), PlsWorld]()
  def world(shapeN: Int, seed: Long): PlsWorld =
    worlds.computeIfAbsent((shapeN, seed), k => new PlsWorld(PlsShape(k._1), k._2))

  private val served = new ConcurrentHashMap[(String, Int, Long, Int, Int), Array[Row]]()

  /** Row keys (geocode number or address id) of the layer at `step` whose
    * last write is at or after `minStep`, in object-id order.
    */
  def index(layer: String, shapeN: Int, seed: Long, step: Int, minStep: Int): Array[Int] = {
    val w = world(shapeN, seed)
    val all = layer match {
      case "geocodes" => Array.range(0, w.geocodesCreated(step))
      case "pid" => w.pidLayerRows(step)
    }
    if (minStep == 0) all else all.filter(k => lastWrite(layer, w, k, step) >= minStep)
  }

  /** Build the full-width rows the layer serves at `step` to a scan whose
    * bound selects writes from `minStep` on. Called before a run, so the
    * run's fetches only read them.
    */
  def prepare(layer: String, shapeN: Int, seed: Long, step: Int, minStep: Int): Unit = {
    val w = world(shapeN, seed)
    served.put((layer, shapeN, seed, step, minStep),
      index(layer, shapeN, seed, step, minStep).map(row(layer, w, _, step)))
  }

  def prepared(layer: String, shapeN: Int, seed: Long, step: Int, minStep: Int): Array[Row] =
    Option(served.get((layer, shapeN, seed, step, minStep))).getOrElse(throw new IllegalStateException(
      s"no rows prepared for the $layer layer at step $step from step $minStep"))

  /** Drop the prepared rows (between runs). */
  def clear(): Unit = { served.clear(); worlds.clear() }

  private def lastWrite(layer: String, w: PlsWorld, k: Int, step: Int): Int = layer match {
    case "geocodes" => w.lastWrite("geocodes", k, w.geocodeCreatedStep(k), step)
    case "pid" => w.lastWrite("pid", k, w.addressCreatedStep(k), step)
  }

  /** The full-width row for key `k` as of its last write. */
  def row(layer: String, w: PlsWorld, k: Int, step: Int): Row = {
    val v = lastWrite(layer, w, k, step)
    val edited = SimClock.esri(SimClock.editTime(v))
    layer match {
      case "geocodes" =>
        val t = geocodeTypes(Gen.below(geocodeTypes.length, w.world, Gen.tag("gt"), k, v).toInt)
        val lat = -28.0 + Gen.below(1000000, w.world, Gen.tag("lat"), k, v) / 1e5
        val lon = 150.0 + Gen.below(1000000, w.world, Gen.tag("lon"), k, v) / 1e5
        Row(k + 1L, t, w.addressPid(w.geocodeAddress(k)), "survey", "current", lat, lon, edited)
      case "pid" =>
        Row(k + 1L, w.addressIri(k), w.addressPid(k), edited)
    }
  }
}
