package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.{Duration, Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Deterministic input generation. Every value is a pure function of a
  * world seed (itself derived from `--seed` and a run or chain index), so
  * the same seed always yields the same inputs and the generator can state
  * the expected output sizes without running the engine.
  */
object Gen {

  /** SplitMix64 finalizer: a well-mixed 64-bit hash. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(parts: Long*): Long = parts.foldLeft(0x243F6A8885A308D3L)((h, p) => mix(h ^ mix(p)))

  /** Uniform draw in [0, n). */
  def below(n: Long, parts: Long*): Long = java.lang.Long.remainderUnsigned(hash(parts: _*), n)

  def tag(s: String): Long = s.foldLeft(1125899906842597L)((h, c) => 31 * h + c)

  def worldSeed(seed: Long, stream: String, index: Long): Long = hash(seed, tag(stream), index)
}

/** The simulated calendar of an ETL chain: run `k` starts on day `k`, and
  * the edits it picks up were made at noon of day `k - 1`, after run
  * `k - 1` started — so the previous run's start time is exactly the
  * watermark that selects them.
  */
object SimClock {
  val epoch: Instant = Instant.parse("2026-01-05T00:00:00Z")
  def runStart(step: Int): Instant = epoch.plus(Duration.ofDays(step.toLong))
  def editTime(step: Int): Instant = runStart(step - 1).plus(Duration.ofHours(12))

  private val esriFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)
  /** The date literal format the layer's `last_edited_date` is stored in. */
  def esri(t: Instant): String = esriFormat.format(t)
}

/** Sizes of one PLS world (ratios from the reference's Queensland data). */
final case class PlsShape(addresses: Int) {
  private def frac(f: Double) = math.max(1, (addresses * f).toInt)
  val entities: Seq[EntitySpec] = Seq(
    EntitySpec("addresses", "address_iri", addresses,
      Seq("address_iri", "address_pid", "site_id", "parcel_iri", "road_iri", "address_label")),
    EntitySpec("parcels", "parcel_iri", frac(0.7), Seq("parcel_iri", "lot_plan", "area_m2")),
    EntitySpec("sites", "site_iri", frac(0.8), Seq("site_iri", "site_type", "parcel_iri")),
    EntitySpec("roads", "road_iri", frac(0.05), Seq("road_iri", "road_name", "road_type")),
    EntitySpec("place_names", "place_iri", frac(0.02), Seq("place_iri", "place_name", "place_type")),
  )
  def entity(name: String): EntitySpec = entities.find(_.name == name).get
  val geocodes: Int = frac(1.2)
  /** Per incremental step: ~0.5% new and ~0.5% retired entities, ~1% of
    * each ESRI layer edited plus ~0.5% new geocodes (a 1-2% delta).
    */
  val retirePerMille = 5
  val editPerMille = 10
  def newPerStep(base: Int): Int = math.max(1, base / 200)
}

final case class EntitySpec(name: String, pk: String, base: Int, vars: Seq[String])

/** One PLS world at a given step of its chain. Step 0 is the bootstrap
  * state; every later step adds new entities, retires some, and edits
  * some ESRI rows.
  */
final class PlsWorld(val shape: PlsShape, val world: Long) {
  import Gen._

  def created(e: EntitySpec, step: Int): Int = e.base + step * shape.newPerStep(e.base)

  /** Entity `i` is retired at step `j` (only entities created before `j`). */
  private def retiredAt(e: EntitySpec, j: Int, i: Int): Boolean =
    i < created(e, j - 1) && below(1000, world, tag(e.name), j, i) < shape.retirePerMille

  def alive(e: EntitySpec, step: Int): Array[Boolean] = {
    val out = Array.fill(created(e, step))(true)
    for (j <- 1 to step; i <- 0 until created(e, j - 1) if out(i) && retiredAt(e, j, i)) out(i) = false
    out
  }

  /** 95% of addresses have an IRI→PID mapping; the rest are pruned. */
  def mapped(address: Int): Boolean = below(100, world, tag("pid"), address) < 95

  def addressPid(a: Int): String = s"QLD$a"
  def addressIri(a: Int): String = s"https://linked.data.gov.au/dataset/qld-addr/address/$a"

  // ---- ESRI layers -------------------------------------------------------

  def geocodesCreated(step: Int): Int = shape.geocodes + step * shape.newPerStep(shape.geocodes)
  def geocodeCreatedStep(g: Int): Int =
    if (g < shape.geocodes) 0 else (g - shape.geocodes) / shape.newPerStep(shape.geocodes) + 1
  def geocodeAddress(g: Int): Int = {
    val addr = shape.entity("addresses")
    below(created(addr, geocodeCreatedStep(g)), world, tag("geo"), g).toInt
  }

  /** Last step (≤ `step`) at which an ESRI row was written: its creation
    * step, or a later ~1% edit.
    */
  def lastWrite(layer: String, row: Int, createdStep: Int, step: Int): Int = {
    var j = step
    while (j > createdStep && below(1000, world, tag(layer), tag("edit"), j, row) >= shape.editPerMille) j -= 1
    j
  }

  /** Addresses (ids) that the IRI→PID layer holds at `step`, in object-id order. */
  def pidLayerRows(step: Int): Array[Int] =
    (0 until created(shape.entity("addresses"), step)).filter(mapped).toArray

  // ---- expected outputs ---------------------------------------------------

  /** Row counts the committed snapshot of `step` must hold, by table. */
  def expectedCounts(step: Int): Map[String, Long] = {
    val addr = shape.entity("addresses")
    val addrAlive = alive(addr, step)
    val kept = addrAlive.indices.map(a => addrAlive(a) && mapped(a)).toArray
    val geo = (0 until geocodesCreated(step)).count(g => kept(geocodeAddress(g))).toLong
    val entityCounts = shape.entities.map { e =>
      if (e.name == "addresses") e.name -> kept.count(identity).toLong
      else e.name -> alive(e, step).count(identity).toLong
    }
    val mapCounts = shape.entities.map { e =>
      // every created entity is encoded in the run that first sees it;
      // addresses without a PID mapping never survive the prune
      if (e.name == "addresses") s"id_map_${e.name}" -> addrAlive.indices.count(mapped).toLong
      else s"id_map_${e.name}" -> created(e, step).toLong
    }
    (entityCounts ++ mapCounts).toMap ++ Map(
      "geocodes" -> geo,
      "pid_map" -> pidLayerRows(step).length.toLong,
      "metadata" -> 1L)
  }

  def expectedDropped(step: Int): Long = {
    val a = alive(shape.entity("addresses"), step)
    a.indices.count(i => a(i) && !mapped(i)).toLong
  }

  /** Input rows that changed since the previous step: the ESRI delta plus
    * the SPARQL entities added or retired (everything, at step 0).
    */
  def changedInputRows(step: Int): Long = {
    if (step == 0)
      shape.entities.map(e => created(e, 0).toLong).sum + geocodesCreated(0) + pidLayerRows(0).length
    else {
      val geoDelta = (0 until geocodesCreated(step))
        .count(g => lastWrite("geocodes", g, geocodeCreatedStep(g), step) == step)
      val pidDelta = pidLayerRows(step).count { a =>
        lastWrite("pid", a, addressCreatedStep(a), step) == step
      }
      val sparql = shape.entities.map { e =>
        val now = alive(e, step); val before = alive(e, step - 1)
        now.indices.count(i => i >= before.length || now(i) != before(i))
      }.sum
      (geoDelta + pidDelta + sparql).toLong
    }
  }

  def addressCreatedStep(a: Int): Int = {
    val addr = shape.entity("addresses")
    if (a < addr.base) 0 else (a - addr.base) / shape.newPerStep(addr.base) + 1
  }

  // ---- SPARQL result documents -------------------------------------------

  private def binding(sb: java.lang.StringBuilder, v: String, kind: String, value: String,
                      datatype: String = null): Unit = {
    sb.append('"').append(v).append("\":{\"type\":\"").append(kind).append("\",\"value\":\"")
      .append(value).append('"')
    if (datatype != null) sb.append(",\"datatype\":\"").append(datatype).append('"')
    sb.append('}')
  }

  private val xsdDouble = "http://www.w3.org/2001/XMLSchema#double"
  private val siteTypes = Array("parcel", "building", "unit", "rural")
  private val placeTypes = Array("locality", "suburb", "town")
  private val roadTypes = Array("Street", "Road", "Avenue", "Court", "Drive", "Lane", "Parade")

  private def appendRow(sb: java.lang.StringBuilder, e: EntitySpec, i: Int): Unit = {
    val base = "https://linked.data.gov.au/dataset/qld-addr/"
    e.name match {
      case "addresses" =>
        binding(sb, "address_iri", "uri", addressIri(i)); sb.append(',')
        binding(sb, "address_pid", "literal", addressPid(i)); sb.append(',')
        binding(sb, "site_id", "literal", s"site-${below(shape.entity("sites").base, world, tag("site"), i)}")
        sb.append(',')
        binding(sb, "parcel_iri", "uri", s"${base}parcel/${below(shape.entity("parcels").base, world, tag("parcel"), i)}")
        sb.append(',')
        binding(sb, "road_iri", "uri", s"${base}road/${below(shape.entity("roads").base, world, tag("road"), i)}")
        sb.append(',')
        binding(sb, "address_label", "literal",
          s"${1 + below(400, world, tag("num"), i)} ${roadTypes(below(roadTypes.length, world, tag("rt"), i).toInt)} ${i % 97} QLD")
      case "parcels" =>
        binding(sb, "parcel_iri", "uri", s"${base}parcel/$i"); sb.append(',')
        binding(sb, "lot_plan", "literal", s"${1 + i % 50}RP${100000 + below(900000, world, tag("lp"), i)}")
        sb.append(',')
        binding(sb, "area_m2", "literal", f"${200.0 + below(100000, world, tag("area"), i) / 10.0}%.1f", xsdDouble)
      case "sites" =>
        binding(sb, "site_iri", "uri", s"${base}site/$i"); sb.append(',')
        binding(sb, "site_type", "literal", siteTypes(i % 4)); sb.append(',')
        binding(sb, "parcel_iri", "uri", s"${base}parcel/${below(shape.entity("parcels").base, world, tag("sp"), i)}")
      case "roads" =>
        binding(sb, "road_iri", "uri", s"${base}road/$i"); sb.append(',')
        binding(sb, "road_name", "literal", s"Road ${below(50000, world, tag("rn"), i)}"); sb.append(',')
        binding(sb, "road_type", "literal", roadTypes(i % roadTypes.length))
      case "place_names" =>
        binding(sb, "place_iri", "uri", s"${base}place/$i"); sb.append(',')
        binding(sb, "place_name", "literal", s"Locality ${below(100000, world, tag("pn"), i)}"); sb.append(',')
        binding(sb, "place_type", "literal", placeTypes(i % 3))
    }
  }

  /** Write the entity's SPARQL results at `step` as JSON lines, one result
    * document of `perDoc` bindings per line.
    */
  def writeSparql(e: EntitySpec, step: Int, file: File, perDoc: Int = 5000): Unit = {
    val live = alive(e, step)
    val ids = live.indices.filter(live(_))
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    try {
      ids.grouped(perDoc).foreach { chunk =>
        val sb = new java.lang.StringBuilder(chunk.size * 200)
        sb.append("{\"head\":{\"vars\":[").append(e.vars.map(v => s"\"$v\"").mkString(","))
          .append("]},\"results\":{\"bindings\":[")
        var first = true
        chunk.foreach { i =>
          if (!first) sb.append(',')
          first = false
          sb.append('{'); appendRow(sb, e, i); sb.append('}')
        }
        sb.append("]}}\n")
        w.write(sb.toString)
      }
    } finally w.close()
  }
}
