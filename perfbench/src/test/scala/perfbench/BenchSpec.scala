package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ScanSpec, SnapshotStore}

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val dirs = scala.collection.mutable.ArrayBuffer[File]()

  override def afterAll(): Unit = { spark.stop(); dirs.foreach(Workload.delete) }

  private def tmp(): File = { val d = Files.createTempDirectory("perfbench").toFile; dirs += d; d }

  private def sha(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(bytes).map("%02x".format(_)).mkString

  /** Digest of everything the PLS generator hands the engine for one run. */
  private def plsDigest(seed: Long, run: Int, step: Int): String = {
    val world = Gen.worldSeed(seed, "pls_cold", run)
    val w = new PlsWorld(PlsShape(600), world)
    val dir = tmp()
    val sparql = w.shape.entities.map { e =>
      val f = new File(dir, e.name)
      w.writeSparql(e, step, f, perDoc = 100)
      sha(Files.readAllBytes(f.toPath))
    }
    val layers = Seq("geocodes", "pid").map { l =>
      LayerFetcher.index(l, 600, world, step, 0).map(k => LayerFetcher.row(l, w, k, step).mkString("|")).mkString("\n")
    }
    sha((sparql ++ layers).mkString("\n").getBytes("UTF-8"))
  }

  test("the same seed gives the same inputs; another seed gives other inputs") {
    assert(plsDigest(7, 0, 0) == plsDigest(7, 0, 0))
    assert(plsDigest(7, 0, 2) == plsDigest(7, 0, 2))
    assert(plsDigest(7, 0, 0) != plsDigest(8, 0, 0))
    assert(plsDigest(7, 0, 0) != plsDigest(7, 1, 0))
  }

  private def fetcher(layer: String, step: Int, minSteps: Int*) = {
    val meters = FetchMeters(spark.sparkContext)
    minSteps.foreach(LayerFetcher.prepare(layer, 2000, 11L, step, _))
    (new LayerFetcher(layer, 2000, 11L, step, 0, meters), meters)
  }

  private def pages(f: LayerFetcher, spec: ScanSpec, size: Int): Seq[Row] =
    Iterator.from(0).map(p => f.fetch(p.toLong * size, size, spec).toSeq).takeWhile(_.nonEmpty).flatten.toSeq

  test("the fetcher honours whereClause and projection, and count agrees with the pages") {
    val (f, meters) = fetcher("geocodes", 3, 0, 3)
    val all = ScanSpec(whereClause = Some("1=1"))
    val w = new PlsWorld(PlsShape(2000), 11L)
    assert(f.count(all) == w.geocodesCreated(3))
    assert(pages(f, all, 500).size == f.count(all))

    // run 3's watermark is run 2's start: only the rows written for run 3
    val wm = SimClock.esri(SimClock.runStart(2).plusSeconds(1))
    val delta = ScanSpec(whereClause = Some(s"last_edited_date >= DATE '$wm'"),
      columns = Some(Seq("address_pid", "objectid", "last_edited_date")))
    val rows = pages(f, delta, 50)
    assert(rows.size == f.count(delta))
    assert(rows.nonEmpty && rows.size < f.count(all) / 20)
    assert(rows.forall(r => r.size == 3 && r.get(0).isInstanceOf[String] && r.get(1).isInstanceOf[Long]))
    assert(rows.forall(_.getString(2) >= wm))
    val expectedDelta = (0 until w.geocodesCreated(3))
      .count(g => w.lastWrite("geocodes", g, w.geocodeCreatedStep(g), 3) == 3)
    assert(rows.size == expectedDelta)
    // the same bound pushed structurally selects the same rows
    assert(f.count(ScanSpec(lowerBound = Some("last_edited_date" -> wm))) == rows.size)
    assert(meters.pages.sum > 0 && meters.rows.sum == pages(f, all, 500).size + rows.size)
    // a scan nobody prepared for fails instead of building rows in the run
    val older = SimClock.esri(SimClock.runStart(1).plusSeconds(1))
    intercept[IllegalStateException](f.count(ScanSpec(whereClause = Some(s"last_edited_date >= DATE '$older'"))))
    LayerFetcher.clear()
  }

  test("the fetcher refuses pushdowns it does not implement") {
    val (f, _) = fetcher("pid", 0, 0)
    intercept[IllegalArgumentException](f.count(ScanSpec(distinct = true)))
    intercept[IllegalArgumentException](f.count(ScanSpec(keys = Some("iri" -> Set("x")))))
  }

  test("the id-map checks catch a renumbered, a sparse and a non-injective map") {
    val good = Map("a" -> 1L, "b" -> 2L, "c" -> 3L)
    assert(Checks.mapShape("m", good).isEmpty)
    assert(Checks.carriedKeys("m", Map("a" -> 1L, "b" -> 2L), good).isEmpty)
    val renumbered = Map("a" -> 2L, "b" -> 1L, "c" -> 3L)
    assert(Checks.mapShape("m", renumbered).isEmpty)
    assert(Checks.carriedKeys("m", Map("a" -> 1L, "b" -> 2L), renumbered).nonEmpty)
    assert(Checks.carriedKeys("m", Map("a" -> 1L, "z" -> 4L), good).nonEmpty) // a lost key
    assert(Checks.mapShape("m", Map("a" -> 1L, "b" -> 3L)).exists(_.contains("dense")))
    assert(Checks.mapShape("m", Map("a" -> 1L, "b" -> 1L)).exists(_.contains("injective")))
    val s = spark; import s.implicits._
    val maps = Checks.collectMaps(Map("x" -> Seq(("a", 1L), ("b", 2L)).toDF("key", "id"),
      "y" -> Seq.empty[(String, Long)].toDF("key", "id")))
    assert(maps == Map("x" -> Map("a" -> 1L, "b" -> 2L), "y" -> Map.empty[String, Long]))
  }

  test("the geocode check catches an orphan and a missing backfill") {
    val s = spark; import s.implicits._
    val addresses = Seq(("p1", "s1"), ("p2", "s2")).toDF("address_pid", "site_id")
    val ok = Seq(("g1", "p1", "s1"), ("g2", "p2", "s2")).toDF("geocode_id", "address_pid", "site_id")
    assert(Checks.geocodeReferences(ok, addresses).isEmpty)
    val orphan = Seq(("g1", "p1", "s1"), ("g3", "p9", "s9")).toDF("geocode_id", "address_pid", "site_id")
    assert(Checks.geocodeReferences(orphan, addresses).exists(_.contains("no surviving address")))
    val noSite = Seq(("g1", "p1", null: String)).toDF("geocode_id", "address_pid", "site_id")
    assert(Checks.geocodeReferences(noSite, addresses).exists(_.contains("site_id")))
  }

  test("the header check catches a missing header, a wrong key, a second publish and publish before upload") {
    val tracer = new Tracer(false, spark.sparkContext)
    val headers = graft.sinks.Sinks.buildArtifactHeaders("pls", java.time.Instant.parse("2026-01-05T00:00:00Z"),
      java.time.Instant.parse("2026-01-05T00:00:02Z"), java.time.Instant.parse("2026-01-05T00:00:03Z"),
      2.0, "bkt", "pls-etl/k/addresses", 3600)
    def problems(h: Map[String, String], publishFirst: Boolean = false, publishes: Int = 1): Seq[String] = {
      val art = new TracedArtifacts(tracer)
      val note = new TracedNotifier(tracer)
      // announcing before the upload, the run has no URL to publish yet
      if (publishFirst) note.publish("t", "", h)
      val url = art.upload("/x", "bkt", "pls-etl/k/addresses", 3600)
      if (!publishFirst) (0 until publishes).foreach(_ => note.publish("t", url, h))
      Headers.problems(art.fake, note.fake, url, "pls", "bkt", "t")
    }
    assert(problems(headers).isEmpty)
    assert(problems(headers - "s3-key").nonEmpty)
    assert(problems(headers.updated("s3-key", "other")).nonEmpty)
    assert(problems(headers, publishes = 2).nonEmpty)
    assert(problems(headers, publishFirst = true).nonEmpty)
  }

  test("the heap peak counts what a run holds through a collection, and not what came before") {
    var held: Seq[Array[Byte]] = Seq.fill(64)(new Array[Byte](1 << 20))
    HeapPeak.reset()
    val base = HeapPeak.mb()
    held = null
    HeapPeak.reset()
    assert(HeapPeak.mb() < base - 50)
    held = Seq.fill(64)(new Array[Byte](1 << 20))
    System.gc()
    assert(HeapPeak.mb() > base - 10 && held.size == 64)
  }

  test("row counts come from the written parquet footers") {
    val store = new SnapshotStore(tmp().getPath)
    store.write(spark.range(0, 1234, 1, 3).toDF(), "r", "t")
    assert(Checks.rowCount(spark, store.tablePath("r", "t")) == 1234)
  }

  test("the generator's expected counts describe a world consistently") {
    val w = new PlsWorld(PlsShape(2000), 5L)
    val c0 = w.expectedCounts(0)
    val c3 = w.expectedCounts(3)
    assert(c0("addresses") + w.expectedDropped(0) == 2000)
    assert(c3("id_map_addresses") >= c0("id_map_addresses"))
    assert(c3("id_map_parcels") == c0("id_map_parcels") + 3 * PlsShape(2000).newPerStep(1400))
    assert(w.changedInputRows(3) < w.changedInputRows(0) / 20)
  }
}
