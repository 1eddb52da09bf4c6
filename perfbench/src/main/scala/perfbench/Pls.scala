package perfbench

import java.io.File
import java.time.OffsetDateTime
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.IdMap
import graft.pipeline.{EtlRun, GeocodeImport, PlsPipeline}
import graft.sources.{LayerSchema, PagedSource, ScanSpec, SparqlSource}
import graft.util.FileRunLock

/** The PLS ETL (`EtlRun.run` over the whole stage DAG). `pls_cold` runs the
  * bootstrap of a fresh world into a fresh snapshot root every run;
  * `pls_incremental` runs one chain, each run restoring the snapshot the
  * previous one committed.
  */
final class PlsWorkload(spark: SparkSession, seed: Long, incremental: Boolean, shapeN: Int,
                        delayMs: Int, work: File, tracer: Tracer) {
  import Workload._

  private val shape = PlsShape(shapeN)
  private val name = if (incremental) "pls_incremental" else "pls_cold"
  private val meters = FetchMeters(spark.sparkContext)
  private val config = EtlRun.Config("pls", "pls-bench", "pls-etl/", "addresses")
  private val topic = "pls-artifacts"
  private val lock = new FileRunLock(name, new File(work, "lock").toPath)
  new File(work, "lock").mkdirs()

  // the geocode-type code cache (6 of the 8 types; the rest fall back to
  // their initialism)
  private val typeCodes = {
    import spark.implicits._
    LayerFetcher.geocodeTypes.take(6).zipWithIndex
      .map { case (iri, i) => (iri, Seq("PC", "FC", "BC", "PCL", "DF", "UC")(i)) }
      .toSeq.toDF("geocode_type_iri", "code")
  }

  private def world(r: Int): Long =
    if (incremental) Gen.worldSeed(seed, name, 0) else Gen.worldSeed(seed, name, r)
  // run 0 of the incremental chain is its bootstrap
  private def step(r: Int): Int = if (incremental) r else 0
  private def root(r: Int): File = new File(work, if (incremental) "snap/chain" else s"snap/run-$r")
  private def inputs(r: Int): File = new File(work, s"in/run-$r")

  // set by the stages closure, read by `after`
  private var prevRunId: Option[String] = None
  private var dropped: DataFrame = _
  private var result: EtlRun.Result = _
  private var artifacts: TracedArtifacts = _
  private var notifier: TracedNotifier = _
  // the id maps the previous run committed, for the stability check
  private var lastMaps: Map[String, Map[String, Long]] = Map.empty
  private val pkCols = shape.entities.map(e => e.name -> e.pk).toMap

  /** Generate run `r`'s inputs (untimed). */
  def setup(r: Int): Unit = {
    val w = new PlsWorld(shape, world(r))
    val dir = inputs(r); dir.mkdirs()
    shape.entities.foreach(e => w.writeSparql(e, step(r), new File(dir, s"${e.name}.jsonl")))
    // the layers serve everything at the bootstrap, and the rows written
    // since the previous run's start (its watermark) on a later step
    Seq("geocodes", "pid").foreach(LayerFetcher.prepare(_, shapeN, world(r), step(r), step(r)))
  }

  private def sparql(r: Int, e: EntitySpec): DataFrame =
    SparqlSource.bindings(spark.read.text(new File(inputs(r), s"${e.name}.jsonl").getPath).as(Encoders.STRING),
      e.vars).select(e.vars.map(col): _*)

  private val brisbane = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]xx")

  private def stages(r: Int, store: MeteredStore): Map[String, DataFrame] = tracer.span("stages") {
    val (prev, watermark) = tracer.span("restore") {
      val latest = store.latestRun(spark)
      prevRunId = latest
      val tables = latest.toSeq.flatMap(run =>
        ("geocodes" +: "pid_map" +: "metadata" +: shape.entities.map(e => s"id_map_${e.name}"))
          .flatMap(t => store.readIfExists(spark, run, t).map(t -> _))).toMap
      val wm = tables.get("metadata").map { m =>
        SimClock.esri(OffsetDateTime.parse(m.select("start_time").head().getString(0), brisbane).toInstant)
      }
      (tables, wm)
    }
    val fetch = (layer: String) =>
      new LayerFetcher(layer, shapeN, world(r), step(r), delayMs, meters)

    val geoFetcher = fetch("geocodes")
    val geo = GeocodeImport.importGeocodes(spark, geoFetcher, geoFetcher.schema, typeCodes,
      prev.get("geocodes"), watermark)

    val pidFetcher = fetch("pid")
    val pidLayer = LayerSchema.iriPidSchema(pidFetcher.schema.fieldNames.toSet)
    val importedPid = PagedSource.read(spark, pidFetcher, pidFetcher.schema,
      spec = ScanSpec(whereClause = Some(LayerSchema.whereClause(pidLayer, watermark)),
        columns = Some(Seq(pidLayer.objectIdField, pidLayer.addressIriField, pidLayer.addressPidField))))
      .select(col(pidLayer.addressIriField).as("address_iri"), col(pidLayer.addressPidField).as("address_pid"))

    val entities = shape.entities.map(e => e.name -> sparql(r, e)).toMap
    val out = PlsPipeline.run(PlsPipeline.RunInputs(
      prevGeocodes = None, // importGeocodes already carried the previous geocodes forward
      prevPidMap = prev.get("pid_map"), importedPidMap = importedPid,
      importedGeocodes = geo.geocodes, addresses = entities("addresses")))
    dropped = out.droppedAddresses
    val maps = shape.entities.map(e => e.name -> prev.getOrElse(s"id_map_${e.name}", IdMap.empty(spark))).toMap
    val (encoded, newMaps) = PlsPipeline.encodeEntityKeys(
      entities.updated("addresses", out.addresses), maps, pkCols)
    encoded ++ newMaps.map { case (n, m) => s"id_map_$n" -> m } ++
      Map("geocodes" -> out.geocodes, "pid_map" -> out.pidMap)
  }

  /** The timed region: one whole run, ending in the snapshot writes. */
  def run(r: Int): Unit = {
    artifacts = new TracedArtifacts(tracer)
    notifier = new TracedNotifier(tracer)
    val store = new MeteredStore(root(r).getPath, tracer)
    // simulated calendar (run k starts on day k) advanced by real elapsed
    // time, so the stamped duration is a real one
    val base = SimClock.runStart(step(r))
    val t0 = System.nanoTime()
    result = EtlRun.run(spark, config, lock, store, artifacts, notifier, topic, () => stages(r, store),
      now = () => base.plusNanos(System.nanoTime() - t0))
  }

  /** Check run `r`'s outputs and take its measurements (untimed). */
  def after(r: Int, traced: Boolean): Outcome = {
    val fetched = Map(
      "sources.fetch_pages" -> meters.pages.sum.toDouble,
      "sources.fetch_rows" -> meters.rows.sum.toDouble,
      "sources.fetch_wait_s" -> meters.waitNs.sum / 1e9)
    Seq(meters.pages, meters.rows, meters.waitNs).foreach(_.reset())

    val w = new PlsWorld(shape, world(r))
    val store = new MeteredStore(root(r).getPath, new Tracer(false, spark.sparkContext))
    val runId = result.runId
    val expected = w.expectedCounts(step(r))
    val failures = Seq.newBuilder[String]
    if (!store.isCommitted(spark, runId)) failures += s"run $runId not committed"
    val counts = expected.keys.map(t => t -> Checks.rowCount(spark, store.tablePath(runId, t))).toMap
    expected.foreach { case (t, n) =>
      if (counts(t) != n) failures += s"$t: ${counts(t)} rows, expected $n"
    }
    val maps = Checks.collectMaps(shape.entities.map(e => e.name -> store.read(spark, runId, s"id_map_${e.name}")).toMap)
    maps.foreach { case (e, m) =>
      failures ++= Checks.mapShape(s"id_map_$e", m)
      if (prevRunId.isDefined) failures ++= Checks.carriedKeys(s"id_map_$e", lastMaps(e), m)
    }
    val previousMaps = lastMaps
    lastMaps = maps
    failures ++= Checks.geocodeReferences(store.read(spark, runId, "geocodes"), store.read(spark, runId, "addresses"))
    failures ++= Headers.problems(artifacts.fake, notifier.fake, result.presignedUrl, config.etlName,
      config.bucket, topic)

    val rowsWritten = counts.values.sum.toDouble
    // a run without a restore point starts every map from empty
    val before = if (prevRunId.isEmpty) Map.empty[String, Map[String, Long]] else previousMaps
    val newKeys = maps.map { case (e, m) => m.size - before.get(e).fold(0)(_.size) }.sum
    val layer = fetched ++ Map(
      "operators.idmap.new_keys" -> newKeys.toDouble,
      "sinks.rows_written" -> rowsWritten,
      "sinks.write_amp" -> rowsWritten / w.changedInputRows(step(r)),
      "sinks.header_duration_s" -> result.headers("etl-duration-seconds").toDouble,
    ) ++ (if (traced) {
      val n = dropped.count()
      if (n != w.expectedDropped(step(r))) failures += s"dropped addresses: $n, expected ${w.expectedDropped(step(r))}"
      Seq(meters.pages, meters.rows, meters.waitNs).foreach(_.reset())
      Map("operators.prune.dropped_rows" -> n.toDouble)
    } else Map.empty)

    val written = dirBytes(new File(root(r), runId))
    dropped = null
    // the count above re-read the layers; their rows go only now
    LayerFetcher.clear()
    // keep only what the next run restores from
    delete(inputs(r))
    if (incremental) prevRunId.foreach(p => delete(new File(root(r), p)))
    else delete(root(r))
    Outcome(failures.result(), written, layer)
  }
}
