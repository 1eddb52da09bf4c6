package graft

import org.apache.spark.sql.Row
import graft.pipeline.PlsPipeline

/** Port of the reference's minimum end-to-end slice
  * (`tests/test_pls_address_pid_flow.py:160-241`, SURVEY §7.2): geocode →
  * site backfill (J6) then referential prune (J5), asserting the exact
  * surviving row.
  */
class PlsFlowSpec extends SparkSpec {

  test("update_geocode_site_id + prune_geocodes_without_addresses keeps exactly (geo-1, 100, site-1)") {
    val s = spark; import s.implicits._
    val addresses = Seq(
      ("addr-1", "100", "site-1")
    ).toDF("addr_id", "address_pid", "site_id")
    val geocodes = Seq(
      ("geo-1", "PC", "100", Option.empty[String], -27.0, 153.0),
      ("geo-2", "PC", "999", Option.empty[String], -28.0, 152.0)
    ).toDF("geocode_id", "geocode_type", "address_pid", "site_id", "centoid_lat", "centoid_lon")

    val result = PlsPipeline.backfillAndPruneGeocodes(geocodes, addresses)
    val out = result.select("geocode_id", "address_pid", "site_id")
      .orderBy("geocode_id").collect().toSeq
    assert(out == Seq(Row("geo-1", "100", "site-1")))

    // the output round-trips through the typed model (SURVEY §1.3)
    val typed = result.as[graft.model.Model.Geocode].collect()
    assert(typed.head == graft.model.Model.Geocode("geo-1", "PC", Some("100"),
      Some("site-1"), Some(-27.0), Some(153.0)))
  }

  test("backfill does not multiply rows when one address_pid maps to several sites (J6 pre-agg)") {
    val s = spark; import s.implicits._
    val addresses = Seq(
      ("addr-1", "100", "site-b"),
      ("addr-2", "100", "site-a") // same pid, two sites: MIN(site_id) wins deterministically
    ).toDF("addr_id", "address_pid", "site_id")
    val geocodes = Seq(
      ("geo-1", "PC", "100", Option.empty[String], -27.0, 153.0)
    ).toDF("geocode_id", "geocode_type", "address_pid", "site_id", "centoid_lat", "centoid_lon")

    val out = PlsPipeline.backfillAndPruneGeocodes(geocodes, addresses).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("site_id") == "site-a")
  }

  test("pruneAddressesWithoutPid: kept + dropped partition the input, lazily") {
    val s = spark; import s.implicits._
    val addresses = Seq(("iri-1", "p1", "s1"), ("iri-2", "p2", "s2"), ("iri-3", "p3", "s3"))
      .toDF("address_iri", "address_pid", "site_id")
    val pidMap = Seq(("iri-1", "p1"), ("iri-3", "p3")).toDF("address_iri", "address_pid")
    val (kept, dropped) = PlsPipeline.pruneAddressesWithoutPid(addresses, pidMap)
    assert(kept.select("address_iri").as[String].collect().sorted.toSeq == Seq("iri-1", "iri-3"))
    assert(dropped.select("address_iri").as[String].collect().toSeq == Seq("iri-2"))
    assert(kept.columns.toSeq == addresses.columns.toSeq) // no flag leakage
  }

  test("full run carries forward, upserts pid map, prunes and backfills") {
    val s = spark; import s.implicits._
    val prevGeo = Seq(("g1", "PC", "p1", "stale", 1.0, 2.0), ("g9", "PC", "p9", "stale", 3.0, 4.0))
      .toDF("geocode_id", "geocode_type", "address_pid", "site_id", "centoid_lat", "centoid_lon")
    val impGeo = Seq(("g1", "SP", "p1", Option.empty[String], 5.0, 6.0))
      .toDF("geocode_id", "geocode_type", "address_pid", "site_id", "centoid_lat", "centoid_lon")
    val prevPid = Seq(("iri-1", "OLD1"), ("iri-2", "OLD2")).toDF("address_iri", "address_pid")
    val impPid = Seq(("iri-1", "p1")).toDF("address_iri", "address_pid")
    val addresses = Seq(("iri-1", "p1", "site-1"), ("iri-9", "p9", "site-9"))
      .toDF("address_iri", "address_pid", "site_id")

    val out = PlsPipeline.run(PlsPipeline.RunInputs(
      Some(prevGeo), Some(prevPid), impPid, impGeo, addresses))

    // pid map: imported wins for iri-1; iri-2 carried
    val pids = out.pidMap.orderBy("address_iri").as[(String, String)].collect().toSeq
    assert(pids == Seq(("iri-1", "p1"), ("iri-2", "OLD2")))
    // addresses: iri-9 dropped (no pid mapping), counted
    assert(out.addresses.select("address_iri").as[String].collect().toSeq == Seq("iri-1"))
    assert(out.droppedAddresses.count() == 1)
    // geocodes: g1 incoming wins (type SP), site backfilled; g9's address is
    // gone -> pruned; carried site_id was nulled then refilled from addresses
    val geos = out.geocodes.select("geocode_id", "geocode_type", "site_id").collect().toSeq
    assert(geos == Seq(Row("g1", "SP", "site-1")))
  }
}
