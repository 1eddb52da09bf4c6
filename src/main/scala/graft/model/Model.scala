package graft.model

/** Case-class model of the reference's persisted tables (SURVEY.md §1.3,
  * FIXTURES.md §1). IRIs stay String until surrogate-key encoding (IdMap)
  * rewrites the PKs to stable Longs.
  */
object Model {
  case class Geocode(geocode_id: String, geocode_type: String, address_pid: Option[String],
                     site_id: Option[String], centoid_lat: Option[Double], centoid_lon: Option[Double])
}
