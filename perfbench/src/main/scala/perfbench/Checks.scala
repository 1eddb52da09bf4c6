package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks. Each returns the problems it found; an empty result
  * means the outputs hold the property.
  */
object Checks {

  /** Rows in a written table, from its parquet footers (no Spark job). */
  def rowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    fs.listStatus(path).filter(_.getPath.getName.endsWith(".parquet")).map { st =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try reader.getRecordCount finally reader.close()
    }.sum
  }

  /** Id maps as the driver sees them, name -> (key -> id), in one job. */
  def collectMaps(maps: Map[String, DataFrame]): Map[String, Map[String, Long]] = {
    val byMap = maps.map { case (n, m) => m.select(lit(n).as("map"), col("key"), col("id")) }
      .reduce(_ unionByName _).collect().groupBy(_.getString(0))
    maps.keys.map(n => n -> byMap.getOrElse(n, Array.empty[org.apache.spark.sql.Row])
      .map(r => r.getString(1) -> r.getLong(2)).toMap).toMap
  }

  /** The map is injective and dense: its ids are exactly 1..n. */
  def mapShape(name: String, map: Map[String, Long]): Seq[String] = {
    val ids = map.values.toSet
    Seq(
      (ids.size != map.size) -> s"$name is not injective (${map.size} keys, ${ids.size} ids)",
      (map.nonEmpty && (ids.min != 1L || ids.max != map.size.toLong)) ->
        s"$name is not dense (ids ${ids.minOption.getOrElse(0L)}..${ids.maxOption.getOrElse(0L)} for ${map.size} keys)",
    ).collect { case (true, msg) => msg }
  }

  /** Every key of the previous map keeps its id. */
  def carriedKeys(name: String, before: Map[String, Long], after: Map[String, Long]): Seq[String] = {
    val moved = before.count { case (k, id) => !after.get(k).contains(id) }
    if (moved > 0) Seq(s"$name: $moved carried keys lost or renumbered") else Nil
  }

  /** Every geocode references a surviving address, and got its site backfilled. */
  def geocodeReferences(geocodes: DataFrame, addresses: DataFrame): Seq[String] = {
    val rows = addresses.select(lit(true).as("address"), col("address_pid"), lit(false).as("no_site"))
      .unionByName(geocodes.select(lit(false).as("address"), col("address_pid"), col("site_id").isNull.as("no_site")))
      .collect()
    val (addr, geo) = rows.partition(_.getBoolean(0))
    val pids = addr.map(_.getString(1)).toSet
    val orphans = geo.count(r => !pids.contains(r.getString(1)))
    val noSite = geo.count(_.getBoolean(2))
    Seq(
      (orphans > 0) -> s"$orphans geocodes reference no surviving address",
      (noSite > 0) -> s"$noSite geocodes have no backfilled site_id",
    ).collect { case (true, msg) => msg }
  }
}
