package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S7/K1 — versioned snapshot persistence. The reference keeps each run's
  * whole SQLite DB at `pls-etl/<endTs>/pls.db` on S3 and restores the
  * lexicographically-latest one (`main_pls.py:101-186`, `s3.py:111-121`).
  *
  * Spark-native shape: one directory per run (`<root>/<runTs>/<table>/`,
  * parquet), latest = max committed directory name. Parquet per table replaces the
  * monolithic DB so the next run prunes columns/partitions on read instead
  * of copying everything.
  */
class SnapshotStore(root: String) {
  private def fs(spark: SparkSession) = {
    val conf = spark.sparkContext.hadoopConfiguration
    new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
  }

  private val commitMarker = "_graft_committed"

  /** Mark `runId` COMPLETE. Restore-point selection only considers
    * committed runs, so a run directory becomes the restore point once
    * every table is on disk — without the marker, a driver crash mid-write
    * left a partial run dir that the next run restored from: missing
    * carried-forward tables read as legitimately-absent (the S8 path)
    * while the already-written metadata advanced the watermark, so the
    * dropped delta was never re-fetched. `EtlRun` commits after its last
    * table write.
    */
  def commit(spark: SparkSession, runId: String): Unit = {
    val out = fs(spark).create(
      new org.apache.hadoop.fs.Path(s"$root/$runId/$commitMarker"), true)
    out.close()
  }

  def isCommitted(spark: SparkSession, runId: String): Boolean =
    fs(spark).exists(new org.apache.hadoop.fs.Path(s"$root/$runId/$commitMarker"))

  /** Latest COMMITTED run id under the root, by descending lexicographic
    * order — the reference's `get_latest_file` selection restricted to
    * runs that reached [[commit]], so a crashed or in-flight run dir is
    * never a restore point. `None` when no run committed: the next run
    * starts cold rather than from a partial snapshot.
    */
  def latestRun(spark: SparkSession): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val f = fs(spark)
    if (!f.exists(p)) None
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .sorted(Ordering[String].reverse)
      .find(isCommitted(spark, _))
  }

  def tablePath(runId: String, table: String): String = s"$root/$runId/$table"

  def write(df: DataFrame, runId: String, table: String): Unit =
    df.write.mode("overwrite").parquet(tablePath(runId, table))

  def read(spark: SparkSession, runId: String, table: String): DataFrame =
    spark.read.parquet(s"$root/$runId/$table")

  /** S8 — conditional scan: the reference checks `sqlite_master` before
    * copying carried-forward tables that older snapshots may lack.
    */
  def readIfExists(spark: SparkSession, runId: String, table: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$runId/$table")
    if (fs(spark).exists(p)) Some(spark.read.parquet(p.toString)) else None
  }
}
