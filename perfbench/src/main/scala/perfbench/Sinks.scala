package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sinks.Sinks
import graft.sources.SnapshotStore

/** The snapshot store the engine writes through, with each table write and
  * the commit in their own span (the writes are where the lazy stages run).
  */
final class MeteredStore(root: String, tracer: Tracer) extends SnapshotStore(root) {
  override def write(df: DataFrame, runId: String, table: String): Unit =
    tracer.span(s"write.$table")(super.write(df, runId, table))
  override def commit(spark: SparkSession, runId: String): Unit =
    tracer.span("commit")(super.commit(spark, runId))
}

/** The engine's in-memory artifact store and notifier, with each call in its
  * own span.
  */
final class TracedArtifacts(tracer: Tracer) extends Sinks.ArtifactStore {
  val fake = new Sinks.FakeArtifactStore
  override def upload(localPath: String, bucket: String, key: String, expirySeconds: Int): String =
    tracer.span("upload")(fake.upload(localPath, bucket, key, expirySeconds))
}

final class TracedNotifier(tracer: Tracer) extends Sinks.Notifier {
  val fake = new Sinks.CollectingNotifier
  override def publish(topic: String, value: String, headers: Map[String, String]): Unit =
    tracer.span("publish")(fake.publish(topic, value, headers))
}

object Headers {
  val contract: Set[String] = Set("etl-name", "etl-started-at", "etl-finished-at",
    "artifact-uploaded-at", "etl-duration-seconds", "s3-bucket", "s3-key",
    "presigned-url-expiry-seconds")

  private def instant(s: String): java.time.Instant = java.time.OffsetDateTime.parse(s).toInstant

  /** Problems with one run's upload and announcement (empty when sound):
    * one upload, one publish, the eight headers, and a published value equal
    * to the URL the upload returned, so publish followed the upload.
    */
  def problems(artifacts: Sinks.FakeArtifactStore, notifier: Sinks.CollectingNotifier, uploadedUrl: String,
               etlName: String, bucket: String, topic: String): Seq[String] = {
    if (artifacts.uploads.size != 1 || notifier.records.size != 1)
      return Seq(s"expected one upload and one publish, got ${artifacts.uploads.size} and ${notifier.records.size}")
    val (_, _, key) = artifacts.uploads.head
    val (publishedTopic, value, headers) = notifier.records.head
    val out = Seq.newBuilder[String]
    if (value != uploadedUrl || publishedTopic != topic) out += "published value/topic"
    if (headers.keySet != contract) out += s"header set ${headers.keySet.toSeq.sorted.mkString(",")}"
    else {
      if (headers("etl-name") != etlName) out += "etl-name"
      if (headers("s3-bucket") != bucket || headers("s3-key") != key) out += "s3 bucket/key"
      if (!headers("etl-duration-seconds").matches("""\d+\.\d{3}""")) out += "etl-duration-seconds format"
      val (s, f, u) = (instant(headers("etl-started-at")), instant(headers("etl-finished-at")),
        instant(headers("artifact-uploaded-at")))
      if (s.isAfter(f) || f.isAfter(u)) out += "header timestamps out of order"
    }
    out.result()
  }
}
