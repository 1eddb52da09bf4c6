package graft

import org.apache.spark.sql.DataFrame
import graft.operators.Multimodal

/** Measurement harness for the perceptual near-dup family (dev tool,
  * test scope): SCALE.md's claims — the decode/fingerprint pass
  * dominates and is paid once behind the persisted hash frame, the
  * banding step pairs a vanishing fraction of the brute-force O(n²),
  * and the incremental path costs the batch, not the corpus — were
  * argued from the plan; this measures them at sf0.1. Run with
  * `sbt "Test/runMain graft.MediaScale"`; paste the table into SCALE.md.
  */
object MediaScale {

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = GraftSession.local("media-scale")
    val docs = sources.Tables.documents(spark, dir)
    val nDocs = docs.count()
    val brute = nDocs * (nDocs - 1) / 2
    println(s"corpus: $nDocs docs ($dir); brute-force pair space: $brute")

    def family(tag: String, media: DataFrame, fp: DataFrame => DataFrame,
               nearDup: DataFrame => DataFrame): Unit = {
      spark.catalog.clearCache()
      // decode + fingerprint: the pass the persisted hash frame amortizes
      val hashes = graft.util.Caching.ensurePersisted(fp(media))
      val (nFp, wallFp) = time(hashes.count())
      // banding + verify on the now-cached fingerprints (plan-equal cache
      // substitution makes the operator's own ensurePersisted a no-op read)
      val (nPairs, wallPairs) = time(nearDup(media).count())
      // candidate volume before the hamming verify, and the hottest bucket
      val banded = hashes.select(
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.posexplode(
          org.apache.spark.sql.functions.array((0 until 4).map { b =>
            org.apache.spark.sql.functions.shiftrightunsigned(
              org.apache.spark.sql.functions.col("phash"), b * 16)
              .bitwiseAND(org.apache.spark.sql.functions.lit(0xFFFFL))
          }: _*)))
        .toDF("doc_id", "band", "chunk")
      val cand = banded.as("a").join(banded.as("b"), Seq("band", "chunk"))
        .filter(org.apache.spark.sql.functions.col("a.doc_id") <
          org.apache.spark.sql.functions.col("b.doc_id"))
        .select(org.apache.spark.sql.functions.col("a.doc_id"),
          org.apache.spark.sql.functions.col("b.doc_id"))
        .distinct().count()
      val maxBucket = banded.groupBy("band", "chunk").count()
        .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
      println(f"$tag%7s fingerprint: $nFp rows in $wallFp%6.2f s | " +
        f"pairs: $nPairs in $wallPairs%6.2f s | candidates: $cand " +
        f"(${100.0 * cand / brute}%.3f%% of brute) | hottest bucket: $maxBucket")
    }

    family("images", Multimodal.syntheticImagesPatterned(docs),
      Multimodal.perceptualHash, m => Multimodal.nearDupHashes(Multimodal.perceptualHash(m)))
    family("audio", Multimodal.syntheticAudioPatterned(docs),
      Multimodal.audioFingerprint, m => Multimodal.nearDupAudio(m))

    // incremental: a 10% batch against the settled 90% fingerprint state —
    // the steady-state crawl shape. State pre-persisted (it IS the state).
    spark.catalog.clearCache()
    val media = Multimodal.syntheticImagesPatterned(docs)
    val split = (nDocs * 9) / 10
    val state = graft.util.Caching.ensurePersisted(Multimodal.perceptualHash(
      media.filter(org.apache.spark.sql.functions.col("doc_id") < split)))
    state.count()
    val batchFp = Multimodal.perceptualHash(
      media.filter(org.apache.spark.sql.functions.col("doc_id") >= split))
    val (nInc, wallInc) = time(
      Multimodal.nearDupAgainstBaseline(batchFp, state).count())
    val (nFull, wallFull) = time(Multimodal.nearDupHashes(Multimodal.perceptualHash(media)).count())
    println(f"incremental 10%% batch vs state: $nInc pairs in $wallInc%6.2f s | " +
      f"full self near-dup (state cached): $nFull pairs in $wallFull%6.2f s")

    spark.stop()
  }
}
