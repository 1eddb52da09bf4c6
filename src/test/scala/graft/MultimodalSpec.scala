package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal

class MultimodalSpec extends SparkSpec {

  private def docs = {
    val s = spark; import s.implicits._
    Seq((1L, "abc"), (2L, "a longer document body for width variation"))
      .toDF("doc_id", "text")
  }

  test("syntheticMedia: binary payload with typed metadata") {
    val m = Multimodal.syntheticMedia(docs)
    assert(m.schema("media").dataType.typeName == "binary")
    val r = m.orderBy("doc_id").collect()
    assert(r(0).getAs[Array[Byte]]("media").length == 16) // md5 = 16 bytes
    val meta = r(0).getStruct(2)
    assert(meta.getString(0) == "fake/rgb8")
    assert(meta.getInt(1) == 64 + 3) // width = 64 + len("abc") % 512
    assert(meta.getInt(2) == 64 + 7) // height = 64 + (1*7) % 512
  }

  test("syntheticImages emits genuine PNG bytes; decode reads pixels back out") {
    val media = Multimodal.syntheticImages(docs).orderBy("doc_id").collect()
    // PNG signature: 89 50 4E 47 0D 0A 1A 0A
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    media.foreach { r =>
      assert(r.getAs[Array[Byte]]("media").take(8).toSeq == sig.toSeq)
      assert(r.getStruct(2).getString(0) == "image/png")
    }
    val out = Multimodal.decode(Multimodal.syntheticImages(docs))
      .orderBy("doc_id").collect()
    // doc 1, "abc": w = 8 + 3 = 11, h = 8 + 7 = 15; pixel = (1 + x + y) % 256
    // — dims must come from the DECODED image, mean from the raster
    assert(out(0).getAs[Int]("width") == 11)
    assert(out(0).getAs[Int]("height") == 15)
    val expected = (for (y <- 0 until 15; x <- 0 until 11) yield (1 + x + y) % 256)
      .sum.toDouble / (11 * 15)
    assert(out(0).getAs[Double]("mean_px") == expected)
  }

  test("syntheticAudio emits genuine RIFF/WAV bytes; decodeAudio reads samples back out") {
    val media = Multimodal.syntheticAudio(docs).orderBy("doc_id").collect()
    media.foreach { r =>
      val b = r.getAs[Array[Byte]]("media")
      assert(new String(b.take(4), "US-ASCII") == "RIFF")
      assert(new String(b.slice(8, 12), "US-ASCII") == "WAVE")
      assert(r.getStruct(2).getString(0) == "audio/wav")
    }
    val out = Multimodal.decodeAudio(Multimodal.syntheticAudio(docs))
      .orderBy("doc_id").collect()
    // doc 1, "abc": n = 100 + 3 = 103 samples at 8000 Hz; the mean must
    // come from the DECODED sample stream, not the header
    assert(out(0).getAs[Int]("sample_rate") == 8000)
    assert(out(0).getAs[Int]("n_samples") == 103)
    val expected = (0 until 103).map(i => ((1L * 31 + i * 7) % 65536) - 32768)
      .sum.toDouble / 103
    assert(out(0).getAs[Double]("mean_sample") == expected)
  }

  test("decodeAudio: undecodable payloads yield a zero feature row, not a crash") {
    val s = spark; import s.implicits._
    val junk = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array.emptyByteArray))
      .toDF("doc_id", "media")
    val out = Multimodal.decodeAudio(junk).orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getAs[Int]("sample_rate") == 0 && r.getAs[Int]("n_samples") == 0
        && r.getAs[Double]("mean_sample") == 0.0)
    }
  }

  test("decode: undecodable or empty payloads yield a zero feature row, not a crash") {
    val s = spark; import s.implicits._
    val junk = Seq((1L, Array[Byte](1, 2, 3)), (2L, Array.emptyByteArray))
      .toDF("doc_id", "media")
    val out = Multimodal.decode(junk).orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getAs[Int]("width") == 0 && r.getAs[Int]("height") == 0
        && r.getAs[Double]("mean_px") == 0.0)
    }
  }

  test("resizeMeta: scales the long side to maxSide, preserves aspect") {
    val s = spark; import s.implicits._
    val media = Seq((1L, Array[Byte](1), ("f", 640, 480)), (2L, Array[Byte](1), ("f", 100, 50)))
      .toDF("doc_id", "media", "meta")
      .withColumn("meta", struct(col("meta._1").as("format"),
        col("meta._2").as("width"), col("meta._3").as("height")))
    val out = Multimodal.resizeMeta(media, 256).orderBy("doc_id")
      .select("meta.width", "meta.height").collect()
    assert((out(0).getInt(0), out(0).getInt(1)) == (256, 192)) // 640x480 -> 256x192
    assert((out(1).getInt(0), out(1).getInt(1)) == (100, 50))  // under maxSide: untouched
  }

  test("sampleFrames: byte-window frames at the right offsets") {
    val s = spark; import s.implicits._
    val payload = (0 until 32).map(_.toByte).toArray // 32 bytes
    val media = Seq((9L, payload)).toDF("doc_id", "media")
    // frameBytes=4, stride=2: 32/(4*2)=4 frames at byte offsets 0,8,16,24
    val frames = Multimodal.sampleFrames(media, 4, 2).orderBy("frame_no").collect()
    assert(frames.length == 4)
    val dec = java.util.Base64.getDecoder
    frames.zipWithIndex.foreach { case (r, i) =>
      assert(dec.decode(r.getString(2)).toSeq == payload.slice(i * 8, i * 8 + 4).toSeq)
    }
  }

  test("sampleFrames: tail window kept when fully in bounds; sub-frame payload emits zero rows") {
    val s = spark; import s.implicits._
    // len=10, frameBytes=2, stride=2: windows at 0,4,8 — ALL in bounds (3
    // frames; the old len/(fb*stride) formula dropped the tail one)
    val media = Seq((1L, (0 until 10).map(_.toByte).toArray),
      (2L, Array[Byte](1)), (3L, Array.emptyByteArray)).toDF("doc_id", "media")
    val out = Multimodal.sampleFrames(media, 2, 2)
      .groupBy("doc_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L)) // docs 2 and 3: shorter than one frame -> no rows
  }

  test("resizeMeta: longest side lands on exactly maxSide (no floor off-by-one)") {
    val s = spark; import s.implicits._
    // 300x200 @ max 100: 100/300 in binary is just under 1/3 — floor gave 99
    val media = Seq((1L, Array[Byte](1), ("f", 300, 200))).toDF("doc_id", "media", "meta")
      .withColumn("meta", struct(col("meta._1").as("format"),
        col("meta._2").as("width"), col("meta._3").as("height")))
    val out = Multimodal.resizeMeta(media, 100).select("meta.width", "meta.height").head()
    assert((out.getInt(0), out.getInt(1)) == (100, 67))
  }

  test("nearDupImages: resized/edited twins collapse, distinct patterns survive, byte dedup sees nothing") {
    val s = spark; import s.implicits._
    // ids 1..20 with varied text lengths: doc 9 and 18 are the planted
    // twins (pattern of 8 and 17 at different dims + one bumped block)
    val fixture = (1L to 20L).map(i => (i, "x" * (3 + i.toInt * 5 % 29))).toDF("doc_id", "text")
    val media = Multimodal.syntheticImagesPatterned(fixture)
    // byte-exact dedup finds NO classes: every payload differs (dims differ)
    assert(Multimodal.dedupBinary(media).count() == 20)
    val pairs = Multimodal.nearDupHashes(Multimodal.perceptualHash(media))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // both planted twins found, within the hamming budget
    assert(pairs.contains((8L, 9L)) && pairs((8L, 9L)) <= 3)
    assert(pairs.contains((17L, 18L)) && pairs((17L, 18L)) <= 3)
    // a deliberately distinct pattern pair survives: k=1 vs k=2 have
    // different 7-level profiles -> far in hamming space
    assert(!pairs.contains((1L, 2L)))
  }

  test("nearDupAudio: re-levelled/edited twins collapse, distinct envelopes survive, byte dedup sees nothing") {
    val s = spark; import s.implicits._
    // same shape as the image fixture: docs 9 and 18 are the planted
    // twins (envelope of 8 and 17 at 2x volume + one bumped frame)
    val fixture = (1L to 20L).map(i => (i, "x" * (3 + i.toInt * 5 % 29))).toDF("doc_id", "text")
    val media = Multimodal.syntheticAudioPatterned(fixture)
    // byte-exact dedup finds NO classes: frame lengths and volumes differ
    assert(Multimodal.dedupBinary(media).count() == 20)
    val pairs = Multimodal.nearDupAudio(media)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // both planted twins found; the one-frame bump flips at most the two
    // adjacent difference signs
    assert(pairs.contains((8L, 9L)) && pairs((8L, 9L)) <= 2)
    assert(pairs.contains((17L, 18L)) && pairs((17L, 18L)) <= 2)
    // distinct envelope classes stay apart
    assert(!pairs.contains((1L, 2L)))
  }

  test("nearDupAgainstBaseline: cross-side pairs only; intra-side twins stay silent") {
    val s = spark; import s.implicits._
    // baseline 1..10 (twin 8~9 INSIDE it), incoming 11..20 (twin 17~18
    // INSIDE it) plus 257 — pattern k=1, same as baseline doc 1 at
    // different dimensions: the one genuine cross-side near-dup
    val fixture = ((1L to 20L) :+ 257L).map(i => (i, "x" * (3 + i.toInt * 5 % 29))).toDF("doc_id", "text")
    val media = Multimodal.syntheticImagesPatterned(fixture)
    val pairs = Multimodal.nearDupAgainstBaseline(
        Multimodal.perceptualHash(media.filter($"doc_id" > 10)),
        Multimodal.perceptualHash(media.filter($"doc_id" <= 10)))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((257L, 1L)) && pairs((257L, 1L)) == 0L)
    // intra-side near-dups are NOT re-adjudicated
    assert(!pairs.keySet.exists { case (a, b) => (a <= 10 && b <= 10) || (a > 10 && b > 10) })
    assert(!pairs.contains((9L, 8L)) && !pairs.contains((18L, 17L)))
  }

  test("nearDupAgainstBaseline: a re-crawled id's BOTH fingerprint versions pair independently") {
    // The r22 fused-verify restructure dedups on (id_in, id_bas, ph_in,
    // ph_bas) instead of joining hashes back by id — for the unique-id
    // frames the operators document these are identical, and this pin
    // covers the one frame shape where they could drift: an evolved STATE
    // carrying two fingerprint versions of one re-crawled id (the
    // advanceFingerprints append-only contract). Every qualifying
    // (incoming, version) combo must surface as its own row, exactly the
    // old join-back multiplicity.
    val s = spark; import s.implicits._
    // baseline id 1 carries TWO versions: one at hamming 1 from the
    // incoming hash (bit 0 flipped), one at hamming 2 (bits 1,2 flipped);
    // a third version is far away (hamming > 3 but sharing NO chunk would
    // be impossible to pair anyway — use all four chunks distinct)
    val incoming = Seq((100L, 0x1111_2222_3333_4444L)).toDF("doc_id", "phash")
    val near1 = 0x1111_2222_3333_4445L // flip bit 0: hamming 1, chunks 0..2 shared
    val near2 = 0x1111_2222_3333_4443L // 0x4 ^ 0x3 = 0b0111: hamming 3
    val far = 0x5555_6666_7777_8888L   // no shared chunk, hamming large
    val baseline = Seq((1L, near1), (1L, near2), (1L, far)).toDF("doc_id", "phash")
    val got = Multimodal.nearDupAgainstBaseline(incoming, baseline)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    // one row PER qualifying version, same (id_in, id_bas) key twice
    assert(got.toSeq == Seq((100L, 1L, 1L), (100L, 1L, 3L)))
  }

  test("audioFingerprint: volume and frame-length invariant; sub-65-sample or corrupt payloads dropped") {
    val s = spark; import s.implicits._
    // one pattern rendered three ways: base, 3x volume, different frame
    // length — all three must hash IDENTICALLY (k = doc_id % 256 with no
    // twin plant at these ids, so same doc text => same envelope)
    val base = Multimodal.syntheticAudioPatterned(Seq((1L, "x" * 10)).toDF("doc_id", "text"))
    val stretched = Multimodal.syntheticAudioPatterned(Seq((257L, "x" * 25)).toDF("doc_id", "text"))
    val h1 = Multimodal.audioFingerprint(base).head().getLong(1)
    val h2 = Multimodal.audioFingerprint(stretched).head().getLong(1)
    assert(h1 == h2) // k = 1 mod 256 both; spf differs (50 vs 65)
    val junk = Seq(
      (1L, Array[Byte](1, 2, 3), ("audio/wav", 0, 0)),
      (2L, Array.emptyByteArray, ("audio/wav", 0, 0)),
    ).toDF("doc_id", "media", "meta")
    assert(Multimodal.audioFingerprint(junk).count() == 0)
  }

  test("imageEmbedding bridges decoded pixels into cosineNearDup: twins pair near 1.0") {
    val s = spark; import s.implicits._
    val fixture = (1L to 20L).map(i => (i, "x" * (3 + i.toInt * 5 % 29))).toDF("doc_id", "text")
    val emb = Multimodal.embeddingFromGrid(
      Multimodal.imageGrid(Multimodal.syntheticImagesPatterned(fixture)))
    assert(emb.count() == 20 && emb.head().getSeq[Double](1).size == 72)
    val pairs = graft.operators.Similarity
      .cosineNearDup(emb, threshold = 0.9, dim = 72, nPlanes = 8, idCol = "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((8L, 9L)) && pairs((8L, 9L)) >= 0.9)
    assert(!pairs.contains((1L, 2L)))
  }

  test("videoFrameHashes: frames hash in order; malformed length prefix stops that payload only") {
    val s = spark; import s.implicits._
    def png(v: Int): Array[Byte] = {
      // phase-shifted stripes, not a ramp: a monotone ramp dHashes to
      // all-ones regardless of v, which would make distinct frames collide
      val img = new java.awt.image.BufferedImage(18, 16, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 16; x <- 0 until 18)
        img.getRaster.setSample(x, y, 0, if (((x / 2) + v) % 2 == 0) 40 else 220)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    def framed(frames: Array[Byte]*): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.DataOutputStream(bos)
      frames.foreach { f => out.writeInt(f.length); out.write(f) }
      bos.toByteArray
    }
    val good = framed(png(10), png(11))
    // one valid frame, then a length prefix pointing past the payload end
    val truncated = framed(png(10)) ++ Array[Byte](0, 0, 64, 0, 1, 2, 3)
    val media = Seq((1L, good), (2L, truncated), (3L, Array.emptyByteArray))
      .toDF("doc_id", "media")
    val out = Multimodal.videoFrameHashes(media).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(out.keySet == Set((1L, 0), (1L, 1), (2L, 0)))
    assert(out((1L, 0)) == out((2L, 0))) // same frame bytes, same hash
    assert(out((1L, 0)) != out((1L, 1))) // distinct frames, distinct hashes
  }

  test("dedupBinary: byte-identical payloads collapse keep-first, hex output") {
    val s = spark; import s.implicits._
    val media = Seq(
      (3L, Array[Byte](1, 2)), (1L, Array[Byte](1, 2)),   // dup class, min id 1
      (2L, Array[Byte](1, 3)),                            // unique
      (4L, Array.emptyByteArray)).toDF("doc_id", "media") // empty payload is a class too
    val out = Multimodal.dedupBinary(media).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out == Map(1L -> (("0102", 2L)), 2L -> (("0103", 1L)), 4L -> (("", 1L))))
  }

  test("hostile bytes: decompression-bomb header, fuzzed media, and zero-channel WAV degrade to corrupt-bytes rows") {
    val s2 = spark; import s2.implicits._
    // a VALID tiny PNG whose IHDR is patched to declare a multi-GB
    // raster (CRC recomputed, so the header parses cleanly): the
    // dimension budget must reject it BEFORE any raster allocation
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val bomb = bos.toByteArray.clone()
    def putInt(off: Int, v: Int): Unit = {
      bomb(off) = (v >>> 24).toByte; bomb(off + 1) = (v >>> 16).toByte
      bomb(off + 2) = (v >>> 8).toByte; bomb(off + 3) = v.toByte
    }
    putInt(16, 60000); putInt(20, 60000) // IHDR width/height
    val crc = new java.util.zip.CRC32()
    crc.update(bomb, 12, 4 + 13) // chunk type + IHDR data
    putInt(12 + 4 + 13, crc.getValue.toInt)
    // fuzzed payload: a PNG signature followed by garbage — whatever the
    // JDK reader throws (often a RuntimeException) must read as data
    val fuzz = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10) ++
      Array.tabulate[Byte](64)(i => (i * 37 + 11).toByte)
    val media = Seq((1L, bomb), (2L, fuzz)).toDF("doc_id", "media")
    val out = Multimodal.decode(media).orderBy("doc_id").collect()
    assert(out.length == 2)
    out.foreach(r => assert(r.getAs[Int]("width") == 0 && r.getAs[Int]("height") == 0))
    // the grid/hash layer takes the same guard path
    assert(Multimodal.perceptualHash(media).count() == 0L)
    // a WAV whose fmt chunk declares 0 channels / 0 block align makes the
    // JDK reader divide by a zero frame size — corrupt data, not a crash
    val wav = java.nio.ByteBuffer.allocate(48)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes("US-ASCII")).putInt(40)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(0) // PCM, ZERO channels
      .putInt(8000).putInt(0)
      .putShort(0)             // ZERO block align
      .putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(4)
    val badWav = Seq((1L, wav.array())).toDF("doc_id", "media")
    val a = Multimodal.decodeAudio(badWav).collect()
    assert(a.length == 1 && a.head.getAs[Int]("sample_rate") == 0)
  }
}
