package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink
import graft.operators.Multimodal

/** Brute-force oracles for the multimodal plumbing:
  *
  *   - `decode` against REAL random grayscale PNGs built driver-side
  *     (ImageIO round-trip: width/height/mean must come from the same
  *     pixels that went in; corrupt and empty payloads yield the
  *     documented (0, 0, 0.0) row rather than an executor exception);
  *   - `sampleFrames` against driver-side byte-window slicing (tail
  *     window included, short payloads emit zero rows);
  *   - `resizeMeta` against the round-not-floor scale rule (the longest
  *     side of any downscaled image lands EXACTLY on maxSide).
  */
object MultimodalProps extends Properties("Multimodal") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withWorkers(1)

  private lazy val spark = SparkSpec.session

  private def png(w: Int, h: Int, px: Seq[Int]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var i = 0
    for (y <- 0 until h; x <- 0 until w) { img.getRaster.setSample(x, y, 0, px(i)); i += 1 }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private val imageGen: Gen[(Int, Int, List[Int])] = for {
    w <- Gen.choose(1, 8); h <- Gen.choose(1, 8)
    px <- Gen.listOfN(w * h, Gen.choose(0, 255))
  } yield (w, h, px)

  property("decode == the pixels that went in (plus corrupt/empty rows)") =
    forAllNoShrink(Gen.choose(1, 6).flatMap(m => Gen.listOfN(m, imageGen))) { imgs =>
      val s = spark; import s.implicits._
      val rows = imgs.zipWithIndex.map { case ((w, h, px), i) => (i.toLong, png(w, h, px)) } ++
        Seq((90L, Array[Byte](1, 2, 3)), (91L, Array.emptyByteArray)) // corrupt + empty
      val got = Multimodal.decode(rows.toDF("doc_id", "media"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
      val want = imgs.zipWithIndex.map { case ((w, h, px), i) =>
        (i.toLong, w, h, px.map(_.toLong).sum.toDouble / (w.toLong * h))
      }.toSet ++ Set((90L, 0, 0, 0.0), (91L, 0, 0, 0.0))
      got == want
    }

  property("sampleFrames == driver-side byte windows (tail window, short payloads)") =
    forAllNoShrink(
      Gen.choose(1, 5).flatMap(m => Gen.listOfN(m,
        Gen.choose(0, 40).flatMap(len => Gen.listOfN(len, Gen.choose(-128, 127).map(_.toByte))))),
      Gen.choose(1, 6), Gen.choose(1, 3)) { (payloads, frameBytes, stride) =>
      val s = spark; import s.implicits._
      val rows = payloads.zipWithIndex.map { case (p, i) => (i.toLong, p.toArray) }
      val got = Multimodal.sampleFrames(rows.toDF("doc_id", "media"), frameBytes, stride)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val want = rows.flatMap { case (id, bytes) =>
        val n = if (bytes.length >= frameBytes)
          (bytes.length - frameBytes) / (frameBytes * stride) + 1 else 0
        (0 until n).map { i =>
          val off = i * frameBytes * stride
          (id, i, java.util.Base64.getEncoder.encodeToString(
            bytes.slice(off, off + frameBytes)))
        }
      }.toSet
      got == want
    }

  // -- perceptual hash family ------------------------------------------------

  /** Driver-side mirror of Multimodal.gridSamples: NN sample at the 9×8
    * cell centers of a row-major pixel list.
    */
  private def mirrorSamples(w: Int, h: Int, px: Seq[Int]): Array[Int] = {
    val out = new Array[Int](72)
    for (j <- 0 until 8; i <- 0 until 9)
      out(j * 9 + i) = px(((2 * j + 1) * h / 16) * w + (2 * i + 1) * w / 18)
    out
  }

  private def mirrorHash(s: Array[Int]): Long = {
    var hash = 0L
    for (j <- 0 until 8; i <- 0 until 8)
      if (s(j * 9 + i + 1) > s(j * 9 + i)) hash |= 1L << (j * 8 + i)
    hash
  }

  property("perceptualHash == driver dHash; 2x NN upscale and PNG re-encode collapse; corrupt rows drop") =
    forAllNoShrink(Gen.choose(1, 5).flatMap(m => Gen.listOfN(m, for {
      w <- Gen.choose(1, 40); h <- Gen.choose(1, 40)
      px <- Gen.listOfN(w * h, Gen.choose(0, 255))
    } yield (w, h, px)))) { imgs =>
      val s = spark; import s.implicits._
      def reencode(bytes: Array[Byte]): Array[Byte] = {
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val rows = imgs.zipWithIndex.flatMap { case ((w, h, px), i) =>
        val up = for (y <- 0 until 2 * h; x <- 0 until 2 * w) yield px((y / 2) * w + x / 2)
        Seq((i.toLong, png(w, h, px)),                      // original
          (i.toLong + 100, png(2 * w, 2 * h, up)),          // exact 2x NN upscale
          (i.toLong + 200, reencode(png(w, h, px))))        // decode -> re-encode
      } ++ Seq((900L, Array[Byte](9, 9, 9)), (901L, Array.emptyByteArray))
      val got = Multimodal.perceptualHash(rows.toDF("doc_id", "media"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = imgs.zipWithIndex.flatMap { case ((w, h, px), i) =>
        val hh = mirrorHash(mirrorSamples(w, h, px))
        Seq(i.toLong -> hh, (i.toLong + 100) -> hh, (i.toLong + 200) -> hh)
      }.toMap
      got == want // corrupt/empty ids absent on both sides
    }

  property("nearDupImages == brute-force 16-bit banding + hamming over mirror hashes") =
    forAllNoShrink(Gen.choose(2, 6).flatMap(m => Gen.listOfN(m, for {
      w <- Gen.choose(1, 24); h <- Gen.choose(1, 24)
      px <- Gen.listOfN(w * h, Gen.choose(0, 255))
    } yield (w, h, px)))) { imgs =>
      val s = spark; import s.implicits._
      val rows = imgs.zipWithIndex.map { case ((w, h, px), i) => (i.toLong, png(w, h, px)) }
      val got = Multimodal.nearDupHashes(
          Multimodal.perceptualHash(rows.toDF("doc_id", "media")), maxBucket = 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val hashes = imgs.zipWithIndex.map { case ((w, h, px), i) =>
        i.toLong -> mirrorHash(mirrorSamples(w, h, px)) }
      val want = (for {
        (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
        if (0 until 4).exists(b => ((ha >>> (16 * b)) & 0xFFFFL) == ((hb >>> (16 * b)) & 0xFFFFL))
        ham = java.lang.Long.bitCount(ha ^ hb).toLong if ham <= 3
      } yield (ia, ib, ham)).toSet
      got == want
    }

  private def wav(samples: Seq[Int]): Array[Byte] = {
    val dataLen = samples.size * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(v => buf.putShort(v.toShort))
    buf.array()
  }

  private def mirrorAudioHash(samples: Seq[Int]): Long = {
    val spf = samples.size / 65
    val e = (0 until 65).map(f => samples.slice(f * spf, (f + 1) * spf).map(v => math.abs(v.toLong)).sum)
    var hash = 0L
    for (b <- 0 until 64) if (e(b + 1) > e(b)) hash |= 1L << b
    hash
  }

  property("audioFingerprint == driver energy-difference mirror; volume scaling collapses; corrupt/short rows drop") =
    forAllNoShrink(Gen.choose(1, 5).flatMap(m => Gen.listOfN(m, for {
      n <- Gen.choose(65, 400)
      smp <- Gen.listOfN(n, Gen.choose(-16000, 16000)) // headroom for the 2x twin
    } yield smp))) { clips =>
      val s = spark; import s.implicits._
      val rows = clips.zipWithIndex.flatMap { case (smp, i) =>
        Seq((i.toLong, wav(smp)),                           // original
          (i.toLong + 100, wav(smp.map(_ * 2))))            // 2x volume re-level
      } ++ Seq((900L, Array[Byte](9, 9, 9)), (901L, Array.emptyByteArray),
        (902L, wav(Seq.fill(64)(1000))))                    // shorter than one frame set
      val got = Multimodal.audioFingerprint(rows.toDF("doc_id", "media"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = clips.zipWithIndex.flatMap { case (smp, i) =>
        val h = mirrorAudioHash(smp)
        Seq(i.toLong -> h, (i.toLong + 100) -> h)
      }.toMap
      got == want // corrupt/empty/short ids absent on both sides
    }

  property("nearDupAudio == brute-force 16-bit banding + hamming over mirror fingerprints") =
    forAllNoShrink(Gen.choose(2, 6).flatMap(m => Gen.listOfN(m, for {
      n <- Gen.choose(65, 260)
      smp <- Gen.listOfN(n, Gen.choose(-32000, 32000))
    } yield smp))) { clips =>
      val s = spark; import s.implicits._
      val rows = clips.zipWithIndex.map { case (smp, i) => (i.toLong, wav(smp)) }
      val got = Multimodal.nearDupAudio(rows.toDF("doc_id", "media"), maxBucket = 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val hashes = clips.zipWithIndex.map { case (smp, i) => i.toLong -> mirrorAudioHash(smp) }
      val want = (for {
        (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
        if (0 until 4).exists(b => ((ha >>> (16 * b)) & 0xFFFFL) == ((hb >>> (16 * b)) & 0xFFFFL))
        ham = java.lang.Long.bitCount(ha ^ hb).toLong if ham <= 3
      } yield (ia, ib, ham)).toSet
      got == want
    }

  property("nearDupAgainstBaseline == brute-force CROSS-side banding + hamming (split by index parity)") =
    forAllNoShrink(Gen.choose(2, 6).flatMap(m => Gen.listOfN(m, for {
      w <- Gen.choose(1, 24); h <- Gen.choose(1, 24)
      px <- Gen.listOfN(w * h, Gen.choose(0, 255))
    } yield (w, h, px)))) { imgs =>
      val s = spark; import s.implicits._
      val rows = imgs.zipWithIndex.map { case ((w, h, px), i) => (i.toLong, png(w, h, px)) }
      val inc = rows.filter(_._1 % 2 == 0).toDF("doc_id", "media")
      val bas = rows.filter(_._1 % 2 == 1).toDF("doc_id", "media")
      val got = Multimodal.nearDupAgainstBaseline(
          Multimodal.perceptualHash(inc), Multimodal.perceptualHash(bas), maxBucket = 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val hashes = imgs.zipWithIndex.map { case ((w, h, px), i) =>
        i.toLong -> mirrorHash(mirrorSamples(w, h, px)) }
      val want = (for {
        (ii, hi) <- hashes if ii % 2 == 0; (ib, hb) <- hashes if ib % 2 == 1
        if (0 until 4).exists(b => ((hi >>> (16 * b)) & 0xFFFFL) == ((hb >>> (16 * b)) & 0xFFFFL))
        ham = java.lang.Long.bitCount(hi ^ hb).toLong if ham <= 3
      } yield (ii, ib, ham)).toSet
      got == want
    }

  property("imageEmbedding == mirror grid / 255") =
    forAllNoShrink(Gen.choose(1, 4).flatMap(m => Gen.listOfN(m, for {
      w <- Gen.choose(1, 30); h <- Gen.choose(1, 30)
      px <- Gen.listOfN(w * h, Gen.choose(0, 255))
    } yield (w, h, px)))) { imgs =>
      val s = spark; import s.implicits._
      val rows = imgs.zipWithIndex.map { case ((w, h, px), i) => (i.toLong, png(w, h, px)) }
      val got = Multimodal.embeddingFromGrid(Multimodal.imageGrid(rows.toDF("doc_id", "media")))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toVector).toMap
      val want = imgs.zipWithIndex.map { case ((w, h, px), i) =>
        i.toLong -> mirrorSamples(w, h, px).map(_.toDouble / 255.0).toVector
      }.toMap
      got == want
    }

  property("collapseNearDupMedia keeps the max-score member of every connected component") =
    forAllNoShrink(Gen.choose(3, 12).flatMap { m =>
      for {
        // hashes drawn from a SMALL perturbed pool so banding collides and
        // clusters span >2 members; integral scores with deliberate ties
        hs <- Gen.listOfN(m, for {
          base <- Gen.oneOf(0x0123456789abcdefL, 0x7777000011112222L, -1L)
          flip <- Gen.choose(0, 2)
          bits <- Gen.listOfN(flip, Gen.choose(0, 63))
        } yield bits.foldLeft(base)((h, b) => h ^ (1L << b)))
        sc <- Gen.listOfN(m, Gen.choose(0, 3).map(_.toDouble))
      } yield hs.zip(sc).zipWithIndex.map { case ((h, s), i) => (i.toLong, h, s) }
    }) { rows =>
      val s = spark; import s.implicits._
      val hashes = rows.map(r => (r._1, r._2)).toDF("doc_id", "phash")
      val got = graft.operators.Dedup.collapseKeepBest(
          hashes.select("doc_id"),
          Multimodal.nearDupHashes(hashes, maxBucket = 1000000),
          rows.map(r => (r._1, r._3)).toDF("doc_id", "score"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      // mirror: brute banded pairs -> union-find -> max-score (tie min id)
      val pairs = for {
        (ia, ha, _) <- rows; (ib, hb, _) <- rows if ia < ib
        if (0 until 4).exists(b => ((ha >>> (16 * b)) & 0xFFFFL) == ((hb >>> (16 * b)) & 0xFFFFL))
        if java.lang.Long.bitCount(ha ^ hb) <= 3
      } yield (ia, ib)
      val parent = scala.collection.mutable.Map(rows.map(r => r._1 -> r._1): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val comps = rows.groupBy(r => find(r._1))
      val want = comps.map { case (root, members) =>
        val best = members.minBy(r => (-r._3, r._1))
        (best._1, root, members.size.toLong, best._3)
      }.toSet
      got == want
    }

  /** Length-prefixed PNG frame container (the syntheticVideoPatterned
    * wire format) from per-frame pixel grids.
    */
  private def videoPayload(frames: Seq[(Int, Int, Seq[Int])]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    frames.foreach { case (w, h, px) =>
      val bytes = png(w, h, px)
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    bos.toByteArray
  }

  /** Mirror of videoSketch ∘ videoFrameHashes: per-frame mirror dHash,
    * then distinct sliding-window minima (signed Long min, window w).
    */
  private def mirrorVideoSketch(frames: Seq[(Int, Int, Seq[Int])], w: Int): Set[Long] = {
    val hs = frames.map { case (fw, fh, px) => mirrorHash(mirrorSamples(fw, fh, px)) }
    val n = math.max(hs.size - w + 1, 1)
    (0 until n).map(s => hs.slice(s, s + w).min).toSet
  }

  property("nearDupVideo == brute-force winnow-sketch intersections; a trimmed rescale pairs") =
    forAllNoShrink(Gen.choose(2, 4).flatMap(m => Gen.listOfN(m, for {
      nf <- Gen.choose(6, 10)
      // 9x4 block levels per frame; rendered at two sizes so the twin is
      // a genuine rescale (block pattern in normalized coordinates)
      pats <- Gen.listOfN(nf, Gen.listOfN(36, Gen.choose(0, 6).map(l => 30 + 30 * l)))
      trim <- Gen.choose(1, 2)
    } yield (pats, trim)))) { vids =>
      val s = spark; import s.implicits._
      def render(pats: Seq[Seq[Int]], w: Int, h: Int): Seq[(Int, Int, Seq[Int])] =
        pats.map { bv =>
          (w, h, for (y <- 0 until h; x <- 0 until w) yield bv((y * 4 / h) * 9 + x * 9 / w))
        }
      // original at 18x16; twin = SAME pattern stream at 27x32 (dimension-
      // independent grid geometry), trimmed by `trim` leading frames
      val rendered = vids.zipWithIndex.flatMap { case ((pats, trim), i) =>
        Seq((i.toLong, render(pats, 18, 16)),
          ((i + 100).toLong, render(pats.drop(trim), 27, 32)))
      }
      val rows = rendered.map { case (id, frames) => (id, videoPayload(frames)) }
      val got = Multimodal.nearDupVideoSketches(
          Multimodal.videoSketch(Multimodal.videoFrameHashes(rows.toDF("doc_id", "media")), w = 4),
          minShared = 2, maxBucket = 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val sketches = rendered.map { case (id, frames) => id -> mirrorVideoSketch(frames, 4) }
      val want = (for {
        (ia, ska) <- sketches; (ib, skb) <- sketches if ia < ib
        shared = (ska intersect skb).size.toLong if shared >= 2
      } yield (ia, ib, shared)).toSet
      // the planted twin must actually pair once the overlap guarantees
      // >= 2 distinct shared minima: one sketch value covers at most w
      // consecutive windows, so m shared windows force ceil(m/4) distinct
      // shared minima — m = (nf - trim) - 3 >= 5 i.e. nf - trim >= 8
      val twinsPaired = vids.indices.forall { i =>
        val (pats, trim) = vids(i)
        pats.size - trim < 8 || got.exists(p => p._1 == i.toLong && p._2 == (i + 100).toLong)
      }
      got == want && twinsPaired
    }

  property("nearDupVideoAgainstBaseline == brute CROSS-side sketch intersections (split by parity)") =
    forAllNoShrink(Gen.choose(3, 6).flatMap(m => Gen.listOfN(m, for {
      nf <- Gen.choose(5, 9)
      pats <- Gen.listOfN(nf, Gen.listOfN(36, Gen.choose(0, 6).map(l => 30 + 30 * l)))
    } yield pats))) { vids =>
      val s = spark; import s.implicits._
      def render(pats: Seq[Seq[Int]]): Seq[(Int, Int, Seq[Int])] =
        pats.map { bv =>
          (18, 16, for (y <- 0 until 16; x <- 0 until 18) yield bv((y * 4 / 16) * 9 + x * 9 / 18))
        }
      val rendered = vids.zipWithIndex.map { case (pats, i) => (i.toLong, render(pats)) }
      val sketches = rendered.map { case (id, fr) => id -> mirrorVideoSketch(fr, 4) }
      val rows = rendered.map { case (id, fr) => (id, videoPayload(fr)) }
      val sk = graft.operators.Multimodal.videoSketch(
        graft.operators.Multimodal.videoFrameHashes(rows.toDF("doc_id", "media")), w = 4)
      val got = graft.operators.Multimodal.nearDupVideoAgainstBaseline(
          sk.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1),
          sk.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0),
          minShared = 1, maxBucket = 1000000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val want = (for {
        (ii, si) <- sketches if ii % 2 == 1; (ib, sb) <- sketches if ib % 2 == 0
        shared = (si intersect sb).size.toLong if shared >= 1
      } yield (ii, ib, shared)).toSet
      got == want
    }

  /** JPEG re-encode at quality ~0.7 for the robustness property: the
    * lossy-production case the graded PNG fixture cannot exercise.
    */
  private def jpeg(bytes: Array[Byte], quality: Float): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    writer.dispose(); ios.close()
    bos.toByteArray
  }

  property("JPEG q0.7 re-encode lands within hamming 3 of its source; distinct patterns stay apart") =
    forAllNoShrink(Gen.choose(2, 4).flatMap(m => Gen.listOfN(m,
      // 9x8 cell pattern, 3 levels, HORIZONTALLY adjacent cells distinct:
      // every dHash comparison is a >=90-brightness step, far above JPEG's
      // flat-block DC quantization error (single-digit at q0.7), so the
      // gradient SIGNS survive lossy re-encoding — the invariance claim.
      // Equal adjacent cells would make those bits DC-noise coin flips,
      // which is a fixture artifact, not an operator property.
      Gen.listOfN(72, Gen.choose(0, 2)).map { raw =>
        val lv = Array(30, 120, 210)
        val cells = new Array[Int](72)
        for (j <- 0 until 8; i <- 0 until 9) {
          val want = lv(raw(j * 9 + i))
          cells(j * 9 + i) =
            if (i > 0 && want == cells(j * 9 + i - 1)) lv((raw(j * 9 + i) + 1) % 3)
            else want
        }
        cells
      }))) { pats =>
      val s = spark; import s.implicits._
      // 72x64 render: cells are exactly the 8x8 JPEG DCT blocks and the
      // 9x8 grid samples land at cell centers (gx = 8i+4, gy = 8j+4)
      def render(cells: Array[Int]): Array[Byte] = {
        val px = for (y <- 0 until 64; x <- 0 until 72) yield cells((y / 8) * 9 + x / 8)
        png(72, 64, px)
      }
      val rows = pats.zipWithIndex.flatMap { case (cells, i) =>
        val p = render(cells)
        Seq((i.toLong, p), (i.toLong + 100, jpeg(p, 0.7f)))
      }
      val h = Multimodal.perceptualHash(rows.toDF("doc_id", "media"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val twinsClose = pats.indices.forall(i =>
        java.lang.Long.bitCount(h(i.toLong) ^ h(i.toLong + 100)) <= 3)
      val distinctApart = (for {
        i <- pats.indices; j <- pats.indices if i < j
      } yield java.lang.Long.bitCount(h(i.toLong) ^ h(j.toLong)) > 3).forall(identity)
      twinsClose && distinctApart
    }

  property("resizeMeta: round-not-floor; downscaled longest side == maxSide exactly") =
    forAllNoShrink(
      Gen.choose(1, 4).flatMap(m => Gen.listOfN(m, Gen.zip(Gen.choose(1, 500), Gen.choose(1, 500)))),
      Gen.choose(10, 200)) { (dims, maxSide) =>
      val s = spark; import s.implicits._
      val rows = dims.zipWithIndex.map { case ((w, h), i) => (i.toLong, "png", w, h) }
      val media = rows.toDF("doc_id", "format", "w", "h")
        .selectExpr("doc_id", "named_struct('format', format, 'width', w, 'height', h) AS meta")
      val got = Multimodal.resizeMeta(media, maxSide)
        .selectExpr("doc_id", "meta.width", "meta.height")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
      val want = dims.zipWithIndex.map { case ((w, h), i) =>
        val longest = math.max(w, h)
        if (longest <= maxSide) (i.toLong, w, h)
        else {
          val scale = maxSide.toDouble / longest
          def r6(x: Double) = BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toInt
          (i.toLong, r6(w * scale), r6(h * scale))
        }
      }.toSet
      val longestExact = got.forall { case (i, w2, h2) =>
        val (w, h) = dims(i.toInt)
        math.max(w, h) <= maxSide || math.max(w2, h2) == maxSide
      }
      got == want && longestExact
    }
}
