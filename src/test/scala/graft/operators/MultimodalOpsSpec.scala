package graft.operators

import graft.SparkSpec

/** The REAL decode path (javax.imageio) — not the deterministic fake. */
class MultimodalOpsSpec extends SparkSpec {

  test("ImageIoCodec decodes real PNG bytes: header dims + full pixel round trip") {
    val bytes = MultimodalOps.syntheticPng(docId = 7L, w = 13, h = 9)
    // a real PNG came out of the encoder (magic bytes)
    assert((bytes(1) & 0xff, bytes(2) & 0xff, bytes(3) & 0xff) === (0x50, 0x4e, 0x47))

    // header-level decode (the codec under test)
    val f = ImageIoCodec.decode(MediaRecord(7L, "image/png", bytes))
    assert(f.width === 13)
    assert(f.height === 9)
    assert(f.n_frames === 1)
    assert(f.byte_len === bytes.length.toLong)

    // full pixel decode: PNG is lossless, so every pixel must match the
    // generator's gradient exactly — proves real bytes→pixels, not metadata
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    for (y <- 0 until 9; x <- 0 until 13)
      assert((img.getRGB(x, y) & 0xffffff) === ((x * 31 + y * 17 + 7L) & 0xffffff).toInt,
        s"pixel ($x,$y)")
  }

  test("ImageIoCodec sniffs the container format, not the mime string (BMP)") {
    val img = new java.awt.image.BufferedImage(5, 3,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    val f = ImageIoCodec.decode(MediaRecord(1L, "application/octet-stream", bos.toByteArray))
    assert((f.width, f.height) === (5, 3))
  }

  test("ImageIoCodec fails loudly on undecodable bytes") {
    intercept[java.io.IOException] {
      ImageIoCodec.decode(MediaRecord(2L, "image/png", "not an image".getBytes))
    }
  }

  test("decodeImages runs the encode→decode pipeline distributed (M2)") {
    val out = MultimodalOps.decodeImages(spark, "/root/testdata/sf0.001")
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Long]("width") === 1 + id % 64)
      assert(r.getAs[Long]("height") === 1 + id % 48)
      assert(r.getAs[Long]("n_pixels") === (1 + id % 64) * (1 + id % 48))
    }
  }

  test("imagePhash hashes real decoded pixels: 16-bit range, uniform 1x1 images hash 0 (M6)") {
    import org.apache.spark.sql.functions._
    val out = MultimodalOps.imagePhash(spark, sf).cache()
    val total = out.count()
    assert(total > 0)
    // 16-bit hash domain, every doc exactly once
    assert(out.filter(col("phash") < 0 || col("phash") >= 65536).count() === 0)
    assert(out.select("doc_id").distinct().count() === total)
    // dims follow the id arithmetic (the decode really read the header)
    assert(out.filter(col("width") =!= lit(1) + col("doc_id") % 64 ||
      col("height") =!= lit(1) + col("doc_id") % 48).count() === 0)
    // a 1x1 image (id % 192 == 0: lcm(64,48)) samples ONE pixel 16 times —
    // nothing is strictly brighter than the mean, so the hash must be 0
    val tiny = out.filter(col("doc_id") % 192 === 0)
    assert(tiny.count() > 0, "fixture must include a 1x1 image")
    assert(tiny.filter(col("phash") =!= 0L).count() === 0,
      "uniform image must hash to 0")
    // dup_ct partitions the corpus: per-hash counts sum back to the total
    val sums = out.select("phash", "dup_ct").distinct()
      .agg(sum("dup_ct")).head.getLong(0)
    assert(sums === total)
    out.unpersist()
  }

  test("imagePhashPairs: banded candidates equal brute-force hamming <= 3 (M7)") {
    import org.apache.spark.sql.functions._
    // ground truth from the operator's OWN hashes, brute-forced driver-side
    // (500 docs -> 125k pairs): proves the banding missed no pair and the
    // packed-word xor/bit_count verify computed true hamming distance
    val hashes = MultimodalOps.imagePhash64(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (a, ha) <- hashes; (b, hb) <- hashes if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d.toLong)).toSet
    assert(expected.nonEmpty, "fixture must contain near-dup images")
    // the +192 dims-cycle structure must surface: same (w,h), gradient
    // shifted by a constant -> small hamming for at least one such pair
    assert(expected.exists { case (a, b, _) => b - a == 192 || b - a == 384 })
    val got = MultimodalOps.imagePhashPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
  }

  test("audioFingerprintDups groups same-content prefixes via the real decode (M8)") {
    import org.apache.spark.sql.functions._
    val out = MultimodalOps.audioFingerprintDups(spark, sf).cache()
    // the sample recurrence depends on doc_id only through id*31 mod 256, so
    // ids congruent mod 256 (with >= 128 samples) share ALL prefix frames —
    // the fixture has such classes, so real dup groups must surface
    assert(out.filter(col("dup_ct") >= 2).count() > 0, "no dup groups found")
    // groups partition the eligible corpus
    val eligible = graft.Tables.table(spark, sf, "documents")
      .filter(col("n_chars") >= 128).count()
    assert(out.agg(sum("dup_ct")).head.getLong(0) === eligible)
    // keeper is a member: recompute its OWN key from the recurrence and
    // check it equals the group key (decode really read the samples)
    val r = out.filter(col("dup_ct") >= 2).orderBy("keeper_id").head
    val key = r.getString(0); val keeper = r.getLong(1)
    val expected = (0 until 2).map { f =>
      (0 until 64).map(j => math.abs((keeper * 31 + (f * 64 + j) * 17) % 256 - 128)).sum
    }.mkString(",")
    assert(key === expected)
    out.unpersist()
  }

  test("multimodalCuration output passes every modality gate, each gate bites (C4)") {
    import org.apache.spark.sql.functions._
    val ids = MultimodalOps.multimodalCuration(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.nonEmpty)
    val keepText = graft.operators.TextOps.gopherRules(
        graft.Tables.table(spark, sf, "documents"))
      .filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val droppedImg = MultimodalOps.imagePhashPairs(spark, sf)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    val audioKeep = MultimodalOps.audioFingerprintDups(spark, sf)
      .select("keeper_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(keepText), "a curated doc failed the text gate")
    assert(ids.intersect(droppedImg).isEmpty, "a curated doc is an image near-dup loser")
    assert(ids.subsetOf(audioKeep), "a curated doc is not its audio group's keeper")
    // the composition is strict: every gate excludes at least one doc the
    // other two would admit (otherwise the capstone is a no-op wrapper)
    assert((keepText -- droppedImg).intersect(audioKeep) === ids)
    assert(ids.size < keepText.size)
  }

  test("WavCodec round-trips real RIFF/WAVE bytes sample-exact (M5)") {
    val wav = MultimodalOps.syntheticWav(7L, 200)
    // it is a genuine WAV container, not raw PCM
    assert(new String(wav.take(4), "US-ASCII") === "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") === "WAVE")
    val decoded = MultimodalOps.WavCodec.decodeSamples(wav)
    val expected = (0 until 200).map(i => ((7L * 31 + i * 17) % 256 - 128).toInt)
    assert(decoded.toSeq === expected)
  }

  test("WavCodec fails loudly on undecodable bytes (M5)") {
    intercept[Exception] {
      MultimodalOps.WavCodec.decodeSamples("not a wav file".getBytes)
    }
  }

  test("decodeAudioFrames equals the stub-decode m4 aggregates, distributed (M5)") {
    val real = MultimodalOps.decodeAudioFrames(spark, "/root/testdata/sf0.001")
    val stub = graft.SparkEntry.queries("m4_audio_features")(spark, sf)
    assert(real.count() > 0)
    assert(real.exceptAll(stub).count() === 0)
    assert(stub.exceptAll(real).count() === 0)
  }

  test("MjpegCodec splits + decodes real concatenated-JPEG streams frame-exact (V2)") {
    val (w, h, n) = (19, 11, 5)
    val bytes = MultimodalOps.syntheticMjpeg(docId = 42L, w, h, n)
    // a real JPEG stream came out of the encoder (SOI magic)
    assert((bytes(0) & 0xff, bytes(1) & 0xff) === (0xff, 0xd8))
    val frames = MultimodalOps.MjpegCodec.decodeFrames(bytes)
    assert(frames.size === n, "frame boundary walk missed or invented frames")
    assert(frames.forall(f => f.getWidth == w && f.getHeight == h))
    // JPEG is lossy, so pixel checks are tolerance-based: each decoded frame
    // must track ITS OWN source gradient (mean abs channel error small), and
    // consecutive frames must differ (proves the splitter did not emit the
    // same frame twice) — together these pin bytes→pixels per frame
    def meanAbsErr(img: java.awt.image.BufferedImage, f: Int): Double = {
      var err = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val got = img.getRGB(x, y)
        val exp = ((x * 7 + y * 13 + f * 29 + 42L) & 0xffffff).toInt
        for (sh <- Seq(16, 8, 0))
          err += math.abs(((got >> sh) & 0xff) - ((exp >> sh) & 0xff))
      }
      err.toDouble / (w * h * 3)
    }
    frames.zipWithIndex.foreach { case (img, f) =>
      assert(meanAbsErr(img, f) < 24.0, s"frame $f does not track its gradient")
    }
    // splitter did not emit any frame twice: consecutive decoded frames must
    // differ in at least one pixel (an exact-bytes comparison — no lossy
    // margin to mis-trip on encoder-default differences across JDKs)
    def pixels(img: java.awt.image.BufferedImage): Seq[Int] =
      for (y <- 0 until h; x <- 0 until w) yield img.getRGB(x, y)
    frames.sliding(2).foreach { case Seq(a, b) =>
      assert(pixels(a) !== pixels(b), "consecutive frames decoded identical")
    }
  }

  test("MjpegCodec.frameRanges walks boundaries without decoding; ranges decode independently (V3)") {
    val (w, h, n) = (17, 13, 6)
    val bytes = MultimodalOps.syntheticMjpeg(docId = 9L, w, h, n)
    val ranges = MultimodalOps.MjpegCodec.frameRanges(bytes)
    assert(ranges.map(_._1) === (0 until n))
    // ranges tile the stream: contiguous, starting at 0, ending at EOF
    assert(ranges.head._2 === 0)
    assert(ranges.last._3 === bytes.length)
    ranges.sliding(2).foreach { case Seq((_, _, e1), (_, s2, _)) =>
      assert(e1 === s2, "frame ranges must tile the stream")
    }
    // each range decodes independently — the decode-skipping contract:
    // sampling decodes ONLY selected ranges, never neighbors
    val sampled = ranges.filter(_._1 % 2 == 0)
    assert(sampled.size === 3)
    sampled.foreach { case (_, s, e) =>
      val img = MultimodalOps.MjpegCodec.decodeRange(bytes, s, e)
      assert(img.getWidth === w && img.getHeight === h)
    }
  }

  test("range-parallel sampling matches the fused single-pass plan row-for-row (V3)") {
    // the balance exchange may reorder and re-bucket rows, but the decoded
    // output set must equal v2's independent full decode (every frame,
    // decodeFrames' path) filtered to the sampled frame indices
    val par = MultimodalOps.sampleMjpegFrames(spark, sf, everyN = 2)
    val full = graft.SparkEntry.queries("v2_mjpeg_decode")(spark, sf)
      .filter(org.apache.spark.sql.functions.col("frame_idx") % 2 === 0)
      .select("doc_id", "frame_idx", "width", "height")
    assert(par.count() > 0)
    assert(par.exceptAll(full).count() === 0)
    assert(full.exceptAll(par).count() === 0)
  }

  test("segment walker survives a literal EOI inside a COM payload — the naive-scan trap (V2)") {
    // JPEG table/comment segments may legally contain the FF D9 byte pair;
    // a pattern-matching splitter would cut the frame there. Splice a COM
    // (FFFE) segment whose payload embeds a fake EOI right after SOI and
    // prove the walker still finds the TRUE frame boundary.
    val frame = MultimodalOps.syntheticMjpeg(docId = 5L, 16, 12, 1)
    val payload = Array[Byte](0xFF.toByte, 0xD9.toByte, 'x'.toByte)
    val len = payload.length + 2 // JPEG segment length includes its own 2 bytes
    val com = Array[Byte](0xFF.toByte, 0xFE.toByte,
      ((len >> 8) & 0xff).toByte, (len & 0xff).toByte) ++ payload
    val spliced = frame.take(2) ++ com ++ frame.drop(2)
    val one = MultimodalOps.MjpegCodec.decodeFrames(spliced)
    assert(one.size === 1, "trap segment split the frame")
    assert(one.head.getWidth === 16 && one.head.getHeight === 12)
    // a stream whose FIRST frame carries the trap still splits correctly
    val stream = spliced ++ MultimodalOps.syntheticMjpeg(docId = 6L, 20, 10, 1)
    val two = MultimodalOps.MjpegCodec.decodeFrames(stream)
    assert(two.map(f => (f.getWidth, f.getHeight)) === Seq((16, 12), (20, 10)))
  }

  test("MjpegCodec fails loudly on truncated or misaligned streams (V2)") {
    val bytes = MultimodalOps.syntheticMjpeg(docId = 1L, 16, 16, 2)
    intercept[IllegalArgumentException] {
      MultimodalOps.MjpegCodec.decodeFrames(bytes.dropRight(4)) // lost EOI
    }
    intercept[IllegalArgumentException] {
      MultimodalOps.MjpegCodec.decodeFrames(bytes.drop(1)) // misaligned SOI
    }
  }

  test("audioFeatures: frames partition the samples; stats match the recurrence (M4)") {
    import org.apache.spark.sql.functions._
    val out = graft.SparkEntry.queries("m4_audio_features")(spark, sf).cache()
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001", "documents")
    // frame sample counts sum back to n_chars per doc
    val perDoc = out.groupBy("doc_id").agg(sum("n_samples").as("n"))
      .join(docs.select("doc_id", "n_chars"), "doc_id")
      .filter(col("n") =!= col("n_chars"))
    assert(perDoc.count() === 0)
    // all but the last frame per doc are full (64 samples)
    val lastFrame = out.groupBy("doc_id").agg(max("frame").as("last"))
    val short = out.join(lastFrame, "doc_id")
      .filter(col("frame") < col("last") && col("n_samples") =!= 64)
    assert(short.count() === 0)
    // one doc checked against the recurrence in plain Scala
    val id = 3L
    val n = docs.filter(col("doc_id") === id).head.getAs[Long]("n_chars")
    val samples = (0L until n).map(i => (id * 31 + i * 17) % 256 - 128)
    val frame0 = samples.take(64)
    val row0 = out.filter(col("doc_id") === id && col("frame") === 0).head
    assert(row0.getAs[Long]("sum_abs") === frame0.map(math.abs).sum)
    assert(row0.getAs[Long]("max_abs") === frame0.map(math.abs).max)
    assert(row0.getAs[Long]("energy") === frame0.map(s => s * s).sum)
    out.unpersist()
  }
}
