package graft.operators

import graft.Tables.table
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A raw media record: opaque bytes + typed metadata — the multimodal column
  * convention (image/audio/video as `binary` with a sidecar struct).
  */
case class MediaRecord(doc_id: Long, mime: String, content: Array[Byte])

/** Decoded media features. Width/height/frames come from the (stubbed)
  * decoder; byte_len is real.
  */
case class MediaFeatures(doc_id: Long, mime: String, byte_len: Long,
    width: Int, height: Int, n_frames: Int)

/** Pluggable codec boundary: bytes → features. Implementations must be
  * Serializable (shipped to executors) and cheap to reuse within a partition.
  */
trait MediaCodec extends Serializable {
  def decode(m: MediaRecord): MediaFeatures
}

/** REAL image decode via the in-JDK `javax.imageio` (PNG/BMP/GIF/JPEG — no
  * external codec libs needed). Dimensions come from a header-level
  * `ImageReader` read: the PNG plugin parses the IHDR chunk without
  * decompressing pixel data, which is the only affordable path when scanning
  * 100 TB of blobs for metadata (full pixel decode is reserved for stages
  * that need pixels — see MultimodalOpsSpec's round-trip test).
  */
object ImageIoCodec extends MediaCodec {
  javax.imageio.ImageIO.setUseCache(false) // no executor-local temp files

  override def decode(m: MediaRecord): MediaFeatures = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(m.content))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext)
        throw new java.io.IOException(s"no image reader for doc ${m.doc_id} (${m.mime})")
      val r = readers.next()
      try {
        r.setInput(iis)
        MediaFeatures(m.doc_id, m.mime, m.content.length.toLong,
          width = r.getWidth(0), height = r.getHeight(0),
          n_frames = math.max(1, r.getNumImages(false)))
      } finally r.dispose()
    } finally iis.close()
  }
}

/** Multimodal column plumbing: binary payloads with typed metadata, decoded
  * per-partition in batches.
  *
  * Decode paths: [[ImageIoCodec]] (m2), [[MultimodalOps.WavCodec]] (m5) and
  * [[MultimodalOps.MjpegCodec]] (v2) are REAL in-JDK codecs exercised
  * end-to-end by encode→decode round trips; the deterministic fake below
  * remains only for the m1/v1 faces whose md5-derived geometry (up to
  * 2047²×240 frames) is deliberately too large to really encode at the
  * gate. The Spark-side plumbing is identical for both and is the
  * part that must hold at 100 TB — binary columns stay columnar in parquet,
  * `mapPartitions` amortizes decoder init per partition (the idiomatic Scala
  * analog of a batched pandas UDF), and partition sizing is controlled
  * upstream by files.maxPartitionBytes so a partition of blobs fits executor
  * memory.
  */
object MultimodalOps {

  /** Deterministic fake decoder — replace with a real codec binding. */
  private[operators] def fakeDecode(m: MediaRecord): MediaFeatures = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(m.content)
    def u(i: Int): Int = d(i) & 0xff
    MediaFeatures(m.doc_id, m.mime, m.content.length.toLong,
      width = 64 + (u(0) * 256 + u(1)) % 1984,
      height = 64 + (u(2) * 256 + u(3)) % 1984,
      n_frames = if (m.mime.startsWith("video")) 1 + u(4) % 240 else 1)
  }

  /** Attach a binary payload column (documents.text as UTF-8 bytes stands in
    * for real media blobs) + mime metadata.
    */
  def mediaRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    // spread: same single-split hazard as imageRecords — every consumer of
    // this table (decodeFeatures, sampleFrames) runs its codec inside
    // mapPartitions, so the split count here caps decode parallelism
    graft.Tables.spread(table(spark, dir, "documents")
        .select(col("doc_id"),
          concat(lit("image/fake-"), col("source")).as("mime"),
          encode(col("text"), "UTF-8").as("content")))
      .as[MediaRecord]
  }

  /** Video-mime variant of [[mediaRecords]] — same payloads tagged
    * `video/fake-*`, so the stub decoder reports a real frame count
    * (md5-derived, 1-240) instead of a single image frame.
    */
  def videoRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables.spread(table(spark, dir, "documents")
        .select(col("doc_id"),
          concat(lit("video/fake-"), col("source")).as("mime"),
          encode(col("text"), "UTF-8").as("content")))
      .as[MediaRecord]
  }

  /** M1 — decode/feature-extract over binary columns. `mapPartitions` so a
    * real decoder would init once per partition and process a batch.
    */
  def decodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaRecords(spark, dir)
      .mapPartitions(_.map(fakeDecode))
      .toDF()
  }

  /** Deterministic tiny PNG: a (w × h) RGB gradient seeded by the doc id —
    * the pixel pattern MultimodalOpsSpec round-trips. Real ImageIO encoding,
    * so the decode side exercises the genuine PNG plugin, not a fixture.
    */
  private[operators] def syntheticPng(docId: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((x * 31 + y * 17 + docId) & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** PNG payloads with oracle-predictable dimensions: width = 1 + id % 64,
    * height = 1 + id % 48 (so the DuckDB side can state the expected decode
    * output arithmetically while Spark actually encodes AND decodes pixels).
    */
  def imageRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    // spread FIRST: a compacted documents table arrives as ONE parquet split,
    // which would serialize PNG encode (here) and decode (decodeImages'
    // mapPartitions downstream) onto a single core — the operator's contract
    // is decoder init amortized per partition, which presumes partitionS. The
    // shuffle moves only the 8-byte ids.
    graft.Tables.spread(table(spark, dir, "documents").select(col("doc_id")))
      .as[Long]
      .mapPartitions(_.map(id => MediaRecord(id, "image/png",
        syntheticPng(id, 1 + (id % 64).toInt, 1 + (id % 48).toInt))))
  }

  /** M2b — REAL image decode end-to-end: encode a PNG per document, decode
    * it with [[ImageIoCodec]], emit (doc_id, width, height, n_pixels). The
    * oracle predicts the same rows from the id arithmetic — any codec or
    * plumbing fault (corrupt bytes, wrong dims, dropped rows) breaks the
    * hash match.
    */
  def decodeImages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageRecords(spark, dir)
      .mapPartitions(_.map(ImageIoCodec.decode))
      .select(col("doc_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        (col("width") * col("height")).cast("long").as("n_pixels"))
  }

  /** M6 — image perceptual hashing over the REAL codec path, the multimodal
    * face of the dedup family: decode each document's PNG with the genuine
    * in-JDK ImageIO plugin, nearest-neighbor-sample a 4×4 grid, and emit a
    * 16-bit average-hash (bit k = 1 iff sample k is brighter than the grid
    * mean — `gray·16 > Σgray`, an INTEGER compare, so no division rounding
    * can diverge between engines). `dup_ct` counts corpus images sharing
    * the hash — the bucket a production image-dedup pipeline would verify
    * within (exactly d3's candidates-then-verify shape, with the hash as
    * the band key). The oracle replays the synthetic gradient's pixel
    * arithmetic, so a codec fault — wrong pixel, wrong dims, alpha
    * mishandling — breaks the hash match, like m2/m5/v2.
    *
    * Scale notes (100 TB): decode + hash run inside one `mapPartitions`
    * pass at the codec seam (decoder init amortized per partition, ids
    * spread first like m2); only the 4-long hash row leaves the seam —
    * never pixels. The dup count is one hash-keyed window over 16-bit
    * keys; a production 64-bit pHash would ride the d8 banded-hamming
    * machinery for near-dup pairs.
    */
  def imagePhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    imageRecords(spark, dir)
      .mapPartitions(_.map { rec =>
        val (w, h, hash) = averageHash(rec.doc_id, rec.content, 4)
        (rec.doc_id, w.toLong, h.toLong, hash)
      })
      .toDF("doc_id", "width", "height", "phash")
      .withColumn("dup_ct",
        count(lit(1)).over(Window.partitionBy(col("phash"))).cast("long"))
  }

  /** 64-bit average-hash per image over the REAL codec path: m6's hash on
    * an 8×8 grid, its production-width sibling (2⁶⁴ hash domain vs 2¹⁶),
    * the fingerprint the published image-dedup pipelines band on.
    */
  def imagePhash64(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    imageRecords(spark, dir)
      .mapPartitions(_.map(rec => (rec.doc_id, averageHash(rec.doc_id, rec.content, 8)._3)))
      .toDF("doc_id", "phash64")
  }

  /** The average hash of an encoded image over a `g`×`g` grid (g ≤ 8):
    * decode with ImageIO, nearest-neighbor-sample the grid, bit `j·g+i` = 1
    * iff sample (i, j)'s gray r+g+b is strictly brighter than the grid mean
    * (`gray·g² > Σgray` — an integer compare, so no division rounding can
    * diverge between engines). Returns (width, height, hash).
    */
  private def averageHash(docId: Long, content: Array[Byte], g: Int): (Int, Int, Long) = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
    require(img != null, s"undecodable image for doc $docId")
    val w = img.getWidth; val h = img.getHeight
    val gs = Array.tabulate(g * g) { k =>
      val rgb = img.getRGB((k % g) * w / g, (k / g) * h / g)
      (((rgb >> 16) & 255) + ((rgb >> 8) & 255) + (rgb & 255)).toLong
    }
    val total = gs.sum
    val hash = gs.indices.foldLeft(0L) { (acc, k) =>
      if (gs(k) * g * g > total) acc | (1L << k) else acc
    }
    (w, h, hash)
  }

  /** M7 — image NEAR-duplicate pairs, the multimodal face of d8: 64-bit
    * perceptual hash (real ImageIO decode, [[imagePhash64]]) ridden through
    * the exact banded-hamming machinery the text near-dup family uses
    * (`DedupOps.bandedHammingPairs`: 4 bands × 16 bits, pigeonhole-complete
    * for hamming ≤ 3, bit-packed xor/bit_count verify map-side on the bucket
    * join output). Emits every image pair whose hashes differ in ≤ 3
    * bits — re-encodes, small crops, and brightness-preserving
    * edits land here; exact byte dups are the hamming-0 slice.
    *
    * Scale notes (100 TB): decode cost is one pass at the codec seam (ids
    * spread first, decoder amortized per partition); only the 8-byte hash
    * leaves it. Candidate generation is the d8 shape — ≤1 keyed shuffle of
    * (doc, band) rows into 2¹⁶-bucket bands, never all-pairs — so the
    * operator inherits d8's published scaling story (Manku et al., WWW'07)
    * unchanged; a billion-image corpus pays the same per-bucket quadratic
    * bound the text side does.
    */
  def imagePhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh0 = imagePhash64(spark, dir)
      .select(col("doc_id"), lpad(bin(col("phash64")), 64, "0").as("simhash"))
    DedupOps.bandedHammingPairs(sh0, bits = 64, nBands = 4, maxHamming = 3)
  }

  /** Deterministic MJPEG stream: `nFrames` real JPEG frames (ImageIO-encoded
    * gradient keyed by doc id + frame index) concatenated back to back — the
    * motion-JPEG-over-raw layout IP cameras emit. Real encode, so the decode
    * side exercises genuine JPEG container work (segment structure, entropy
    * data, frame boundaries), not a fixture.
    */
  private[graft] def syntheticMjpeg(docId: Long, w: Int, h: Int,
      nFrames: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          img.setRGB(x, y, ((x * 7 + y * 13 + f * 29 + docId) & 0xffffff).toInt)
          x += 1
        }
        y += 1
      }
      javax.imageio.ImageIO.write(img, "jpg", bos)
      f += 1
    }
    bos.toByteArray
  }

  /** REAL video-container decode for MJPEG (concatenated JPEG) streams — the
    * video analog of [[ImageIoCodec]]/[[WavCodec]]: split the stream into
    * frames by WALKING the JPEG segment structure (marker lengths for tabled
    * segments, FF-stuffing rules inside entropy-coded data — naive FFD9
    * pattern-matching can false-positive inside table payloads), then decode
    * each frame with the in-JDK ImageIO JPEG plugin. Fails loudly on
    * malformed bytes, like every codec seam here.
    */
  object MjpegCodec extends Serializable {
    /** Index just past the EOI of the JPEG frame starting at `start`. */
    private def frameEnd(b: Array[Byte], start: Int): Int = {
      def u(i: Int): Int = b(i) & 0xff
      require(start + 1 < b.length && u(start) == 0xff && u(start + 1) == 0xd8,
        s"expected SOI at $start")
      var i = start + 2
      while (i + 1 < b.length) {
        require(u(i) == 0xff, s"bad JPEG marker alignment at byte $i")
        val m = u(i + 1)
        if (m == 0xff) i += 1 // legal fill byte: FF padding before a marker
        else if (m == 0xd9) return i + 2 // EOI
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd7)) i += 2 // standalone
        else {
          require(i + 3 < b.length, s"truncated segment header at byte $i")
          i += 2 + ((u(i + 2) << 8) | u(i + 3)) // marker + payload length
          if (m == 0xda) { // SOS: entropy data runs to the next true marker
            while (i + 1 < b.length &&
              !(u(i) == 0xff && u(i + 1) != 0x00 &&
                !(u(i + 1) >= 0xd0 && u(i + 1) <= 0xd7))) i += 1
          }
        }
      }
      throw new IllegalArgumentException("truncated MJPEG frame (no EOI)")
    }

    /** (frame index, byte range) of every frame — the boundary walk alone,
      * no pixel decode. This split is the point of a container walker: at
      * sampling time only the SELECTED frames pay JPEG entropy decode, the
      * rest cost a header-structure walk (bytes scanned, no IDCT).
      */
    def frameRanges(bytes: Array[Byte]): Seq[(Int, Int, Int)] = {
      val ranges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
      var i = 0
      var idx = 0
      while (i < bytes.length) {
        // tolerate FF padding between frames (cameras pad EOI→SOI); anything
        // else that is not an SOI still fails loudly in frameEnd
        while (i + 1 < bytes.length && (bytes(i) & 0xff) == 0xff &&
          (bytes(i + 1) & 0xff) == 0xff) i += 1
        val end = frameEnd(bytes, i)
        ranges += ((idx, i, end))
        idx += 1
        i = end
      }
      require(ranges.nonEmpty, "no JPEG frames in MJPEG stream")
      ranges.toSeq
    }

    def decodeRange(bytes: Array[Byte], start: Int, end: Int): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes, start, end - start))
      require(img != null, s"undecodable JPEG frame at byte $start")
      img
    }

    def decodeFrames(bytes: Array[Byte]): Seq[java.awt.image.BufferedImage] =
      frameRanges(bytes).map { case (_, s, e) => decodeRange(bytes, s, e) }
  }

  /** MJPEG payloads with oracle-predictable geometry: width = 16 + id % 32,
    * height = 16 + id % 24, frames = 1 + id % 8 (small dims — real video
    * encode per doc has to be affordable at the gate, unlike v1's stub whose
    * md5-derived dims range to 2047²×240).
    */
  def mjpegRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    // spread FIRST — same single-split hazard as imageRecords: encode and
    // decode both run inside mapPartitions, so split count caps parallelism
    graft.Tables.spread(table(spark, dir, "documents").select(col("doc_id")))
      .as[Long]
      .mapPartitions(_.map(id => MediaRecord(id, "video/x-motion-jpeg",
        syntheticMjpeg(id, 16 + (id % 32).toInt, 16 + (id % 24).toInt,
          1 + (id % 8).toInt))))
  }

  /** V2 — REAL video decode end-to-end: encode an MJPEG stream per document,
    * split + decode every frame with [[MjpegCodec]], emit one row per frame.
    * The oracle predicts frame fan-out and dimensions from the id arithmetic,
    * so a container fault (wrong frame boundary, dropped frame, dimension
    * corruption) breaks the hash. Frame decode happens INSIDE the codec
    * pass; one row per frame leaves the seam. A STATELESS map over opaque
    * blobs ([[mjpegRecords]] in the batch query), so the identical call
    * decodes a `readStream` of media records (continuous video ingestion);
    * parity is proven in `StatefulParitySpec`.
    */
  def decodeMjpegFrames(records: Dataset[MediaRecord]): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    records
      .mapPartitions(_.flatMap { m =>
        MjpegCodec.decodeFrames(m.content).zipWithIndex.map { case (img, idx) =>
          (m.doc_id, idx.toLong, img.getWidth, img.getHeight,
            img.getWidth.toLong * img.getHeight)
        }
      })
      .toDF("doc_id", "frame_idx", "width", "height", "n_pixels")
  }

  /** V3 — REAL frame sampling with decode-skipping, RANGE-PARALLEL across
    * tasks: stage 1 walks every frame boundary (cheap — header structure
    * only) and emits one row per SAMPLED frame carrying only that frame's
    * own byte slice (no decode); a round-robin exchange then spreads the
    * JPEG decode over the whole cluster. Decode parallelism is proportional
    * to SAMPLED FRAMES, not blobs — an hours-long stream no longer
    * serializes its decode inside the single task that holds the blob,
    * which is the property that survives a 100× blob-length scale-up.
    * Round-robin (not keyed): frames need balance, not co-location, and a
    * keyed exchange would inherit per-blob skew. The shuffle moves only the
    * sampled slices (strictly fewer bytes than the stream); at real scale
    * the slice becomes an object-store (uri, offset, len) range-read and
    * the plan shape is identical. One row per sampled frame leaves the seam.
    */
  def sampleMjpegFrames(spark: SparkSession, dir: String, everyN: Int): DataFrame = {
    import spark.implicits._
    mjpegRecords(spark, dir)
      .mapPartitions(_.flatMap { m =>
        MjpegCodec.frameRanges(m.content).collect {
          case (idx, s, e) if idx % everyN == 0 =>
            (m.doc_id, idx.toLong, java.util.Arrays.copyOfRange(m.content, s, e))
        }
      })
      .repartition(spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .mapPartitions(_.map { case (id, idx, frame) =>
        val img = MjpegCodec.decodeRange(frame, 0, frame.length)
        (id, idx, img.getWidth, img.getHeight)
      })
      .toDF("doc_id", "frame_idx", "width", "height")
  }

  /** V1 — frame sampling: one output row per sampled frame (every `everyN`th
    * of `n_frames`), the flatMap shape a video pipeline needs. Frame bytes
    * are the stubbed decoder's output (`???`-equivalent: deterministic fake
    * — the md5-derived geometry ranges to 2047²×240, deliberately too large
    * to really encode; [[sampleMjpegFrames]] is the real-codec sibling);
    * the row fan-out, schema, and partition behavior are the real thing.
    */
  def sampleFrames(records: Dataset[MediaRecord], everyN: Int): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    records
      .mapPartitions { it =>
        it.flatMap { m =>
          val f = fakeDecode(m)
          (0 until f.n_frames by everyN).map { i =>
            (m.doc_id, i, f.width, f.height,
              // STUB: a real codec would decode frame i; fake = hash slice
              java.util.Arrays.copyOfRange(m.content, 0,
                math.min(16, m.content.length)))
          }
        }
      }
      .toDF("doc_id", "frame_idx", "width", "height", "frame_bytes")
  }

  /** M3 — resize: metadata-level transform (target dims + scale factors
    * computed in-plan; the pixel work is the stubbed decode step). Shows the
    * pattern: cheap columnar math stays in Catalyst, only the opaque codec
    * call crosses into mapPartitions.
    */
  def resizePlan(features: DataFrame, maxSide: Int): DataFrame =
    features
      .withColumn("scale",
        least(lit(1.0), lit(maxSide) / greatest(col("width"), col("height"))))
      .withColumn("out_width", floor(col("width") * col("scale")).cast("int"))
      .withColumn("out_height", floor(col("height") * col("scale")).cast("int"))

  /** Deterministic 8-bit mono PCM WAV with `nSamples` samples of the m4
    * recurrence `s(i) = (doc_id·31 + i·17) mod 256 − 128` (stored as the
    * unsigned byte `s + 128`, the 8-bit WAV convention). REAL encode: the
    * in-JDK `javax.sound.sampled` writer emits the RIFF/WAVE container, so
    * the decode side exercises the genuine WAV parser, not a fixture.
    */
  /** The JDK's own WAVE writer, resolved ONCE through the public
    * `javax.sound.sampled.spi` ServiceLoader instead of per-call
    * `AudioSystem.write` dispatch, which re-scans every registered provider
    * on every call. Same codec class AudioSystem would pick, byte-identical
    * output (round-trip specs + oracle hashes unchanged). Falls back to
    * AudioSystem on a JDK without the expected provider name.
    */
  @transient private lazy val waveWriter
      : Option[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    var r: Option[javax.sound.sampled.spi.AudioFileWriter] = None
    while (it.hasNext && r.isEmpty) {
      val c = it.next()
      if (c.getClass.getSimpleName == "WaveFileWriter") r = Some(c)
    }
    r
  }

  private[operators] def syntheticWav(docId: Long, nSamples: Int): Array[Byte] = {
    val data = new Array[Byte](nSamples)
    var i = 0
    while (i < nSamples) {
      data(i) = (((docId * 31 + i * 17) % 256 - 128) + 128).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 8, 1, false, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nSamples.toLong)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      waveWriter match {
        case Some(w) =>
          w.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        case None => javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
      }
      bos.toByteArray
    } finally ais.close()
  }

  /** REAL audio decode via the in-JDK `javax.sound.sampled` WAV parser —
    * the audio analog of [[ImageIoCodec]]: bytes → signed samples in
    * [−128, 127]. Fails loudly on undecodable bytes (no silent fallback).
    */
  object WavCodec extends Serializable {
    /** The JDK's WAVE reader resolved ONCE (see [[MultimodalOps.waveWriter]]
      * — per-call `AudioSystem.getAudioInputStream` makes all six registered
      * readers attempt-parse every blob). Same provider class, same stream,
      * same loud `UnsupportedAudioFileException` on non-WAVE bytes.
      */
    @transient private lazy val waveReader
        : Option[javax.sound.sampled.spi.AudioFileReader] = {
      val it = java.util.ServiceLoader
        .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
      var r: Option[javax.sound.sampled.spi.AudioFileReader] = None
      while (it.hasNext && r.isEmpty) {
        val c = it.next()
        if (c.getClass.getSimpleName == "WaveFileReader") r = Some(c)
      }
      r
    }
    def decodeSamples(bytes: Array[Byte]): Array[Int] = {
      val ais = waveReader match {
        case Some(rd) => rd.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
        case None => javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(bytes))
      }
      try {
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1,
          s"WavCodec demo handles 8-bit mono PCM, got $fmt")
        val raw = ais.readAllBytes()
        val signed = fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        raw.map(b => if (signed) b.toInt else (b & 0xff) - 128)
      } finally ais.close()
    }
  }

  /** WAV payloads whose samples follow the m4 recurrence (sample count =
    * `n_chars`) — real RIFF/WAVE bytes, spread like [[imageRecords]] so
    * encode and decode amortize per partition across every core.
    */
  def audioRecords(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables.spread(table(spark, dir, "documents")
        .filter(col("n_chars") > 0)
        .select(col("doc_id"), col("n_chars")))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, n) =>
        // fail loudly like the rest of the codec seam: a Long n_chars above
        // Int.MaxValue would silently truncate in toInt (negative array size
        // or a wrong sample count) instead of surfacing the bad record
        require(n <= Int.MaxValue,
          s"audio blob for doc $id has $n samples — exceeds the Int-indexed demo codec")
        MediaRecord(id, "audio/wav", syntheticWav(id, n.toInt)) })
  }

  /** M5 — REAL audio decode end-to-end, the m2 pattern at the audio seam:
    * encode a WAV per document, parse it back with [[WavCodec]], aggregate
    * the decoded samples into the SAME per-frame features as m4. The oracle
    * states the recurrence arithmetically, so any container/codec fault
    * (wrong header math, dropped samples, sign errors) breaks the hash.
    * Frame aggregation happens INSIDE the decoder pass — one row per frame
    * leaves the codec seam, never one per sample.
    */
  def decodeAudioFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    audioRecords(spark, dir)
      .mapPartitions(_.flatMap { m =>
        WavCodec.decodeSamples(m.content).grouped(AudioFrame).zipWithIndex
          .map { case (fr, idx) =>
            var sumAbs = 0L; var maxAbs = 0L; var energy = 0L
            fr.foreach { s =>
              sumAbs += math.abs(s); energy += s.toLong * s
              if (math.abs(s) > maxAbs) maxAbs = math.abs(s)
            }
            (m.doc_id, idx.toLong, fr.length.toLong, sumAbs, maxAbs, energy)
          }
      })
      .toDF("doc_id", "frame", "n_samples", "sum_abs", "max_abs", "energy")
  }

  /** M4 — audio frame features over a STUBBED PCM decode (the pluggable
    * codec-seam face; [[decodeAudioFrames]] is the REAL-codec sibling that
    * round-trips actual WAV bytes): each doc stands in
    * for an audio blob whose sample count is `n_chars`, and the "decoder" is
    * a deterministic integer fake, `s(i) = (doc_id·31 + i·17) mod 256 − 128`
    * — swap it for a real codec at the same seam. Everything downstream is
    * the REAL pipeline shape: samples explode into rows, frames of
    * [[AudioFrame]] samples aggregate per (doc, frame) into the features an
    * audio curation pass filters on (sample count, Σ|s|, max |s|, energy).
    *
    * Scale notes: the explode fans out per sample but every frame statistic
    * is an algebraic aggregate — map-side partial agg collapses each frame
    * within its input split, so the shuffle carries one row per FRAME, not
    * per sample; `spread` keeps a compacted corpus from synthesizing on one
    * core. All-integer arithmetic end to end — the DuckDB oracle states the
    * identical recurrence.
    */
  private val AudioFrame = 64
  def audioFeatures(docs: DataFrame): DataFrame =
    graft.Tables.spread(docs.select(col("doc_id"), col("n_chars")))
      // guards sequence(0, -1)'s DESCENDING default (same hazard d12 guards):
      // an empty blob would emit phantom samples i=0 and i=-1 where the
      // oracle's generate_series(0, -1) is empty
      .filter(col("n_chars") > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0L), col("n_chars") - 1)).as("i"))
      .withColumn("smp", (col("doc_id") * 31 + col("i") * 17) % 256 - 128)
      .withColumn("frame", expr(s"i DIV $AudioFrame"))
      .groupBy("doc_id", "frame")
      .agg(count(lit(1)).as("n_samples"),
        sum(abs(col("smp"))).as("sum_abs"),
        max(abs(col("smp"))).as("max_abs"),
        sum(col("smp") * col("smp")).as("energy"))

  private val PrefixFrames = 2
  private val PrefixSamples = PrefixFrames * AudioFrame // 128

  /** The m8 fingerprint for ONE blob — encode, REAL-decode, key the first
    * [[PrefixFrames]] frames' energies.
    *
    * RANGE READ, not a full-blob read: only the RIFF header +
    * [[PrefixSamples]] samples are materialized and decoded — the
    * production shape (a ranged GET of header + prefix bytes per object),
    * so fingerprint cost is O(prefix) regardless of blob length. The
    * synthetic sample recurrence depends only on (doc_id, position), so
    * the prefix bytes are identical to the full blob's first
    * [[PrefixSamples]] bytes — same key, verified by the m8 oracle hash.
    */
  private def audioPrefixKey(id: Long, n: Long): String = {
    require(n <= Int.MaxValue,
      s"audio blob for doc $id has $n samples — exceeds the Int-indexed demo codec")
    WavCodec.decodeSamples(syntheticWav(id, math.min(n, PrefixSamples.toLong).toInt))
      .take(PrefixSamples).grouped(AudioFrame)
      .map(_.map(s => math.abs(s).toLong).sum).mkString(",")
  }

  /** M8 — audio fingerprint dedup over the REAL codec path: d1's exact-dedup
    * shape at the audio seam, completing the modality set (text d1, image
    * m7). Each blob is fingerprinted by its first [[PrefixFrames]] frames'
    * sum-|sample| energies — decoded from genuine RIFF/WAVE bytes with
    * [[WavCodec]], so a header-math or sign fault changes the key — and
    * blobs sharing the prefix key collapse to (keeper = min id, dup_ct),
    * exactly the audio-track dedup a crawl pipeline runs before transcribe
    * (same recording re-uploaded with different tails/containers groups
    * here). Blobs shorter than the prefix are excluded: a key over absent
    * samples would alias short clips with silence.
    *
    * Scale notes (100 TB): in production the prefix read is a RANGE read —
    * WAV header + `PrefixSamples` bytes per object — so fingerprint cost is
    * O(prefix), not O(blob); [[audioPrefixKey]] likewise encodes and
    * decodes only the header and the prefix. The group step is one
    * hash-groupBy on ~20-char keys with map-side partial aggregation — d1's
    * plan, byte for byte.
    */
  def audioFingerprintDups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.Tables.spread(table(spark, dir, "documents")
        .filter(col("n_chars") >= PrefixSamples)
        .select(col("doc_id"), col("n_chars")))
      .as[(Long, Long)]
      .mapPartitions(_.map { case (id, n) => (id, audioPrefixKey(id, n)) })
      .toDF("doc_id", "prefix_key")
      .groupBy("prefix_key")
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("dup_ct"))
  }

  /** C4 — multimodal curation capstone: one curated sample table gated by
    * all three modalities, the c2/c3 composition pattern extended across
    * the codec seams. A document survives iff
    *   - its TEXT passes the full Gopher rule battery (t12 `keep`);
    *   - its IMAGE is near-dup canonical — it is never the higher id of an
    *     m7 hamming ≤ 3 pair (greedy keep-lowest election over the pair
    *     set: deterministic in both engines because the pair set itself is
    *     oracle-pinned);
    *   - its AUDIO exists (≥ prefix length) and it is its m8 fingerprint
    *     group's keeper.
    * Every gate is reused VERBATIM from its standalone operator, so each
    * stage keeps its own oracle and the capstone's oracle composes the
    * same three queries as subqueries — drift anywhere breaks two hashes.
    *
    * Scale notes (100 TB): the gates run their own documented plans (t12
    * zero-shuffle scan; m7 banded, never all-pairs; m8 one hash-groupBy);
    * the assembly is three id-keyed semi/anti joins on gate outputs that
    * are corpus-sized or smaller — AQE broadcasts the small sides (the
    * dropped-image and audio-keeper lists shrink with dup density).
    */
  /** The pipeline form (the `dedupByCluster` reuse pattern): pass the three
    * gate outputs a production pipeline has already materialized — the
    * standalone face below re-derives them in its own lineage, re-paying
    * each gate's decode, exactly like d11 vs `dedupByCluster`.
    */
  def multimodalCurationOf(docs: DataFrame, keepText: DataFrame,
      droppedImgs: DataFrame, audioKeepers: DataFrame): DataFrame =
    // droppedImgs is PAIR-bounded (≪ corpus at any dup density) — broadcast
    // the anti probe; the text/audio gates are corpus-sized subsets, so
    // their id-keyed semi joins legitimately shuffle at scale
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(keepText, Seq("doc_id"), "left_semi")
      .join(broadcast(droppedImgs), Seq("doc_id"), "left_anti")
      .join(audioKeepers, Seq("doc_id"), "left_semi")

  def multimodalCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = table(spark, dir, "documents")
    multimodalCurationOf(docs,
      keepText = graft.operators.TextOps.gopherRules(docs)
        .filter(col("keep")).select(col("doc_id")),
      droppedImgs = imagePhashPairs(spark, dir)
        .select(col("doc_b").as("doc_id")),
      audioKeepers = audioFingerprintDups(spark, dir)
        .select(col("keeper_id").as("doc_id")))
  }
}
