package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, processed per-partition in batches.
  *
  * The Spark-side shape is real and tested: schema, partition-preserving
  * batch iteration (the Scala analog of `mapInPandas` — a typed
  * `mapPartitions` over an iterator of records, so decode libraries amortize
  * per-batch setup), and deterministic output schema.
  *
  * Decoding dispatches on media type ([[decode]]):
  *  - image types → [[imageDecode]], a REAL decoder (pure-JVM `javax.imageio`,
  *    no extra dependency): true pixel dimensions + a mean-RGB feature.
  *    The oracle-checked query `x_mm_image_decode` proves the round trip —
  *    PNGs encoded from the documents table decode back to dimensions an
  *    independent engine computes arithmetically.
  *  - audio types → [[audioDecode]], the REAL in-house RIFF/WAVE codec
  *    ([[Audio.parseWav]], itself pinned against `javax.sound.sampled`):
  *    true sample count/rate + signal features. `x_mm_decode_dispatch`
  *    oracles a mixed image+audio table through this dispatch.
  *  - anything else → [[opaqueFeatures]], the declared featurizer for
  *    payloads with NO registered codec: deterministic integer arithmetic
  *    over (media_id, n_bytes), chosen precisely so an independent SQL
  *    engine can mirror it (`x_mm_features`) — it exercises the batch
  *    plumbing, not a codec claim.
  */
/** Shared fast paths for the image family's per-task work (guide-§"per-task
  * work" class — the distributed shapes around them are unchanged):
  *
  *  - `ImageIO.setUseCache(false)`: the default stream wrappers spool
  *    every encode/decode through a TEMP FILE (FileCache streams); for the
  *    small images this family processes, file create/delete dominated the
  *    codec. Memory-cached streams change no bytes.
  *  - one PNG `ImageReader`/`ImageWriter` per thread: `ImageIO.read/write`
  *    re-scan the service registry and sniff the format per call; the
  *    cached instance is the SAME codec class, so pixels and bytes are
  *    identical (non-PNG payloads fall back to `ImageIO.read`).
  *  - `rgb(img)`: one packed-int pixel array per image instead of a
  *    per-pixel `getRGB` virtual dispatch; guarded fast paths for the two
  *    layouts this family actually sees (decoded PNGs = TYPE_3BYTE_BGR,
  *    synthesized frames = TYPE_INT_RGB), bulk `getRGB` otherwise. Values
  *    are the 24-bit rgb `getRGB` returns (consumers mask channels, so the
  *    constant FF alpha byte is irrelevant and not added).
  *
  * All consumers' outputs are bit-identical (pinned by the family's
  * existing oracle entries, which re-derive pixels arithmetically).
  */
private[ext] object Img {
  javax.imageio.ImageIO.setUseCache(false)

  private val pngReader = new ThreadLocal[javax.imageio.ImageReader] {
    override def initialValue(): javax.imageio.ImageReader =
      javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
  }
  private val pngWriter = new ThreadLocal[javax.imageio.ImageWriter] {
    override def initialValue(): javax.imageio.ImageWriter =
      javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
  }

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && b(0) == 0x89.toByte && b(1) == 'P'.toByte &&
      b(2) == 'N'.toByte && b(3) == 'G'.toByte

  /** Decode an image payload (null if undecodable, like `ImageIO.read`). */
  def read(bytes: Array[Byte]): java.awt.image.BufferedImage =
    if (isPng(bytes)) {
      val r = pngReader.get()
      val in = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        r.setInput(in, true, true)
        r.read(0)
      } finally {
        r.reset() // clears the input; the reader instance stays reusable
        in.close()
      }
    } else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))

  /** PNG-encode (same PNGImageWriter + default params `ImageIO.write`
    * resolves to — byte-identical output).
    */
  def writePng(img: java.awt.image.RenderedImage): Array[Byte] = {
    val w = pngWriter.get()
    val bos = new java.io.ByteArrayOutputStream()
    val out = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      w.setOutput(out)
      w.write(img)
      out.flush()
    } finally {
      w.setOutput(null)
      out.close()
    }
    bos.toByteArray
  }

  /** Packed `0xRRGGBB` pixels, row-major — one array per image. */
  def rgb(img: java.awt.image.BufferedImage): Array[Int] = {
    val w = img.getWidth
    val h = img.getHeight
    val n = w * h
    img.getType match {
      case java.awt.image.BufferedImage.TYPE_3BYTE_BGR
          if img.getRaster.getDataBuffer.isInstanceOf[java.awt.image.DataBufferByte] &&
            img.getRaster.getDataBuffer.getSize == 3 * n =>
        val data = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        val out = new Array[Int](n)
        var i = 0
        var p = 0
        while (i < n) {
          out(i) = ((data(p + 2) & 0xff) << 16) | ((data(p + 1) & 0xff) << 8) |
            (data(p) & 0xff)
          i += 1
          p += 3
        }
        out
      case java.awt.image.BufferedImage.TYPE_INT_RGB
          if img.getRaster.getDataBuffer.isInstanceOf[java.awt.image.DataBufferInt] &&
            img.getRaster.getDataBuffer.getSize == n =>
        val data = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferInt].getData
        val out = new Array[Int](n)
        var i = 0
        while (i < n) { out(i) = data(i) & 0xffffff; i += 1 }
        out
      case _ =>
        val out = img.getRGB(0, 0, w, h, null, 0, w)
        var i = 0
        while (i < n) { out(i) = out(i) & 0xffffff; i += 1 }
        out
    }
  }

  /** A fresh TYPE_INT_RGB image plus its backing int buffer (row-major,
    * stride = width) for direct synthesis — value-identical to per-pixel
    * `setRGB` (which stores `rgb & 0xffffff` for this type).
    */
  def newRgb(w: Int, h: Int): (java.awt.image.BufferedImage, Array[Int]) = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val data = img.getRaster.getDataBuffer
      .asInstanceOf[java.awt.image.DataBufferInt].getData
    (img, data)
  }
}

object Multimodal {

  /** One media record as carried through the pipeline. */
  final case class MediaRecord(media_id: Long, payload: Array[Byte],
                               media_type: String)

  /** Extracted features (what a real decoder would emit). */
  final case class MediaFeatures(media_id: Long, n_bytes: Long,
                                 media_type: String, width: Int, height: Int,
                                 feature: Array[Float])

  /** Featurizer for OPAQUE payloads — media types with no registered codec
    * (image and audio dispatch to their real decoders). Derives pseudo-
    * dimensions and a tiny feature vector from (media_id, n_bytes) with
    * plain integer arithmetic — deterministic, no RNG, and (deliberately)
    * computable by an independent SQL engine, which is what lets
    * `x_mm_features` carry a DuckDB oracle just like the real decoders'
    * geometry queries: it pins the BATCH PLUMBING (schema, partition
    * iteration, dispatch) independently of any codec. Feature components
    * are k/256 (exactly representable in float AND double), so a
    * float→double cast is lossless cross-engine.
    */
  def opaqueFeatures(r: MediaRecord): MediaFeatures = {
    val n = r.payload.length.toLong
    // media_id is folded mod 1000003 first so h stays ≪ Long.MaxValue for
    // ANY id: unbounded ids would wrap negative in the JVM (negative
    // dimensions) while DuckDB's BIGINT multiply would error instead of
    // wrapping — the bound keeps both engines in exact integer territory
    val h = (r.media_id % 1000003L) * 2654435761L + n * 131L
    val feat = Array.tabulate(4)(i => ((h >>> (i * 8)) & 0xff).toFloat / 256f)
    MediaFeatures(r.media_id, n, r.media_type,
      width = (h % 640).toInt, height = (h % 480).toInt,
      feature = feat)
  }

  /** REAL image decode via pure-JVM ImageIO: actual pixel dimensions, and a
    * 4-float feature (mean R, G, B in [0,1] + aspect ratio) as the stand-in
    * feature extractor. Runs on executors inside [[extractFeatures]]'s
    * per-partition batches.
    */
  def imageDecode(r: MediaRecord): MediaFeatures = {
    val img = Img.read(r.payload)
    require(img != null, s"media ${r.media_id}: payload is not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    val px = Img.rgb(img)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var i = 0
    while (i < px.length) {
      val rgb = px(i)
      sr += (rgb >>> 16) & 0xff; sg += (rgb >>> 8) & 0xff; sb += rgb & 0xff
      i += 1
    }
    val n = (w.toLong * h).toFloat
    MediaFeatures(r.media_id, r.payload.length.toLong, r.media_type, w, h,
      Array(sr / n / 255f, sg / n / 255f, sb / n / 255f, w.toFloat / h))
  }

  /** REAL audio decode via the in-house RIFF/WAVE codec ([[Audio.parseWav]],
    * pinned against `javax.sound.sampled` in AudioSpec): width carries the
    * sample count, height the sample rate (the geometry analog — both true
    * container facts), feature = [duration s, mean |s|/32768, max |s|/32768,
    * zero-crossing rate].
    */
  def audioDecode(r: MediaRecord): MediaFeatures = {
    val w = Audio.parseWav(r.payload)
    val s = w.samples
    val n = s.length
    var sumAbs = 0L; var maxAbs = 0; var zc = 0L
    var k = 0
    while (k < n) {
      val a = math.abs(s(k).toInt)
      sumAbs += a
      if (a > maxAbs) maxAbs = a
      if (k > 0 && (s(k) >= 0) != (s(k - 1) >= 0)) zc += 1
      k += 1
    }
    val nf = math.max(n, 1)
    MediaFeatures(r.media_id, r.payload.length.toLong, r.media_type,
      width = n, height = w.sampleRate,
      feature = Array(n.toFloat / w.sampleRate,
        (sumAbs.toDouble / nf / 32768.0).toFloat,
        maxAbs / 32768f,
        (zc.toDouble / nf).toFloat))
  }

  /** Type-dispatching decoder: real codecs for image and audio, the
    * declared opaque featurizer otherwise.
    */
  def decode(r: MediaRecord): MediaFeatures =
    if (r.media_type.startsWith("image/")) imageDecode(r)
    else if (r.media_type.startsWith("audio/")) audioDecode(r)
    else opaqueFeatures(r)

  /** The mapInPandas-shaped batch transform: per-partition iterator in,
    * iterator out; decoder state initialized once per partition (where a
    * real codec context would be allocated), rows never collected.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition decoder init would go here
      it.map(decode)
    }
  }

  /** Build a media table from the documents table (text bytes standing in
    * for real payloads — the container ships no media fixtures).
    */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("payload"),
      concat(lit("text/plain;len="), length(col("text"))).as("media_type"))
      .as[MediaRecord]
  }

  /** One decoded video/animation frame's geometry. */
  final case class FrameFeatures(media_id: Long, frame_idx: Int,
                                 width: Int, height: Int)

  /** Real image RESIZE (Graphics2D, bilinear): downscale so max(w,h) ≤
    * maxDim, preserving aspect via integer arithmetic
    * (target = dim·maxDim / max(w,h), floor, min 1) — integer so an
    * independent engine can verify the geometry arithmetically. Re-encodes
    * PNG; images already within bounds pass through untouched.
    */
  def resizeImage(r: MediaRecord, maxDim: Int): MediaRecord = {
    val img = Img.read(r.payload)
    require(img != null, s"media ${r.media_id}: payload is not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    val m = math.max(w, h)
    if (m <= maxDim) r
    else {
      val (tw, th) = (math.max(1, w * maxDim / m), math.max(1, h * maxDim / m))
      val out = new java.awt.image.BufferedImage(tw, th,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, tw, th, null)
      g.dispose()
      MediaRecord(r.media_id, Img.writePng(out), r.media_type)
    }
  }

  /** Batch resize over a media table — per-partition batches, same shape as
    * [[extractFeatures]].
    */
  def resizeImages(media: Dataset[MediaRecord], maxDim: Int): Dataset[MediaRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(resizeImage(_, maxDim)))
  }

  /** Multi-frame container codec: [4-byte frame count][per frame: 4-byte
    * length + PNG bytes]. A stand-in for a video container (no video codec
    * ships in this JVM) — the container parsing, stride sampling, and
    * per-frame image decode below are all real.
    */
  def packFrames(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(frames.size)
    frames.foreach { f => out.writeInt(f.length); out.write(f) }
    out.flush(); bos.toByteArray
  }

  def unpackFrames(payload: Array[Byte]): Seq[(Int, Array[Byte])] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(payload))
    val n = in.readInt()
    (0 until n).map { i =>
      val len = in.readInt()
      val buf = new Array[Byte](len)
      in.readFully(buf)
      (i, buf)
    }
  }

  /** FRAME SAMPLING: keep every `stride`-th frame (indices 0, stride, …),
    * decode each kept frame with ImageIO, emit its geometry. Parse + decode
    * run per-partition on executors; unsampled frames are skipped without
    * decoding (the point of sampling).
    */
  def sampleFrames(media: Dataset[MediaRecord], stride: Int): Dataset[FrameFeatures] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      unpackFrames(r.payload).iterator
        .filter { case (i, _) => i % stride == 0 }
        .map { case (i, png) =>
          val img = Img.read(png)
          require(img != null, s"media ${r.media_id} frame $i: not a decodable image")
          FrameFeatures(r.media_id, i, img.getWidth, img.getHeight)
        }
    })
  }

  /** One frame's brightness + shot-boundary flag (see [[shotBoundaries]]). */
  final case class ShotFrame(media_id: Long, frame_idx: Int, mean_gray: Long,
                             is_boundary: Int)

  /** SHOT-BOUNDARY detection over a multi-frame container: decode each
    * frame, compute its integer mean grayscale (per-pixel `(r+g+b)/3`
    * first, then the frame mean — both floor divisions, the
    * [[blockGrid]] convention), and flag frame i ≥ 1 as a boundary when
    * `|mean(i) − mean(i−1)| > threshold` — the classic luma-delta shot
    * detector (a production system would add histogram/edge deltas behind
    * the same shape). Frames of one container are processed sequentially
    * inside the partition — inherent to video (inter-frame deltas need
    * decode order), and still map-only across containers: zero shuffles.
    */
  def shotBoundaries(media: Dataset[MediaRecord], threshold: Long = 8): Dataset[ShotFrame] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { r =>
      val means = unpackFrames(r.payload).map { case (i, png) =>
        val img = Img.read(png)
        require(img != null, s"media ${r.media_id} frame $i: not a decodable image")
        val px = Img.rgb(img)
        var sum = 0L
        var p = 0
        while (p < px.length) {
          val rgb = px(p)
          sum += (((rgb >>> 16) & 0xff) + ((rgb >>> 8) & 0xff) + (rgb & 0xff)) / 3
          p += 1
        }
        (i, sum / px.length)
      }
      means.iterator.map { case (i, m) =>
        val boundary =
          if (i == 0) 0
          else if (math.abs(m - means(i - 1)._2) > threshold) 1 else 0
        ShotFrame(r.media_id, i, m, boundary)
      }
    })
  }

  /** Multi-frame containers from the documents table: doc_id%5+1 frames,
    * frame i an (i+1)×2 PNG — arithmetic geometry so the sampled-frame
    * output is oracle-checkable.
    */
  def frameMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val n = (id % 5).toInt + 1
        val frames = (0 until n).map { i =>
          val (img, px) = Img.newRgb(i + 1, 2)
          var x = 0
          while (x <= i) {
            px(x) = ((id * 31 + x) & 0xffffff).toInt
            px(i + 1 + x) = ((id * 131 + x) & 0xffffff).toInt
            x += 1
          }
          Img.writePng(img)
        }
        MediaRecord(id, packFrames(frames), "video/x-frames")
      }
    }
  }

  /** Real PNG payloads derived from the documents table (the container
    * ships no media fixtures, so the pixels are synthesized — but the
    * ENCODE → bytes → DECODE path is the real codec both ways). Dimensions
    * are arithmetic in (doc_id, n_chars), which is what lets an independent
    * SQL engine oracle-check the decode: width = n_chars % 64 + 1,
    * height = doc_id % 48 + 1. Encoding runs per-partition on executors.
    */
  def pngMediaFromDocuments(spark: SparkSession, docs: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    docs.select(col("doc_id"), col("n_chars")).as[(Long, Long)].mapPartitions { it =>
      it.map { case (id, nChars) =>
        val w = (nChars % 64).toInt + 1
        val h = (id % 48).toInt + 1
        val (img, px) = Img.newRgb(w, h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            // deterministic pseudo-pixels; PNG is lossless so decode
            // recovers them exactly
            px(y * w + x) = ((id * 2654435761L + x * 131 + y * 31) & 0xffffff).toInt
            x += 1
          }
          y += 1
        }
        MediaRecord(id, Img.writePng(img), "image/png")
      }
    }
  }

  // ---- perceptual-hash image dedup -----------------------------------
  //
  // The image member of the dedup family: a 60-bit difference hash (dHash)
  // over a 9×8 grayscale block grid, paired through the SAME banded-Hamming
  // machinery the text SimHash uses (SimHash.nearDuplicatesFromSigs — one
  // keyed shuffle on 16-bit chunks, never an all-pairs join). Every
  // arithmetic step (channel split, integer-division grayscale, block
  // means, gradient signs) is integer-exact, so given pixels an
  // independent SQL engine can derive, the hash — and therefore the whole
  // hash→band→verify pipeline — is cross-engine oracle-checkable. 60 bits
  // (not 64) keeps the signature signed-positive in both engines, the same
  // convention as the SimHash/MinHash md5 twins.

  /** 60-bit dHash of a decoded image. Grid: 9×8 blocks with integer
    * boundaries `x ∈ [gx·w/9, (gx+1)·w/9)` (floor division — exact in any
    * engine); block value = mean of per-pixel grayscale `(r+g+b)/3`, both
    * integer divisions (grayscale FIRST, then the block mean — order
    * matters for exactness and is pinned by the oracle). Bit `b = gy·8+gx`
    * (b < 60) is 1 iff the block right of (gy,gx) is strictly brighter —
    * the horizontal-gradient sign, which survives uniform brightness and
    * contrast shifts (the point of dHash over raw pixel hashing).
    */
  def dHash60(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    require(w >= 9 && h >= 8, s"dHash60 needs >= 9x8 pixels, got ${w}x$h")
    val block = blockGrid(img)
    var hash = 0L
    var b = 0
    while (b < 60) {
      val (gy, gx) = (b / 8, b % 8)
      if (block(gy)(gx + 1) > block(gy)(gx)) hash |= 1L << b
      b += 1
    }
    hash
  }

  /** 60-bit aHash (average hash): bit `b = gy·8+gx` (b < 60) is 1 iff
    * block (gy,gx) is strictly brighter than the mean of the 8×8 cells
    * (integer division; column 8 of the 9-wide grid is left to dHash).
    */
  def aHash60(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    require(w >= 9 && h >= 8, s"aHash60 needs >= 9x8 pixels, got ${w}x$h")
    val block = blockGrid(img)
    var sum = 0L
    for (gy <- 0 until 8; gx <- 0 until 8) sum += block(gy)(gx)
    val mean = sum / 64
    var hash = 0L
    var b = 0
    while (b < 60) {
      val (gy, gx) = (b / 8, b % 8)
      if (block(gy)(gx) > mean) hash |= 1L << b
      b += 1
    }
    hash
  }

  /** The shared 9×8 integer block grid both hashes sample. */
  private def blockGrid(img: java.awt.image.BufferedImage): Array[Array[Long]] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val px = Img.rgb(img)
    Array.tabulate(8, 9) { (gy, gx) =>
      val (x0, x1) = (gx * w / 9, (gx + 1) * w / 9)
      val (y0, y1) = (gy * h / 8, (gy + 1) * h / 8)
      var sum = 0L
      var n = 0L
      var y = y0
      while (y < y1) {
        val row = y * w
        var x = x0
        while (x < x1) {
          val rgb = px(row + x)
          sum += (((rgb >>> 16) & 0xff) + ((rgb >>> 8) & 0xff) + (rgb & 0xff)) / 3
          x += 1; n += 1
        }
        y += 1
      }
      sum / n
    }
  }

  /** Quantized DCT-II basis for [[pHash60]]: `round(1024·cos(π(2x+1)u/16))`
    * — computed ONCE here and exported verbatim into the oracle SQL as a
    * VALUES literal (the trained-centroid discipline: the one
    * transcendental — cos — never crosses engines; both sides multiply
    * the SAME integers).
    */
  val DctQ: Array[Array[Long]] = Array.tabulate(8, 8) { (u, x) =>
    math.round(1024.0 * math.cos(math.Pi * (2 * x + 1) * u / 16.0))
  }

  /** 60-bit pHash (DCT hash) of a decoded image — the frequency-domain
    * member of the image signature family beside the gradient [[dHash60]]
    * and brightness [[aHash60]]: a 2D integer DCT over the 8×8 block
    * grid, then each of the 60 lowest non-DC coefficients (row-major
    * indices 1..60) compared against their LOWER MEDIAN (the 30th
    * smallest — deterministic for integers). Frequency thresholding
    * survives blur/sharpen-class perturbations that flip local gradients.
    * All arithmetic is integer (`|coef| ≤ 1024·255·64·1024 ≈ 1.7·10¹³`),
    * so the hash is cross-engine oracle-checkable like its siblings; the
    * two matrix multiplies are separable (C·G then ·Cᵀ), the shape the
    * oracle mirrors.
    */
  def pHash60(img: java.awt.image.BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    require(w >= 9 && h >= 8, s"pHash60 needs >= 9x8 pixels, got ${w}x$h")
    val g = blockGrid(img) // 8 rows × 9 cols; columns 0..7 used
    val t = Array.tabulate(8, 8) { (u, x) =>
      var acc = 0L; var y = 0
      while (y < 8) { acc += DctQ(u)(y) * g(y)(x); y += 1 }
      acc
    }
    val f = Array.tabulate(8, 8) { (u, v) =>
      var acc = 0L; var x = 0
      while (x < 8) { acc += DctQ(v)(x) * t(u)(x); x += 1 }
      acc
    }
    val sel = (1 to 60).map(ci => (ci, f(ci / 8)(ci % 8)))
    val med = sel.map(_._2).sorted.apply(29) // lower median of 60
    sel.foldLeft(0L) { case (hs, (ci, v)) =>
      if (v > med) hs | (1L << (ci - 1)) else hs
    }
  }

  /** DCT signatures over a media table: REAL PNG decode, then [[pHash60]]
    * → `(media_id, phash)`.
    */
  def dctHashes(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val img = Img.read(r.payload)
        require(img != null, s"media ${r.media_id}: payload is not a decodable image")
        (r.media_id, pHash60(img))
      }
    }.toDF("media_id", "phash")
  }

  /** Perceptual signatures over a media table: REAL PNG decode (ImageIO,
    * per-partition batches like [[extractFeatures]]), then both hashes →
    * `(media_id, dhash, ahash)`.
    */
  def perceptualHashes(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val img = Img.read(r.payload)
        require(img != null, s"media ${r.media_id}: payload is not a decodable image")
        (r.media_id, dHash60(img), aHash60(img))
      }
    }.toDF("media_id", "dhash", "ahash")
  }

  /** Image near-duplicate pairs, HASH-FIRST (round 13): collapse to
    * DISTINCT dHash values before any pairing — the chunk-pigeonhole band
    * join ([[SimHash.nearDuplicatesFromSigs]], exact for maxDist ≤ 3)
    * runs over one representative per distinct signature, and doc-level
    * pairs are expanded back through keyed joins on the signature:
    *
    *  - same-signature pairs (hamming 0): one self-join on `dhash` — its
    *    row count IS the output's exact-dup portion, nothing larger ever
    *    materializes;
    *  - cross-signature pairs: each rep pair within `maxDist` expands to
    *    members(sig_a) × members(sig_b) via two keyed joins, again
    *    output-sized, and every expanded pair inherits the rep pair's
    *    hamming because hamming is a function of the signatures alone.
    *
    * Why not run the band join over all docs directly (the pre-round-13
    * form): a web-scale image corpus is dominated by exact duplicates, so
    * every K-copy group put K rows in each of its 4 chunk buckets and the
    * join carried Σ K² candidate rows through a shuffle + dropDuplicates
    * — measured 545M candidates / 35 s warm at sf1 where the true output
    * was ~10× smaller; the same 500k-copy logo that motivated the
    * hash-first [[imageDedupGroups]] (round 8) would make the candidate
    * set 250G rows. Candidates are now ∝ distinct signatures and total
    * work is ∝ output size — the optimal shape for this contract. Output
    * `(media_a, media_b, hamming)`, identical bits to the doc-level form
    * (oracle-checked against the all-pairs hamming scan).
    */
  def imageNearDuplicates(media: Dataset[MediaRecord], maxDist: Int = 3): DataFrame = {
    Materialize.using(perceptualHashes(media).select(col("media_id"), col("dhash")))(
      imageNearDuplicatesFromSigs(_, maxDist))
  }

  /** [[imageNearDuplicates]] from an ALREADY-HASHED signature table
    * `(media_id, dhash)` — the DECODE-ONCE serving boundary (round-13
    * verdict item 5): a deployment hashes its corpus once at ingest and
    * every signature-level consumer (pair search, dedup groups, top-k)
    * reads the signature ledger; re-decoding the corpus per consumer is
    * not the serving path. The caller owns the input frame's storage
    * (pass a cached/ledger frame; this function re-reads it several
    * times); the RESULT is materialized and persisted before return, so
    * nothing here pins caller state past the call.
    */
  def imageNearDuplicatesFromSigs(sigs: DataFrame, maxDist: Int = 3): DataFrame = {
    val grp = sigs.groupBy(col("dhash")).agg(min(col("media_id")).as("rep"))
    // hamming-0 pairs: all ordered pairs within one signature group
    val same = sigs.select(col("dhash"), col("media_id").as("media_a"))
      .join(sigs.select(col("dhash"), col("media_id").as("media_b")), Seq("dhash"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"), lit(0).cast("int").as("hamming"))
    // rep-level near pairs (distinct sigs ⇒ hamming ≥ 1), expanded to members
    val repPairs = SimHash.nearDuplicatesFromSigs(
      grp.select(col("rep").as("media_id"), col("dhash").as("simhash")),
      maxDist, idCol = "media_id")
    val repSig = grp.select(col("rep"), col("dhash"))
    val cross = repPairs
      .join(repSig.select(col("rep").as("doc_a"), col("dhash").as("sig_a")), Seq("doc_a"))
      .join(repSig.select(col("rep").as("doc_b"), col("dhash").as("sig_b")), Seq("doc_b"))
      .join(sigs.select(col("dhash").as("sig_a"), col("media_id").as("m_a")), Seq("sig_a"))
      .join(sigs.select(col("dhash").as("sig_b"), col("media_id").as("m_b")), Seq("sig_b"))
      .select(least(col("m_a"), col("m_b")).as("media_a"),
        greatest(col("m_a"), col("m_b")).as("media_b"),
        col("hamming").cast("int").as("hamming"))
    // pinned before return: no lazy plan escapes that would re-read the
    // signature input after the caller releases it
    Materialize.pin(same.unionByName(cross))
  }

  /** Image dedup GROUPS — (media_id, component), component = min reachable
    * media_id under the hamming-≤-maxDist relation — computed HASH-FIRST
    * by [[SimHash.dedupGroupsFromSigs]] over the dHashes. Running CC over
    * the fully-expanded pair graph instead blows up quadratically in the
    * duplicate-group size (the expanded form OOM'd at sf1 in round 8,
    * which is why the hash-first form exists).
    */
  def imageDedupGroups(media: Dataset[MediaRecord], maxDist: Int = 3): DataFrame = {
    Materialize.using(perceptualHashes(media).select(col("media_id"), col("dhash")))(
      imageDedupGroupsFromSigs(_, maxDist))
  }

  /** [[imageDedupGroups]] from an already-hashed `(media_id, dhash)`
    * table — the decode-once boundary, as [[imageNearDuplicatesFromSigs]].
    * The caller owns the input's storage. Returns a checkpoint.
    */
  def imageDedupGroupsFromSigs(sigs: DataFrame, maxDist: Int = 3): DataFrame =
    SimHash.dedupGroupsFromSigs(sigs, "dhash", maxDist)(Components.connectedComponents(_))

  /** DUP-RATE-CONSTANT class modulus for the media/audio dedup fixtures
    * (round-12 verdict item 2): `101 · max(1, n/5000)` — identical to the
    * historical fixed 101 up to the sf0.1 bench corpus (n = 5000, where
    * the fixture's ~50-doc identical groups were calibrated), then scales
    * the CLASS COUNT with the corpus so group sizes — and true pair
    * counts per ingest — stay constant. With the fixed modulus, dup
    * classes saturated and pair counts grew ∝ (n/101)², so sf1 slopes
    * (~×20 dhash, ~×7 audio-fp) measured the fixture, not the engine.
    * Mirrored verbatim in the oracle SQL as
    * `101 * greatest(1, count(*) // 5000)` over the same table.
    */
  def dedupClassModulus(n: Long): Long = 101L * math.max(1L, n / 5000L)

  /** Dedup fixture: 18×16 PNGs whose pixel content depends on `doc_id`
    * only through `seed = doc_id % m`, `m = dedupClassModulus(count)` —
    * so ~n/m ≈ 50 groups-of-IDENTICAL-images per 101 classes at any scale
    * (exact-dup structure, constant dup rate) — and rows with
    * `doc_id % 3 == 0` additionally xor the RED high bits of one pixel in
    * each of two separate hash blocks, an edit that moves the dHash by
    * 0–3 bits (measured over 1010 seeds: 0 bits 83%, 1–3 bits 17% — real
    * near-dup structure that always stays within the maxDist=3 contract).
    * Pixels are `t = (seed·2654435761 + x·131 + y·31) & 0xffffff` then
    * `rgb = ((t·t mod 2²⁴)·48271) & 0xffffff` — the SQUARE is the mixing
    * step (the audio fixture's trick): without it, adjacent-block mean
    * DIFFERENCES are gradient-dominated and nearly seed-independent, so
    * dHash collapsed the class space (209 distinct signatures for 50k
    * docs at sf1 — groups grew with the corpus and the sf1 pair slope
    * measured the fixture's saturation, the round-12-item-2 failure mode
    * one level deeper). With the square, block means are i.i.d. per
    * class: 1010/1010 seeds map to distinct signatures and cross-class
    * hamming-≤3 collisions are ~0, so the signature-level dup rate — not
    * just the content-level one — is constant in corpus size. All
    * arithmetic stays < 2⁶³ at ANY modulus and both engines compute it,
    * so unlike a real photo corpus the WHOLE dedup pipeline (decode →
    * hash → band → verify) carries a DuckDB oracle; the codec round trip
    * is still the real ImageIO both ways.
    */
  def dedupMediaFromDocuments(spark: SparkSession, docs: DataFrame,
                              modulus: Long = -1L): Dataset[MediaRecord] = {
    import spark.implicits._
    // explicit modulus: a SUBSET (e.g. an ingest batch) must render the
    // SAME image per doc_id as the full corpus, so the class modulus has
    // to come from the corpus count, not the subset's
    val m = if (modulus > 0) modulus else dedupClassModulus(docs.count())
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      it.map { id =>
        val seed = id % m
        val (img, px) = Img.newRgb(18, 16)
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 18) {
            val t = (seed * 2654435761L + x * 131 + y * 31) & 0xffffffL
            var rgb = (((t * t) % 16777216L) * 48271L & 0xffffffL).toInt
            // blocks (0,0) and (2,2): dHash bits {0} and {17,18} — hamming
            // moves by at most 3, so a perturbed doc is always still a
            // near-dup of its class under the maxDist=3 contract
            if (id % 3 == 0 && ((x == 0 && y == 0) || (x == 4 && y == 4)))
              rgb ^= 0x700000
            px(y * 18 + x) = rgb
            x += 1
          }
          y += 1
        }
        MediaRecord(id, Img.writePng(img), "image/png")
      }
    }
  }
}
