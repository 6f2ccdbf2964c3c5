package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal-column plumbing: image/audio/video as opaque `binary` columns
 * with typed metadata, plus decode / feature-extract / resize / frame-sample
 * stages.
 *
 * The Spark-side plumbing (schema, partitioning, batch shape) is real, and so
 * is the decode: BMP, binary PPM (P6) and RIFF/WAV headers are parsed in
 * pure JVM code, and the COMPRESSED image formats — PNG, JPEG, GIF
 * (including animated) — decode through the JDK's own `javax.imageio`
 * codecs ([[decodeImage]]): headless-safe, in every standard JDK, zero
 * external dependencies. Only compressed AUDIO/VIDEO (MP3/H.264-class)
 * stays behind the clearly-marked [[decodeStub]] fallback — the JDK ships
 * no such codecs; swapping in a real one is a one-function change (the
 * mapPartitions batch loop is codec-agnostic).
 *
 * Scale design:
 *  - media bytes never shuffle: every stage is a narrow mapPartitions over
 *    the scan, metadata-only projections shuffle instead;
 *  - `TargetPartitionBytes` guides a repartitionByRange on id for writes so
 *    single oversized blobs don't skew partitions;
 *  - decode batches amortize per-record codec setup inside a partition,
 *    mirroring the Arrow-batch shape a vectorized UDF would use.
 */
object Multimodal {

  /** media table schema: opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType),   // image | audio | video
    StructField("content", BinaryType),
    StructField("source_uri", StringType)))

  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("media_type", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("duration_ms", LongType),
    StructField("feature", ArrayType(FloatType))))

  /**
   * Deterministic fixture generator: fake media blobs whose "header" encodes
   * width/height/frames in the first bytes (id-seeded, reproducible).
   */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame = {
    val types = Seq("image", "audio", "video")
    val rows = (0 until n).map { i =>
      val t = types(i % 3)
      val w = 64 + (i * 37) % 1920
      val h = 64 + (i * 53) % 1080
      val frames = if (t == "video") 1 + (i % 240) else 1
      val header = java.nio.ByteBuffer.allocate(20)
        .put(StubMagic).putInt(w).putInt(h).putInt(frames).putInt(i)
      val payload = Array.tabulate[Byte](64)(j => ((i * 31 + j * 7) % 256).toByte)
      Row(i.toLong, t, header.array() ++ payload, s"synthetic://$t/$i")
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, n / 1000)), mediaSchema)
  }

  /**
   * Real decode, pure JVM: sniffs the payload's magic bytes and parses BMP /
   * binary PPM (P6) / RIFF-WAV headers directly, and routes PNG / JPEG / GIF
   * through the JDK's own `javax.imageio` codecs ([[decodeImage]] — ships in
   * every standard JDK, zero external dependencies); anything else falls
   * back to [[decodeStub]], which is gated on the synthetic-format magic —
   * an unrecognized REAL format reports not-decodable (all-zero), never
   * fabricated geometry. Returns (width, height, n_frames, duration_ms) —
   * audio reports (0, 0, sample_frames, ms).
   */
  def decode(mediaType: String, content: Array[Byte]): (Int, Int, Int, Long) = {
    if (content == null || content.length < 2) (0, 0, 0, 0L)
    else if (content(0) == 'B' && content(1) == 'M') decodeBmp(content)
    else if (content(0) == 'P' && content(1) == '6') decodePpm(content)
    else if (content.length >= 12 &&
      content(0) == 'R' && content(1) == 'I' && content(2) == 'F' && content(3) == 'F' &&
      content(8) == 'W' && content(9) == 'A' && content(10) == 'V' && content(11) == 'E')
      decodeWav(content)
    else if (isPng(content) || isJpeg(content) || isGif(content)) {
      // header-level pass (no pixel work) — the hot decodeAndFeaturize path
      // only needs geometry; decodeImage(fullDecode = true) is the
      // pixel-accurate variant
      val info = decodeImage(content, fullDecode = false)
      if (info.ok) (info.width, info.height, info.nFrames, 0L)
      else (0, 0, 0, 0L)
    }
    else decodeStub(mediaType, content)
  }

  private[multimodal] def isPng(b: Array[Byte]): Boolean =
    b.length >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' &&
      b(3) == 'G' && (b(4) & 0xFF) == 0x0D && (b(5) & 0xFF) == 0x0A

  private[multimodal] def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 3 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8 &&
      (b(2) & 0xFF) == 0xFF

  private[multimodal] def isGif(b: Array[Byte]): Boolean =
    b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8'

  /** Decoded-image facts: `ok = false` means the payload failed to decode
    * (corrupt, truncated, or no codec) and every other field is zero/None —
    * the fail-soft contract a 100 TB crawl corpus needs (bad blobs are data,
    * not exceptions). Pixel sums are per-channel totals over the FIRST
    * frame, populated for lossless formats only (`None` for JPEG: IDCT
    * output is codec-implementation-defined, so asserting it would pin a
    * library, not the data). */
  final case class ImageInfo(ok: Boolean, width: Int, height: Int,
                             nFrames: Int, channels: Int,
                             sumR: Option[Long], sumG: Option[Long],
                             sumB: Option[Long])

  private val badImage = ImageInfo(ok = false, 0, 0, 0, 0, None, None, None)

  /**
   * PNG / JPEG / GIF decode via the JDK's `javax.imageio` (headless-safe,
   * no external codec library). `fullDecode = true` decodes the first
   * frame's pixels (corrupt payloads fail here → `badImage`) and sums each
   * channel; `false` reads geometry from the header only. Frame count uses
   * the reader's full scan (`getNumImages(true)`) so animated GIFs report
   * their real length.
   */
  def decodeImage(content: Array[Byte],
                  fullDecode: Boolean = true): ImageInfo = {
    if (content == null || content.length < 8) return badImage
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(content))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return badImage
        val reader = readers.next()
        reader.setInput(iis, false, true)
        try {
          // frame count: PNG/JPEG are single-frame by format, answered from
          // the header; only GIF pays the full-payload scan
          // (getNumImages(true) walks every frame block), because animation
          // length IS the datum there — the header-only pass must not read
          // O(payload) for the common single-frame formats
          def frames: Int =
            if (isGif(content))
              try reader.getNumImages(true)
              catch { case scala.util.control.NonFatal(_) => 1 }
            else 1
          if (!fullDecode) {
            ImageInfo(ok = true, reader.getWidth(0), reader.getHeight(0),
              frames, 0, None, None, None)
          } else {
            val img = reader.read(0) // corrupt/truncated data throws here
            val w = img.getWidth; val h = img.getHeight
            val ch = img.getColorModel.getNumColorComponents
            if (isJpeg(content)) {
              ImageInfo(ok = true, w, h, frames, ch, None, None, None)
            } else {
              // bulk pixel fetch in ROW STRIPES with one reused w-length
              // buffer (r13 review): bulk beats w·h per-pixel getRGB calls
              // (each a color-model conversion), and striping avoids a
              // whole-frame w·h int copy — a second 4 GiB allocation for a
              // 2³⁰-pixel panorama — on top of the BufferedImage
              val row = new Array[Int](w)
              var sr = 0L; var sg = 0L; var sb = 0L
              var y = 0
              while (y < h) {
                img.getRGB(0, y, w, 1, row, 0, w)
                var x = 0
                while (x < w) {
                  val p = row(x)
                  sr += (p >> 16) & 0xFF
                  sg += (p >> 8) & 0xFF
                  sb += p & 0xFF
                  x += 1
                }
                y += 1
              }
              ImageInfo(ok = true, w, h, frames, ch, Some(sr), Some(sg), Some(sb))
            }
          }
        } finally reader.dispose()
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => badImage }
  }

  /** BMP: BITMAPINFOHEADER width/height (int32 LE at offsets 18/22; height
    * may be negative for top-down rows — report magnitude). */
  private def decodeBmp(b: Array[Byte]): (Int, Int, Int, Long) = {
    if (b.length < 26) return (0, 0, 0, 0L)
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (bb.getInt(18), math.abs(bb.getInt(22)), 1, 0L)
  }

  /** Binary PPM (P6): ASCII header `P6 <w> <h> <maxval>` with `#` comments
    * running to end-of-line, tokens separated by any whitespace. */
  private def decodePpm(b: Array[Byte]): (Int, Int, Int, Long) = {
    var i = 2
    def nextInt(): Int = {
      // skip whitespace and comments
      var inComment = false
      while (i < b.length && {
        val c = b(i).toChar
        if (inComment) { if (c == '\n') inComment = false; true }
        else if (c == '#') { inComment = true; true }
        else c.isWhitespace
      }) i += 1
      var v = 0
      var any = false
      while (i < b.length && b(i).toChar.isDigit) { v = v * 10 + (b(i) - '0'); i += 1; any = true }
      if (any) v else -1
    }
    val w = nextInt(); val h = nextInt()
    if (w < 0 || h < 0) (0, 0, 0, 0L) else (w, h, 1, 0L)
  }

  /** RIFF/WAVE: walk chunks for `fmt ` (channels/sample-rate/block-align) and
    * `data` (payload size); frames = dataSize / blockAlign, duration from the
    * sample rate. */
  private def decodeWav(b: Array[Byte]): (Int, Int, Int, Long) = {
    val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // off is a LONG (r12 review): a large POSITIVE declared size (e.g.
    // 0x7FFFFFF0) passed the negative-size guard but overflowed the Int
    // advance `8 + size + (size & 1)` to a negative offset — the loop guard
    // stayed true and `new String(b, off, 4)` threw, failing the whole job
    // on one fuzzed blob. With Long arithmetic the oversized advance simply
    // walks past b.length and the loop ends (truncated-chunk case).
    var off = 12L
    var sampleRate = 0; var blockAlign = 0; var dataSize = -1
    var corrupt = false
    while (!corrupt && off + 8 <= b.length && (sampleRate == 0 || dataSize < 0)) {
      val i = off.toInt // safe: off + 8 <= b.length <= Int.MaxValue
      val id = new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
      val size = bb.getInt(i + 4)
      // fail-soft on corrupt chunk sizes (r11 review): a NEGATIVE size —
      // e.g. 0xFFFFFFF8 in a truncated/fuzzed blob — made `off` advance by
      // zero (an executor task spinning forever on one bad blob) or go
      // negative (StringIndexOutOfBounds failing the whole job). Bad blobs
      // are data, not exceptions: bail and report not-decodable.
      if (size < 0) corrupt = true
      else {
        if (id == "fmt " && off + 24 <= b.length) {
          sampleRate = bb.getInt(i + 12)
          blockAlign = bb.getShort(i + 20).toInt & 0xFFFF
        } else if (id == "data") dataSize = size
        off += 8L + size.toLong + (size & 1) // chunks are word-aligned
      }
    }
    if (corrupt) return (0, 0, 0, 0L)
    if (sampleRate <= 0 || blockAlign <= 0 || dataSize < 0) (0, 0, 0, 0L)
    else {
      val frames = dataSize / blockAlign
      (0, 0, frames, frames.toLong * 1000L / sampleRate)
    }
  }

  /** Magic prefix of the synthetic stub-format header ([[syntheticMedia]]). */
  private[multimodal] val StubMagic: Array[Byte] =
    Array('G'.toByte, 'F'.toByte, 'T'.toByte, '0'.toByte)

  /**
   * STUB codec: parses the synthetic magic-prefixed 20-byte header — and
   * ONLY that format. A real format that matched no magic above (WebP,
   * TIFF, MP4, MP3, a corrupt PNG…) reports not-decodable instead of
   * reinterpreting its first 16 bytes as geometry (r12 review: an MP4's
   * `ftyp` bytes decoded to n_frames ≈ 1.8e9, which sampleFrames exploded
   * into ~73M rows for ONE media row). A real deployment replaces this body
   * with an actual decoder for compressed formats (e.g. TwelveMonkeys/
   * ImageIO for JPEG, javax.sound for MP3-class audio) — the signature and
   * everything around it stays.
   */
  def decodeStub(mediaType: String, content: Array[Byte]): (Int, Int, Int, Long) = {
    if (content == null || content.length < 20 ||
        !content.startsWith(StubMagic)) (0, 0, 0, 0L)
    else {
      val bb = java.nio.ByteBuffer.wrap(content, 4, 16)
      val w = bb.getInt; val h = bb.getInt; val frames = bb.getInt
      val durationMs = if (mediaType == "audio" || mediaType == "video")
        frames.toLong * 40L else 0L
      (w, h, frames, durationMs)
    }
  }

  /** Deterministic fake feature vector (content-hash-seeded, fixed dim). */
  private def featureStub(content: Array[Byte], dim: Int = 8): Array[Float] = {
    if (content == null) Array.fill(dim)(0f)
    else {
      var h = 1125899906842597L
      content.foreach(b => h = 31 * h + b)
      Array.tabulate(dim) { d =>
        val x = h ^ (d.toLong * 0x9E3779B97F4A7C15L)
        ((x % 1000003L).toFloat / 1000003f)
      }
    }
  }

  /** A real 24-bit bottom-up BMP, built byte-for-byte (deterministic pixels). */
  def bmpBytes(w: Int, h: Int): Array[Byte] = {
    val rowBytes = w * 3
    val pad = (4 - rowBytes % 4) % 4
    val pixelBytes = (rowBytes + pad) * h
    val bb = java.nio.ByteBuffer.allocate(54 + pixelBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + pixelBytes)
      .putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(pixelBytes).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (y <- 0 until h) {
      for (x <- 0 until w)
        bb.put(((x * 40 + y) % 256).toByte).put(((x * 80 + y) % 256).toByte)
          .put(((x * 120 + y) % 256).toByte)
      for (_ <- 0 until pad) bb.put(0.toByte)
    }
    bb.array()
  }

  /** A real 24-bit BMP with caller-supplied GRAY pixels: `gray(x, y)` (in
    * 0..255, y = 0 is the TOP row as decoded — rows are written bottom-up
    * per the format) becomes (r, g, b) = (v, v, v). The block-pattern
    * fixture images behind the aHash oracle are built with this, so their
    * hashes are derivable BY HAND from the pattern — the oracle pins
    * ground truth, not a re-run of the implementation. */
  def bmpBytesOf(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = w * 3
    val pad = (4 - rowBytes % 4) % 4
    val pixelBytes = (rowBytes + pad) * h
    val bb = java.nio.ByteBuffer.allocate(54 + pixelBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + pixelBytes)
      .putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(pixelBytes).putInt(2835).putInt(2835).putInt(0).putInt(0)
    for (y <- (h - 1) to 0 by -1) { // bottom-up storage, top-down gray(x, y)
      for (x <- 0 until w) {
        val v = (gray(x, y) & 0xFF).toByte
        bb.put(v).put(v).put(v)
      }
      for (_ <- 0 until pad) bb.put(0.toByte)
    }
    bb.array()
  }

  /** A real binary PPM (P6) with a comment line in the header. */
  def ppmBytes(w: Int, h: Int): Array[Byte] = {
    val header = s"P6\n# graft sample\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    header ++ Array.tabulate[Byte](w * h * 3)(i => (i % 256).toByte)
  }

  /** Deterministic RGB test image: r=(7x+3y)%256, g=(5x+11y)%256,
    * b=(13x+17y)%256 — pixel sums are computable from the formula alone,
    * independent of any codec (the oracle's ground truth). */
  private def formulaRgbImage(w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w)
      img.setRGB(x, y,
        (((x * 7 + y * 3) % 256) << 16) |
        (((x * 5 + y * 11) % 256) << 8) |
        ((x * 13 + y * 17) % 256))
    img
  }

  /** Deterministic 16-level GRAY test image (offset shifts the pattern per
    * animation frame): 16 distinct colors fit any GIF palette exactly, so
    * the indexed round-trip is lossless and the formula stays ground truth. */
  private def formulaGrayImage(w: Int, h: Int,
                               offset: Int = 0): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = ((x * 7 + y * 13 + offset) % 16) * 17
      img.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    img
  }

  private def imageBytes(img: java.awt.image.BufferedImage,
                         format: String): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, baos),
      s"JDK ImageIO has no $format writer")
    baos.toByteArray
  }

  /** A real PNG (JDK ImageIO writer, formula pixels — lossless). */
  def pngBytes(w: Int, h: Int): Array[Byte] =
    imageBytes(formulaRgbImage(w, h), "png")

  /** A real baseline JPEG (JDK ImageIO writer — lossy; geometry ground
    * truth only). */
  def jpegBytes(w: Int, h: Int): Array[Byte] =
    imageBytes(formulaRgbImage(w, h), "jpg")

  /** A real single-frame GIF (16-gray formula — palette round-trip exact). */
  def gifBytes(w: Int, h: Int): Array[Byte] =
    imageBytes(formulaGrayImage(w, h), "gif")

  /** A real ANIMATED GIF via the JDK writer's sequence API: `frames` frames
    * of the 16-gray formula, frame k shifted by k (frame 0 = [[gifBytes]]'
    * pattern — the first-frame pixel ground truth). */
  def gifAnimatedBytes(w: Int, h: Int, frames: Int): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for (f <- 0 until frames)
        writer.writeToSequence(
          new javax.imageio.IIOImage(formulaGrayImage(w, h, offset = f),
            null, null), null)
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    baos.toByteArray
  }

  /** Output schema of [[decodeImageFacts]]. */
  val imageFactsSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("channels", IntegerType),
    StructField("sum_r", LongType),
    StructField("sum_g", LongType),
    StructField("sum_b", LongType)))

  /**
   * Full-decode pass for ImageIO-backed media (PNG/JPEG/GIF): one narrow
   * mapPartitions over (media_id, content) — blobs never shuffle —
   * producing per-image facts per [[ImageInfo]]'s contract (fail-soft
   * `ok = false` rows for undecodable payloads, first-frame channel sums
   * for lossless formats).
   */
  def decodeImageFacts(media: DataFrame): DataFrame = {
    val outEncoder = org.apache.spark.sql.Encoders.row(imageFactsSchema)
    media.select("media_id", "content")
      .mapPartitions { it =>
        it.map { r =>
          val info = decodeImage(r.getAs[Array[Byte]](1), fullDecode = true)
          Row(r.getLong(0), info.ok, info.width, info.height, info.nFrames,
            info.channels, info.sumR.map(Long.box).orNull,
            info.sumG.map(Long.box).orNull, info.sumB.map(Long.box).orNull)
        }
      }(outEncoder)
      .toDF()
  }

  /** 8×8-grid cell index along one axis, in LONG arithmetic: `p * 8`
    * overflows Int once a dimension reaches 2^28, and inside [[aHash64]]
    * the resulting negative index would throw and be silently declined to
    * None by the NonFatal catch — exactly on the 2^30-pixel panoramas the
    * BigInt comparison threshold exists for (r13 advice). Package-private
    * so the spec can pin the overflow regime without allocating a
    * 2^28-wide frame. */
  private[multimodal] def cellAxis(p: Int, extent: Int): Int =
    (p.toLong * 8 / extent).toInt

  /**
   * 64-bit perceptual average-hash (aHash) of a LOSSLESS raster payload —
   * the image near-duplicate key of a multimodal training pipeline (the
   * classic 8×8 mean-threshold hash: robust to re-encoding, resizing, and
   * small edits, cheap enough to compute at crawl scale; near-dup = small
   * Hamming distance, served by [[aHashNearDupPairs]]).
   *
   * Definition (exact INTEGER arithmetic end to end, so the hash is
   * bit-deterministic across JVMs and derivable by hand for constructed
   * patterns — the oracle's ground truth):
   *   - decode the first frame; pixel luminance = r + g + b (equal weights,
   *     no division — thresholding is scale-invariant);
   *   - partition the image into an 8×8 cell grid (pixel (x, y) → cell
   *     (8x/w, 8y/h), integer floor);
   *   - bit (cy·8 + cx) is set iff the cell's mean luminance exceeds the
   *     GLOBAL mean: cellSum·nPixels > totalSum·cellCount, cross-multiplied
   *     in BigInt (a 2³⁰-pixel panorama would overflow the long product;
   *     64 comparisons per image make exactness free).
   *
   * JPEG returns None — IDCT output is codec-implementation-defined, and a
   * pixel-derived hash would pin a library, not the image (the same gate as
   * [[ImageInfo]]'s channel sums). Undecodable/degenerate payloads return
   * None (fail-soft: bad blobs are data). Images narrower than 8 px in
   * either dimension leave the uncovered cells' bits 0 (cellCount 0 never
   * exceeds anything).
   */
  def aHash64(content: Array[Byte]): Option[Long] = {
    if (content == null || content.length < 8 || isJpeg(content)) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(content))
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w <= 0 || h <= 0) return None
      // row-stripe reads with ONE reused w-length buffer (r13 review): a
      // whole-frame getRGB doubles peak memory with a w·h int copy — 4 GiB
      // extra for the 2³⁰-pixel panorama the BigInt threshold exists for
      val row = new Array[Int](w)
      val cellSum = new Array[Long](64)
      val cellCnt = new Array[Long](64)
      var total = 0L
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w)
        val cy = cellAxis(y, h)
        var x = 0
        while (x < w) {
          val c = cy * 8 + cellAxis(x, w)
          val p = row(x)
          val g = ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF)
          cellSum(c) += g
          cellCnt(c) += 1
          total += g
          x += 1
        }
        y += 1
      }
      val n = w.toLong * h
      var hash = 0L
      var i = 0
      while (i < 64) {
        if (cellCnt(i) > 0 &&
          BigInt(cellSum(i)) * n > BigInt(total) * cellCnt(i))
          hash |= 1L << i
        i += 1
      }
      Some(hash)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Shared (media_id, ahash) plumbing for the perceptual hashers: one
    * narrow mapPartitions pass, NULL for payloads the hasher declines.
    * Blobs never leave the scan; 8 bytes per item is what flows on. */
  private def hashColumn(media: DataFrame,
                         hasher: Array[Byte] => Option[Long]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("ahash",
        org.apache.spark.sql.types.LongType, nullable = true)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select("media_id", "content")
      .mapPartitions { it =>
        it.map { r =>
          Row(r.getLong(0),
            hasher(r.getAs[Array[Byte]](1)).map(Long.box).orNull)
        }
      }(enc)
      .toDF()
  }

  /** (media_id, ahash) over [[aHash64]] — NULL for JPEG/corrupt/non-image. */
  def imageAHashes(media: DataFrame): DataFrame = hashColumn(media, aHash64)

  /**
   * Image near-duplicate pairs by aHash Hamming distance — the multimodal
   * twin of [[graft.operators.Dedup.simhashNearDuplicates]]. Pigeonhole
   * candidate generation: the 64-bit hash splits into 8 bytes; two hashes
   * within Hamming distance ≤ 7 MUST agree on at least one byte (≤ 7 flips
   * touch ≤ 7 of the 8 chunks), so an equi-join on (chunk index, chunk
   * value) has FULL recall for `maxHamming ≤ 7` and the exact
   * `bit_count(xor)` verify kills the false candidates. Shuffle carries
   * (id, byte) pairs — never hashes of all pairs, never payloads; a
   * degenerate corpus (all-black thumbnails → one hot bucket) behaves like
   * any hot equi-key and salts the same way.
   */
  def aHashNearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(imageAHashes(media), maxHamming)

  /** [[aHashNearDupPairs]] over the AUDIO envelope hash — same pigeonhole
    * candidate join, same exact verify ([[wavEnergyHash64]]). */
  def audioNearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(audioEnergyHashes(media), maxHamming)

  /** (media_id, ahash, ci, cv) — one row per one-byte chunk of each hash
    * (ci = chunk index 0..7, cv = the byte; arithmetic shiftright then
    * mask, so negative hashes chunk correctly). */
  private def chunksOf(hashes: DataFrame): DataFrame =
    hashes.select(col("media_id"), col("ahash"),
      explode(array((0 until 8).map(i =>
        struct(lit(i).as("ci"),
          shiftright(col("ahash"), i * 8).bitwiseAND(0xFF).as("cv"))): _*))
        .as("c"))
      .select(col("media_id"), col("ahash"),
        col("c.ci").as("ci"), col("c.cv").as("cv"))

  /** Shared Hamming-radius pair machinery over a (media_id, ahash) frame —
    * see [[aHashNearDupPairs]] for the recall argument and scale shape. */
  private def hammingPairs(hashFrame: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "maxHamming in [0,7] — 8 one-byte chunks pigeonhole up to 7 flips")
    val chunks = chunksOf(hashFrame.filter(col("ahash").isNotNull))
    val a = chunks.select(col("ci"), col("cv"),
      col("media_id").as("id_a"), col("ahash").as("ha"))
    val b = chunks.select(col("ci"), col("cv"),
      col("media_id").as("id_b"), col("ahash").as("hb"))
    a.join(b, Seq("ci", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "ha", "hb").distinct() // ≤ 8 chunk collisions per pair
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** The persistable chunk index of a media corpus's perceptual hashes —
    * the media mirror of [[graft.operators.Dedup.bandIndex]]: compute once,
    * write with `TableLayout.writeBucketed(_, table, Seq("ci", "cv"),
    * buckets)`, and every nightly batch probes it SHUFFLE-FREE on the
    * corpus side ([[incrementalAHashPairs]]; MultimodalSpec machine-checks
    * the zero-Exchange probe). Items whose payload declines hashing never
    * enter the index. */
  def aHashChunkIndex(media: DataFrame): DataFrame =
    chunksOf(imageAHashes(media).filter(col("ahash").isNotNull))

  /**
   * Incremental media near-dup: a NEW batch of images against an EXISTING
   * corpus's precomputed chunk index — the nightly flow where re-hashing
   * and self-joining the whole corpus per batch would pay the full decode
   * bill for a 0.1% increment. Emits (new_id, corpus_id, hamming ≤
   * `maxHamming`) CROSS pairs only; intra-batch duplicates are
   * [[aHashNearDupPairs]] on the (small) batch.
   *
   * Corpus ids present in the batch are excluded (broadcast anti-join —
   * the batch id set is small, and a shuffled anti would re-exchange the
   * bucketed index): under an at-least-once upstream, a crashed-then-
   * replayed batch re-probes an index that already holds its own rows and
   * every replayed image would otherwise report itself as a distance-0
   * "duplicate" — the [[graft.operators.Dedup.incrementalNearDupPairs]]
   * replay rule.
   */
  def incrementalAHashPairs(batch: DataFrame, corpusIndex: DataFrame,
                            maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 7,
      "maxHamming in [0,7] — 8 one-byte chunks pigeonhole up to 7 flips")
    val required = Seq("media_id", "ahash", "ci", "cv")
    require(required.forall(corpusIndex.columns.contains),
      s"corpusIndex needs columns (${required.mkString(", ")}) — build it " +
        "with aHashChunkIndex")
    val batchChunks = chunksOf(imageAHashes(batch).filter(col("ahash").isNotNull))
      .select(col("ci"), col("cv"),
        col("media_id").as("new_id"), col("ahash").as("__hb"))
    val corpus = corpusIndex
      .join(broadcast(batch.select(col("media_id")).distinct()),
        Seq("media_id"), "left_anti") // replay guard; broadcast keeps the
                                      // bucketed index unexchanged
      .select(col("ci"), col("cv"),
        col("media_id").as("corpus_id"), col("ahash").as("__hc"))
    batchChunks.join(corpus, Seq("ci", "cv"))
      .select("new_id", "corpus_id", "__hb", "__hc").distinct()
      .withColumn("hamming",
        bit_count(col("__hb").bitwiseXOR(col("__hc"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select("new_id", "corpus_id", "hamming")
  }

  /**
   * 64-bit energy-envelope hash of a 16-bit mono PCM WAV — the audio twin
   * of [[aHash64]] (the mean-threshold idea over the LOUDNESS envelope:
   * robust to level-preserving edits, cheap at crawl scale; near-dup =
   * small Hamming distance via [[audioNearDupPairs]]). Exact integer
   * arithmetic throughout (BigInt cross-multiply threshold), so the hash
   * is bit-deterministic and hand-derivable for constructed signals — the
   * oracle's ground truth.
   *
   * Definition: partition the sample stream into 64 segments (sample i →
   * segment 64i/n, integer floor); bit k is set iff segment k's mean
   * |amplitude| exceeds the GLOBAL mean |amplitude|. Only uncompressed
   * 16-bit mono PCM is hashed — stereo/other-depth/compressed audio
   * returns None (downmix/resample upstream; a format-dependent decode
   * would pin a codec, the [[aHash64]] JPEG rule). Declared data sizes are
   * clamped to the bytes actually present (truncated uploads hash their
   * prefix instead of failing).
   */
  def wavEnergyHash64(content: Array[Byte]): Option[Long] = {
    if (content == null || content.length < 44) return None
    if (!(content(0) == 'R' && content(1) == 'I' && content(2) == 'F' &&
      content(3) == 'F')) return None
    try {
      val bb = java.nio.ByteBuffer.wrap(content)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var off = 12L
      var fmtOk = false
      var dataOff = -1L; var dataLen = -1L
      while (off + 8 <= content.length && (!fmtOk || dataOff < 0)) {
        val i = off.toInt
        val id = new String(content, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
        val size = bb.getInt(i + 4)
        if (size < 0) return None // corrupt chunk — the decodeWav rule
        if (id == "fmt " && off + 24 <= content.length) {
          val audioFormat = bb.getShort(i + 8).toInt & 0xFFFF
          val channels = bb.getShort(i + 10).toInt & 0xFFFF
          val bits = bb.getShort(i + 22).toInt & 0xFFFF
          if (audioFormat != 1 || channels != 1 || bits != 16) return None
          fmtOk = true
        } else if (id == "data") { dataOff = off + 8; dataLen = size.toLong }
        off += 8L + size.toLong + (size & 1)
      }
      if (!fmtOk || dataOff < 0) return None
      val avail = math.max(0L, math.min(dataLen, content.length - dataOff))
      val n = (avail / 2).toInt
      if (n <= 0) return None
      val segSum = new Array[Long](64)
      val segCnt = new Array[Long](64)
      var total = 0L
      var i = 0
      while (i < n) {
        val s = bb.getShort(dataOff.toInt + 2 * i).toInt
        val a = math.abs(s).toLong // |Short.MinValue| = 32768, fits
        val seg = (i.toLong * 64 / n).toInt
        segSum(seg) += a
        segCnt(seg) += 1
        total += a
        i += 1
      }
      var hash = 0L
      var k = 0
      while (k < 64) {
        if (segCnt(k) > 0 &&
          BigInt(segSum(k)) * n > BigInt(total) * segCnt(k))
          hash |= 1L << k
        k += 1
      }
      Some(hash)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** (media_id, ahash) over [[wavEnergyHash64]] — NULL for payloads it
    * declines. */
  def audioEnergyHashes(media: DataFrame): DataFrame =
    hashColumn(media, wavEnergyHash64)

  /** A real RIFF/WAV with caller-supplied samples (16-bit PCM,
    * `channels` interleaved) — the constructed-signal fixtures behind the
    * audio-hash oracle are built with this. */
  def wavBytesOf(samples: Array[Short], sampleRate: Int = 8000,
                 channels: Int = 1): Array[Byte] = {
    val dataSize = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(36 + dataSize).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * 2 * channels)
      .putShort((2 * channels).toShort).putShort(16)
    bb.put("data".getBytes).putInt(dataSize)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** A real RIFF/WAV: 16-bit mono PCM, `nSamples` frames at `sampleRate`
    * (the deterministic sawtooth fixture; one header writer — see
    * [[wavBytesOf]]). */
  def wavBytes(nSamples: Int, sampleRate: Int = 8000): Array[Byte] =
    wavBytesOf(
      Array.tabulate[Short](nSamples)(i => ((i * 327) % 32768 - 16384).toShort),
      sampleRate)

  /**
   * Real-format sample rows (genuine BMP/PPM/WAV bytes, built above): unioned
   * into the driver query so the REAL decode path — not just the synthetic-
   * header fallback — is exercised end-to-end every round.
   */
  def realSampleMedia(spark: SparkSession): DataFrame = {
    val rows = Seq(
      Row(9000001L, "image", bmpBytes(32, 16), "builtin://bmp/32x16"),
      Row(9000002L, "image", ppmBytes(24, 8), "builtin://ppm/24x8"),
      Row(9000003L, "audio", wavBytes(1600, 8000), "builtin://wav/200ms"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), mediaSchema)
  }

  /**
   * Decode + feature-extract: one narrow mapPartitions pass, batching rows
   * per partition (the batch loop is where a real codec would reuse its
   * native context across records).
   */
  def decodeAndFeaturize(media: DataFrame): DataFrame = {
    val outEncoder = org.apache.spark.sql.Encoders.row(featureSchema)
    media.select("media_id", "media_type", "content")
      .mapPartitions { it =>
        it.map { r =>
          val id = r.getLong(0)
          val t = r.getString(1)
          val bytes = r.getAs[Array[Byte]](2)
          val (w, h, frames, dur) = decode(t, bytes)
          Row(id, t, w, h, frames, dur, featureStub(bytes))
        }
      }(outEncoder)
      .toDF()
  }

  /**
   * Frame sampling for videos: every `stride`-th frame index as (media_id,
   * frame_idx) — metadata-only explosion; actual frame bytes would be cut in
   * the same mapPartitions as decode to keep payloads off the shuffle.
   */
  def sampleFrames(features: DataFrame, stride: Int = 24): DataFrame =
    features.filter(col("media_type") === "video" && col("n_frames") > 0)
      .select(col("media_id"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))).as("frame_idx"))

  /**
   * Resize stage (stub): records the target geometry next to the decoded one;
   * a real implementation rewrites `content` in the same narrow pass.
   */
  def resizePlan(features: DataFrame, maxSide: Int = 512): DataFrame = {
    val scale = least(
      lit(1.0),
      lit(maxSide).cast("double") / greatest(col("width"), col("height"), lit(1)))
    features
      .withColumn("scale", scale)
      .withColumn("out_width", (col("width") * col("scale")).cast("int"))
      .withColumn("out_height", (col("height") * col("scale")).cast("int"))
  }

  /** [[writePartitioned]]' partition size: 128 MiB of blob bytes. */
  private val TargetPartitionBytes = 128L << 20

  /**
   * Write layout for blob tables: range-partition by id so a handful of huge
   * blobs can't skew a partition past `TargetPartitionBytes`.
   */
  def writePartitioned(media: DataFrame, path: String): Unit = {
    // coalesce AROUND the sum too (r11 review): sum() over ZERO rows is
    // null, and getLong on it NPE'd instead of writing an empty table
    val approxBytes = media.select(
      coalesce(sum(coalesce(length(col("content")), lit(0))), lit(0L)))
      .head().getLong(0)
    val parts = math.max(1, (approxBytes / TargetPartitionBytes).toInt)
    media.repartitionByRange(parts, col("media_id"))
      .write.mode("overwrite").parquet(path)
  }
}
