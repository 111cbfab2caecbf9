package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * payloads with typed metadata, plus decode / feature-extract /
  * frame-sample stages.
  *
  * The Spark-side shape is the real deliverable — schema, partitioning,
  * per-partition batched processing (`mapPartitions`, the JVM analog of a
  * `mapInPandas` batch UDF: one iterator per partition, amortized setup,
  * no per-row driver involvement).
  *
  * The image leg is REAL for JPEG/PNG/GIF/TIFF/BMP: payloads decode
  * through the from-scratch [[graft.codec]] kernels and the features are
  * true pixel statistics ([[dhash64]] fingerprints them for near-dup
  * mining). The audio leg is REAL for PCM WAV via [[graft.codec.Wav]]
  * (q198). The video leg is REAL for MJPEG AVI via [[graft.codec.Avi]]
  * (q207) — container walk + per-frame JPEG decode, with stride
  * sampling that never decodes skipped frames. Formats beyond those
  * (MP4/H.264, MP3/AAC, WebP/AVIF) go through the **DETERMINISTIC
  * FAKE** codec (this container has no media libraries): payloads are
  * self-describing (magic + metadata header + seeded body) and
  * "decoding" parses that header and histograms the body bytes. A
  * production build swaps [[FakeCodec]] for real decoders behind the
  * same signatures.
  */
object Multimodal {

  final case class MediaMeta(width: Int, height: Int, sampleRate: Int, nFrames: Int)
  final case class MediaRow(media_id: Long, modality: String, payload: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(
      media_id: Long,
      modality: String,
      decoded_ok: Boolean,
      n_bytes: Int,
      histogram: Array[Double], // 16-bin byte histogram, L1-normalized
      mean_byte: Double)
  final case class FrameRow(media_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** The stand-in codec. Payload layout: 4-byte magic ("GIM0"/"GAU0"/
    * "GVI0") + 4×4-byte big-endian ints (width, height, sampleRate,
    * nFrames) + body. Deterministic; malformed payloads decode to
    * decoded_ok=false rows, never exceptions (X7 error-as-data rule). */
  object FakeCodec {
    val HeaderLen = 20
    private val magics = Map("image" -> "GIM0", "audio" -> "GAU0", "video" -> "GVI0")

    def encode(modality: String, meta: MediaMeta, seed: Long, bodyLen: Int): Array[Byte] = {
      val out = new Array[Byte](HeaderLen + bodyLen)
      val magic = magics(modality).getBytes("US-ASCII")
      System.arraycopy(magic, 0, out, 0, 4)
      def putInt(off: Int, v: Int): Unit = {
        out(off) = (v >>> 24).toByte; out(off + 1) = (v >>> 16).toByte
        out(off + 2) = (v >>> 8).toByte; out(off + 3) = v.toByte
      }
      putInt(4, meta.width); putInt(8, meta.height)
      putInt(12, meta.sampleRate); putInt(16, meta.nFrames)
      var z = seed
      var i = 0
      while (i < bodyLen) { // splitmix64 byte stream
        z += 0x9e3779b97f4a7c15L
        var x = z
        x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
        x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
        out(HeaderLen + i) = (x ^ (x >>> 31)).toByte
        i += 1
      }
      out
    }

    def decode(payload: Array[Byte]): Option[(String, MediaMeta, Array[Byte])] = {
      if (payload == null || payload.length < HeaderLen) None
      else {
        val magic = new String(payload, 0, 4, "US-ASCII")
        val modality = magics.collectFirst { case (m, g) if g == magic => m }
        def getInt(off: Int): Int =
          ((payload(off) & 0xff) << 24) | ((payload(off + 1) & 0xff) << 16) |
            ((payload(off + 2) & 0xff) << 8) | (payload(off + 3) & 0xff)
        modality.map { m =>
          (m, MediaMeta(getInt(4), getInt(8), getInt(12), getInt(16)),
            java.util.Arrays.copyOfRange(payload, HeaderLen, payload.length))
        }
      }
    }
  }

  /** Deterministic synthetic media corpus (each row independently seeded —
    * executor-side generation, same pattern as Synth.pagesDs). */
  def mediaDs(spark: SparkSession, n: Long, seed: Long = 42L): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(0, n, 1, math.max(spark.sparkContext.defaultParallelism, 1)).map { i =>
      val modality = (i % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video"
      }
      val meta = modality match {
        case "image" => MediaMeta(64 + (i % 8).toInt * 32, 64 + (i % 5).toInt * 32, 0, 1)
        case "audio" => MediaMeta(0, 0, 16000, 0)
        case _       => MediaMeta(128, 96, 0, 8 + (i % 5).toInt)
      }
      val bodyLen = 256 + ((i * 37) % 512).toInt
      val payload =
        if (i % 23 == 13) Array[Byte](1, 2, 3) // malformed slice
        else if (modality == "image" && i % 4 == 0) realJpeg(i, meta) // real-codec slice
        else if (modality == "audio" && i % 4 == 1) realWav(i, meta) // real-codec slice
        else if (modality == "video" && i % 4 == 2) realAvi(i, meta) // real-codec slice
        else FakeCodec.encode(modality, meta, seed ^ i, bodyLen)
      MediaRow(i, modality, payload, meta)
    }
  }

  /** Deterministic real JPEG for the image slice: flat 8x8 blocks (the
    * codec's exact class — meta dims are multiples of 8 by construction
    * above), block value a closed form of (id, bx, by). */
  private def realJpeg(id: Long, meta: MediaMeta): Array[Byte] = {
    val w = meta.width; val h = meta.height
    val pix = new Array[Byte](w * h)
    var by = 0
    while (by < h / 8) {
      var bx = 0
      while (bx < w / 8) {
        val v = ((id * 29 + bx * 7 + by * 13) % 256).toByte
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) { pix((by * 8 + y) * w + bx * 8 + x) = v; x += 1 }
          y += 1
        }
        bx += 1
      }
      by += 1
    }
    graft.codec.JpegEncoder.encodeGray(pix, w, h, graft.codec.JpegEncoder.exactQuant)
  }

  /** Deterministic real PCM WAV for the audio slice: sawtooth samples,
    * a closed form of id. */
  private def realWav(id: Long, meta: MediaMeta): Array[Byte] = {
    val n = 256 + (id % 7).toInt * 64
    val samples = Array.tabulate(n)(i => (((id * 13 + i * 17) % 2001) - 1000).toShort)
    graft.codec.Wav.encode(samples, 1, meta.sampleRate)
  }

  /** Deterministic real MJPEG AVI for the video slice: meta.nFrames flat
    * frames at meta dims, frame value a closed form of (id, frame). */
  private def realAvi(id: Long, meta: MediaMeta): Array[Byte] = {
    val frames = (0 until meta.nFrames).map { f =>
      val v = ((id * 31 + f * 17) % 256).toByte
      graft.codec.JpegEncoder.encodeGray(
        Array.fill[Byte](meta.width * meta.height)(v), meta.width, meta.height,
        graft.codec.JpegEncoder.exactQuant)
    }
    graft.codec.Avi.encode(frames, meta.width, meta.height, 40000)
  }

  /** Batched decode + feature extraction. The feature kernel (byte
    * histogram) stands in for an image-embedding / mel-spectrogram step;
    * the batch shape (one partition = one iterator, preallocated buffers
    * reused across rows) is the part that must be right at 100 TB. */
  def decodeFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val hist = new Array[Long](16) // reused per batch — no per-row alloc
      rows.map { r =>
        if (isImagePayload(r.payload))
          decodeImage(r.payload) match {
            case Right(im) =>
              java.util.Arrays.fill(hist, 0L)
              var sum = 0L
              var i = 0
              while (i < im.pixels.length) {
                val p = im.pixels(i) & 0xff
                hist(p >>> 4) += 1
                sum += p
                i += 1
              }
              val n = math.max(im.pixels.length, 1)
              MediaFeatures(r.media_id, "image", decoded_ok = true, im.pixels.length,
                hist.map(_.toDouble / n), sum.toDouble / n)
            case Left(_) =>
              MediaFeatures(r.media_id, "image", decoded_ok = false, 0,
                Array.fill(16)(0d), 0d)
          }
        else if (graft.codec.Wav.isWav(r.payload))
          graft.codec.Wav.decode(r.payload) match {
            case Right(a) =>
              java.util.Arrays.fill(hist, 0L)
              var sum = 0L
              var i = 0
              while (i < a.samples.length) {
                val hb = ((a.samples(i) >> 8) + 128) & 0xff // unsigned high byte
                hist(hb >>> 4) += 1
                sum += hb
                i += 1
              }
              val n = math.max(a.samples.length, 1)
              MediaFeatures(r.media_id, "audio", decoded_ok = true, a.samples.length * 2,
                hist.map(_.toDouble / n), sum.toDouble / n)
            case Left(_) =>
              MediaFeatures(r.media_id, "audio", decoded_ok = false, 0,
                Array.fill(16)(0d), 0d)
          }
        else if (graft.codec.Avi.isAvi(r.payload))
          graft.codec.Avi.decode(r.payload) match {
            case Right(v) =>
              // feature = histogram over the FIRST decoded frame (the
              // keyframe thumbnail read); remaining frames stay undecoded
              graft.codec.Jpeg.decode(v.frames(0)) match {
                case Right(im) =>
                  java.util.Arrays.fill(hist, 0L)
                  var sum = 0L
                  var i = 0
                  while (i < im.pixels.length) {
                    val p = im.pixels(i) & 0xff
                    hist(p >>> 4) += 1
                    sum += p
                    i += 1
                  }
                  val n = math.max(im.pixels.length, 1)
                  // n_bytes = DECODED payload size (frames x frame
                  // pixels), consistent with the image leg's w*h and the
                  // audio leg's samples*2 — and, unlike encoded JPEG
                  // frame lengths, a closed form the q30 oracle replays
                  MediaFeatures(r.media_id, "video", decoded_ok = true,
                    v.nFrames * im.pixels.length, hist.map(_.toDouble / n), sum.toDouble / n)
                case Left(_) =>
                  MediaFeatures(r.media_id, "video", decoded_ok = false, 0,
                    Array.fill(16)(0d), 0d)
              }
            case Left(_) =>
              MediaFeatures(r.media_id, "video", decoded_ok = false, 0,
                Array.fill(16)(0d), 0d)
          }
        else FakeCodec.decode(r.payload) match {
          case Some((mod, _, body)) =>
            java.util.Arrays.fill(hist, 0L)
            var sum = 0L
            var i = 0
            while (i < body.length) {
              val b = body(i) & 0xff
              hist(b >>> 4) += 1
              sum += b
              i += 1
            }
            val n = math.max(body.length, 1)
            MediaFeatures(r.media_id, mod, decoded_ok = true, body.length,
              hist.map(_.toDouble / n), sum.toDouble / n)
          case None =>
            MediaFeatures(r.media_id, r.modality, decoded_ok = false, 0,
              Array.fill(16)(0d), 0d)
        }
      }
    }
  }

  /** Stride-sample the frames of a real video payload: every `stride`-th
    * movi chunk, WITHOUT JPEG-decoding the skipped ones (the container
    * walk is the cheap part; pixel decode is the expensive one a sampler
    * must avoid paying per skipped frame). */
  def sampleVideoFrames(payload: Array[Byte], stride: Int): Either[String, Seq[(Int, Array[Byte])]] =
    graft.codec.Avi.decode(payload).map { v =>
      (0 until v.nFrames by stride).map(f => (f, v.frames(f)))
    }

  /** Frame sampling for "video" payloads: every `stride`-th frame becomes
    * a frame row (fan-out via flatMap — the Dataset analog of a
    * generator/UDTF). Real MJPEG AVIs walk the container ([[sampleVideoFrames]]);
    * fake-codec payloads chop the body into fixed-size pseudo-frames. */
  def sampleFrames(media: Dataset[MediaRow], frameSize: Int = 64, stride: Int = 2): Dataset[FrameRow] = {
    import media.sparkSession.implicits._
    media.filter(_.modality == "video").flatMap { r =>
      if (graft.codec.Avi.isAvi(r.payload))
        sampleVideoFrames(r.payload, stride) match {
          case Right(fs) => fs.map { case (f, bytes) => FrameRow(r.media_id, f, bytes) }
          case Left(_)   => Nil
        }
      else FakeCodec.decode(r.payload) match {
        case Some((_, _, body)) =>
          val nFrames = body.length / frameSize
          (0 until nFrames by stride).map { f =>
            FrameRow(r.media_id, f,
              java.util.Arrays.copyOfRange(body, f * frameSize, (f + 1) * frameSize))
          }
        case None => Nil
      }
    }
  }

  /** True iff the payload sniffs as a format [[decodeImage]] handles. */
  def isImagePayload(p: Array[Byte]): Boolean =
    graft.codec.Jpeg.isJpeg(p) || graft.codec.Png.isPng(p) || graft.codec.Gif.isGif(p) ||
      graft.codec.Tiff.isTiff(p) || graft.codec.Bmp.isBmp(p) ||
      graft.codec.WebpVp8l.isWebp(p)

  /** Sniff-and-decode any supported image payload through the
    * from-scratch codecs: JPEG (baseline + progressive), PNG, GIF — the
    * classic web trio — plus TIFF (gray/RGB raw/LZW/PackBits and CCITT
    * G4, the scanned-document container), BMP (1/4/8/16/24/32-bit,
    * RLE4/RLE8, 565 bitfields), WebP — BOTH legs since round 5
    * (lossless VP8L and lossy VP8, each libwebp-pinned) — and ICO
    * favicons whose largest entry is PNG-compressed. AVIF stays an
    * honest fence (an AV1 stack), as do JPEG-in-TIFF and classic-DIB
    * icon entries. */
  def decodeImage(payload: Array[Byte]): Either[String, graft.codec.Jpeg.Image] =
    if (graft.codec.Jpeg.isJpeg(payload)) graft.codec.Jpeg.decode(payload)
    else if (graft.codec.Png.isPng(payload)) graft.codec.Png.decode(payload)
    else if (graft.codec.Gif.isGif(payload)) graft.codec.Gif.decode(payload)
    else if (graft.codec.Tiff.isTiff(payload)) graft.codec.Tiff.decode(payload)
    else if (graft.codec.Bmp.isBmp(payload)) graft.codec.Bmp.decode(payload)
    else if (graft.codec.WebpVp8l.isWebp(payload)) graft.codec.WebpVp8l.decode(payload)
    else if (graft.codec.Ico.isIco(payload)) graft.codec.Ico.decodeLargest(payload)
    else Left("image: unrecognized format")

  /** One-pass payload labeling — the unified dispatcher over the whole
    * codec/labeling family (T179 + T219–T224): sniff the container,
    * read ONLY headers (never pixel/sample data), and return the
    * metadata a 100-TB curation pipeline keys on. `decodable` says
    * whether the engine can produce pixels/samples for the payload
    * (lossless WebP yes, lossy VP8 no; MP3/MP4/OGG are labeled-only by
    * design). Every branch is a bounded header read with typed errors.
    */
  /** Markup sniff for payloads no binary magic claimed: SVG (an XML
    * image whose dims live in width/height attributes or the viewBox —
    * a top-5 crawl image population) and HTML (the dominant document
    * type — decodable because the extraction pipeline IS its decoder).
    * Bounded to the first 1 KiB, case-insensitive, typed-none on
    * anything else (a labeler must never guess binary data as text). */
  private def textSniff(p: Array[Byte]): Option[PayloadInfo] = {
    val n = math.min(p.length, 1024)
    var i = 0
    while (i < n) { if (p(i) == 0) return None; i += 1 } // binary guard
    val head = new String(p, 0, n, java.nio.charset.StandardCharsets.ISO_8859_1)
    val lower = head.toLowerCase(java.util.Locale.ROOT)
    val svgAt = lower.indexOf("<svg")
    // an HTML page that opens with an inline <svg> logo is still a page
    val htmlAt = Seq(lower.indexOf("<!doctype html"), lower.indexOf("<html")).filter(_ >= 0)
      .minOption.getOrElse(n)
    if (svgAt >= 0 && svgAt < htmlAt && (lower.startsWith("<svg") || lower.contains("<?xml") ||
      lower.contains("<!doctype svg") || svgAt < 256)) {
      // parse the <svg ...> tag attributes for dims
      val tagEnd = lower.indexOf('>', svgAt)
      val tag = if (tagEnd > 0) head.substring(svgAt, tagEnd) else head.substring(svgAt)
      def attr(name: String): Option[String] = {
        val pat = java.util.regex.Pattern.compile(
          name + "\\s*=\\s*[\"']([^\"']*)[\"']")
        val mm = pat.matcher(tag.toLowerCase(java.util.Locale.ROOT))
        if (mm.find()) Some(mm.group(1).trim) else None
      }
      def px(v: String): Int = {
        val num = v.takeWhile(c => c.isDigit || c == '.' || c == '-' || c == '+')
        try math.round(num.toDouble).toInt catch { case _: Exception => 0 }
      }
      var w = attr("width").map(px).getOrElse(0)
      var h = attr("height").map(px).getOrElse(0)
      if ((w <= 0 || h <= 0)) attr("viewbox").foreach { vb =>
        val parts = vb.split("[\\s,]+").filter(_.nonEmpty)
        if (parts.length == 4) {
          if (w <= 0) w = px(parts(2))
          if (h <= 0) h = px(parts(3))
        }
      }
      return Some(PayloadInfo("image", "svg", math.max(w, 0), math.max(h, 0),
        0, 0, 0L, decodable = false))
    }
    if (lower.contains("<!doctype html") || lower.contains("<html") ||
      (lower.contains("<head") && lower.contains("<title")))
      return Some(PayloadInfo("document", "html", 0, 0, 0, 0, 0L, decodable = true))
    None
  }

  final case class PayloadInfo(kind: String, format: String,
      width: Int, height: Int, sampleRate: Int, channels: Int,
      durationMs: Long, decodable: Boolean)

  def mediaInfo(p: Array[Byte]): PayloadInfo = {
    import graft.codec._
    def img(format: String, w: Int, h: Int, ok: Boolean) =
      PayloadInfo("image", format, w, h, 0, 0, 0L, ok)
    def bad(kind: String, format: String) = PayloadInfo(kind, format, 0, 0, 0, 0, 0L, decodable = false)
    try {
      if (p == null || p.length < 4) bad("unknown", "empty")
      else if (graft.pdf.PdfParser.isPdf(p)) graft.pdf.PdfParser.pageInfo(p) match {
        // width/height = first-page MediaBox points (rotation-adjusted);
        // durationMs carries the PAGE COUNT (the document analog of
        // duration — documented field reuse, no schema change)
        case Right((nPages, w, h)) =>
          PayloadInfo("document", "pdf", w, h, 0, 0, nPages.toLong, decodable = true)
        case Left(_) => bad("document", "pdf")
      }
      else if (Jpeg.isJpeg(p)) Jpeg.dimensions(p) match {
        case Right((w, h, _)) => img("jpeg", w, h, ok = true)
        case Left(_) => bad("image", "jpeg")
      }
      else if (Png.isPng(p)) {
        // IHDR: width/height big-endian at offsets 16/20 — but only if
        // the first chunk really IS an IHDR (the spec mandates it, and a
        // forged file that puts another chunk first must get the typed
        // bad(...) row, not dimensions read from that chunk's payload)
        if (p.length < 24 || p(12) != 'I' || p(13) != 'H' || p(14) != 'D' || p(15) != 'R')
          bad("image", "png")
        else {
          def be(i: Int) = ((p(i) & 0xff) << 24) | ((p(i + 1) & 0xff) << 16) |
            ((p(i + 2) & 0xff) << 8) | (p(i + 3) & 0xff)
          img("png", be(16), be(20), ok = true)
        }
      }
      else if (Gif.isGif(p)) {
        if (p.length < 10) bad("image", "gif")
        else img("gif", (p(6) & 0xff) | ((p(7) & 0xff) << 8), (p(8) & 0xff) | ((p(9) & 0xff) << 8), ok = true)
      }
      else if (Bmp.isBmp(p)) {
        if (p.length < 26) bad("image", "bmp")
        else {
          def le(i: Int) = (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8) |
            ((p(i + 2) & 0xff) << 16) | ((p(i + 3) & 0xff) << 24)
          img("bmp", le(18), math.abs(le(22)), ok = true)
        }
      }
      else if (Tiff.isTiff(p)) {
        // minimal first-IFD walk for ImageWidth(256)/ImageLength(257)
        val le = (p(0) == 'I')
        def u16(i: Int) = if (le) (p(i) & 0xff) | ((p(i + 1) & 0xff) << 8)
          else ((p(i) & 0xff) << 8) | (p(i + 1) & 0xff)
        def u32(i: Int) = if (le) (p(i) & 0xffL) | ((p(i + 1) & 0xffL) << 8) | ((p(i + 2) & 0xffL) << 16) | ((p(i + 3) & 0xffL) << 24)
          else ((p(i) & 0xffL) << 24) | ((p(i + 1) & 0xffL) << 16) | ((p(i + 2) & 0xffL) << 8) | (p(i + 3) & 0xffL)
        val ifd = u32(4).toInt
        if (ifd < 0 || ifd + 2 > p.length) bad("image", "tiff")
        else {
          val n = u16(ifd)
          var w = 0; var h = 0
          var k = 0
          while (k < n && ifd + 2 + 12 * (k + 1) <= p.length) {
            val e = ifd + 2 + 12 * k
            val tag = u16(e)
            val typ = u16(e + 2)
            val v = if (typ == 3) u16(e + 8) else u32(e + 8).toInt
            if (tag == 256) w = v
            if (tag == 257) h = v
            k += 1
          }
          img("tiff", w, h, ok = w > 0 && h > 0)
        }
      }
      else if (WebpVp8l.isWebp(p)) WebpVp8l.info(p) match {
        case Right((w, h, lossless)) =>
          // both legs decode now: VP8L natively, VP8 via the
          // libwebp-pinned key-frame decoder (round 5)
          PayloadInfo("image", if (lossless) "webp" else "webp-lossy", w, h, 0, 0, 0L, decodable = true)
        case Left(_) => bad("image", "webp")
      }
      else if (Flac.isFlac(p)) Flac.info(p) match {
        case Right(fi) => PayloadInfo("audio", "flac", 0, 0, fi.sampleRate,
          fi.channels, fi.durationMs, decodable = false)
        case Left(_) => bad("audio", "flac")
      }
      else if (Wav.isWav(p)) {
        // RIFF chunk walk for fmt (channels/rate/bits) + data size
        var q = 12
        var chn = 0; var rate = 0; var bits = 0; var dataLen = -1
        while (q + 8 <= p.length && (chn == 0 || dataLen < 0)) {
          val tag = new String(p, q, 4, "US-ASCII")
          val size = (p(q + 4) & 0xff) | ((p(q + 5) & 0xff) << 8) |
            ((p(q + 6) & 0xff) << 16) | ((p(q + 7) & 0xff) << 24)
          if (size < 0 || size > p.length - q - 8) return bad("audio", "wav")
          if (tag == "fmt " && size >= 16) {
            chn = (p(q + 10) & 0xff) | ((p(q + 11) & 0xff) << 8)
            rate = (p(q + 12) & 0xff) | ((p(q + 13) & 0xff) << 8) |
              ((p(q + 14) & 0xff) << 16) | ((p(q + 15) & 0xff) << 24)
            bits = (p(q + 22) & 0xff) | ((p(q + 23) & 0xff) << 8)
          }
          if (tag == "data") dataLen = size
          q += 8 + size + (size & 1)
        }
        if (chn <= 0 || rate <= 0 || bits <= 0 || dataLen < 0) bad("audio", "wav")
        else if (bits % 8 != 0) bad("audio", "wav") // sub-byte depths (ADPCM
        // 4-bit, 12-bit packed): chn*bits/8 would floor to a wrong (or zero)
        // frame size — typed fence instead of a silently wrong duration
        else {
          val nSamples = dataLen.toLong / (chn * bits / 8)
          PayloadInfo("audio", "wav", 0, 0, rate, chn, nSamples * 1000L / rate, decodable = true)
        }
      }
      else if (graft.codec.Avi.isAvi(p)) PayloadInfo("video", "avi", 0, 0, 0, 0, 0L, decodable = true)
      else if (Ogg.isOgg(p)) Ogg.info(p) match {
        case Right(oi) => PayloadInfo("audio", "ogg-" + oi.codec, 0, 0, oi.sampleRate,
          oi.channels, oi.durationMs, decodable = false)
        case Left(_) => bad("audio", "ogg")
      }
      else if (Ico.isIco(p)) Ico.info(p) match {
        case Right(ic) if ic.entries.nonEmpty =>
          val best = ic.entries.maxBy(e => e.width.toLong * e.height)
          PayloadInfo("image", if (ic.kind == "cursor") "cur" else "ico",
            best.width, best.height, 0, 0, 0L, decodable = best.isPng)
        case _ => bad("image", "ico")
      }
      else if (Mkv.isMkv(p)) Mkv.info(p) match {
        case Right(ki) =>
          val fmt = if (ki.docType == "webm") "webm" else "mkv"
          if (ki.videoCodec.nonEmpty)
            PayloadInfo("video", fmt, ki.videoW, ki.videoH,
              ki.audioRate, ki.audioChannels, ki.durationMs, decodable = false)
          else PayloadInfo("audio", fmt, 0, 0, ki.audioRate, ki.audioChannels,
            ki.durationMs, decodable = false)
        case Left(_) => bad("video", "mkv")
      }
      else if (Mp4.isMp4(p)) Mp4.info(p) match {
        case Right(mi) if Mp4.ImageBrands.contains(mi.brand) =>
          // HEIF-family still image (AVIF/HEIC): dims from meta/iprp/
          // ipco/ispe; coded payload (AV1/HEVC intra) decode is fenced
          PayloadInfo("image", if (mi.brand.startsWith("av")) "avif" else "heic",
            mi.videoW, mi.videoH, 0, 0, 0L, decodable = false)
        case Right(mi) => PayloadInfo(if (mi.videoW > 0) "video" else "media", "mp4",
          mi.videoW, mi.videoH, 0, 0, mi.durationMs, decodable = false)
        case Left(_) => bad("video", "mp4")
      }
      else if (Mp3.isMp3(p)) Mp3.info(p) match {
        case Right(mi) => PayloadInfo("audio", "mp3", 0, 0, mi.sampleRate,
          mi.channels, mi.durationMs, decodable = false)
        case Left(_) => bad("audio", "mp3")
      }
      else textSniff(p).getOrElse(bad("unknown", "unknown"))
    } catch {
      case _: Exception => bad("unknown", "error")
    }
  }

  /** Box-average resize (area interpolation) to tw x th — the thumbnail /
    * model-input-normalization step of an image pipeline. Each output
    * cell is the floor mean of its source box (boxes partition the image
    * via the same x*dim/out rounding [[dhash64]] uses); channels resize
    * independently. Deterministic integer math, so SQL oracles replay it
    * on block-aligned inputs. */
  def boxResize(im: graft.codec.Jpeg.Image, tw: Int, th: Int): graft.codec.Jpeg.Image = {
    require(tw >= 1 && th >= 1 && tw <= im.width && th <= im.height,
      "thumbnail must downscale")
    val w = im.width; val h = im.height; val nc = im.nComponents
    val out = new Array[Byte](tw * th * nc)
    var cy = 0
    while (cy < th) {
      val y0 = cy * h / th; val y1 = (cy + 1) * h / th
      var cx = 0
      while (cx < tw) {
        val x0 = cx * w / tw; val x1 = (cx + 1) * w / tw
        var c = 0
        while (c < nc) {
          var sum = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) { sum += (im.pixels((y * w + x) * nc + c) & 0xff); x += 1 }
            y += 1
          }
          out((cy * tw + cx) * nc + c) = (sum / ((y1 - y0).toLong * (x1 - x0))).toByte
          c += 1
        }
        cx += 1
      }
      cy += 1
    }
    graft.codec.Jpeg.Image(tw, th, nc, out)
  }

  /** 64-bit difference hash (dHash) over a grayscale image — the image
    * near-dup fingerprint (crops/recompressions/brightness shifts keep
    * the hash within a few bits; pair with SimHash-style pigeonhole
    * banding for corpus-scale bucketing). Box-downscale to a 9x8 grid
    * (cell = floor mean of its pixel box), bit (r,c) = 1 iff
    * cell(c+1,r) > cell(c,r), packed at index r*8+c. Deterministic
    * integer math end to end, so a SQL oracle can replay it. */
  def dhash64(pix: Array[Byte], w: Int, h: Int): Long = {
    require(w >= 9 && h >= 8 && pix.length == w * h, "image too small for dhash")
    val cells = new Array[Long](9 * 8)
    var cy = 0
    while (cy < 8) {
      val y0 = cy * h / 8; val y1 = (cy + 1) * h / 8
      var cx = 0
      while (cx < 9) {
        val x0 = cx * w / 9; val x1 = (cx + 1) * w / 9
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { sum += (pix(y * w + x) & 0xff); x += 1 }
          y += 1
        }
        cells(cy * 9 + cx) = sum / ((y1 - y0).toLong * (x1 - x0))
        cx += 1
      }
      cy += 1
    }
    var hash = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (cells(r * 9 + c + 1) > cells(r * 9 + c)) hash |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    hash
  }

  /** Relational summary over the decoded features (the rows-only driver
    * check for the multimodal plumbing). */
  def featureSummary(spark: SparkSession, n: Long): DataFrame = {
    val feats = decodeFeatures(mediaDs(spark, n)).toDF()
    feats.groupBy(col("modality")).agg(
      count(lit(1)).as("cnt"),
      sum(when(col("decoded_ok"), 1L).otherwise(0L)).as("decoded"),
      sum(col("n_bytes")).as("total_bytes"),
      round(avg(col("mean_byte")), 4).as("avg_byte"))
  }
}
