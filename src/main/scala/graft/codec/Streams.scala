package graft.codec

import java.util.zip.{DataFormatException, Deflater, Inflater}

/** The byte-stream kernels every format shares, in both directions, and
  * the one ceiling they answer to.
  *
  * Flate (zlib or raw deflate: PNG IDAT, TIFF compression 8/32946, PDF
  * FlateDecode, WARC Content-Encoding) decodes only through [[inflate]] /
  * [[inflateExactly]] and encodes only through [[deflate]]. LZW (TIFF
  * compression 5, PDF LZWDecode, GIF image data) decodes only through
  * [[lzw]] / [[lzwExactly]] and encodes only through [[lzwEncode]]. One
  * kernel serves the formats, which differ in three properties: bit order
  * (GIF packs codes LSB-first, TIFF and PDF MSB-first), root width (the
  * literal alphabet is 2^rootWidth codes, Clear = 2^rootWidth, end =
  * Clear + 1: 8 for TIFF and PDF, GIF's LZW minimum code size) and early
  * change (the width grows at 2^w − earlyChange table entries: 1 for
  * TIFF, PDF's /EarlyChange, 0 for GIF). [[lzw]] reads the TIFF/PDF
  * layout and [[lzwExactly]] GIF's; the encoder takes all three. Each
  * format maps a [[Stop]] to its own error string. The decoders are
  * total: they end on every input, with bytes or a [[Stop]], and never
  * allocate past their limit.
  *
  * RunLength (PDF) and PackBits (TIFF) stay separate decoders: they read
  * the same tag byte differently (128 ends a RunLength stream and is a
  * no-op in PackBits), so one loop would need a mode flag per byte.
  */
object Streams {

  /** The one per-stream decode ceiling, 256 MiB. A decoded stream may
    * not pass it, and every buffer a decoder sizes from its input (pixel
    * planes, strips, coefficient arrays) is charged against it, so a
    * hostile payload becomes an error row, not an executor OOM shared by
    * thousands of other documents. It is far above any legitimate text
    * stream or crawl image. */
  val MaxDecodedBytes: Int = 1 << 28

  /** Why a kernel stopped without its bytes. */
  sealed abstract class Stop
  object Stop {
    /** The input ran out before the end of the stream; for zlib also a
      * header asking for a preset dictionary (none is ever known, so the
      * stream cannot go on). `partial` is what decoded before that. */
    final case class Truncated(partial: Array[Byte]) extends Stop
    /** The output would pass its limit. */
    case object TooLarge extends Stop
    /** zlib data error; the Inflater's message. */
    final case class Corrupt(message: String) extends Stop
    /** LZW: the first code after a clear is not a literal byte. */
    case object BadFirstCode extends Stop
    /** LZW: a code past the next free table entry. */
    case object BadCode extends Stop
  }

  /** zlib (raw deflate with `nowrap`) up to the ceiling: the whole stream,
    * or [[Stop.TooLarge]] once the output passes [[MaxDecodedBytes]]
    * (a stream of exactly the ceiling decodes). */
  def inflate(data: Array[Byte], nowrap: Boolean = false): Either[Stop, Array[Byte]] =
    inflateUpTo(data, nowrap, MaxDecodedBytes + 1, initialCapacity(data, MaxDecodedBytes)) match {
      case Right(out) if out.length > MaxDecodedBytes => Left(Stop.TooLarge)
      case r => r
    }

  /** zlib stream of a known decoded size: stops once `expected` bytes are
    * out, so a stream cut off after that point still decodes. The result
    * is shorter than `expected` when the stream ends first. The caller
    * bounds `expected`. */
  def inflateExactly(data: Array[Byte], expected: Int): Either[Stop, Array[Byte]] =
    inflateUpTo(data, nowrap = false, expected, expected)

  private def inflateUpTo(data: Array[Byte], nowrap: Boolean, cap: Int,
      initial: Int): Either[Stop, Array[Byte]] = {
    val inf = new Inflater(nowrap)
    try {
      inf.setInput(data)
      var out = new Array[Byte](initial)
      var n = 0
      while (n < cap && !inf.finished()) {
        if (n == out.length) out = grow(out, n + 1, cap)
        val k = inf.inflate(out, n, out.length - n)
        // finished() first: a complete stream with empty output ends with
        // needsInput() already true
        if (k == 0 && !inf.finished() && (inf.needsInput() || inf.needsDictionary()))
          return Left(Stop.Truncated(trim(out, n)))
        n += k
      }
      Right(trim(out, n))
    } catch {
      case e: DataFormatException => Left(Stop.Corrupt(e.getMessage))
    } finally inf.end()
  }

  /** zlib at the default level: the one Flate encoder. */
  def deflate(data: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    try {
      d.setInput(data); d.finish()
      var out = new Array[Byte](data.length / 2 + 64)
      var n = 0
      while (!d.finished()) {
        if (n == out.length) out = java.util.Arrays.copyOf(out, 2 * n)
        n += d.deflate(out, n, out.length - n)
      }
      trim(out, n)
    } finally d.end()
  }

  /** TIFF/PDF LZW (MSB-first, root width 8) to the end code: Right at the
    * end code (possibly shorter than the caller wants);
    * [[Stop.Truncated]] with the bytes so far when the input runs out
    * first; [[Stop.TooLarge]] when the output would pass `limit`. Codes
    * are 9 bits after a clear and grow by a bit, up to 12, each time the
    * table holds 2^width − `earlyChange` entries. */
  def lzw(data: Array[Byte], earlyChange: Int, limit: Int): Either[Stop, Array[Byte]] =
    lzwUpTo(data, earlyChange, lsbFirst = false, rootWidth = 8, limit, exact = false)

  /** GIF LZW (LSB-first, early change 0, Clear = 2^rootWidth) of a known
    * decoded size: stops once `expected` bytes are out (the last string
    * clipped), so no end code is needed after them; shorter than
    * `expected` when an end code comes first. The caller bounds
    * `expected`. */
  def lzwExactly(data: Array[Byte], expected: Int, rootWidth: Int): Either[Stop, Array[Byte]] =
    lzwUpTo(data, earlyChange = 0, lsbFirst = true, rootWidth, expected, exact = true)

  /** Each table entry is a (start, length) slice of the output already
    * written: the entry added after a code is the previous code's string
    * plus this code's first byte, and those bytes sit side by side in the
    * output. So an entry costs no allocation and a code is one copy. */
  private def lzwUpTo(data: Array[Byte], earlyChange: Int, lsbFirst: Boolean, rootWidth: Int,
      cap: Int, exact: Boolean): Either[Stop, Array[Byte]] = {
    val clear = 1 << rootWidth
    val end = clear + 1
    val stopAt = if (exact) cap else Int.MaxValue
    // every code takes at least rootWidth + 1 bits and adds at most one
    // entry, so a short stream needs a short table (zeroing 4096-entry
    // tables was most of the cost of a page-sized stream)
    val entries = math.min(4096L, clear + 2 + 8L * data.length / (rootWidth + 1)).toInt
    val start = new Array[Int](entries)
    val length = new Array[Int](entries)
    var out = new Array[Byte](if (exact) cap else initialCapacity(data, cap))
    var n = 0
    var next = clear + 2
    var width = rootWidth + 1
    var prevAt = -1 // where the previous code's string starts; -1 after a clear
    var acc = 0L; var nBits = 0; var p = 0
    while (n < stopAt) {
      while (nBits < width && p < data.length) {
        if (lsbFirst) acc |= (data(p) & 0xffL) << nBits
        else acc = (acc << 8) | (data(p) & 0xff)
        p += 1; nBits += 8
      }
      if (nBits < width) return Left(Stop.Truncated(trim(out, n)))
      nBits -= width
      val code =
        if (lsbFirst) { val c = (acc & ((1 << width) - 1)).toInt; acc >>>= width; c }
        else ((acc >>> nBits) & ((1 << width) - 1)).toInt
      if (code == end) return Right(trim(out, n))
      if (code == clear) {
        next = clear + 2; width = rootWidth + 1; prevAt = -1
      } else {
        if (prevAt < 0 && code > clear) return Left(Stop.BadFirstCode)
        if (code > next) return Left(Stop.BadCode)
        val full = if (code < clear) 1 else if (code < next) length(code) else n - prevAt + 1
        val len = if (n + full <= cap) full else if (exact) cap - n else return Left(Stop.TooLarge)
        if (n + len > out.length) out = grow(out, n + len, cap)
        if (code < clear) out(n) = code.toByte
        else if (code < next) System.arraycopy(out, start(code), out, n, len)
        else { // code == next: the previous string plus its own first byte
          System.arraycopy(out, prevAt, out, n, math.min(len, full - 1))
          if (len == full) out(n + len - 1) = out(prevAt)
        }
        if (prevAt >= 0 && next < 4096) {
          start(next) = prevAt; length(next) = n - prevAt + 1
          next += 1
          if (next + earlyChange >= (1 << width) && width < 12) width += 1
        }
        prevAt = n
        n += len
      }
    }
    Right(out)
  }

  /** The LZW encoder for both decoders' code layouts ([[lzw]]: MSB-first,
    * root width 8; [[lzwExactly]]: LSB-first, early change 0, the GIF
    * minimum code size as root width): a Clear first, the end code last,
    * and a Clear once the table holds 4094 entries (where libtiff clears).
    * The encoder learns each entry one code before the decoder does, so it
    * widens one entry later, at 2^width + 1 − `earlyChange`; at the end
    * code the two counts meet, so the end code is widened on the decoder's
    * schedule. */
  def lzwEncode(data: Array[Byte], earlyChange: Int, lsbFirst: Boolean = false,
      rootWidth: Int = 8): Array[Byte] = {
    val clear = 1 << rootWidth
    // open-addressed table, at most half full: key (prefix code << 8 | byte) -> code
    var slots = 16
    while (slots < 2 * math.min(data.length, 4096)) slots <<= 1
    val shift = Integer.numberOfLeadingZeros(slots) + 1
    val keys = new Array[Int](slots)
    val codes = new Array[Int](slots)
    java.util.Arrays.fill(keys, -1)
    var out = new Array[Byte](data.length / 2 + 16)
    var n = 0
    var acc = 0L; var nBits = 0
    var width = rootWidth + 1
    var next = clear + 2
    def put(code: Int, bits: Int = width): Unit = {
      if (lsbFirst) acc |= code.toLong << nBits else acc = (acc << bits) | code
      nBits += bits
      while (nBits >= 8) {
        if (n == out.length) out = java.util.Arrays.copyOf(out, 2 * n)
        nBits -= 8
        out(n) = (if (lsbFirst) { val b = acc; acc >>>= 8; b } else acc >>> nBits).toByte
        n += 1
      }
    }
    put(clear)
    var cur = -1
    var i = 0
    while (i < data.length) {
      val b = data(i) & 0xff
      if (cur < 0) cur = b
      else {
        val key = (cur << 8) | b
        var h = (key * 0x9e3779b1) >>> shift
        while (keys(h) >= 0 && keys(h) != key) h = (h + 1) & (slots - 1)
        if (keys(h) == key) cur = codes(h)
        else {
          put(cur)
          keys(h) = key; codes(h) = next
          next += 1
          if (next == (1 << width) + 1 - earlyChange && width < 12) width += 1
          if (next >= 4094) {
            put(clear)
            java.util.Arrays.fill(keys, -1)
            next = clear + 2; width = rootWidth + 1
          }
          cur = b
        }
      }
      i += 1
    }
    if (cur >= 0) put(cur)
    if (next == (1 << width) - earlyChange && width < 12) width += 1
    put(clear + 1)
    if (nBits > 0) put(0, 8 - nBits) // zero bits pad the last byte
    trim(out, n)
  }

  /** First buffer for an output of unknown size: proportional to the
    * input, never past `limit`. */
  private def initialCapacity(data: Array[Byte], limit: Int): Int =
    math.min(limit.toLong, math.max(1024L, 4L * data.length)).toInt

  /** `out` grown to hold at least `need` bytes: doubled, capped at `cap`. */
  private def grow(out: Array[Byte], need: Int, cap: Int): Array[Byte] =
    java.util.Arrays.copyOf(out, math.min(cap.toLong, math.max(need.toLong, 2L * out.length)).toInt)

  private def trim(out: Array[Byte], n: Int): Array[Byte] =
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
}
