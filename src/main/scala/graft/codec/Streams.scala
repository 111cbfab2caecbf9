package graft.codec

import java.util.zip.{DataFormatException, Inflater}

/** The byte-stream decode kernels every format shares, and the one
  * ceiling they answer to.
  *
  * Flate (zlib or raw deflate: PNG IDAT, TIFF compression 8/32946, PDF
  * FlateDecode, WARC Content-Encoding) decodes only through [[inflate]] /
  * [[inflateExactly]], and MSB-first LZW (TIFF compression 5, PDF
  * LZWDecode) only through [[lzw]]. Each format maps a [[Stop]] to its own
  * error string. Both kernels are total: they end on every input, with
  * bytes or a [[Stop]], and never allocate past their limit.
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
        if (k == 0 && (inf.needsInput() || inf.needsDictionary()))
          return Left(Stop.Truncated(trim(out, n)))
        n += k
      }
      Right(trim(out, n))
    } catch {
      case e: DataFormatException => Left(Stop.Corrupt(e.getMessage))
    } finally inf.end()
  }

  private val Clear = 256
  private val End = 257

  /** TIFF/PDF LZW: MSB-first codes, Clear = 256, end = 257, widths 9 → 12
    * bits. The width grows once the table holds 2^width − `earlyChange`
    * entries (TIFF is always 1; PDF's /EarlyChange is 0 or 1, default 1).
    * Right at the end code (possibly shorter than the caller wants);
    * [[Stop.Truncated]] with the bytes so far when the input runs out
    * first; [[Stop.TooLarge]] when the output would pass `limit`.
    *
    * Each table entry is a (start, length) slice of the output already
    * written: the entry added after a code is the previous code's string
    * plus this code's first byte, and those bytes sit side by side in the
    * output. So an entry costs no allocation and a code is one copy. */
  def lzw(data: Array[Byte], earlyChange: Int, limit: Int): Either[Stop, Array[Byte]] = {
    val start = new Array[Int](4096)
    val length = new Array[Int](4096)
    var out = new Array[Byte](initialCapacity(data, limit))
    var n = 0
    var next = 258
    var width = 9
    var prevAt = -1 // where the previous code's string starts; -1 after a clear
    var acc = 0L; var nBits = 0; var p = 0
    while (true) {
      while (nBits < width && p < data.length) {
        acc = (acc << 8) | (data(p) & 0xff); p += 1; nBits += 8
      }
      if (nBits < width) return Left(Stop.Truncated(trim(out, n)))
      nBits -= width
      val code = ((acc >>> nBits) & ((1 << width) - 1)).toInt
      if (code == End) return Right(trim(out, n))
      if (code == Clear) {
        next = 258; width = 9; prevAt = -1
      } else {
        if (prevAt < 0 && code > 255) return Left(Stop.BadFirstCode)
        if (code > next) return Left(Stop.BadCode)
        val len = if (code < 256) 1 else if (code < next) length(code) else n - prevAt + 1
        if (n + len > limit) return Left(Stop.TooLarge)
        if (n + len > out.length) out = grow(out, n + len, limit)
        if (code < 256) out(n) = code.toByte
        else if (code < next) System.arraycopy(out, start(code), out, n, len)
        else { // code == next: the previous string plus its own first byte
          System.arraycopy(out, prevAt, out, n, len - 1)
          out(n + len - 1) = out(prevAt)
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
    Left(Stop.BadCode) // unreachable
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
