package graft.tools

/** Large-scale mutation campaign over every decoder the library ships —
  * the round-4 campaign of this shape found a real OOM-class defect
  * (unbounded cumulative JBIG2 symbol allocation) that per-spec
  * 300-mutation smoke fuzz missed. Round 5 adds the VP8 key-frame
  * decoder, huffman JBIG2, CMYK JPEG, low-bit PNG, RLE BMP and the
  * HEIF/AVIF labeling walk; this main hammers ALL of them.
  *
  * Usage: FuzzCampaign [mutationsPerSeed] (default 2000)
  * Every decode must return (Left or Right) without throwing, without
  * runaway allocation and within [[DeadlineMs]]; a throw or a missed
  * deadline aborts (exit 1) with the seed/mutation indices so the case
  * can be frozen into a regression spec. Decodes run one at a time on one
  * reused daemon worker thread, so a hung decode cannot keep the JVM up.
  */
object FuzzCampaign {

  /** Per-decode wall bound. Clean decodes of these small seeds take well
    * under a millisecond once warm; the slack absorbs JIT and GC pauses. */
  val DeadlineMs = 2000L

  def main(args: Array[String]): Unit = {
    val perSeed = args.headOption.map(_.toInt).getOrElse(2000)
    import graft.codec._
    import graft.pdf.{PdfParser, PdfWriter}
    import graft.sources.Warc
    val gray = Array.tabulate[Byte](32 * 24)(i => (i * 7).toByte)
    val rgb = Array.tabulate[Byte](24 * 16 * 3)(i => (i * 5).toByte)
    val pal16 = Array.tabulate[Byte](16 * 3)(i => (i * 11).toByte)
    val pal256 = Array.tabulate[Byte](256 * 3)(i => (i * 3).toByte)
    val idx = Array.tabulate[Byte](24 * 16)(i => (i % 16).toByte)
    val glyphs = Vector((3, 4, Array.fill[Byte](12)(1)), (2, 3, Array.fill[Byte](6)(1)))
    val placements = Seq((0, 1, 1), (1, 6, 2), (0, 11, 1), (1, 16, 6))
    val lines = Vector.tabulate(12)(i => s"line $i of the fuzz page, filtered stream text")
    def pdf(f: PdfWriter.Filter): Array[Byte] =
      PdfWriter.write(Vector(PdfWriter.PageSpec(Vector(lines), filters = Vector(f))))
    val text = lines.mkString("\n").getBytes("UTF-8")

    val seeds: Seq[(String, Array[Byte], Array[Byte] => Any)] = Seq(
      ("vp8-synth", Vp8Synth.wrapWebp(Vp8Synth.synthesize(33, 21, 55, 25)),
        (m: Array[Byte]) => WebpVp8l.decode(m)),
      ("vp8l", WebpVp8l.encode(rgb, 24, 16, 3), (m: Array[Byte]) => WebpVp8l.decode(m)),
      ("jbig2-arith-sym", Jbig2.encodeSymbolPage(30, 14, glyphs, placements),
        (m: Array[Byte]) => Jbig2.decode(m)),
      ("jbig2-huff-mmr", Jbig2.encodeSymbolPageHuff(30, 14, glyphs, placements),
        (m: Array[Byte]) => Jbig2.decode(m)),
      ("jbig2-huff-text", Jbig2.encodeSymbolPageHuff(30, 14, glyphs, placements,
        huffText = true), (m: Array[Byte]) => Jbig2.decode(m)),
      ("jbig2-huff-raw", Jbig2.encodeSymbolPageHuff(30, 14, glyphs, placements,
        huffText = true, uncompressed = true), (m: Array[Byte]) => Jbig2.decode(m)),
      ("jpeg-cmyk", JpegEncoder.encodeCmyk444(gray.take(16 * 16), gray.take(16 * 16),
        gray.take(16 * 16), gray.take(16 * 16), 16, 16, transform = 0),
        (m: Array[Byte]) => Jpeg.decode(m)),
      ("jpeg-ycck", JpegEncoder.encodeCmyk444(gray.take(16 * 16), gray.take(16 * 16),
        gray.take(16 * 16), gray.take(16 * 16), 16, 16, transform = 2),
        (m: Array[Byte]) => Jpeg.decode(m)),
      ("png-1bit", Png.encodeGrayLowBit(idx.map(v => (v % 2).toByte), 24, 16, 1),
        (m: Array[Byte]) => Png.decode(m)),
      ("png-2bit-pal", Png.encodeIndexed(idx.map(v => (v % 4).toByte), 24, 16, 2,
        pal16.take(12)), (m: Array[Byte]) => Png.decode(m)),
      ("png-4bit-pal", Png.encodeIndexed(idx, 24, 16, 4, pal16),
        (m: Array[Byte]) => Png.decode(m)),
      ("bmp-rle8", Bmp.encodeRle8(idx, 24, 16, pal256), (m: Array[Byte]) => Bmp.decode(m)),
      ("bmp-rle4", Bmp.encodeRle4(idx, 24, 16, pal16), (m: Array[Byte]) => Bmp.decode(m)),
      ("heif-avif", Mp4.synthesizeHeif("avif", Seq((64, 48), (16, 12))),
        (m: Array[Byte]) => graft.ops.Multimodal.mediaInfo(m)),
      ("heif-heic", Mp4.synthesizeHeif("heic", Seq((100, 80))),
        (m: Array[Byte]) => graft.ops.Multimodal.mediaInfo(m)),
      ("media-info-vp8", Vp8Synth.wrapWebp(Vp8Synth.synthesize(20, 12)),
        (m: Array[Byte]) => graft.ops.Multimodal.mediaInfo(m)),
      ("flac", Flac.synthesize(44100, 2, 16, 44100L * 3,
        Seq("TITLE" -> "t", "ARTIST" -> "a")),
        (m: Array[Byte]) => { Flac.info(m); graft.ops.Multimodal.mediaInfo(m) }),
      ("ogg-tags", Ogg.synthesize("opus", 2, 48000, 0, 2, 48000,
        tags = Seq("TITLE" -> ("t" * 300))),
        (m: Array[Byte]) => { Ogg.tags(m); Ogg.info(m) }),
      ("mkv", Mkv.synthesize("webm", 1000000L, 2000.0,
        Some(("V_VP9", 320, 240)), Some(("A_OPUS", 48000, 2))),
        (m: Array[Byte]) => { Mkv.info(m); graft.ops.Multimodal.mediaInfo(m) }),
      ("ico", Ico.synthesize("icon", Seq(
        (Png.encode(Array.fill[Byte](64)(9), 8, 8, 1), 8, 8, 32))),
        (m: Array[Byte]) => { Ico.decodeLargest(m); graft.ops.Multimodal.mediaInfo(m) }),
      ("wav-float", Wav.encodeFloat(Array.tabulate(200)(i => (i / 100.0f) - 1f), 2, 16000),
        (m: Array[Byte]) => { Wav.decode(m); graft.ops.Multimodal.mediaInfo(m) }),
      ("bmp-565", { // 16-bit bitfields seed
        val w = 10; val h = 6; val stride = ((w * 2 + 3) / 4) * 4
        val bb = java.nio.ByteBuffer.allocate(66 + stride * h)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put('B'.toByte).put('M'.toByte).putInt(66 + stride * h)
        bb.putInt(0).putInt(66).putInt(40).putInt(w).putInt(h)
        bb.putShort(1).putShort(16).putInt(3).putInt(stride * h)
        bb.putInt(0).putInt(0).putInt(0).putInt(0)
        bb.putInt(0xf800).putInt(0x07e0).putInt(0x001f)
        (0 until stride * h).foreach(i => bb.put((i * 7).toByte))
        bb.array()
      }, (m: Array[Byte]) => Bmp.decode(m)),
      ("tiff-deflate", Tiff.encodeCompressed(gray, 32, 24, 1, 8, rowsPerStrip = 8),
        (m: Array[Byte]) => Tiff.decode(m)),
      ("tiff-lzw", Tiff.encodeCompressed(rgb, 24, 16, 3, 5, rowsPerStrip = 6, predictor = true),
        (m: Array[Byte]) => Tiff.decode(m)),
      ("pdf-flate", pdf(PdfWriter.FlateF), (m: Array[Byte]) => PdfParser.parse(m)),
      ("pdf-lzw", pdf(PdfWriter.LzwF), (m: Array[Byte]) => PdfParser.parse(m)),
      ("pdf-runlength", pdf(PdfWriter.RunLengthF), (m: Array[Byte]) => PdfParser.parse(m)),
      ("warc-deflate", Warc.deflateEncode(text), (m: Array[Byte]) => Warc.contentDecode("deflate", m))
    )

    val worker = java.util.concurrent.Executors.newSingleThreadExecutor { (r: Runnable) =>
      val t = new Thread(r, "fuzz-decode"); t.setDaemon(true); t
    }

    var total = 0L
    val t0 = System.nanoTime()
    seeds.foreach { case (name, seed, decode) =>
      val rng = new scala.util.Random(name.hashCode)
      var i = 0
      while (i < perSeed) {
        val m = seed.clone()
        // single-byte, double-byte, and truncation mutations
        (i % 3) match {
          case 0 => m(rng.nextInt(m.length)) = rng.nextInt(256).toByte
          case 1 =>
            m(rng.nextInt(m.length)) = rng.nextInt(256).toByte
            m(rng.nextInt(m.length)) = rng.nextInt(256).toByte
          case _ => ()
        }
        val sl = if (i % 3 == 2) java.util.Arrays.copyOf(m, 1 + rng.nextInt(m.length)) else m
        val d0 = System.nanoTime()
        val task: java.util.concurrent.Callable[Any] = () => decode(sl)
        try worker.submit(task).get(DeadlineMs, java.util.concurrent.TimeUnit.MILLISECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            System.err.println(f"FUZZ TIMEOUT seed=$name mutation=$i: still decoding after ${(System.nanoTime() - d0) / 1e6}%.0f ms")
            sys.exit(1)
          case e: java.util.concurrent.ExecutionException =>
            val c = e.getCause
            System.err.println(s"FUZZ FAILURE seed=$name mutation=$i: ${c.getClass.getName}: ${c.getMessage}")
            sys.exit(1)
        }
        total += 1
        i += 1
      }
      System.err.println(f"[fuzz] $name%-16s $perSeed%d mutations clean")
    }
    worker.shutdown()
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"campaign clean: $total%d decodes across ${seeds.size}%d seeds in $secs%.1fs, none past ${DeadlineMs}%d ms")
  }
}
