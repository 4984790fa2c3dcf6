package graft.operators

import java.nio.charset.StandardCharsets.US_ASCII

/** REAL image codecs that need no native library — binary PPM (P6, the
  * Netpbm interchange format: ASCII header `P6 <w> <h> <maxval>` + raw
  * RGB bytes), PNG (r8 — a JDK-core `java.util.zip` encoder with the
  * five scanline filters; decode checks the chunk CRCs and profile, then
  * reads through `javax.imageio`), and
  * JPEG through the JDK-shipped `javax.imageio` reader/writer (lossy —
  * gated by tolerance, see q_multimodal_jpeg_decode). Pure JVM,
  * executor-safe, no shared state — usable straight inside the batched
  * `mapPartitions` pipeline ([[Multimodal.decodeBatched]]'s sanctioned
  * tier).
  */
object ImageCodec {

  /** Row-major interleaved RGB, 8 bits per channel. */
  final case class RawImage(width: Int, height: Int, pixels: Array[Byte]) {
    require(pixels.length == width * height * 3,
      s"pixel buffer ${pixels.length} != ${width}x${height}x3")
  }

  def encodePpm(img: RawImage): Array[Byte] =
    s"P6\n${img.width} ${img.height}\n255\n".getBytes(US_ASCII) ++ img.pixels

  /** Strict P6 parser: magic, whitespace/comment-tolerant header tokens
    * (the Netpbm grammar allows `#` comments anywhere in the header),
    * exactly one whitespace byte before the raster. Fails loud on
    * anything else — a malformed blob must never decode quietly. */
  def decodePpm(bytes: Array[Byte]): RawImage = {
    require(bytes.length >= 2 && bytes(0) == 'P' && bytes(1) == '6',
      "not a P6 PPM (magic)")
    var pos = 2
    def skipWsAndComments(): Unit = {
      var more = true
      while (more && pos < bytes.length) {
        val b = bytes(pos)
        if (b == ' ' || b == '\n' || b == '\r' || b == '\t') pos += 1
        else if (b == '#') { while (pos < bytes.length && bytes(pos) != '\n') pos += 1 }
        else more = false
      }
    }
    def token(): Int = {
      skipWsAndComments()
      val start = pos
      while (pos < bytes.length && bytes(pos) >= '0' && bytes(pos) <= '9') pos += 1
      require(pos > start, s"malformed PPM header at byte $start")
      new String(bytes, start, pos - start, US_ASCII).toInt
    }
    val (w, h, maxval) = (token(), token(), token())
    require(maxval == 255, s"only 8-bit PPM supported (maxval $maxval)")
    pos += 1 // the single whitespace byte after maxval
    require(bytes.length - pos == w * h * 3,
      s"raster size ${bytes.length - pos} != ${w}x${h}x3")
    RawImage(w, h, java.util.Arrays.copyOfRange(bytes, pos, bytes.length))
  }

  /** Nearest-neighbor resize: source index `floor(x2·w/w2)` per axis —
    * the integer mapping every engine replays exactly. */
  def resizeNearest(img: RawImage, w2: Int, h2: Int): RawImage = {
    val out = new Array[Byte](w2 * h2 * 3)
    var y2 = 0
    while (y2 < h2) {
      val sy = y2 * img.height / h2
      var x2 = 0
      while (x2 < w2) {
        val sx = x2 * img.width / w2
        val src = (sy * img.width + sx) * 3
        val dst = (y2 * w2 + x2) * 3
        out(dst) = img.pixels(src)
        out(dst + 1) = img.pixels(src + 1)
        out(dst + 2) = img.pixels(src + 2)
        x2 += 1
      }
      y2 += 1
    }
    RawImage(w2, h2, out)
  }

  // -- PNG (r8) ----------------------------------------------------------
  // PNG is zlib + per-scanline filters + CRC-framed chunks. The encoder
  // is JDK-core (`java.util.zip.{Deflater, CRC32}`) and writes truecolor
  // with a selectable uniform filter — ImageIO cannot pick one — so
  // round-trip tests exercise all five unfilters. The decoder supports
  // the common non-interlaced 8-bit profiles: greyscale (0), truecolor
  // (2), truecolor+alpha (6).

  private val PngSig: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  private def be32(v: Int): Array[Byte] =
    Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)

  private def readBe32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes(US_ASCII)
    val crc = new java.util.zip.CRC32()
    crc.update(t); crc.update(data)
    be32(data.length) ++ t ++ data ++ be32(crc.getValue.toInt)
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Encode as 8-bit truecolor PNG, applying `filterType` (0-4)
    * uniformly to every scanline — filters beyond None exist so tests
    * can prove each unfilter path against the same pixels. */
  def encodePng(img: RawImage, filterType: Int = 0): Array[Byte] = {
    require(filterType >= 0 && filterType <= 4,
      s"PNG filter type must be 0..4, got $filterType")
    val bpp = 3
    val stride = img.width * bpp
    val raw = new Array[Byte]((stride + 1) * img.height)
    var y = 0
    while (y < img.height) {
      raw(y * (stride + 1)) = filterType.toByte
      var x = 0
      while (x < stride) {
        val cur = img.pixels(y * stride + x) & 0xff
        val left = if (x >= bpp) img.pixels(y * stride + x - bpp) & 0xff else 0
        val up = if (y > 0) img.pixels((y - 1) * stride + x) & 0xff else 0
        val ul = if (x >= bpp && y > 0)
          img.pixels((y - 1) * stride + x - bpp) & 0xff else 0
        val pred = filterType match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        raw(y * (stride + 1) + 1 + x) = ((cur - pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val buf = new Array[Byte](8192)
    val out = new java.io.ByteArrayOutputStream()
    while (!deflater.finished())
      out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    val ihdr = be32(img.width) ++ be32(img.height) ++
      Array[Byte](8, 2, 0, 0, 0) // depth 8, truecolor, deflate, std, none
    PngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", out.toByteArray) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** Strict PNG decoder: signature, chunk walk with CRC verification,
    * IHDR profile check (8-bit, colortype 0/2/6, non-interlaced), then
    * the JDK's `javax.imageio` PNG reader inflates and unfilters. The
    * walk stays because ImageIO does not verify chunk CRCs. Fails loud
    * on anything else — a malformed blob must never decode quietly. */
  def decodePng(bytes: Array[Byte]): RawImage = {
    require(bytes.length > 8 && PngSig.indices.forall(i =>
      bytes(i) == PngSig(i)), "not a PNG (signature)")
    var pos = 8
    var sawHeader = false
    var ended = false
    while (!ended) {
      require(pos + 8 <= bytes.length, "truncated PNG chunk header")
      val len = readBe32(bytes, pos)
      val typ = new String(bytes, pos + 4, 4, US_ASCII)
      require(len >= 0 && pos + 12 + len <= bytes.length,
        s"truncated $typ chunk")
      val crc = new java.util.zip.CRC32()
      crc.update(bytes, pos + 4, 4 + len)
      require(crc.getValue.toInt == readBe32(bytes, pos + 8 + len),
        s"CRC mismatch in $typ chunk")
      typ match {
        case "IHDR" =>
          require(len == 13, s"IHDR length $len != 13")
          val depth = bytes(pos + 16)
          val colorType = bytes(pos + 17)
          require(depth == 8, s"only 8-bit PNG supported (depth $depth)")
          require(colorType == 0 || colorType == 2 || colorType == 6,
            s"unsupported PNG color type $colorType")
          require(bytes(pos + 18) == 0 && bytes(pos + 19) == 0,
            "unsupported PNG compression/filter method")
          require(bytes(pos + 20) == 0, "interlaced PNG not supported")
          sawHeader = true
        case "IEND" => ended = true
        case _ => () // IDAT and ancillary chunks: ImageIO reads them
      }
      pos += 12 + len
    }
    require(sawHeader, "PNG has no IHDR")
    toRaw(readImage(bytes, "PNG"))
  }

  // -- JPEG (r8, JDK javax.imageio) -------------------------------------
  // Lossy: decode(encode(img)) ≈ img, not ==. Deterministic within one
  // JVM (the gate encodes and decodes in the same run and checks a mean
  // absolute error bound), but NOT guaranteed bit-stable across JDK
  // implementations — which is why the PNG/PPM tiers carry the exact
  // oracles and JPEG gates on tolerance.

  def encodeJpeg(img: RawImage): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(img.width, img.height,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < img.height) {
      var x = 0
      while (x < img.width) {
        val i = (y * img.width + x) * 3
        bi.setRGB(x, y, ((img.pixels(i) & 0xff) << 16) |
          ((img.pixels(i + 1) & 0xff) << 8) | (img.pixels(i + 2) & 0xff))
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(bi, "jpg", out),
      "no JPEG writer available")
    out.toByteArray
  }

  def decodeJpeg(bytes: Array[Byte]): RawImage =
    toRaw(readImage(bytes, "JPEG"))

  /** The JDK's reader providers, looked up once: `ImageIO.read` would
    * search the registry and probe every format on each call. */
  private val readerSpis = Seq("PNG", "JPEG").map(f =>
    f -> javax.imageio.ImageIO.getImageReadersByFormatName(f).next()
      .getOriginatingProvider).toMap

  /** ImageIO decode from memory. `MemoryCacheImageInputStream` keeps
    * ImageIO off its default temp-file stream cache, which costs several
    * times the decode of a small image; the JVM-global
    * `ImageIO.setUseCache` is left alone. */
  private def readImage(bytes: Array[Byte],
      format: String): java.awt.image.BufferedImage = {
    val reader = readerSpis(format).createReaderInstance()
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      reader.setInput(in, true, true)
      reader.read(0)
    } catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(s"not a decodable $format", e)
    } finally {
      reader.dispose()
      in.close()
    }
  }

  /** Interleaved RGB from the raster's bands: one band (grey) is
    * replicated, three are copied, a fourth (alpha) is dropped. Raw
    * samples, not `getRGB`, which would gamma-convert grey. */
  private def toRaw(bi: java.awt.image.BufferedImage): RawImage = {
    val raster = bi.getRaster
    val (w, h, bands) = (bi.getWidth, bi.getHeight, raster.getNumBands)
    require(bands == 1 || bands == 3 || bands == 4,
      s"unsupported image with $bands bands")
    val samples = raster.getPixels(0, 0, w, h, null: Array[Int])
    val out = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      var c = 0
      while (c < 3) {
        out(i * 3 + c) = samples(i * bands + (if (bands == 1) 0 else c)).toByte
        c += 1
      }
      i += 1
    }
    RawImage(w, h, out)
  }

  /** Exact per-channel sums (unsigned bytes) — the mean-color feature
    * without float drift. */
  def channelSums(img: RawImage): (Long, Long, Long) = {
    var (r, g, b) = (0L, 0L, 0L)
    var i = 0
    while (i < img.pixels.length) {
      r += img.pixels(i) & 0xff
      g += img.pixels(i + 1) & 0xff
      b += img.pixels(i + 2) & 0xff
      i += 3
    }
    (r, g, b)
  }
}
