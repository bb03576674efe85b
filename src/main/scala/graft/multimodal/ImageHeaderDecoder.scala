package graft.multimodal

import org.apache.spark.sql.Dataset

/** REAL image header decoding for the two formats whose dimensions live in a
  * few plain bytes — no pixel codec required: PNG (IHDR chunk) and JPEG
  * (SOFn frame header). Same design as [[WavDecoder]]: a genuine pure-JVM
  * parser behind the [[Multimodal.MediaDecoder]] seam, loud
  * [[ImageHeaderDecoder.MalformedImage]] failures a data-quality pipeline can
  * route to a quarantine sink, stateless and thread-safe.
  *
  * Scope (headers only — the honest boundary in a codec-less sandbox):
  *  - PNG: 8-byte signature, first chunk must be IHDR (per spec) —
  *    width/height (big-endian u32), bit depth, color type → channel count.
  *    Chunk CRCs are not verified (dimension extraction, not integrity).
  *  - JPEG: SOI, then marker segments scanned (APPn/COM/DQT/… skipped by
  *    their big-endian lengths, standalone markers stepped over, 0xFF fill
  *    bytes tolerated) until the first SOF0-SOF15 frame header (except
  *    DHT/JPG/DAC which reuse the C4/C8/CC codes): precision, height,
  *    width, component count.
  */
object ImageHeaderDecoder extends Multimodal.MediaDecoder {

  final class MalformedImage(msg: String) extends IllegalArgumentException(msg)

  /** @param format "png" | "jpeg"
    * @param channels PNG: from color type (gray 1, RGB 3, palette 1,
    *                 gray+alpha 2, RGBA 4); JPEG: the SOF component count
    * @param bitDepth PNG bit depth / JPEG sample precision (bits per channel)
    */
  final case class ImageHeader(format: String, width: Int, height: Int,
                               channels: Int, bitDepth: Int)

  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))

  private def fail(msg: String): Nothing = throw new MalformedImage(msg)

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private def u16be(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def u32be(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)

  private val PngSig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  def isPng(bytes: Array[Byte]): Boolean =
    bytes.length >= 8 && bytes.take(8).sameElements(PngSig)

  def isJpeg(bytes: Array[Byte]): Boolean =
    bytes.length >= 2 && u8(bytes, 0) == 0xff && u8(bytes, 1) == 0xd8

  /** Parse the PNG IHDR (always the first chunk per spec). */
  def parsePng(bytes: Array[Byte]): ImageHeader = {
    if (bytes.length < 33) fail(s"too short for a PNG header: ${bytes.length} bytes")
    if (!isPng(bytes)) fail("missing PNG signature")
    val len = u32be(bytes, 8)
    if (len != 13) fail(s"first chunk length $len != 13 (IHDR)")
    if (!(bytes(12) == 'I' && bytes(13) == 'H' && bytes(14) == 'D' && bytes(15) == 'R'))
      fail("first chunk is not IHDR")
    val w = u32be(bytes, 16)
    val h = u32be(bytes, 20)
    if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue)
      fail(s"invalid dimensions ${w}x$h")
    val depth = u8(bytes, 24)
    if (!Set(1, 2, 4, 8, 16).contains(depth)) fail(s"invalid bit depth $depth")
    val channels = u8(bytes, 25) match {
      case 0 => 1 // grayscale
      case 2 => 3 // truecolor
      case 3 => 1 // palette indices
      case 4 => 2 // gray + alpha
      case 6 => 4 // RGBA
      case ct => fail(s"invalid color type $ct")
    }
    ImageHeader("png", w.toInt, h.toInt, channels, depth)
  }

  /** Scan JPEG marker segments to the first SOFn frame header. */
  def parseJpeg(bytes: Array[Byte]): ImageHeader = {
    if (!isJpeg(bytes)) fail("missing JPEG SOI marker")
    var off = 2
    while (off + 4 <= bytes.length) {
      if (u8(bytes, off) != 0xff) fail(f"expected marker at $off, got 0x${u8(bytes, off)}%02x")
      var m = off + 1
      while (m < bytes.length && u8(bytes, m) == 0xff) m += 1 // 0xFF fill bytes
      if (m >= bytes.length) fail("truncated at marker fill")
      val marker = u8(bytes, m)
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd7)) {
        off = m + 1 // standalone marker, no length
      } else if (marker == 0xd9) {
        fail("reached EOI without a SOF frame header")
      } else {
        if (m + 3 > bytes.length) fail("truncated segment length")
        val segLen = u16be(bytes, m + 1)
        if (segLen < 2) fail(s"segment length $segLen < 2 at $m")
        // Long-safe bound (mirrors the WavDecoder overflow fix)
        if (m.toLong + 1 + segLen > bytes.length)
          fail(s"segment at $m overruns the payload (len=$segLen)")
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) {
          if (segLen < 8) fail(s"SOF segment too small: $segLen")
          val precision = u8(bytes, m + 3)
          val h = u16be(bytes, m + 4)
          val w = u16be(bytes, m + 6)
          val comps = u8(bytes, m + 8)
          if (w == 0 || h == 0) fail(s"invalid dimensions ${w}x$h")
          if (comps == 0 || comps > 4) fail(s"invalid component count $comps")
          return ImageHeader("jpeg", w, h, comps, precision)
        }
        off = m + 1 + segLen
      }
    }
    fail("no SOF frame header found")
  }

  def parse(bytes: Array[Byte]): ImageHeader =
    if (isPng(bytes)) parsePng(bytes)
    else if (isJpeg(bytes)) parseJpeg(bytes)
    else fail("neither PNG nor JPEG signature")

  /** MediaDecoder contract: real dimensions, no duration (still image);
    * digest covers the full payload (image identity = file bytes).
    */
  override def decode(bytes: Array[Byte]): Multimodal.Decoded = {
    val h = parse(bytes)
    val md = md5Local.get()
    md.reset()
    val hex = md.digest(bytes).map(b => f"${b & 0xff}%02x").mkString
    Multimodal.Decoded(h.width, h.height, 0, hex)
  }

  /** A still image has exactly one frame — every offset grabs it. */
  override def frameDigest(bytes: Array[Byte], offsetMs: Int): String = {
    parse(bytes) // malformed input fails loudly here too
    val md = md5Local.get()
    md.reset()
    md.digest(bytes).take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  final case class ImageStats(doc_id: Long, format: String, width: Int,
                              height: Int, channels: Int, bit_depth: Int)

  /** Dataset-level header extraction (partition-parallel, streaming — the
    * same shape as [[WavDecoder.audioStats]]).
    */
  def imageStats(media: Dataset[Multimodal.MediaRow]): Dataset[ImageStats] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map { r =>
      val h = parse(r.media)
      ImageStats(r.doc_id, h.format, h.width, h.height, h.channels, h.bitDepth)
    })
  }

  // ---- deterministic synthetic images (tests + the q_image_headers round-
  // trip oracle: construct real PNG/JPEG header bytes from an id, parse them
  // back, and DuckDB recomputes the expected fields arithmetically) ----

  /** Expected header for [[syntheticBytes]] — the single source of truth the
    * SQL oracle mirrors (the q_image_headers oracle in graft.queries.ParseQueries).
    */
  def syntheticHeader(id: Long): ImageHeader = {
    val w = (id % 1920).toInt + 1
    val h = (id % 1080).toInt + 1
    if (id % 2 == 0) {
      val channels = (id % 3) match { case 0 => 1; case 1 => 3; case _ => 4 }
      val depth = if (id % 5 == 0) 16 else 8
      ImageHeader("png", w, h, channels, depth)
    } else {
      val comps = if (id % 3 == 0) 1 else 3
      ImageHeader("jpeg", w, h, comps, 8)
    }
  }

  /** Minimal VALID header bytes realizing [[syntheticHeader]] — PNG with a
    * CRC-correct IHDR, JPEG with APP0/COM segments (so the scanner's skip
    * path is exercised on every row) + SOF0 + EOI.
    */
  def syntheticBytes(id: Long): Array[Byte] = {
    val hdr = syntheticHeader(id)
    val out = new java.io.ByteArrayOutputStream()
    if (hdr.format == "png") {
      out.write(PngSig, 0, 8)
      val colorType = hdr.channels match { case 1 => 0; case 3 => 2; case _ => 6 }
      val ihdr = java.nio.ByteBuffer.allocate(17)
      ihdr.put("IHDR".getBytes("US-ASCII"))
      ihdr.putInt(hdr.width).putInt(hdr.height)
      ihdr.put(hdr.bitDepth.toByte).put(colorType.toByte)
      ihdr.put(0.toByte).put(0.toByte).put(0.toByte) // compression/filter/interlace
      val body = ihdr.array()
      val crc = new java.util.zip.CRC32()
      crc.update(body)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(13).array(), 0, 4)
      out.write(body, 0, 17)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array(), 0, 4)
    } else {
      out.write(0xff); out.write(0xd8) // SOI
      val jfif = Array[Byte]('J', 'F', 'I', 'F', 0, 1, 2, 0, 0, 1, 0, 1, 0, 0)
      out.write(0xff); out.write(0xe0) // APP0
      out.write(0); out.write(2 + jfif.length)
      out.write(jfif, 0, jfif.length)
      val com = s"graft synthetic $id".getBytes("US-ASCII")
      out.write(0xff); out.write(0xfe) // COM — exercises the skip path
      out.write((2 + com.length) >> 8); out.write((2 + com.length) & 0xff)
      out.write(com, 0, com.length)
      out.write(0xff); out.write(0xc0) // SOF0
      val segLen = 8 + 3 * hdr.channels
      out.write(segLen >> 8); out.write(segLen & 0xff)
      out.write(hdr.bitDepth)
      out.write(hdr.height >> 8); out.write(hdr.height & 0xff)
      out.write(hdr.width >> 8); out.write(hdr.width & 0xff)
      out.write(hdr.channels)
      (1 to hdr.channels).foreach { c =>
        out.write(c); out.write(0x11); out.write(0) // id, sampling, quant table
      }
      out.write(0xff); out.write(0xd9) // EOI
    }
    out.toByteArray
  }
}
