package graft.functions

import java.util.zip.{CRC32, Deflater}

/** Minimal deterministic 8-bit grayscale PNG encoder (round 6).
  *
  * The s05/s08 multimodal operators synthesize their blob corpus
  * in-pipeline (no image corpus exists offline) and the synthesis ran
  * through `javax.imageio.ImageIO.write`, whose PNG writer spends most
  * of its time in level-6 deflate plus per-image writer construction —
  * pure harness overhead charged to the decode operators under
  * measurement. This encoder emits the same pixels as a spec-exact PNG
  * (IHDR / one IDAT with filter-None scanlines / IEND, zlib at
  * BEST_SPEED) in a fraction of the time. The DECODE side of s05/s08
  * is untouched (javax.imageio — the operator under test), and both
  * queries' outputs derive exclusively from decoded pixel data, never
  * from the encoded bytes (s05's `magic` column is the 4 fixed PNG
  * signature bytes), so the pinned oracles are unaffected —
  * FastPngSpec asserts pixel-identical ImageIO decode against the
  * previous BufferedImage + ImageIO.write path over the synthesis
  * parameter space.
  */
object FastPng {

  private val Signature =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  /** Encode `pixels` (row-major, w*h gray samples, one byte each) as a
    * PNG byte stream.
    */
  def encodeGray(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
    require(pixels.length == w * h, s"expected ${w * h} samples, got ${pixels.length}")
    // raw scanlines: filter byte 0 (None) + the row's samples
    val raw = new Array[Byte]((w + 1) * h)
    var y = 0
    while (y < h) {
      System.arraycopy(pixels, y * w, raw, y * (w + 1) + 1, w)
      y += 1
    }
    val deflater = new Deflater(Deflater.BEST_SPEED)
    deflater.setInput(raw)
    deflater.finish()
    val zbuf = new Array[Byte](raw.length + 64)
    var zlen = 0
    while (!deflater.finished()) {
      if (zlen == zbuf.length) { // incompressible residue: grow rarely
        deflater.end()
        val z = growDeflate(raw)
        return buildStream(w, h, z, z.length)
      }
      zlen += deflater.deflate(zbuf, zlen, zbuf.length - zlen)
    }
    deflater.end()
    buildStream(w, h, zbuf, zlen)
  }

  private def growDeflate(raw: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.BEST_SPEED)
    d.setInput(raw); d.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length + raw.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def buildStream(w: Int, h: Int, z: Array[Byte], zlen: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(zlen + 64)
    out.write(Signature, 0, Signature.length)
    // IHDR: width, height, bit depth 8, color type 0 (grayscale),
    // compression 0, filter 0, interlace 0
    val ihdr = new Array[Byte](13)
    writeInt(ihdr, 0, w)
    writeInt(ihdr, 4, h)
    ihdr(8) = 8
    writeChunk(out, "IHDR", ihdr, 13)
    writeChunk(out, "IDAT", z, zlen)
    writeChunk(out, "IEND", Array.emptyByteArray, 0)
    out.toByteArray
  }

  private def writeInt(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v >>> 24).toByte
    b(off + 1) = (v >>> 16).toByte
    b(off + 2) = (v >>> 8).toByte
    b(off + 3) = v.toByte
  }

  private def writeChunk(out: java.io.ByteArrayOutputStream, typ: String,
      data: Array[Byte], len: Int): Unit = {
    val lenB = new Array[Byte](4)
    writeInt(lenB, 0, len)
    out.write(lenB, 0, 4)
    val typB = typ.getBytes("US-ASCII")
    out.write(typB, 0, 4)
    out.write(data, 0, len)
    val crc = new CRC32
    crc.update(typB, 0, 4)
    crc.update(data, 0, len)
    val crcB = new Array[Byte](4)
    writeInt(crcB, 0, crc.getValue.toInt)
    out.write(crcB, 0, 4)
  }
}
