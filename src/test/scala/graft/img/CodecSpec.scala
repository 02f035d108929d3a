package graft.img

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

import graft.data.Synthetic

/** Differential spec of the window decode: inside the window it must
  * equal a full decode byte for byte, outside it must be 0. */
class CodecSpec extends AnyFunSuite {

  private val ts = 256

  /** (name, x0, y0, x1, y1), inclusive, covering the reader's row and
    * column boundaries. */
  private val windows = Seq(
    ("top rows", 0, 0, ts - 1, 15),
    ("bottom rows", 0, ts - 20, ts - 1, ts - 1),
    ("right edge", ts - 9, 30, ts - 1, 200),
    ("single pixel", 137, 91, 137, 91),
    ("interior", 13, 57, 140, 170),
    ("whole tile", 0, 0, ts - 1, ts - 1))

  private def assertWindowMatches(bytes: Array[Byte], label: String): Unit = {
    val full = Codec.decodeBGR(bytes)
    assert(full.w == ts && full.h == ts)
    windows.foreach { case (name, x0, y0, x1, y1) =>
      val win = Codec.decodeBGRWindow(bytes, ts, ts, x0, y0, x1, y1)
      assert(win != null && win.w == ts && win.h == ts && win.channels == 3, s"$label $name")
      var diffIn = 0; var nonZeroOut = 0
      var i = 0
      while (i < ts * ts) {
        val r = i / ts; val c = i % ts
        val inside = r >= y0 && r <= y1 && c >= x0 && c <= x1
        var ch = 0
        while (ch < 3) {
          val k = i * 3 + ch
          if (inside && win.data(k) != full.data(k)) diffIn += 1
          if (!inside && win.data(k) != 0) nonZeroOut += 1
          ch += 1
        }
        i += 1
      }
      assert(diffIn == 0, s"$label $name: $diffIn window bytes differ from the full decode")
      assert(nonZeroOut == 0, s"$label $name: $nonZeroOut bytes outside the window are set")
    }
  }

  private def png(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("jpg window decode equals the full decode (smooth and textured tiles)") {
    assertWindowMatches(Synthetic.makeTileJpg(401, 101, ts, 42L).bytes, "smooth jpg")
    assertWindowMatches(Synthetic.makeTileJpg(402, 103, ts, 7L, textured = true).bytes,
      "textured jpg")
  }

  test("png window decode equals the full decode") {
    assertWindowMatches(Codec.encodePNG(Synthetic.tileRaster(401, 101, ts, 42L)), "png")
  }

  test("non-BGR png (grayscale, alpha) goes through the getRGB conversion") {
    val src = Synthetic.tileRaster(403, 102, ts, 42L)
    val gray = new BufferedImage(ts, ts, BufferedImage.TYPE_BYTE_GRAY)
    val argb = new BufferedImage(ts, ts, BufferedImage.TYPE_INT_ARGB)
    for (r <- 0 until ts; c <- 0 until ts) {
      val o = src.pixelOffset(r, c)
      val rgb = ((src.data(o + 2) & 0xff) << 16) | ((src.data(o + 1) & 0xff) << 8) |
        (src.data(o) & 0xff)
      gray.getRaster.setSample(c, r, 0, src.data(o + 1) & 0xff)
      argb.setRGB(c, r, (((r + c) & 0xff) << 24) | rgb)
    }
    Seq("grayscale" -> png(gray), "alpha" -> png(argb)).foreach { case (label, bytes) =>
      val decoded = ImageIO.read(new ByteArrayInputStream(bytes))
      assert(decoded.getType != BufferedImage.TYPE_3BYTE_BGR, s"$label png decodes as BGR")
      assertWindowMatches(bytes, s"$label png")
    }
  }

  test("a tile whose header is not w x h returns null, so the caller resizes") {
    val small = Synthetic.makeTileJpg(401, 101, ts / 2, 42L).bytes
    assert(Codec.decodeBGRWindow(small, ts, ts, 0, 0, 10, 10) == null)
    val wide = Codec.encodePNG(Raster(new Array[Byte](ts * 2 * ts * 3), ts * 2, ts, 3))
    assert(Codec.decodeBGRWindow(wide, ts, ts, 0, 0, 10, 10) == null)
  }

  test("window corners outside the tile are clamped to it") {
    val bytes = Synthetic.makeTileJpg(401, 101, ts, 42L).bytes
    val clamped = Codec.decodeBGRWindow(bytes, ts, ts, -5, -5, ts + 5, ts + 5)
    assert(clamped.data.sameElements(Codec.decodeBGR(bytes).data))
  }
}
