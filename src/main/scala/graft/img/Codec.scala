package graft.img

import java.awt.{Point, Rectangle}
import java.awt.image.{BufferedImage, DataBufferByte}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

/** Decoded raster: interleaved channel bytes in cv2 memory order
  * (BGR for 3 channels, BGR+Ir for 4), row-major from the top row —
  * mirroring cv2.imread (reference: green_spaces/image_loaders.py:85,227;
  * channel order pinned by tests/test_image_loaders.py:107-192). */
final case class Raster(data: Array[Byte], w: Int, h: Int, channels: Int) {
  def pixelOffset(row: Int, col: Int): Int = (row * w + col) * channels
}

/** Tile codecs. [[decodeBGR]] decodes a whole png/jpg payload;
  * [[decodeBGRWindow]] decodes only a pixel window of it (the scoring
  * path's decode, see graft.pipeline.ScoreFragments) and leaves the rest
  * of the raster 0; [[fuseBGRIWindow]] builds the BGR+Ir raster of the
  * IRGB kernels. */
object Codec {

  // ImageIO defaults to disk-backed stream caches (temp file per decode!)
  // which serializes concurrent executor threads on the filesystem —
  // in-memory caching is mandatory for a 32-thread local run.
  ImageIO.setUseCache(false)

  /** Decode png/jpg bytes to BGR interleaved (3 channels, alpha dropped).
    * Fast path: ImageIO's PNG/JPEG readers usually hand back
    * TYPE_3BYTE_BGR whose backing buffer already IS our layout. */
  def decodeBGR(bytes: Array[Byte]): Raster = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "undecodable image payload")
    val w = img.getWidth; val h = img.getHeight
    if (img.getType == BufferedImage.TYPE_3BYTE_BGR) {
      val buf = img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferByte].getData
      if (buf.length == w * h * 3) return Raster(buf, w, h, 3)
    }
    val out = new Array[Byte](w * h * 3)
    putBGR(img, out, w, 0, 0)
    Raster(out, w, h, 3)
  }

  /** Converts `img` through `getRGB` and writes it as BGR into the
    * `w`-pixel-wide raster buffer `out`, top-left pixel at (x0, y0). */
  private def putBGR(img: BufferedImage, out: Array[Byte], w: Int, x0: Int, y0: Int): Unit = {
    val iw = img.getWidth; val ih = img.getHeight
    val argb = img.getRGB(0, 0, iw, ih, null, 0, iw)
    var r = 0
    while (r < ih) {
      var i = r * iw
      var o = ((y0 + r) * w + x0) * 3
      while (i < (r + 1) * iw) {
        val p = argb(i)
        out(o) = (p & 0xff).toByte            // B
        out(o + 1) = ((p >> 8) & 0xff).toByte // G
        out(o + 2) = ((p >> 16) & 0xff).toByte // R
        i += 1; o += 3
      }
      r += 1
    }
  }

  /** Decode only the window [x0..x1]×[y0..y1] (inclusive, clamped to the
    * image) of a png/jpg payload whose header says `w`×`h`. Returns a
    * full `w`×`h` BGR raster whose window pixels are bit-identical to
    * [[decodeBGR]]; every pixel outside the window is 0. Returns null
    * when the header size is not `w`×`h` — the caller then decodes in
    * full and resizes.
    *
    * The cost falls with the window: with a source region the JPEG
    * reader stops after the window's last row, and rows above the window
    * cost less than rows inside it. When the reader's default pixel
    * layout is TYPE_3BYTE_BGR (every RGB jpg/png) the window is decoded
    * straight into the output raster; other layouts (grayscale, alpha)
    * decode the window alone and convert it through `getRGB` as
    * [[decodeBGR]] does. */
  def decodeBGRWindow(bytes: Array[Byte], w: Int, h: Int,
                      x0: Int, y0: Int, x1: Int, y1: Int): Raster = {
    val in = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
    val readers = ImageIO.getImageReaders(in)
    require(readers.hasNext, "undecodable image payload")
    val reader = readers.next()
    try {
      reader.setInput(in, true, true)
      if (reader.getWidth(0) != w || reader.getHeight(0) != h) return null
      val wx0 = math.max(x0, 0); val wx1 = math.min(x1, w - 1)
      val wy0 = math.max(y0, 0); val wy1 = math.min(y1, h - 1)
      require(wx0 <= wx1 && wy0 <= wy1, s"empty decode window [$x0..$x1]x[$y0..$y1]")
      val param = reader.getDefaultReadParam
      param.setSourceRegion(new Rectangle(wx0, wy0, wx1 - wx0 + 1, wy1 - wy0 + 1))
      val types = reader.getImageTypes(0)
      if (types.hasNext && types.next().getBufferedImageType == BufferedImage.TYPE_3BYTE_BGR) {
        val full = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
        param.setDestination(full)
        param.setDestinationOffset(new Point(wx0, wy0))
        reader.read(0, param)
        return Raster(full.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData, w, h, 3)
      }
      val out = new Array[Byte](w * h * 3)
      putBGR(reader.read(0, param), out, w, wx0, wy0)
      Raster(out, w, h, 3)
    } finally { reader.dispose(); in.close() }
  }

  /** Fuse an RGB tile and a CIR tile into BGR+Ir, replicating the
    * reference's channel selection + bicubic Ir upscale
    * (image_loaders.py:362-386: Ir = CIR channel 2 as loaded BGR). */
  def fuseBGRI(rgb: Raster, cir: Raster): Raster =
    fuseBGRIWindow(rgb, cir, 0, 0, rgb.w - 1, rgb.h - 1)

  /** [[fuseBGRI]] with the Ir bicubic upscale restricted to the raster
    * window [wx0..wx1]×[wy0..wy1] (inclusive; window pixels bit-identical
    * to the full upscale, outside-window Ir is 0). The scoring path
    * passes the union of fragment windows, so the per-tile upscale cost
    * scales with the polygon-covered area, not the tile area. */
  def fuseBGRIWindow(rgb: Raster, cir: Raster,
                     wx0: Int, wy0: Int, wx1: Int, wy1: Int): Raster = {
    require(rgb.channels == 3 && cir.channels == 3)
    // extract Ir plane (channel index 2 of the CIR raster)
    val irPlane = new Array[Byte](cir.w * cir.h)
    var i = 0
    while (i < cir.w * cir.h) { irPlane(i) = cir.data(i * 3 + 2); i += 1 }
    val irUp =
      if (cir.w == rgb.w && cir.h == rgb.h) irPlane
      else Resize.bicubicPlaneWindow(irPlane, cir.w, cir.h, rgb.w, rgb.h,
        math.max(wx0, 0), math.max(wy0, 0),
        math.min(wx1, rgb.w - 1), math.min(wy1, rgb.h - 1))
    val out = new Array[Byte](rgb.w * rgb.h * 4)
    i = 0
    while (i < rgb.w * rgb.h) {
      out(i * 4) = rgb.data(i * 3)
      out(i * 4 + 1) = rgb.data(i * 3 + 1)
      out(i * 4 + 2) = rgb.data(i * 3 + 2)
      out(i * 4 + 3) = irUp(i)
      i += 1
    }
    Raster(out, rgb.w, rgb.h, 4)
  }

  /** Encode a BGR raster as PNG (used by the synthetic tile generator and
    * debug sinks; PNG is lossless so decode∘encode is bit-exact). */
  def encodePNG(r: Raster): Array[Byte] = {
    require(r.channels == 3)
    val img = new BufferedImage(r.w, r.h, BufferedImage.TYPE_INT_RGB)
    val argb = new Array[Int](r.w * r.h)
    var i = 0
    while (i < r.w * r.h) {
      val b = r.data(i * 3) & 0xff
      val g = r.data(i * 3 + 1) & 0xff
      val red = r.data(i * 3 + 2) & 0xff
      argb(i) = (red << 16) | (g << 8) | b
      i += 1
    }
    img.setRGB(0, 0, r.w, r.h, argb, 0, r.w)
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}
