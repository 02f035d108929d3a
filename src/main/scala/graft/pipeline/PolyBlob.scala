package graft.pipeline

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import graft.geom.{MPoly, Poly, Rasterize, Ring}
import graft.img.Raster
import graft.index.ZIndex
import graft.kernel.IndexKernel

/** Compact serialized form of a prepared garden polygon, shipped through
  * the cell→polygon join: garden row id, absolute-pixel crop bbox
  * (= the reference's mosaic crop, image_loaders.py:279-282) and the
  * geometry scaled to absolute pixel units. */
object PolyBlob {

  def serialize(gid: Long, cropX0: Int, cropX1: Int, cropY0: Int, cropY1: Int,
                gPix: MPoly): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeLong(gid)
    out.writeInt(cropX0); out.writeInt(cropX1)
    out.writeInt(cropY0); out.writeInt(cropY1)
    out.writeInt(gPix.polys.length)
    gPix.polys.foreach { p =>
      out.writeInt(1 + p.holes.length)
      (Iterator(p.outer) ++ p.holes.iterator).foreach { r =>
        out.writeInt(r.size)
        var i = 0
        while (i < r.size) { out.writeDouble(r.xs(i)); i += 1 }
        i = 0
        while (i < r.size) { out.writeDouble(r.ys(i)); i += 1 }
      }
    }
    out.flush()
    bos.toByteArray
  }

  final case class Prepared(gid: Long, cropX0: Int, cropX1: Int, cropY0: Int, cropY1: Int,
                            gPix: MPoly)

  def deserialize(bytes: Array[Byte]): Prepared = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val gid = in.readLong()
    val cx0 = in.readInt(); val cx1 = in.readInt()
    val cy0 = in.readInt(); val cy1 = in.readInt()
    val nPolys = in.readInt()
    val polys = Array.fill(nPolys) {
      val nRings = in.readInt()
      val rings = Array.fill(nRings) {
        val n = in.readInt()
        val xs = Array.fill(n)(in.readDouble())
        val ys = Array.fill(n)(in.readDouble())
        new Ring(xs, ys)
      }
      new Poly(rings.head, rings.tail)
    }
    Prepared(gid, cx0, cx1, cy0, cy1, new MPoly(polys))
  }

  /** Whether a serialized blob's crop box (header: gid, cropX0, cropX1,
    * cropY0, cropY1) meets tile (cellE, cellN): [[scoreFragment]]'s test,
    * without deserializing the polygon. A blob that misses scores 0. */
  def meetsTile(bytes: Array[Byte], cellE: Int, cellN: Int, ts: Int): Boolean = {
    val h = java.nio.ByteBuffer.wrap(bytes) // big-endian, as DataOutputStream writes
    val tileX0 = cellE * ts; val tileY0 = cellN * ts
    math.max(h.getInt(8), tileX0) <= math.min(h.getInt(12), tileX0 + ts - 1) &&
      math.max(h.getInt(16), tileY0) <= math.min(h.getInt(20), tileY0 + ts - 1)
  }

  /** A window of one tile's raster: columns x0..x1 and rows y0..y1,
    * inclusive, counted from the raster's top-left pixel. */
  final case class Window(x0: Int, y0: Int, x1: Int, y1: Int)

  /** Bounding box of the raster windows of every fragment of tile
    * (cellE, cellN) — the only pixels [[scoreFragment]] reads — or None
    * when no fragment window meets the tile. `yDown` as in [[scoreFragment]]. */
  def windowUnion(pps: Array[Prepared], cellE: Int, cellN: Int, ts: Int,
                  yDown: Boolean = false): Option[Window] = {
    val tileX0 = cellE * ts; val tileY0 = cellN * ts
    var ux0 = Int.MaxValue; var ux1 = Int.MinValue
    var uy0 = Int.MaxValue; var uy1 = Int.MinValue
    var k = 0
    while (k < pps.length) {
      val pp = pps(k)
      val wx0 = math.max(pp.cropX0, tileX0)
      val wx1 = math.min(pp.cropX1, tileX0 + ts - 1)
      val wy0 = math.max(pp.cropY0, tileY0)
      val wy1 = math.min(pp.cropY1, tileY0 + ts - 1)
      if (wx0 <= wx1 && wy0 <= wy1) {
        val rs = if (yDown) wy0 - tileY0 else ts - 1 - (wy1 - tileY0)
        val re = if (yDown) wy1 - tileY0 else ts - 1 - (wy0 - tileY0)
        ux0 = math.min(ux0, wx0 - tileX0); ux1 = math.max(ux1, wx1 - tileX0)
        uy0 = math.min(uy0, rs); uy1 = math.max(uy1, re)
      }
      k += 1
    }
    if (ux0 > ux1) None else Some(Window(ux0, uy0, ux1, uy1))
  }

  /** Score one (polygon, tile-cell) fragment: masked pixel count and
    * per-kernel vegetation counts. Exactly the per-cell restriction of the
    * reference's mosaic mask + index + count
    * (calculate_indices.py:46-102, image_loaders.py:261-294).
    *
    * @param raster decoded tile, or null for a missing tile (the reference
    *               zero-fills absent mosaic regions — kernels evaluate
    *               their onBlack value); only the pixels inside the
    *               fragment's window (see [[windowUnion]]) are read
    * @return (npix, vegCounts) — zeros when the fragment window is empty */
  /** @param yDown web-mercator orientation: cell y and pixel rows grow
    *              southward with an UNFLIPPED raster affine
    *              (image_loaders.py:131-145), vs the OSGB northing-up
    *              flip (:276-294). */
  def scoreFragment(pp: Prepared, cellE: Int, cellN: Int, ts: Int,
                    raster: Raster, kernels: Array[IndexKernel],
                    yDown: Boolean = false): (Long, Array[Long]) = {
    val veg = new Array[Long](kernels.length)
    val tileX0 = cellE * ts; val tileY0 = cellN * ts
    val wx0 = math.max(pp.cropX0, tileX0)
    val wx1 = math.min(pp.cropX1, tileX0 + ts - 1)
    val wy0 = math.max(pp.cropY0, tileY0)
    val wy1 = math.min(pp.cropY1, tileY0 + ts - 1)
    if (wx0 > wx1 || wy0 > wy1) return (0L, veg)
    val w = wx1 - wx0 + 1; val h = wy1 - wy0 + 1

    // interior short-circuit: whole-cell window of a fully-covered cell
    val wholeCell = wx0 == tileX0 && wy0 == tileY0 && w == ts && h == ts
    val interior = wholeCell && ZIndex.rectFullyCovered(
      pp.gPix, tileX0, tileY0, tileX0 + ts, tileY0 + ts)

    val mask: Array[Boolean] =
      if (interior) null // all true
      else if (yDown) Rasterize.maskWindowYDown(pp.gPix, wx0, wy0, w, h)
      else Rasterize.maskWindow(pp.gPix, wx0, wy0, w, h)

    var npix = 0L
    if (mask == null) npix = w.toLong * h
    else npix = Rasterize.countMask(mask)
    if (npix == 0) return (0L, veg)

    if (raster == null) {
      var k = 0
      while (k < kernels.length) { veg(k) = kernels(k).onBlack * npix; k += 1 }
      return (npix, veg)
    }

    val ch = raster.channels
    var r = 0
    while (r < h) {
      // mask row r maps to the image row: OSGB flips northings, webmerc not
      val tileRow =
        if (yDown) (wy0 + r) - tileY0
        else ts - 1 - ((wy0 + h - 1 - r) - tileY0)
      val rowBase = (tileRow * ts + (wx0 - tileX0)) * ch
      val maskBase = r * w
      var c = 0
      while (c < w) {
        if (mask == null || mask(maskBase + c)) {
          val off = rowBase + c * ch
          var k = 0
          while (k < kernels.length) { veg(k) += kernels(k).classify(raster.data, off); k += 1 }
        }
        c += 1
      }
      r += 1
    }
    (npix, veg)
  }
}
