package graft.geom

/** From-scratch polygon rasterizer with GDAL/rasterio `geometry_mask`
  * parity (reference usage: green_spaces/image_loaders.py:289-292 with
  * `Affine(1, 0, min_x, 0, -1, max_y)`, invert=True).
  *
  * Semantics replicated from the public GDAL scanline algorithm
  * (alg/llrasterize.cpp, GDALdllImageFilledPolygon):
  *  - a pixel is set iff its CENTER is covered,
  *  - scanline at y = row + 0.5 (raster space), half-open edge rule
  *    dy1 <= y < dy2 after orienting each edge upward,
  *  - even-odd fill across ALL rings of the geometry in one pass
  *    (holes excluded; nested multipolygon parts XOR, as GDAL does),
  *  - crossing x rounded with floor(x + 0.5); fill cols [xa, xb-1],
  *  - horizontal edges lying exactly on a scanline fill [round(minX),
  *    round(maxX)-1] when traversed right-to-left.
  *
  * We work in ABSOLUTE pixel space (world km coords scaled by tileSize)
  * so that per-tile fragments of the same polygon see the exact same
  * pixel-center predicate as the reference's global mosaic — this is what
  * makes the mosaic-free distributed aggregation bit-exact.
  *
  * Coordinates here: x right, y UP (northing direction). Row r of an
  * output window of height h corresponds to absolute integer y index
  * iAbs = yMaxAbs - r (top row = highest northing), matching the
  * reference's vertical flip (image_loaders.py:284-287).
  */
object Rasterize {

  /** Even-odd mask over the inclusive absolute-pixel window
    * cols [x0, x0+w-1], y indices [y0, y0+h-1] (y0 = bottom).
    * Returns row-major Array[Boolean] of size w*h with row 0 = TOP
    * (absolute y index y0+h-1).
    *
    * GDAL's half-open scanline rule is expressed in RASTER rows; under the
    * OSGB y-FLIP affine (Affine(...,-1,max_y)) it lands on world ys as
    * (low, high]: a scanline crosses an edge when it lies above the edge's
    * low end and at or below its high end. The web-mercator loader uses an
    * unflipped y-down affine (image_loaders.py:139), where the same rule is
    * [low, high) in its world coords; [[maskWindowYDown]] negates y to
    * reuse this (low, high] core.
    *
    * @param gPix geometry already scaled to absolute pixel units */
  def maskWindow(gPix: MPoly, x0: Int, y0: Int, w: Int, h: Int): Array[Boolean] = {
    val mask = new Array[Boolean](w * h)
    if (w <= 0 || h <= 0) return mask

    // flatten all rings (even-odd across everything, GDAL-style)
    val rings = gPix.polys.iterator.flatMap(_.rings).toArray
    val xsBuf = new Array[Double](64)

    var r = 0
    while (r < h) {
      val iAbs = y0 + h - 1 - r
      val yc = iAbs + 0.5
      var nInts = 0
      var xs: Array[Double] = xsBuf

      var ri = 0
      while (ri < rings.length) {
        val ring = rings(ri)
        val n = ring.size
        var i = 0
        while (i < n) {
          val j = if (i + 1 == n) 0 else i + 1
          val py1 = ring.ys(i); val py2 = ring.ys(j)
          if (!((py1 < yc && py2 < yc) || (py1 > yc && py2 > yc))) {
            if (py1 == py2) {
              // horizontal edge exactly on the scanline: GDAL fills
              // [round(x2), round(x1)-1] only when x1 > x2
              val px1 = ring.xs(i); val px2 = ring.xs(j)
              if (px1 > px2) {
                fillSpan(mask, r, w, x0,
                  math.floor(px2 + 0.5).toInt, math.floor(px1 + 0.5).toInt - 1)
              }
            } else {
              var dy1 = py1; var dy2 = py2
              var dx1 = ring.xs(i); var dx2 = ring.xs(j)
              if (dy1 > dy2) {
                val ty = dy1; dy1 = dy2; dy2 = ty
                val tx = dx1; dx1 = dx2; dx2 = tx
              }
              if (yc > dy1 && yc <= dy2) { // flipped-affine rule (OSGB)
                val intersect = (yc - dy1) * (dx2 - dx1) / (dy2 - dy1) + dx1
                if (nInts == xs.length) {
                  val bigger = new Array[Double](xs.length * 2)
                  System.arraycopy(xs, 0, bigger, 0, xs.length)
                  xs = bigger
                }
                xs(nInts) = intersect
                nInts += 1
              }
            }
          }
          i += 1
        }
        ri += 1
      }

      if (nInts > 1) {
        java.util.Arrays.sort(xs, 0, nInts)
        var k = 0
        while (k + 1 < nInts) {
          val xa = math.floor(xs(k) + 0.5).toInt
          val xb = math.floor(xs(k + 1) + 0.5).toInt - 1
          fillSpan(mask, r, w, x0, xa, xb)
          k += 2
        }
      }
      r += 1
    }
    mask
  }

  private def fillSpan(mask: Array[Boolean], row: Int, w: Int, x0: Int,
                       xaAbs: Int, xbAbs: Int): Unit = {
    var c = math.max(xaAbs - x0, 0)
    val cEnd = math.min(xbAbs - x0, w - 1)
    val base = row * w
    while (c <= cEnd) { mask(base + c) = true; c += 1 }
  }

  /** Web-mercator variant: y-DOWN world coordinates (tile y grows south).
    * Window rows [y0, y0+h-1] with row 0 = y0 (top, since y is downward).
    * Implemented by negating y so the scanline core is shared. */
  def maskWindowYDown(gPix: MPoly, x0: Int, y0: Int, w: Int, h: Int): Array[Boolean] = {
    val flipped = gPix.map((x, y) => (x, -y))
    // y-down pixel i has center i+0.5, which negates to (-i-1)+0.5: the
    // y-up indices are -(y0+h)..-y0-1, and the y-down [low, high) rule
    // becomes (low, high] after negation = the rule maskWindow applies.
    // Row 0 of the y-up mask = highest y-up index -y0-1 = y-down row y0
    // = the TOP row in y-down order, so rows align 1:1.
    maskWindow(flipped, x0, -(y0 + h), w, h)
  }

  /** Count of set pixels in a window mask. */
  def countMask(mask: Array[Boolean]): Long = {
    var c = 0L; var i = 0
    while (i < mask.length) { if (mask(i)) c += 1; i += 1 }
    c
  }
}
