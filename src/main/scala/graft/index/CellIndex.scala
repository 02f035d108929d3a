package graft.index

import graft.geom.MPoly

/** Spatial cell index over the projected km-tile plane.
  *
  * The engine's join key generator: polygons are exploded into the grid
  * cells their bbox covers (reference covering-range semantics:
  * green_spaces/image_loaders.py:266-269 uses int() truncation of bounds)
  * and tiles are addressed by the same cell ids, so polygon⋈tile becomes
  * an equi-join. Cell classification (INTERIOR vs BOUNDARY) enables the
  * PIP short-circuit for fully-covered cells.
  */
object ZIndex {

  /** Pack an (e, n) km-cell into a Long id. Valid OSGB range is
    * 0..799 x 0..1299 but the packing supports any 31-bit non-negatives. */
  def cellId(e: Int, n: Int): Long = (e.toLong << 31) | n.toLong
  def cellE(id: Long): Int = (id >> 31).toInt
  def cellN(id: Long): Int = (id & 0x7fffffffL).toInt

  /** Covering cells of a geometry's bbox in km-tile space (int()-truncated
    * bounds, matching image_loaders.py:266-269). Coordinates must be
    * non-negative (GB grid / slippy tiles are). */
  def cover(g: MPoly): Array[Long] = {
    val (mnx, mny, mxx, mxy) = g.bounds
    coverBounds(mnx, mny, mxx, mxy)
  }

  def coverBounds(mnx: Double, mny: Double, mxx: Double, mxy: Double): Array[Long] = {
    val e0 = mnx.toInt; val n0 = mny.toInt
    val e1 = mxx.toInt; val n1 = mxy.toInt
    val out = new Array[Long]((e1 - e0 + 1) * (n1 - n0 + 1))
    var i = 0
    var n = n0
    while (n <= n1) {
      var e = e0
      while (e <= e1) { out(i) = cellId(e, n); i += 1; e += 1 }
      n += 1
    }
    out
  }

  /** Chebyshev k-ring around a cell (the H3 kRing analogue on the square
    * grid): all cells within ring distance k, (2k+1)^2 ids. */
  def kRing(cell: Long, k: Int): Array[Long] = {
    val e = cellE(cell); val n = cellN(cell)
    val out = new Array[Long]((2 * k + 1) * (2 * k + 1))
    var i = 0
    var dn = -k
    while (dn <= k) {
      var de = -k
      while (de <= k) {
        val ee = e + de; val nn = n + dn
        out(i) = if (ee >= 0 && nn >= 0) cellId(ee, nn) else -1L
        i += 1
        de += 1
      }
      dn += 1
    }
    out.filter(_ >= 0)
  }

  /** Is the closed rect [x0,x1]x[y0,y1] fully covered by the polygon (no
    * hole or edge intrusion)? Conservative exact test: all 4 corners
    * inside (even-odd) and no ring edge intersects the rect. Used with
    * pixel-space coordinates by the fragment scorer. */
  def rectFullyCovered(g: MPoly, x0: Double, y0: Double, x1: Double, y1: Double): Boolean = {
    if (!pipEvenOdd(g, x0, y0) || !pipEvenOdd(g, x1, y0) ||
        !pipEvenOdd(g, x0, y1) || !pipEvenOdd(g, x1, y1)) return false
    // any edge touching the square body disqualifies
    var pi = 0
    while (pi < g.polys.length) {
      val rings = g.polys(pi).rings
      while (rings.hasNext) {
        val r = rings.next()
        val m = r.size
        var i = 0
        while (i < m) {
          val j = if (i + 1 == m) 0 else i + 1
          if (segmentIntersectsRect(r.xs(i), r.ys(i), r.xs(j), r.ys(j), x0, y0, x1, y1)) return false
          i += 1
        }
      }
      pi += 1
    }
    true
  }

  /** Even-odd point-in-polygon over all rings (boundary points undefined —
    * callers only use it for conservative interior tests). */
  def pipEvenOdd(g: MPoly, px: Double, py: Double): Boolean = {
    var inside = false
    var pi = 0
    while (pi < g.polys.length) {
      val rings = g.polys(pi).rings
      while (rings.hasNext) {
        val r = rings.next()
        val m = r.size
        var i = 0
        while (i < m) {
          val j = if (i + 1 == m) 0 else i + 1
          val yi = r.ys(i); val yj = r.ys(j)
          if ((yi > py) != (yj > py)) {
            val xint = r.xs(i) + (py - yi) * (r.xs(j) - r.xs(i)) / (yj - yi)
            if (px < xint) inside = !inside
          }
          i += 1
        }
      }
      pi += 1
    }
    inside
  }

  private def segmentIntersectsRect(ax: Double, ay: Double, bx: Double, by: Double,
                                    x0: Double, y0: Double, x1: Double, y1: Double): Boolean = {
    // quick reject: both endpoints beyond the same rect side
    if (ax < x0 && bx < x0) return false
    if (ax > x1 && bx > x1) return false
    if (ay < y0 && by < y0) return false
    if (ay > y1 && by > y1) return false
    // endpoint inside rect?
    if (ax >= x0 && ax <= x1 && ay >= y0 && ay <= y1) return true
    if (bx >= x0 && bx <= x1 && by >= y0 && by <= y1) return true
    // proper intersection with any rect edge
    segSeg(ax, ay, bx, by, x0, y0, x1, y0) ||
      segSeg(ax, ay, bx, by, x1, y0, x1, y1) ||
      segSeg(ax, ay, bx, by, x1, y1, x0, y1) ||
      segSeg(ax, ay, bx, by, x0, y1, x0, y0)
  }

  private def segSeg(ax: Double, ay: Double, bx: Double, by: Double,
                     cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    def orient(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double): Double =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    val o1 = orient(ax, ay, bx, by, cx, cy)
    val o2 = orient(ax, ay, bx, by, dx, dy)
    val o3 = orient(cx, cy, dx, dy, ax, ay)
    val o4 = orient(cx, cy, dx, dy, bx, by)
    // conservative: collinear contact counts as intersection (only cost is
    // skipping the interior short-circuit, never a wrong mask)
    (o1 * o2 <= 0) && (o3 * o4 <= 0)
  }
}
