package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.geom.MPoly
import graft.geo.{Osgb, TileCode, WebMercator}
import graft.img.{Codec, Raster, Resize}
import graft.index.ZIndex
import graft.kernel.{IndexKernel, Kernels}

/** Catalyst expressions for the polygon-tile pipeline. All are
  * CodegenFallback — the work is whole-buffer kernels where codegen buys
  * nothing; they sit between codegen'd scan/join/aggregate stages. */
object Exprs {
  def col(e: Expression): Column = GraftBridge.column(e)
  def expr(c: Column): Expression = GraftBridge.expression(c)

  /** coordinates nested-array -> MPoly. Accepts the GeoJSON MultiPolygon
    * shape Array[poly][ring][point][xy]. */
  def coordsToMPoly(coords: ArrayData): MPoly = {
    val polys = (0 until coords.numElements()).map { pi =>
      val rings = coords.getArray(pi)
      val builtRings = (0 until rings.numElements()).map { ri =>
        val pts = rings.getArray(ri)
        val n = pts.numElements()
        val xs = new Array[Double](n)
        val ys = new Array[Double](n)
        var i = 0
        while (i < n) {
          val pt = pts.getArray(i)
          xs(i) = pt.getDouble(0)
          ys(i) = pt.getDouble(1)
          i += 1
        }
        new graft.geom.Ring(xs, ys)
      }
      new graft.geom.Poly(builtRings.head, builtRings.tail.toArray)
    }
    new MPoly(polys.toArray)
  }

  val CRS84 = "urn:ogc:def:crs:OGC:1.3:CRS84"
  val EPSG27700 = "urn:ogc:def:crs:EPSG::27700"
}

/** Per-garden preparation: projection to tile-unit space, centroid
  * (original CRS), surface area, covering cells, spatial sort key, the
  * serialized pixel-space polygon blob and the mask's pixel count over
  * its square cover (`npix_total`, the sum of the per-fragment npix that
  * scoring computes, so zero-fill is arithmetic on it).
  * (reference: calculate_indices.py:110-137 + image_loaders.py:201-213,
  * 257-294 prep portions)
  *
  * Two tile namings share everything after the projection. The naming is
  * chosen here, once per index ([[VegPipeline.buildIndex]]); scoring reads
  * it back from `PolyIndex.webMercatorZoom`:
  *  - OSGB (`webMercatorZoom` None): CRS84 or EPSG:27700 to km tiles
  *    (y north), area in m², sort key (easting, northing) km;
  *  - web mercator (Some(zoom), the WebMercatorMapLoader path,
  *    image_loaders.py:32-158): CRS84 only, to slippy (tileX, tileY-down)
  *    at `zoom`, area in tile² units (explicitly not metric,
  *    README.md:172), sort key (tileY, tileX) as the reference stores
  *    the transformed bounds. */
case class PrepareGarden(gid: Expression, geometry: Expression, crs: Expression,
                         tileSize: Int,
                         /** The cover, chosen once here: Square = the
                           * tiles of the bbox (reference semantics). A hex
                           * grid (H3-style) covers every tile whose center
                           * shares a hex with a square-cover tile's center
                           * — a superset whose extra blobs scoring skips
                           * ([[PolyBlob.meetsTile]]), so sums are
                           * bit-identical. Either way
                           * `cells` are tile cells. */
                         grid: graft.index.GridSystem = graft.index.GridSystem.Square,
                         webMercatorZoom: Option[Int] = None)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(gid, geometry, crs)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("blob", BinaryType, nullable = false),
    StructField("cells", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("cx", DoubleType, nullable = false),
    StructField("cy", DoubleType, nullable = false),
    StructField("area_m2", DoubleType, nullable = false),
    StructField("sort_key", LongType, nullable = false),
    StructField("npix_total", LongType, nullable = false)
  ))

  override def eval(input: InternalRow): Any = {
    val gidV = gid.eval(input).asInstanceOf[Long]
    val coords = geometry.eval(input).asInstanceOf[ArrayData]
    val crsV = crs.eval(input).asInstanceOf[UTF8String].toString
    val raw = Exprs.coordsToMPoly(coords)

    val g = (webMercatorZoom, crsV) match {
      case (Some(z), Exprs.CRS84) => raw.map { (lon, lat) =>
        val (ty, tx) = WebMercator.latLongToTileYX(z, lat, lon)
        (tx, ty)
      }
      case (None, Exprs.CRS84) => raw.map((lon, lat) => Osgb.toFractionalKmTile(lon, lat))
      case (None, Exprs.EPSG27700) => raw.map((e, n) => (e / 1000.0, n / 1000.0))
      case _ => throw new IllegalArgumentException(s"""crs_name="$crsV" is unsupported""")
    }
    val slippy = webMercatorZoom.nonEmpty

    val (cx, cy) = raw.centroid
    val area = if (slippy) g.area else g.area * 1000.0 * 1000.0 // image_loaders.py:119
    val (mnx, mny, mxx, mxy) = g.bounds
    val sqCells = ZIndex.coverBounds(mnx, mny, mxx, mxy)
    val cells = grid match {
      case graft.index.GridSystem.Hex(size) =>
        // two points of one hex are at most 2·size apart, so every tile
        // center sharing a cover center's hex lies in the widened box
        def hexOf(e: Int, n: Int) = grid.cellOf(e + 0.5, n + 0.5)
        val hexes = sqCells.map(c => hexOf(ZIndex.cellE(c), ZIndex.cellN(c))).toSet
        val w = math.ceil(2 * size).toInt
        (for (n <- math.max(0, mny.toInt - w) to mxy.toInt + w;
             e <- math.max(0, mnx.toInt - w) to mxx.toInt + w
             if hexes(hexOf(e, n))) yield ZIndex.cellId(e, n)).toArray
      case _ => sqCells
    }
    val sortKey =
      if (slippy) mny.toInt.toLong * 1000L + mnx.toInt.toLong
      else mnx.toInt.toLong * 1000L + mny.toInt.toLong

    val ts = tileSize
    val cropX0 = math.floor(mnx * ts).toInt
    val cropY0 = math.floor(mny * ts).toInt
    val cropX1 = math.floor(mxx * ts).toInt
    val cropY1 = math.floor(mxy * ts).toInt
    val gPix = g.affine(ts, 0, 0, ts, 0, 0)
    val blob = PolyBlob.serialize(gidV, cropX0, cropX1, cropY0, cropY1, gPix)
    val pp = PolyBlob.Prepared(gidV, cropX0, cropX1, cropY0, cropY1, gPix)
    val npixTotal = sqCells.map(c => PolyBlob.scoreFragment(
      pp, ZIndex.cellE(c), ZIndex.cellN(c), ts, null, Array.empty, slippy)._1).sum

    InternalRow(blob, new GenericArrayData(cells), cx, cy, area, sortKey, npixTotal)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(gid = newChildren(0), geometry = newChildren(1), crs = newChildren(2))
}

/** Score all polygons of one tile-cell against the decoded tile:
  * returns array<struct(gid, npix, veg: array<long>)>. Decodes the tile
  * at most once per row regardless of how many polygons cover it (the
  * Spark analogue of the reference's LRU-amortized decode,
  * image_loaders.py:215-227).
  *
  * What is decoded: only the union of the fragments' raster windows
  * ([[PolyBlob.windowUnion]]) through [[Codec.decodeBGRWindow]] — the
  * window pixels equal a full decode, everything outside it is 0 and is
  * never read. A tile no fragment window meets is not decoded at all
  * (and not counted in `tilesDecoded`). Null or empty tile bytes -> the
  * reference's zero-fill semantics via each kernel's onBlack value.
  * Wrong-sized tiles fall back to a full decode, an S10 warning and a
  * resize to tileSize (image_loaders.py:222-226). For IRGB kernels,
  * `cirBytes` carries the same-cell CIR tile, decoded in full and fused
  * as the Ir plane with a bicubic upscale over the same window (S3/J2,
  * image_loaders.py:362-386). */
case class ScoreFragments(cell: Expression, bytes: Expression,
                          cirBytes: Expression, blobs: Expression,
                          tileSize: Int, kernelNames: Seq[String],
                          yDown: Boolean = false,
                          metrics: Option[PipelineMetrics] = None,
                          /** When set, the cell→blobs map comes from this
                            * executor-shared Broadcast (built once per
                            * index lifetime) instead of the `blobs` child
                            * — the map-side-join formulation with no
                            * per-query HashedRelation rebuild. */
                          lookup: Option[org.apache.spark.broadcast.Broadcast[
                            java.util.HashMap[Long, Array[Array[Byte]]]]] = None)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(cell, bytes, cirBytes, blobs)
  override def nullable: Boolean = false

  @transient private lazy val kernels: Array[IndexKernel] =
    kernelNames.map(Kernels.all(_)).toArray
  @transient private lazy val format: String = kernels.head.inputFormat

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("gid", LongType, nullable = false),
    StructField("npix", LongType, nullable = false),
    StructField("veg", ArrayType(LongType, containsNull = false), nullable = false)
  )), containsNull = false)

  override def eval(input: InternalRow): Any = {
    val cellV = cell.eval(input).asInstanceOf[Long]
    val blobArr: Array[Array[Byte]] = lookup match {
      case Some(b) => b.value.get(cellV) // null when the cell is uncovered
      case None =>
        val blobsV = blobs.eval(input).asInstanceOf[ArrayData]
        if (blobsV == null) null
        else Array.tabulate(blobsV.numElements())(i => blobsV.getBinary(i))
    }
    if (blobArr == null) return new GenericArrayData(Array.empty[Any])
    val ts = tileSize
    val e = ZIndex.cellE(cellV)
    val n = ZIndex.cellN(cellV)
    // a hex cover keys gardens by tiles their crop box may miss: such a
    // blob scores zero pixels, so it is neither deserialized nor counted
    val pps = blobArr.filter(PolyBlob.meetsTile(_, e, n, ts)).map(PolyBlob.deserialize)
    if (pps.isEmpty) return new GenericArrayData(Array.empty[Any])
    val bytesV = bytes.eval(input).asInstanceOf[Array[Byte]]
    val cirV = cirBytes.eval(input).asInstanceOf[Array[Byte]]

    // decode only the union of the fragment windows — the only pixels
    // scoreFragment reads — and nothing when no window meets the tile
    val present = bytesV != null && bytesV.nonEmpty
    var raster: Raster = null
    if (present) PolyBlob.windowUnion(pps, e, n, ts, yDown).foreach { win =>
      metrics.foreach(_.tilesDecoded.add(1))
      raster = Codec.decodeBGRWindow(bytesV, ts, ts, win.x0, win.y0, win.x1, win.y1)
      if (raster == null) {
        raster = Codec.decodeBGR(bytesV)
        // S10: per-tile resize warning, message shaped like the
        // reference's (image_loaders.py:222-224 — numpy shape order is
        // (rows, cols, channels), and the stray ')' is its own typo)
        metrics.foreach { m =>
          val name =
            if (yDown) s"$e/$n"
            else TileCode.fromEastingsNorthings(e, n)
          m.warn(s"""Image "$name" is sized (${raster.h}, ${raster.w}, 3)""" +
            s" rather than ($ts, $ts, 3))")
        }
        raster = Resize.bilinear(raster, ts, ts)
      }
      if (format == "IRGB") {
        // the CIR tile is decoded in full: its bicubic upscale reads
        // source pixels around the window
        val cir =
          if (cirV != null && cirV.nonEmpty) Codec.decodeBGR(cirV)
          else Raster(new Array[Byte](ts * ts * 3), ts, ts, 3) // zero Ir plane
        raster = Codec.fuseBGRIWindow(raster, cir, win.x0, win.y0, win.x1, win.y1)
      }
    }

    metrics.foreach { m =>
      if (!present) m.missingTileFragments.add(pps.length)
      m.fragmentsScored.add(pps.length)
    }
    val out = new Array[Any](pps.length)
    var i = 0
    while (i < pps.length) {
      val pp = pps(i)
      val (npix, veg) = PolyBlob.scoreFragment(pp, e, n, ts, raster, kernels, yDown)
      out(i) = InternalRow(pp.gid, npix, new GenericArrayData(veg))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(cell = newChildren(0), bytes = newChildren(1), cirBytes = newChildren(2),
      blobs = newChildren(3))
}

/** Slippy key "z/x/y" -> packed cell id (null when zoom mismatches). */
case class SlippyKeyToCell(child: Expression, zoom: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val parts = v.asInstanceOf[UTF8String].toString.split('/')
    if (parts.length != 3) return null
    try {
      if (parts(0).toInt != zoom) null
      else ZIndex.cellId(parts(1).toInt, parts(2).toInt)
    } catch { case _: NumberFormatException => null }
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** OSGB tile code string -> packed cell id (null outside the grid,
  * filtering invalid tiles like the reference's name-shape checks,
  * generate_coverage.py:344-347). */
case class TileCodeToCell(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val code = v.asInstanceOf[UTF8String].toString
    val en = TileCode.toEastingsNorthings(code)
    if (en == null) null else ZIndex.cellId(en._1, en._2)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** (eastings, northings) km ints -> tile code string (G3). */
case class CellToTileCode(e: Expression, n: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(e, n)
  override def nullable: Boolean = true
  override def dataType: DataType = StringType
  override def eval(input: InternalRow): Any = {
    val eV = e.eval(input); val nV = n.eval(input)
    if (eV == null || nV == null) return null
    val code = TileCode.fromEastingsNorthings(
      eV.asInstanceOf[Number].intValue(), nV.asInstanceOf[Number].intValue())
    if (code == null) null else UTF8String.fromString(code)
  }
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(e = newChildren(0), n = newChildren(1))
}

/** WGS84 lon/lat -> OSGB eastings/northings metres (G1) as struct. */
case class ToOsgbEN(lon: Expression, lat: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(lon, lat)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("eastings", DoubleType, nullable = false),
    StructField("northings", DoubleType, nullable = false)))
  override def eval(input: InternalRow): Any = {
    val lo = lon.eval(input).asInstanceOf[Number].doubleValue()
    val la = lat.eval(input).asInstanceOf[Number].doubleValue()
    val (e, n) = Osgb.toEastingsNorthings(lo, la)
    InternalRow(e, n)
  }
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(lon = newChildren(0), lat = newChildren(1))
}
