package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.data.Synthetic
import graft.img.Codec
import graft.kernel.Kernels

/** End-to-end equivalence: the distributed mosaic-free pipeline must
  * reproduce the reference's mosaic algorithm (MosaicOracle) exactly —
  * same npix, same fractions, same areas — including tile-boundary
  * straddlers, holed polygons, degenerate slivers and missing tiles. */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("pipeline-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ts = 64
  private val gridW = 6
  private val gridH = 6

  private def oracleResults(gardens: Seq[Synthetic.GardenRow],
                            kernelNames: Seq[String],
                            missing: Set[(Int, Int)] = Set.empty): Map[String, MosaicOracle.Result] = {
    val kernels = kernelNames.map(Kernels.all(_)).toArray
    val tileCache = scala.collection.mutable.Map.empty[(Int, Int), Option[graft.img.Raster]]
    def tileFor(e: Int, n: Int): Option[graft.img.Raster] =
      tileCache.getOrElseUpdate((e, n),
        if (missing((e, n)) ||
            e < Synthetic.BaseE || e >= Synthetic.BaseE + gridW ||
            n < Synthetic.BaseN || n >= Synthetic.BaseN + gridH) None
        else Some(Synthetic.tileRaster(e, n, ts, 42L)))
    gardens.map(g => g.id -> MosaicOracle.compute(g, ts, tileFor, kernels)).toMap
  }

  test("pipeline matches the mosaic oracle exactly (greenleaf, 60 gardens)") {
    val gardenRows = (0L until 60L).map(Synthetic.makeGarden(_, gridW, gridH, 42L))
    val oracle = oracleResults(gardenRows, Seq("greenleaf"))

    val gardens = Synthetic.gardens(spark, 60, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    val res = VegPipeline.run(spark, gardens, tiles,
      VegPipeline.Config(tileSize = ts, kernelNames = Seq("greenleaf")))
      .collect()

    assert(res.length == 60)
    res.foreach { row =>
      val id = row.getAs[String]("id")
      val o = oracle(id)
      assert(row.getAs[Long]("npix") == o.npix, s"npix for $id")
      assert(row.getAs[Double]("frac_greenleaf") == o.fracs(0), s"fraction for $id")
      assert(math.abs(row.getAs[Double]("area_m2") - o.areaM2) < 1e-9, s"area for $id")
      assert(math.abs(row.getAs[Double]("cx") - o.cx) < 1e-9, s"cx for $id")
      assert(math.abs(row.getAs[Double]("cy") - o.cy) < 1e-9, s"cy for $id")
    }
    // sanity: the synthetic pattern is ~1/3 vegetation; typical gardens must
    // land strictly between 0 and 1 (not all-0/all-1)
    val fracs = res.filter(_.getAs[Long]("npix") > 100).map(_.getAs[Double]("frac_greenleaf"))
    assert(fracs.nonEmpty && fracs.exists(f => f > 0.1 && f < 0.9))
  }

  test("multi-index shared pass matches oracle (greenleaf+vari+hsv)") {
    val names = Seq("greenleaf", "vari", "hsv")
    val gardenRows = (0L until 25L).map(Synthetic.makeGarden(_, gridW, gridH, 42L))
    val oracle = oracleResults(gardenRows, names)

    val res = VegPipeline.run(spark,
      Synthetic.gardens(spark, 25, gridW, gridH),
      Synthetic.tiles(spark, gridW, gridH, ts),
      VegPipeline.Config(tileSize = ts, kernelNames = names)).collect()

    res.foreach { row =>
      val o = oracle(row.getAs[String]("id"))
      names.zipWithIndex.foreach { case (nm, i) =>
        assert(row.getAs[Double](s"frac_$nm") == o.fracs(i), s"$nm for ${row.getAs[String]("id")}")
      }
    }
  }

  test("missing tiles follow the reference's zero-fill semantics") {
    // drop a block of tiles; gardens over them still count pixels but score
    // onBlack (0 for greenleaf, 1 for naive)
    val missing = (for (e <- Synthetic.BaseE + 1 to Synthetic.BaseE + 2;
                        n <- Synthetic.BaseN + 1 to Synthetic.BaseN + 2) yield (e, n)).toSet
    val names = Seq("greenleaf", "naive")
    val gardenRows = (0L until 40L).map(Synthetic.makeGarden(_, gridW, gridH, 42L))
    val oracle = oracleResults(gardenRows, names, missing)

    import spark.implicits._
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
      .where(!Exprs.col(TileCodeToCell(Exprs.expr($"image_id"))).isin(
        missing.toSeq.map { case (e, n) => graft.index.ZIndex.cellId(e, n) }: _*))

    val res = VegPipeline.run(spark,
      Synthetic.gardens(spark, 40, gridW, gridH), tiles,
      VegPipeline.Config(tileSize = ts, kernelNames = names)).collect()

    res.foreach { row =>
      val o = oracle(row.getAs[String]("id"))
      assert(row.getAs[Long]("npix") == o.npix, s"npix for ${row.getAs[String]("id")}")
      assert(row.getAs[Double]("frac_greenleaf") == o.fracs(0))
      assert(row.getAs[Double]("frac_naive") == o.fracs(1))
      // naive counts every masked pixel -> always 1.0 when npix>0
      if (row.getAs[Long]("npix") > 0) assert(row.getAs[Double]("frac_naive") == 1.0)
    }
  }

  test("hex-grid cover (H3-style) matches the square grid and the mosaic oracle") {
    // same pipeline, cell→polygon index keyed by hexes of covered tile
    // centers: every square-grid tile match is preserved (superset cover,
    // extra fragments score zero pixels), so sums are bit-identical.
    // handleMissingTiles=false on both configs first, then zero-fill on.
    val names = Seq("greenleaf", "vari")
    val nG = 40L
    val gardenRows = (0L until nG).map(Synthetic.makeGarden(_, gridW, gridH, 42L))
    val gardens = Synthetic.gardens(spark, nG, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    val cfg = VegPipeline.Config(tileSize = ts, kernelNames = names, handleMissingTiles = false)
    val hexIdx = VegPipeline.buildIndex(spark, gardens, ts, grid = graft.index.GridSystem.Hex(1.7))

    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      r.getAs[String]("id") ->
        ((r.getAs[Long]("npix"), names.map(n => r.getAs[Double](s"frac_$n"))))
    }.toMap
    val sq = keyed(VegPipeline.run(spark, gardens, tiles, cfg).collect())
    val hx = keyed(VegPipeline.scoreAgainst(spark, hexIdx, tiles, cfg).collect())
    assert(hx.size == nG && sq == hx, "hex cover diverged from square cover")

    // gardens fully inside the tile grid also match the mosaic oracle
    // exactly (for straddlers the two differ only via zero-fill, off here)
    val oracle = oracleResults(gardenRows, names)
    val interior = gardenRows.filter { g =>
      val pts = g.geometry.flatten.flatten
      val xs = pts.map(_(0) / 1000.0); val ys = pts.map(_(1) / 1000.0)
      xs.min >= Synthetic.BaseE && xs.max < Synthetic.BaseE + gridW &&
        ys.min >= Synthetic.BaseN && ys.max < Synthetic.BaseN + gridH
    }
    assert(interior.size >= 10, "fixture should keep most gardens interior")
    interior.foreach { g =>
      val o = oracle(g.id)
      val (npix, fracs) = hx(g.id)
      assert(npix == o.npix, s"npix for ${g.id}")
      names.indices.foreach(i => assert(fracs(i) == o.fracs(i), s"${names(i)} for ${g.id}"))
    }
    // and a hex run over the shuffle-join path agrees too
    val hexJoinIdx =
      VegPipeline.buildIndex(spark, gardens, ts, grid = graft.index.GridSystem.Hex(1.7)).underCeiling(0L)
    val hxShuffle = keyed(VegPipeline.scoreAgainst(spark, hexJoinIdx, tiles, cfg).collect())
    assert(hxShuffle == hx, "hex shuffle-join path diverged from broadcast path")

    // zero-fill on, with a block of tiles dropped: hex equals square and
    // the mosaic oracle for every garden, straddlers included
    val missing = (for (e <- Synthetic.BaseE + 1 to Synthetic.BaseE + 2;
                        n <- Synthetic.BaseN + 1 to Synthetic.BaseN + 2) yield (e, n)).toSet
    val holed = tiles.where(!org.apache.spark.sql.functions.col("image_id").isin(
      missing.toSeq.map { case (e, n) => graft.geo.TileCode.fromEastingsNorthings(e, n) }: _*))
    def filled(idx: VegPipeline.PolyIndex) =
      keyed(VegPipeline.scoreAgainst(spark, idx, holed, cfg.copy(handleMissingTiles = true)).collect())
    val sqFill = keyed(VegPipeline.run(spark, gardens, holed, cfg.copy(handleMissingTiles = true)).collect())
    assert(filled(hexIdx) == sqFill, "hex zero-fill diverged")
    assert(filled(hexJoinIdx) == sqFill,
      "hex shuffle-join zero-fill diverged")
    val oracleFill = oracleResults(gardenRows, names, missing)
    assert(gardenRows.exists(g => oracleFill(g.id).fracs != oracle(g.id).fracs),
      "fixture should zero-fill some pixels")
    gardenRows.foreach { g =>
      val o = oracleFill(g.id)
      val (npix, fracs) = sqFill(g.id)
      assert(npix == o.npix, s"zero-filled npix for ${g.id}")
      names.indices.foreach(i => assert(fracs(i) == o.fracs(i), s"zero-filled ${names(i)} for ${g.id}"))
    }
  }

  test("hex-grid superset matches decode exactly the square grid's tiles") {
    // a hex index keys gardens by extra tiles their crop boxes miss;
    // scoring skips those blobs, so both grids decode exactly the tiles
    // some polygon window meets and score the same fragments
    val gardens = Synthetic.gardens(spark, 40, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    def decoded(grid: graft.index.GridSystem): (Long, Long, Long) = {
      val m = PipelineMetrics.create(spark)
      val idx = VegPipeline.buildIndex(spark, gardens, ts, grid = grid)
      VegPipeline.scoreAgainst(spark, idx, tiles,
        VegPipeline.Config(tileSize = ts, handleMissingTiles = false, metrics = Some(m))).collect()
      val keyed = idx.prepared.selectExpr("sum(size(cells))").head().getLong(0)
      (m.tilesDecoded.value, m.fragmentsScored.value, keyed)
    }
    val (sqTiles, sqFrags, sqKeyed) = decoded(graft.index.GridSystem.Square)
    val (hxTiles, hxFrags, hxKeyed) = decoded(graft.index.GridSystem.Hex(1.7))
    assert(hxKeyed > sqKeyed, "fixture should key extra hex (garden, tile) pairs")
    assert(sqTiles > 0 && hxTiles == sqTiles)
    assert(hxFrags == sqFrags, "hex scoring scored blobs that miss their tile")
  }

  test("windowUnion bounds every fragment window in both row orientations") {
    val sq = graft.geom.MPoly.fromPolygonCoords(Seq(Seq(
      Seq(0.0, 0.0), Seq(1.0, 0.0), Seq(1.0, 1.0), Seq(0.0, 1.0), Seq(0.0, 0.0))))
    // tile (10, 20) at ts = 64 spans pixels x 640..703, y 1280..1343
    def frag(x0: Int, x1: Int, y0: Int, y1: Int) =
      PolyBlob.Prepared(0L, x0, x1, y0, y1, sq)
    val pps = Array(
      frag(600, 650, 1300, 1310), // clipped on the left
      frag(690, 800, 1330, 1400), // clipped on the right and the top
      frag(0, 10, 0, 10))         // misses the tile
    // northing-up: tile row = 63 - (y - 1280)
    assert(PolyBlob.windowUnion(pps, 10, 20, 64) ==
      Some(PolyBlob.Window(0, 0, 63, 43)))
    // y-down: tile row = y - 1280
    assert(PolyBlob.windowUnion(pps, 10, 20, 64, yDown = true) ==
      Some(PolyBlob.Window(0, 20, 63, 63)))
    assert(PolyBlob.windowUnion(pps.takeRight(1), 10, 20, 64).isEmpty)
  }

  test("covering-range pruning reaches the parquet scan and preserves results") {
    val dir = java.nio.file.Files.createTempDirectory("prune").toString + "/tiles"
    Synthetic.tiles(spark, gridW, gridH, ts).write.parquet(dir)
    val tiles = spark.read.parquet(dir)
    // gardens clustered in a 2x2 sub-extent of the 6x6 tile grid
    val gardenRows = (0L until 10L).map(Synthetic.makeGarden(_, 2, 2, 42L))
    val gardens = Synthetic.gardens(spark, 10, 2, 2)
    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    val cfgOn = VegPipeline.Config(tileSize = ts)

    // the pruned run scores every garden exactly as the mosaic oracle
    val oracle = oracleResults(gardenRows, Seq("greenleaf"))
    val res = VegPipeline.scoreAgainst(spark, idx, tiles, cfgOn).collect()
    assert(res.length == gardenRows.size)
    res.foreach { row =>
      val o = oracle(row.getAs[String]("id"))
      assert(row.getAs[Long]("npix") == o.npix, s"npix for ${o.id}")
      assert(row.getAs[Double]("frac_greenleaf") == o.fracs(0), s"fraction for ${o.id}")
    }

    // the predicate is an exact canonical-id IN set for this small extent,
    // and it reaches the parquet scan as a pushed filter on image_id
    val pred = VegPipeline.tileIdPredicate(idx, cfgOn)
    val nCovering = idx.cellPolys.count()
    assert(tiles.where(pred).count() == nCovering) // subset scanned, not 36
    assert(nCovering < gridW.toLong * gridH)
    val plan = tiles.where(pred).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("image_id"),
      s"expected pushed image_id filter in:\n$plan")

    // range fallback: one ~91x91 km garden covers 8,281 cells, more than
    // the IN set takes, so the predicate is a sound min/max id range
    import spark.implicits._
    val (bigTs, e0, n0, side) = (4, 400, 100, 91)
    val ring = Seq(Seq(e0 + 0.5, n0 + 0.5), Seq(e0 + side - 0.5, n0 + 0.5),
      Seq(e0 + side - 0.5, n0 + side - 0.5), Seq(e0 + 0.5, n0 + side - 0.5),
      Seq(e0 + 0.5, n0 + 0.5)).map(_.map(_ * 1000.0))
    val big = Synthetic.GardenRow("big", Array("1"), Seq(Seq(ring)), Exprs.EPSG27700)
    val bigIdx = VegPipeline.buildIndex(spark, Seq(big).toDF(), bigTs)
    val bigCfg = VegPipeline.Config(tileSize = bigTs)
    val bigCells = bigIdx.cellPolys.select("cell").collect().map(_.getLong(0))
    assert(bigCells.length == side * side && bigCells.length > 8192)
    val coverIds = bigCells.toSeq.map(c =>
      graft.geo.TileCode.fromEastingsNorthings((c >> 31).toInt, (c & 0x7fffffffL).toInt))
    val rangePred = VegPipeline.tileIdPredicate(bigIdx, bigCfg)
    val cond = coverIds.toDF("image_id").where(rangePred).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }.get
    assert(cond.find(e => e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.In] ||
      e.isInstanceOf[org.apache.spark.sql.catalyst.expressions.InSet]).isEmpty,
      s"expected a range, not an IN set: $cond")
    assert(coverIds.toDF("image_id").where(rangePred).count() == coverIds.size,
      "every covering tile must pass the range")
    // the covering tiles plus one inside the id range but outside the
    // cover (SU0095: read, matched by no polygon) and one past the range
    def bigRaster(e: Int, n: Int) = Synthetic.tileRaster(e, n, bigTs, 42L)
    val bigTiles = ((for (e <- e0 until e0 + side; n <- n0 until n0 + side) yield (e, n)) ++
      Seq((e0, n0 + 95), (e0 + 95, n0 + 95))).map { case (e, n) =>
      (graft.geo.TileCode.fromEastingsNorthings(e, n), Codec.encodePNG(bigRaster(e, n)))
    }.toDF("image_id", "bytes")
    assert(bigTiles.where(rangePred).count() == coverIds.size + 1)
    // on the shuffled path the bounded collect finds more than 8,192
    // cells, so one aggregation gives the same range and the same box
    import graft.sources.{SnapshotTable, SnapshotTiles}
    val aggIdx = VegPipeline.buildIndex(spark, Seq(big).toDF(), bigTs).underCeiling(0L)
    assert(VegPipeline.tileIdPredicate(aggIdx, bigCfg).toString ==
      rangePred.toString)
    assert(SnapshotTiles.coveringRanges(aggIdx) == Seq(SnapshotTable.Range("cell_e", e0, e0 + side - 1),
      SnapshotTable.Range("cell_n", n0, n0 + side - 1)))
    assert(SnapshotTiles.coveringRanges(bigIdx) == SnapshotTiles.coveringRanges(aggIdx))
    val bigOracle = MosaicOracle.compute(big, bigTs, (e, n) =>
      if (e >= e0 && e < e0 + side && n >= n0 && n < n0 + side) Some(bigRaster(e, n)) else None,
      Array(Kernels.all("greenleaf")))
    val bigRow = VegPipeline.scoreAgainst(spark, bigIdx, bigTiles, bigCfg)
      .select("npix", "frac_greenleaf").head()
    assert(bigOracle.npix > 0)
    assert(bigRow.getLong(0) == bigOracle.npix && bigRow.getDouble(1) == bigOracle.fracs(0))

    // web-mercator path: the predicate enumerates canonical z/x/y keys
    // that exactly invert SlippyKeyToCell
    val zoom = 15
    def lonLat(tx: Double, ty: Double): Seq[Double] = {
      val nT = (1 << zoom).toDouble
      Seq((tx / nT - 0.5) * 360.0,
        math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * ty / nT)))))
    }
    val square = Seq(lonLat(16150.2, 10900.2), lonLat(16151.8, 10900.2),
      lonLat(16151.8, 10901.8), lonLat(16150.2, 10901.8), lonLat(16150.2, 10900.2))
    val wmGardens = Seq(
      Synthetic.GardenRow("wmp0", Array("90"), Seq(Seq(square)), Exprs.CRS84)).toDF()
    val wmIdx = VegPipeline.buildIndex(spark, wmGardens, ts, Some(zoom))
    val wmCfg = VegPipeline.Config(tileSize = ts)
    val wmPred = VegPipeline.tileIdPredicate(wmIdx, wmCfg)
    val wmCells = wmIdx.cellPolys.select("cell").collect().map(_.getLong(0)).toSet
    assert(wmCells.nonEmpty)
    val keys = wmCells.toSeq.map { c =>
      s"$zoom/${(c >> 31).toInt}/${(c & 0x7fffffffL).toInt}"
    }.toDF("image_id")
    assert(keys.where(wmPred).count() == wmCells.size,
      "every canonical covering key must survive its own predicate")
    assert(Seq(s"${zoom + 1}/16150/10900", "junk").toDF("image_id")
      .where(wmPred).count() == 0)
  }

  test("broadcast path is a join-free map-side lookup (no per-query BroadcastExchange)") {
    val gardens = Synthetic.gardens(spark, 15, gridW, gridH)
    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    val sums = VegPipeline.fragmentSums(spark, idx,
      Synthetic.tiles(spark, gridW, gridH, ts),
      VegPipeline.Config(tileSize = ts, handleMissingTiles = false))
    val plan = sums.queryExecution.executedPlan.toString
    // the cell→blobs lookup rides an executor-shared Broadcast variable
    // built once per index lifetime — the tile-side plan must contain
    // neither a join operator nor a BroadcastExchange
    assert(!plan.contains("Join"), s"unexpected join in broadcast path:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"unexpected per-query broadcast exchange:\n$plan")
  }

  test("shuffle-join path produces identical results") {
    val gardens = Synthetic.gardens(spark, 20, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    val a = VegPipeline.run(spark, gardens, tiles,
      VegPipeline.Config(tileSize = ts))
      .select("id", "npix", "frac_greenleaf").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val b = VegPipeline.scoreAgainst(spark, VegPipeline.buildIndex(spark, gardens, ts).underCeiling(0L),
      tiles, VegPipeline.Config(tileSize = ts))
      .select("id", "npix", "frac_greenleaf").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("broadcast and shuffled paths zero-fill the same missing tiles") {
    import org.apache.spark.sql.functions.col
    // the broadcast path takes the covered cells from the lookup's keys,
    // the shuffled one (an index built under a 0-byte ceiling) from cellPolys
    def rows(df: org.apache.spark.sql.DataFrame, names: Seq[String]) =
      df.select(col("id") +: col("npix") +: names.map(n => col(s"frac_$n")): _*).collect()
        .map(r => (r.getString(0), r.getLong(1), names.indices.map(i => r.getDouble(2 + i))))
        .sortBy(_._1).toSeq
    def code(e: Int, n: Int) = graft.geo.TileCode.fromEastingsNorthings(e, n)

    // a plain RGB run with a block of tiles dropped
    val rgbNames = Seq("greenleaf", "naive")
    val rgbCfg = VegPipeline.Config(tileSize = ts, kernelNames = rgbNames)
    val dropped = for (e <- Synthetic.BaseE + 1 to Synthetic.BaseE + 2;
                       n <- Synthetic.BaseN + 1 to Synthetic.BaseN + 2) yield code(e, n)
    val gardens = Synthetic.gardens(spark, 40, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts).where(!col("image_id").isin(dropped: _*))
    def rgb(cfg: VegPipeline.Config) = rows(VegPipeline.run(spark, gardens, tiles, cfg), rgbNames)
    val filled = rgb(rgbCfg)
    val joinIdx = VegPipeline.buildIndex(spark, gardens, ts).underCeiling(0L)
    assert(filled == rows(VegPipeline.scoreAgainst(spark, joinIdx, tiles, rgbCfg), rgbNames))
    assert(filled.map(_._2).sum > rgb(rgbCfg.copy(handleMissingTiles = false)).map(_._2).sum,
      "fixture should zero-fill some pixels")

    // an IRGB run over CIR tiles with one RGB tile absent
    val irgbNames = Seq("ndvi-irgb", "matt")
    val irgbCfg = VegPipeline.Config(tileSize = ts, kernelNames = irgbNames)
    val rgb3 = Synthetic.tiles(spark, 3, 3, ts)
      .where(col("image_id") =!= code(Synthetic.BaseE + 1, Synthetic.BaseN + 1))
    val gardens3 = Synthetic.gardens(spark, 12, 3, 3)
    def irgb(idx: VegPipeline.PolyIndex) = rows(VegPipeline.scoreAgainst(spark, idx,
      rgb3, irgbCfg, cirTiles = Some(Synthetic.tilesCir(spark, 3, 3, ts))), irgbNames)
    assert(irgb(VegPipeline.buildIndex(spark, gardens3, ts)) ==
      irgb(VegPipeline.buildIndex(spark, gardens3, ts).underCeiling(0L)))

    // Checkpoint groups scored through either formulation
    def ckpt(idx: VegPipeline.PolyIndex) = {
      val dir = java.nio.file.Files.createTempDirectory("ckpt_paths").toString
      Checkpoint.runGroups(spark, idx, tiles, rgbCfg, dir, buckets = 4, groupSize = 2)
      rows(Checkpoint.fractions(spark, idx, rgbCfg, dir), rgbNames)
    }
    assert(ckpt(VegPipeline.buildIndex(spark, gardens, ts)) == filled)
    assert(ckpt(VegPipeline.buildIndex(spark, gardens, ts).underCeiling(0L)) == filled)
  }

  test("zero-fill scans each tile table once") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.functions.col
    // an IRGB job with one RGB tile absent, over parquet tables, on a
    // square and a hex index
    val dir = java.nio.file.Files.createTempDirectory("one_scan").toString
    Synthetic.tiles(spark, 3, 3, ts).where(col("image_id") =!=
      graft.geo.TileCode.fromEastingsNorthings(Synthetic.BaseE + 1, Synthetic.BaseN + 1))
      .write.parquet(s"$dir/rgb")
    Synthetic.tilesCir(spark, 3, 3, ts).write.parquet(s"$dir/cir")
    val cfg = VegPipeline.Config(tileSize = ts, kernelNames = Seq("ndvi-irgb", "matt"))
    assert(cfg.handleMissingTiles, "test must exercise the batch default")
    val gardens = Synthetic.gardens(spark, 12, 3, 3)
    for (grid <- Seq(graft.index.GridSystem.Square, graft.index.GridSystem.Hex(1.7));
         (path, idx) <- Seq("lookup" -> VegPipeline.buildIndex(spark, gardens, ts, grid = grid),
           "cell join" -> VegPipeline.buildIndex(spark, gardens, ts, grid = grid).underCeiling(0L))) {
      val res = VegPipeline.scoreAgainst(spark, idx, spark.read.parquet(s"$dir/rgb"), cfg,
        Some(spark.read.parquet(s"$dir/cir")))
      res.collect()
      val helper = new AdaptiveSparkPlanHelper {}
      val plan = res.queryExecution.executedPlan
      val scans = helper.collect(plan) {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName).mkString(",")
      }
      val where = s"$grid, $path"
      assert(scans.sorted == Seq("cir", "rgb"), s"tile scans ($where)")
      // the tiles are looked up by their own cell, whatever the grid
      assert(helper.flatMap(plan)(_.expressions.flatMap(_.collect { case p: PointCell => p })).isEmpty,
        s"PointCell in the plan ($where)")
    }
  }

  test("zero-fill fails naming the garden when a tile row is duplicated") {
    import org.apache.spark.sql.functions.{array_contains, col}
    val gardens = Synthetic.gardens(spark, 20, 3, 3)
    val dup = graft.geo.TileCode.fromEastingsNorthings(Synthetic.BaseE + 1, Synthetic.BaseN + 1)
    val tiles = Synthetic.tiles(spark, 3, 3, ts)
    val twice = tiles.union(tiles.where(col("image_id") === dup))
    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    val cfg = VegPipeline.Config(tileSize = ts)
    // without zero-fill the duplicate is summed as it stands
    VegPipeline.scoreAgainst(spark, idx, twice, cfg.copy(handleMissingTiles = false)).collect()
    val e = intercept[Exception] {
      VegPipeline.scoreAgainst(spark, idx, twice, cfg).collect()
    }
    val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msg.contains("a tile cell was scored twice"), msg)
    val named = "garden (\\S+) scored".r.findFirstMatchIn(msg).map(_.group(1))
    val covering = idx.prepared
      .where(array_contains(col("cells"), graft.index.ZIndex.cellId(Synthetic.BaseE + 1, Synthetic.BaseN + 1)))
      .select("id").collect().map(_.getString(0)).toSet
    assert(named.exists(covering), s"named ${named.orNull}, covering gardens $covering")
  }

  test("the broadcast path never computes cellPolys") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.functions.col
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    def inGroup[A](g: String)(f: => A): A = {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try f finally sc.clearJobGroup()
    }
    // a dense-like job: IRGB over CIR tiles, one RGB tile absent, zero-fill
    val cfg = VegPipeline.Config(tileSize = ts, kernelNames = Seq("ndvi-irgb", "matt"))
    val gardens = Synthetic.gardens(spark, 30, 3, 3)
    val tiles = Synthetic.tiles(spark, 3, 3, ts).where(col("image_id") =!=
      graft.geo.TileCode.fromEastingsNorthings(Synthetic.BaseE + 1, Synthetic.BaseN + 1))
    val cir = Synthetic.tilesCir(spark, 3, 3, ts)
    val out = java.nio.file.Files.createTempDirectory("dense_like").toString + "/"
    sc.addSparkListener(listener)
    try {
      val idx = inGroup("op") {
        val i = VegPipeline.buildIndex(spark, gardens, ts)
        Reports.writeAll(VegPipeline.scoreAgainst(spark, i, tiles, cfg, Some(cir)),
          cfg.kernelNames, "bench", out, "EPSG:27700")
        i
      }
      // the listener bus is ordered: once the marker job is seen, every
      // job of the op has been counted
      inGroup("marker")(sc.parallelize(Seq(1), 1).count())
      while (!groups.contains("marker")) Thread.sleep(5)
      val cached = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState
        .cacheManager.lookupCachedData(idx.cellPolys.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      assert(cached.isEmpty, "a lookup index registered cellPolys as persisted")
      val jobs = groups.toArray.count(_ == "op")
      assert(jobs <= 8, s"$jobs Spark jobs for one dense-like job")
    } finally sc.removeSparkListener(listener)
  }

  test("oversized polygon index auto-falls-back to the shuffled cell join") {
    val gardens = Synthetic.gardens(spark, 20, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    val idx = VegPipeline.buildIndex(spark, gardens, ts).underCeiling(64L)
    assert(idx.broadcastEstimateBytes > 64, "estimate should exceed the tiny test ceiling")
    val small = VegPipeline.Config(tileSize = ts, handleMissingTiles = false)
    val sums = VegPipeline.fragmentSums(spark, idx, tiles, small)
    val plan = sums.queryExecution.executedPlan.toString
    // the broadcast-lookup formulation is join-free; over-ceiling must
    // plan the cell join instead of collect()ing an arbitrary frame
    assert(plan.contains("Join"), s"expected the shuffled cell join after auto-fallback:\n$plan")
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
    val a = VegPipeline.scoreAgainst(spark, idx, tiles, small)
      .select("gid", "npix", "frac_greenleaf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val b = VegPipeline.scoreAgainst(spark,
        VegPipeline.buildIndex(spark, gardens, ts).underCeiling(Long.MaxValue), tiles, small)
      .select("gid", "npix", "frac_greenleaf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("non-canonical (skip-I) image ids: normalizeImageIds restores pruning consistency") {
    import spark.implicits._
    // 'I' is skipped by the OSGB letter rule: "SI5050" parses to the same
    // cell as canonical "SJ5050" but fails the canonical-id IN predicate
    val cfg = VegPipeline.Config(tileSize = ts, kernelNames = Seq("greenleaf"))
    val norm = VegPipeline.normalizeImageIds(
      Seq("SI5050", "SJ5050", "SU0401", "garbage").toDF("image_id"))
      .collect().map(_.getString(0))
    assert(norm.toSeq == Seq("SJ5050", "SJ5050", "SU0401", "garbage"))

    // pipeline-level: a garden over the SJ5050 cell, its tile named
    // non-canonically. Pruning drops the tile (zero-fill) unless ids are
    // normalized at ingest — then it scores as the canonically named tile.
    val sq = Seq(Seq(Seq(
      Seq(350200.0, 350200.0), Seq(350800.0, 350200.0),
      Seq(350800.0, 350800.0), Seq(350200.0, 350800.0), Seq(350200.0, 350200.0))))
    val gardens = Seq(("g1", Seq.empty[String], sq, Exprs.EPSG27700))
      .toDF("id", "uprn", "geometry", "crs")
    val bytes = Codec.encodePNG(Synthetic.tileRaster(350, 350, ts, 42L))
    val tiles = Seq(("SI5050", bytes)).toDF("image_id", "bytes")

    def frac(tilesDf: org.apache.spark.sql.DataFrame): (Long, Double) = {
      val r = VegPipeline.run(spark, gardens, tilesDf, cfg).select("npix", "frac_greenleaf").head()
      (r.getLong(0), r.getDouble(1))
    }
    val canonical = frac(Seq(("SJ5050", bytes)).toDF("image_id", "bytes"))
    val prunedRaw = frac(tiles)
    val prunedNorm = frac(VegPipeline.normalizeImageIds(tiles))
    assert(canonical._1 > 0 && canonical._2 > 0.0)
    assert(prunedNorm == canonical, "normalized ids must score as the canonical tile")
    // documented precondition: without normalization the non-canonical
    // tile is consistently treated as missing (zero-filled, frac 0)
    assert(prunedRaw._1 == canonical._1 && prunedRaw._2 == 0.0)
  }

  test("bucketed tile table: shuffle-join path has no Exchange on the tile side") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val table = "graft_test_bucketed_tiles"
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force the sort-merge path: in production the polygon side is past
    // any broadcast threshold — that is when bucketing earns its keep
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sources.TileBuckets.write(spark,
        Synthetic.tiles(spark, gridW, gridH, ts), table, nBuckets = 8)
      val bucketed = graft.sources.TileBuckets.read(spark, table)
      val gardens = Synthetic.gardens(spark, 20, gridW, gridH)
      val idx = VegPipeline.buildIndex(spark, gardens, ts).underCeiling(0L)
      val cfg = VegPipeline.Config(tileSize = ts, handleMissingTiles = false)
      val sums = VegPipeline.fragmentSums(spark, idx, bucketed, cfg)

      val plan = sums.queryExecution.executedPlan
      def bucketedScans(p: SparkPlan) =
        p.collect { case s: FileSourceScanExec if s.bucketedScan => s }
      assert(bucketedScans(plan).nonEmpty, s"expected a bucketed scan in:\n$plan")
      // no cell-partitioned Exchange may sit above the bucketed tile scan
      // (the post-aggregation gid exchange carries only small partial-sum
      // rows and is expected) — removing the cell shuffle of the 100 TB
      // side is the point of writing the table bucketed by cell
      val cellExchangesOverTiles = plan.collect {
        case e: ShuffleExchangeExec if bucketedScans(e.child).nonEmpty &&
          e.outputPartitioning.toString.contains("cell") => e
      }
      assert(cellExchangesOverTiles.isEmpty,
        s"tile side re-shuffled on cell despite bucketing:\n$plan")
      // and the join really is the non-broadcast sort-merge path
      assert(plan.toString.contains("SortMergeJoin"),
        s"expected a SortMergeJoin in:\n$plan")

      // and the results equal the broadcast path on the plain table
      val viaBuckets = VegPipeline.fractionsFromSums(idx, sums, cfg)
        .select("id", "npix", "frac_greenleaf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      val viaBroadcast = VegPipeline.scoreAgainst(spark, VegPipeline.buildIndex(spark, gardens, ts),
          Synthetic.tiles(spark, gridW, gridH, ts),
          VegPipeline.Config(tileSize = ts, handleMissingTiles = false))
        .select("id", "npix", "frac_greenleaf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(viaBuckets.toSeq == viaBroadcast.toSeq)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql(s"DROP TABLE IF EXISTS $table")
      ()
    }
  }

  test("flagship over a SnapshotTable commit: manifest pruning plans fewer files, output identical") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    import graft.sources.{SnapshotTable, SnapshotTileCatalog, SnapshotTiles}
    val root = java.nio.file.Files.createTempDirectory("snaptiles").toString + "/table"
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    // two commits (exercising the manifest union), each z-order-clustered
    // into 6 data files so per-file (cell_e, cell_n) stats are tight
    assert(SnapshotTiles.append(spark, root,
      tiles.where(pmod(xxhash64(col("image_id")), lit(2L)) === 0L), 6) == 1)
    assert(SnapshotTiles.append(spark, root,
      tiles.where(pmod(xxhash64(col("image_id")), lit(2L)) === 1L), 6) == 2)

    // gardens clustered in a 2x2 sub-extent of the 6x6 tile grid — the
    // covering bbox must let the manifest skip most of the table's files
    val gardens = Synthetic.gardens(spark, 10, 2, 2)
    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    val cat = SnapshotTileCatalog(root, SnapshotTiles.coveringRanges(idx))
    val snap = cat.tiles(spark)

    // level 1 (Iceberg planning): file-skipping happened BEFORE any task
    val nAll = SnapshotTable.manifest(spark, root).count()
    val nPlanned = snap.inputFiles.length
    assert(nPlanned < nAll, s"manifest pruning planned $nPlanned of $nAll files")

    // level 2 (parquet row groups): the covering-range image_id predicate
    // still reaches the surviving files' scan as a pushed filter
    val cfg = VegPipeline.Config(tileSize = ts)
    val pred = VegPipeline.tileIdPredicate(idx, cfg)
    val plan = snap.where(pred).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("image_id"),
      s"expected pushed image_id filter in:\n$plan")

    // and the flagship result over the pruned snapshot scan equals the
    // plain-parquet run exactly (pruning is IO-only, never semantic)
    def rows(t: org.apache.spark.sql.DataFrame) =
      VegPipeline.scoreAgainst(spark, idx, t, cfg)
        .select("id", "npix", "frac_greenleaf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(rows(snap) == rows(tiles))

    // snapshot pinning: a version-1 read scores only that commit's tiles
    // (the other half zero-fills as missing) without seeing commit 2
    val v1 = SnapshotTileCatalog(root, SnapshotTiles.coveringRanges(idx),
      version = Some(1L)).tiles(spark)
    assert(v1.count() < tiles.count())
    val v1rows = rows(v1)
    assert(v1rows.map(_._1) == rows(tiles).map(_._1)) // same gardens, fewer pixels
  }

  test("hex index: covering-range pruning over its square superset; a snapshot-catalog run equals the plain-parquet run") {
    import spark.implicits._
    import graft.geo.TileCode
    import graft.sources.{SnapshotTileCatalog, SnapshotTiles}
    val root = java.nio.file.Files.createTempDirectory("snaphex").toString + "/table"
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    assert(SnapshotTiles.append(spark, root, tiles, 6) == 1)
    val gardens = Synthetic.gardens(spark, 10, 2, 2)
    val hexIdx = VegPipeline.buildIndex(spark, gardens, ts, grid = graft.index.GridSystem.Hex(1.7))
    val sqIdx = VegPipeline.buildIndex(spark, gardens, ts)
    val cfg = VegPipeline.Config(tileSize = ts)
    def tileIds(idx: VegPipeline.PolyIndex) = idx.cellPolys.select("cell").collect()
      .map(_.getLong(0)).map(c => TileCode.fromEastingsNorthings((c >> 31).toInt, (c & 0x7fffffffL).toInt))
    // a hex index is keyed by tile cells, a superset of the square cover's
    val hexIds = tileIds(hexIdx)
    assert(hexIds.forall(id => id != null && TileCode.toEastingsNorthings(id) != null))
    val sqIds = tileIds(sqIdx)
    assert(sqIds.toSet.subsetOf(hexIds.toSet) && hexIds.length > sqIds.length)
    // so it gets the square index's pruning: an image_id predicate that
    // passes every square-cover tile, and a manifest bbox
    assert(sqIds.toSeq.toDF("image_id").where(VegPipeline.tileIdPredicate(hexIdx, cfg)).count() ==
      sqIds.length)
    assert(VegPipeline.pruneTiles(tiles, hexIdx, cfg).count() < gridW.toLong * gridH)
    val ranges = SnapshotTiles.coveringRanges(hexIdx)
    assert(ranges.nonEmpty)

    def rows(idx: VegPipeline.PolyIndex, c: VegPipeline.Config, t: org.apache.spark.sql.DataFrame) =
      VegPipeline.scoreAgainst(spark, idx, t, c)
        .select("id", "npix", "frac_greenleaf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val plain = rows(hexIdx, cfg, tiles)
    assert(plain.map(_._2).sum > 0)
    assert(rows(hexIdx, cfg, SnapshotTileCatalog(root, ranges).tiles(spark)) == plain)
    // and both equal the square grid's pruned run
    assert(rows(sqIdx, cfg, tiles) == plain)
  }

  test("one covering-cell set: the broadcast path builds the predicate and bbox with no Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import graft.sources.{SnapshotTable, SnapshotTiles}
    val sc = spark.sparkContext
    // the result of `f` and the number of Spark jobs it started
    def jobsIn[A](f: => A): (A, Int) = {
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
      }
      def inGroup[B](g: String)(h: => B): B = {
        sc.setJobGroup(g, g, interruptOnCancel = false)
        try h finally sc.clearJobGroup()
      }
      sc.addSparkListener(listener)
      try {
        val r = inGroup("measured")(f)
        inGroup("marker")(sc.parallelize(Seq(1), 1).count())
        while (!groups.contains("marker")) Thread.sleep(5)
        (r, groups.toArray.count(_ == "measured"))
      } finally sc.removeSparkListener(listener)
    }
    val gardens = Synthetic.gardens(spark, 10, 2, 2)
    val cfg = VegPipeline.Config(tileSize = ts)
    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    idx.broadcastEstimateBytes
    idx.broadcastLookup
    val ((pred, ranges), jobs) =
      jobsIn((VegPipeline.tileIdPredicate(idx, cfg), SnapshotTiles.coveringRanges(idx)))
    assert(jobs == 0, "covering cells started a Spark job")
    val cells = idx.cellPolys.select("cell").collect().map(_.getLong(0))
    val (es, ns) = (cells.map(_ >> 31), cells.map(_ & 0x7fffffffL))
    assert(ranges == Seq(SnapshotTable.Range("cell_e", es.min, es.max),
      SnapshotTable.Range("cell_n", ns.min, ns.max)))
    // the shuffled path collects cellPolys' cells: the same set; and
    // coveringRanges reads the covering the index kept, with no job
    // (building the broadcast lookup instead would collect `prepared`)
    val idx2 = VegPipeline.buildIndex(spark, gardens, ts).underCeiling(0L)
    assert(VegPipeline.tileIdPredicate(idx2, cfg).toString == pred.toString)
    assert(jobsIn(SnapshotTiles.coveringRanges(idx2)) == ((ranges, 0)))
    // and an index covering nothing plans an impossible range
    val none = VegPipeline.buildIndex(spark, gardens.limit(0), ts)
    assert(SnapshotTiles.coveringRanges(none) ==
      Seq(SnapshotTable.Range("cell_e", Long.MaxValue, Long.MinValue)))
  }

  test("IRGB fused pipeline (ndvi-irgb + matt + nn) matches the fused-mosaic oracle") {
    import graft.img.{Codec, Resize}
    val names = Seq("ndvi-irgb", "matt", "nn")
    val kernels = names.map(Kernels.all(_)).toArray
    val gardenRows = (0L until 8L).map(Synthetic.makeGarden(_, 3, 3, 42L))
    val tileCache = scala.collection.mutable.Map.empty[(Int, Int), Option[graft.img.Raster]]
    def tileFor(e: Int, n: Int): Option[graft.img.Raster] =
      tileCache.getOrElseUpdate((e, n),
        if (e < Synthetic.BaseE || e >= Synthetic.BaseE + 3 ||
            n < Synthetic.BaseN || n >= Synthetic.BaseN + 3) None
        else Some(Codec.fuseBGRI(
          Synthetic.tileRaster(e, n, ts, 42L),
          Synthetic.tileRasterCir(e, n, ts, 42L))))
    val oracle = gardenRows.map(g => g.id -> MosaicOracle.compute(g, ts, tileFor, kernels)).toMap

    val res = VegPipeline.run(spark,
      Synthetic.gardens(spark, 8, 3, 3),
      Synthetic.tiles(spark, 3, 3, ts),
      VegPipeline.Config(tileSize = ts, kernelNames = names, handleMissingTiles = false),
      cirTiles = Some(Synthetic.tilesCir(spark, 3, 3, ts))).collect()
    assert(res.length == 8)
    res.foreach { row =>
      val o = oracle(row.getAs[String]("id"))
      assert(row.getAs[Long]("npix") == o.npix)
      names.zipWithIndex.foreach { case (nm, i) =>
        assert(row.getAs[Double](s"frac_$nm") == o.fracs(i), s"$nm for ${row.getAs[String]("id")}")
      }
    }
    // missing-tile zero-fill on the oracle excludes fragments; here all
    // present, so sanity: ndvi-irgb should see the planted vegetation
    val withPix = res.filter(_.getAs[Long]("npix") > 100)
    assert(withPix.exists(r => r.getAs[Double]("frac_ndvi-irgb") > 0.1))
  }

  test("CIR-as-primary pipeline (ndvi-cir + matt2) matches oracle incl. resize-on-mismatch") {
    import graft.img.Resize
    val names = Seq("ndvi-cir", "matt2")
    val kernels = names.map(Kernels.all(_)).toArray
    val gardenRows = (0L until 8L).map(Synthetic.makeGarden(_, 3, 3, 42L))
    def tileFor(e: Int, n: Int): Option[graft.img.Raster] =
      if (e < Synthetic.BaseE || e >= Synthetic.BaseE + 3 ||
          n < Synthetic.BaseN || n >= Synthetic.BaseN + 3) None
      // CIR tiles are half-res; loader resizes to tile_size (image_loaders.py:222-226)
      else Some(Resize.bilinear(Synthetic.tileRasterCir(e, n, ts, 42L), ts, ts))
    val oracle = gardenRows.map(g => g.id -> MosaicOracle.compute(g, ts, tileFor, kernels)).toMap

    val res = VegPipeline.run(spark,
      Synthetic.gardens(spark, 8, 3, 3),
      Synthetic.tilesCir(spark, 3, 3, ts),
      VegPipeline.Config(tileSize = ts, kernelNames = names, handleMissingTiles = false)).collect()
    res.foreach { row =>
      val o = oracle(row.getAs[String]("id"))
      assert(row.getAs[Long]("npix") == o.npix)
      names.zipWithIndex.foreach { case (nm, i) =>
        assert(row.getAs[Double](s"frac_$nm") == o.fracs(i), s"$nm for ${row.getAs[String]("id")}")
      }
    }
  }

  test("web-mercator pipeline (slippy z/x/y tiles, y-down) matches its mosaic oracle") {
    import spark.implicits._
    val zoom = 15
    val x0 = 16150; val y0 = 10900 // arbitrary slippy region
    def tileToLonLat(tx: Double, ty: Double): (Double, Double) = {
      val n = (1 << zoom).toDouble
      val lon = (tx / n - 0.5) * 360.0
      val lat = math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * ty / n))))
      (lon, lat)
    }
    // deterministic CRS84 gardens whose tile-space footprints live in a 3x3 box
    val rnd = new scala.util.Random(5)
    val gardenRows = (0 until 12).map { i =>
      val cxT = x0 + 0.3 + rnd.nextDouble() * 2.4
      val cyT = y0 + 0.3 + rnd.nextDouble() * 2.4
      val radius = 0.05 + rnd.nextDouble() * 0.25
      val nV = 5
      val pts = (0 until nV).map { k =>
        val ang = 2 * math.Pi * k / nV + rnd.nextDouble() * 0.3
        val (lon, lat) = tileToLonLat(cxT + radius * math.cos(ang), cyT + radius * math.sin(ang))
        Seq(lon, lat)
      }
      Synthetic.GardenRow(s"wm$i", Array(s"9$i"), Seq(Seq(pts :+ pts.head)), Exprs.CRS84)
    }
    val names = Seq("greenleaf", "hsv")
    val kernels = names.map(Kernels.all(_)).toArray
    val ts = 64
    val gardens = gardenRows.toDF()
    // the whole 3x3 block without zero-fill, then zero-fill with one
    // covered tile dropped: the y-down mask totals fill its pixels
    val oracles = Seq(None, Some((x0 + 1, y0 + 1))).map { dropped =>
      def tileFor(x: Int, y: Int): Option[graft.img.Raster] =
        if (x < x0 || x >= x0 + 3 || y < y0 || y >= y0 + 3 || dropped.contains((x, y))) None
        else Some(Synthetic.tileRaster(x, y, ts, 42L))
      val oracle =
        gardenRows.map(g => g.id -> MosaicOracle.computeWebMerc(g, zoom, ts, tileFor, kernels)).toMap

      val tiles = (for (x <- x0 until x0 + 3; y <- y0 until y0 + 3; r <- tileFor(x, y)) yield
        Synthetic.TileRow(s"$zoom/$x/$y", graft.img.Codec.encodePNG(r), ts, ts, "png", "wm tile", 0L)
      ).toDF()
      // broadcast lookup, then the shuffled join; a fresh index per path,
      // so the shuffled run takes its covering cells from cellPolys
      val cfg = VegPipeline.Config(tileSize = ts, kernelNames = names,
        handleMissingTiles = dropped.nonEmpty)
      Seq("lookup" -> VegPipeline.buildIndex(spark, gardens, ts, Some(zoom)),
          "cell join" -> VegPipeline.buildIndex(spark, gardens, ts, Some(zoom)).underCeiling(0L)
      ).foreach { case (p, idx) =>
        val path = s"$dropped, $p"
        val res = VegPipeline.scoreAgainst(spark, idx, tiles, cfg).collect()
        assert(res.length == 12)
        res.foreach { row =>
          val o = oracle(row.getAs[String]("id"))
          assert(row.getAs[Long]("npix") == o.npix, s"npix for ${row.getAs[String]("id")} ($path)")
          names.zipWithIndex.foreach { case (nm, i) =>
            assert(row.getAs[Double](s"frac_$nm") == o.fracs(i),
              s"$nm for ${row.getAs[String]("id")} ($path)")
          }
          assert(math.abs(row.getAs[Double]("area_m2") - o.areaM2) < 1e-12) // tile² units
        }
        val withPix = res.filter(_.getAs[Long]("npix") > 100)
        assert(withPix.nonEmpty && withPix.exists(r => r.getAs[Double]("frac_greenleaf") > 0.1))
      }
      oracle
    }
    assert(gardenRows.exists(g => oracles(0)(g.id).fracs != oracles(1)(g.id).fracs),
      "the dropped tile should be covered")
  }

  /** The web-mercator oracle spec's fixture: 12 CRS84 gardens inside a
    * 3x3 block of slippy tiles at zoom 15. */
  private def webMercFixture(): (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val zoom = 15
    val x0 = 16150; val y0 = 10900
    def tileToLonLat(tx: Double, ty: Double): (Double, Double) = {
      val n = (1 << zoom).toDouble
      ((tx / n - 0.5) * 360.0, math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * ty / n)))))
    }
    val rnd = new scala.util.Random(5)
    val gardens = (0 until 12).map { i =>
      val cxT = x0 + 0.3 + rnd.nextDouble() * 2.4
      val cyT = y0 + 0.3 + rnd.nextDouble() * 2.4
      val radius = 0.05 + rnd.nextDouble() * 0.25
      val pts = (0 until 5).map { k =>
        val ang = 2 * math.Pi * k / 5 + rnd.nextDouble() * 0.3
        val (lon, lat) = tileToLonLat(cxT + radius * math.cos(ang), cyT + radius * math.sin(ang))
        Seq(lon, lat)
      }
      Synthetic.GardenRow(s"wm$i", Array(s"9$i"), Seq(Seq(pts :+ pts.head)), Exprs.CRS84)
    }.toDF()
    val tiles = (for (x <- x0 until x0 + 3; y <- y0 until y0 + 3) yield
      Synthetic.TileRow(s"$zoom/$x/$y", Codec.encodePNG(Synthetic.tileRaster(x, y, 64, 42L)),
        64, 64, "png", "wm tile", 0L)).toDF()
    (gardens, tiles)
  }

  test("checkpointed web-mercator run (runGroups + fractions) equals the batch pipeline") {
    val (gardens, allTiles) = webMercFixture()
    // one covered tile missing, so the final pass zero-fills slippy cells too
    val tiles = allTiles.where(org.apache.spark.sql.functions.col("image_id") =!= "15/16151/10901")
    val cfg = VegPipeline.Config(tileSize = 64, kernelNames = Seq("greenleaf", "hsv"))
    val dir = java.nio.file.Files.createTempDirectory("ckpt_wm").toString
    val idx = VegPipeline.buildIndex(spark, gardens, 64, Some(15))
    assert(Checkpoint.runGroups(spark, idx, tiles, cfg, dir, buckets = 4, groupSize = 2) == 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "npix", "frac_greenleaf", "frac_hsv").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
    val batch = rows(VegPipeline.scoreAgainst(spark,
      VegPipeline.buildIndex(spark, gardens, 64, Some(15)), tiles, cfg))
    assert(batch.size == 12 && batch.count(_._2 > 0) >= 10)
    assert(rows(Checkpoint.fractions(spark, idx, cfg, dir)) == batch)
  }

  test("scoring an index under a config for another tile size fails loudly") {
    val gardens = Synthetic.gardens(spark, 10, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    intercept[IllegalArgumentException] {
      VegPipeline.scoreAgainst(spark, idx, tiles, VegPipeline.Config(tileSize = 2 * ts)).collect()
    }
  }

  test("shuffle path and metrics accumulators") {
    val gardens = Synthetic.gardens(spark, 20, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    val m = graft.pipeline.PipelineMetrics.create(spark)
    val shuffled = VegPipeline.scoreAgainst(spark, VegPipeline.buildIndex(spark, gardens, ts).underCeiling(0L),
      tiles, VegPipeline.Config(tileSize = ts, handleMissingTiles = false, metrics = Some(m)))
      .select("id", "npix", "frac_greenleaf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val plain = VegPipeline.run(spark, gardens, tiles,
      VegPipeline.Config(tileSize = ts, handleMissingTiles = false))
      .select("id", "npix", "frac_greenleaf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(shuffled.toSeq == plain.toSeq)
    // metrics: every matched tile decode counted; fragments > 0
    assert(m.tilesDecoded.value > 0)
    assert(m.fragmentsScored.value > 0)
    assert(m.missingTileFragments.value == 0)
    assert(m.report.contains("Tiles decoded"))
  }

  test("executor-side resize warnings reach the driver with reference-format messages (S10)") {
    import spark.implicits._
    // one tile stored at 32px in a 64px table -> exactly one resize warning
    val tiles = Synthetic.tiles(spark, 3, 3, ts)
      .where($"image_id" =!= "SU0101")
      .unionAll(Seq(Synthetic.makeTile(401, 101, 32, 42L)).toDF())
    val m = PipelineMetrics.create(spark)
    val res = VegPipeline.run(spark, Synthetic.gardens(spark, 12, 3, 3), tiles,
      VegPipeline.Config(tileSize = ts, metrics = Some(m)))
    res.collect() // run the job so executor-side accumulators merge back
    val msgs = m.warningMessages
    assert(msgs == Seq("""Image "SU0101" is sized (32, 32, 3) rather than (64, 64, 3))"""),
      s"got $msgs")
    // and they flow into the warnings sink via Reports.writeAll
    val outDir = java.nio.file.Files.createTempDirectory("warn").toString + "/"
    graft.pipeline.Reports.writeAll(res, Seq("greenleaf"), "testLoader", outDir,
      "EPSG:27700", warnings = msgs)
    val written = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(outDir + "testLoader-greenleaf-warnings.txt"))
    assert(written.toArray.toSeq == msgs)
  }

  test("summary and toid2uprn shapes") {
    val res = VegPipeline.run(spark,
      Synthetic.gardens(spark, 15, gridW, gridH),
      Synthetic.tiles(spark, gridW, gridH, ts),
      VegPipeline.Config(tileSize = ts))
    val s = VegPipeline.summarize(res, Seq("greenleaf")).collect()(0)
    assert(s.getAs[Double]("total_area_m2") > 0)
    val pct = s.getAs[Double]("veg_pct_greenleaf")
    assert(pct >= 0 && pct <= 100)
    val t2u = VegPipeline.toid2uprn(res)
    assert(t2u.columns.toSeq == Seq("feature_id", "uprn"))
    assert(t2u.count() >= 15)
  }

  test("lossy (jpg) tile payloads satisfy the PSNR>=40dB per-row invariant and score consistently") {
    import spark.implicits._
    import graft.img.{Codec, Quality}
    // jpg-encoded tile table (input_hint allows fmt png|jpg). Content is
    // the synthetic pattern WITHOUT per-pixel jitter: flat 8x8 blocks
    // (smooth like real aerial imagery; the noisy variant is a DCT
    // worst-case that no 40 dB codec setting can hit).
    def smoothTile(e: Int, n: Int): graft.img.Raster = {
      val base = Synthetic.tileRaster(e, n, ts, 42L)
      val out = new Array[Byte](ts * ts * 3)
      var row = 0
      while (row < ts) {
        var c = 0
        while (c < ts) {
          // take the block's classification from the top-left block pixel
          val src = (((row / 8) * 8) * ts + ((c / 8) * 8)) * 3
          val g = base.data(src + 1) & 0xff
          val veg = g >= 160
          val dst = (row * ts + c) * 3
          if (veg) { out(dst) = 40; out(dst + 1) = 160.toByte; out(dst + 2) = 60 }
          else { out(dst) = 120; out(dst + 1) = 120; out(dst + 2) = 120 }
          c += 1
        }
        row += 1
      }
      graft.img.Raster(out, ts, ts, 3)
    }
    val jpgTiles = (for (e <- Synthetic.BaseE until Synthetic.BaseE + 3;
                         n <- Synthetic.BaseN until Synthetic.BaseN + 3) yield {
      val r = smoothTile(e, n)
      val jpg = Quality.encodeJPEG(r, 0.92f)
      // per-row invariant: decoded jpg vs source raster
      assert(Quality.psnr(Codec.decodeBGR(jpg), r) >= 40.0, s"psnr for ($e,$n)")
      Synthetic.TileRow(graft.geo.TileCode.fromEastingsNorthings(e, n), jpg, ts, ts, "jpg",
        s"jpg tile $e $n", 0L)
    }).toDF()
    val pngTiles = (for (e <- Synthetic.BaseE until Synthetic.BaseE + 3;
                         n <- Synthetic.BaseN until Synthetic.BaseN + 3) yield {
      val r = smoothTile(e, n)
      Synthetic.TileRow(graft.geo.TileCode.fromEastingsNorthings(e, n),
        Codec.encodePNG(r), ts, ts, "png", s"png tile $e $n", 0L)
    }).toDF()
    val gardens = Synthetic.gardens(spark, 10, 3, 3)
    val cfg = VegPipeline.Config(tileSize = ts, handleMissingTiles = false)
    val jpgRes = VegPipeline.run(spark, gardens, jpgTiles, cfg)
      .select("id", "npix", "frac_greenleaf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val pngRes = VegPipeline.run(spark, gardens, pngTiles, cfg)
      .select("id", "npix", "frac_greenleaf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    // same masks (npix identical); fractions within lossy tolerance
    jpgRes.zip(pngRes).foreach { case ((id1, n1, f1), (id2, n2, f2)) =>
      assert(id1 == id2 && n1 == n2)
      if (n1 > 0) assert(math.abs(f1 - f2) < 0.05, s"$id1: jpg $f1 vs png $f2")
    }
  }

  test("synthetic tile table is deterministic and input_hint-shaped") {
    val t1 = Synthetic.tiles(spark, 2, 2, ts).collect().sortBy(_.getAs[String]("image_id"))
    val t2 = Synthetic.tiles(spark, 2, 2, ts).collect().sortBy(_.getAs[String]("image_id"))
    assert(t1.map(_.getAs[String]("image_id")).sameElements(t2.map(_.getAs[String]("image_id"))))
    t1.zip(t2).foreach { case (a, b) =>
      assert(a.getAs[Array[Byte]]("bytes").sameElements(b.getAs[Array[Byte]]("bytes")))
      assert(a.getAs[Long]("phash") == b.getAs[Long]("phash"))
      assert(a.getAs[String]("caption") == b.getAs[String]("caption"))
    }
    assert(t1.head.schema.fieldNames.toSeq ==
      Seq("image_id", "bytes", "w", "h", "fmt", "caption", "phash"))
    // decoded PNG round-trips to the deterministic raster (PSNR = inf)
    val r = Codec.decodeBGR(t1.head.getAs[Array[Byte]]("bytes"))
    val direct = Synthetic.tileRaster(
      graft.geo.TileCode.toEastingsNorthings(t1.head.getAs[String]("image_id"))._1,
      graft.geo.TileCode.toEastingsNorthings(t1.head.getAs[String]("image_id"))._2, ts, 42L)
    assert(r.data.sameElements(direct.data))
  }
}
