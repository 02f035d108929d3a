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
    // handleMissingTiles=false on BOTH configs (zero-fill is square-only).
    val names = Seq("greenleaf", "vari")
    val nG = 40L
    val gardenRows = (0L until nG).map(Synthetic.makeGarden(_, gridW, gridH, 42L))
    val gardens = Synthetic.gardens(spark, nG, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    def cfg(grid: graft.index.GridSystem) = VegPipeline.Config(
      tileSize = ts, kernelNames = names, handleMissingTiles = false, grid = grid)

    def keyed(rows: Array[org.apache.spark.sql.Row]) = rows.map { r =>
      r.getAs[String]("id") ->
        ((r.getAs[Long]("npix"), names.map(n => r.getAs[Double](s"frac_$n"))))
    }.toMap
    val sq = keyed(VegPipeline.run(spark, gardens, tiles,
      cfg(graft.index.GridSystem.Square)).collect())
    val hx = keyed(VegPipeline.run(spark, gardens, tiles,
      cfg(graft.index.GridSystem.Hex(1.7))).collect())
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
    val hxShuffle = keyed(VegPipeline.run(spark, gardens, tiles,
      cfg(graft.index.GridSystem.Hex(1.7)).copy(broadcastMaxBytes = 0)).collect())
    assert(hxShuffle == hx, "hex shuffle-join path diverged from broadcast path")
  }

  test("hex-grid superset matches decode exactly the square grid's tiles") {
    // a tile whose hex-matched polygons all miss it has an empty window
    // union and is not decoded: both grids decode exactly the tiles some
    // polygon window meets
    val gardens = Synthetic.gardens(spark, 40, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    def decoded(grid: graft.index.GridSystem): (Long, Long) = {
      val m = PipelineMetrics.create(spark)
      VegPipeline.run(spark, gardens, tiles, VegPipeline.Config(tileSize = ts,
        handleMissingTiles = false, grid = grid, metrics = Some(m))).collect()
      (m.tilesDecoded.value, m.fragmentsScored.value)
    }
    val (sqTiles, sqFrags) = decoded(graft.index.GridSystem.Square)
    val (hxTiles, hxFrags) = decoded(graft.index.GridSystem.Hex(1.7))
    assert(hxFrags > sqFrags, "fixture should produce extra hex fragments")
    assert(sqTiles > 0 && hxTiles == sqTiles)
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
    val gardens = Synthetic.gardens(spark, 10, 2, 2)
    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    val cfgOn = VegPipeline.Config(tileSize = ts)
    val cfgOff = cfgOn.copy(pruneTileScan = false)

    def rows(cfg: VegPipeline.Config) =
      VegPipeline.scoreAgainst(spark, idx, tiles, cfg)
        .select("id", "npix", "frac_greenleaf").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(rows(cfgOn) == rows(cfgOff))

    // the predicate is an exact canonical-id IN set for this small extent,
    // and it reaches the parquet scan as a pushed filter on image_id
    val pred = VegPipeline.tileIdPredicate(idx, cfgOn).get
    val nCovering = idx.cellPolys.count()
    assert(tiles.where(pred).count() == nCovering) // subset scanned, not 36
    assert(nCovering < gridW.toLong * gridH)
    val plan = tiles.where(pred).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("image_id"),
      s"expected pushed image_id filter in:\n$plan")

    // range fallback (covering set larger than pruneInSetMax) is a sound superset
    val rangeCfg = cfgOn.copy(pruneInSetMax = 1)
    assert(rows(rangeCfg) == rows(cfgOff))
    val rangePred = VegPipeline.tileIdPredicate(idx, rangeCfg).get
    val nRange = tiles.where(rangePred).count()
    assert(nRange >= nCovering && nRange < gridW.toLong * gridH)

    // web-mercator path: the predicate enumerates canonical z/x/y keys
    // that exactly invert SlippyKeyToCell
    import spark.implicits._
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
    val wmCfg = VegPipeline.Config(tileSize = ts, webMercatorZoom = Some(zoom))
    val wmPred = VegPipeline.tileIdPredicate(wmIdx, wmCfg).get
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

  test("shuffle-join path (broadcastMaxBytes=0) produces identical results") {
    val gardens = Synthetic.gardens(spark, 20, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    val a = VegPipeline.run(spark, gardens, tiles,
      VegPipeline.Config(tileSize = ts))
      .select("id", "npix", "frac_greenleaf").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val b = VegPipeline.run(spark, gardens, tiles,
      VegPipeline.Config(tileSize = ts, broadcastMaxBytes = 0))
      .select("id", "npix", "frac_greenleaf").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(a.sameElements(b))
  }

  test("broadcast and shuffled paths zero-fill the same missing tiles") {
    import org.apache.spark.sql.functions.col
    // the broadcast path takes the covered cells from the lookup's keys,
    // the shuffled one (broadcastMaxBytes = 0) from cellPolys
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
    assert(filled == rgb(rgbCfg.copy(broadcastMaxBytes = 0)))
    assert(filled.map(_._2).sum > rgb(rgbCfg.copy(handleMissingTiles = false)).map(_._2).sum,
      "fixture should zero-fill some pixels")

    // an IRGB run over CIR tiles with one RGB tile absent
    val irgbNames = Seq("ndvi-irgb", "matt")
    val irgbCfg = VegPipeline.Config(tileSize = ts, kernelNames = irgbNames)
    val rgb3 = Synthetic.tiles(spark, 3, 3, ts)
      .where(col("image_id") =!= code(Synthetic.BaseE + 1, Synthetic.BaseN + 1))
    def irgb(cfg: VegPipeline.Config) = rows(VegPipeline.run(spark, Synthetic.gardens(spark, 12, 3, 3),
      rgb3, cfg, cirTiles = Some(Synthetic.tilesCir(spark, 3, 3, ts))), irgbNames)
    assert(irgb(irgbCfg) == irgb(irgbCfg.copy(broadcastMaxBytes = 0)))

    // Checkpoint.fractions over the same partials
    val dir = java.nio.file.Files.createTempDirectory("ckpt_paths").toString
    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    Checkpoint.runGroups(spark, idx, tiles, rgbCfg, dir, buckets = 4, groupSize = 2)
    def ckpt(cfg: VegPipeline.Config) = rows(Checkpoint.fractions(spark, idx, cfg, dir), rgbNames)
    assert(ckpt(rgbCfg) == filled)
    assert(ckpt(rgbCfg.copy(broadcastMaxBytes = 0)) == filled)
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
      assert(cached.nonEmpty, "cellPolys stays registered as persisted")
      assert(!cached.get.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded,
        "the broadcast path computed cellPolys")
      val jobs = groups.toArray.count(_ == "op")
      assert(jobs <= 8, s"$jobs Spark jobs for one dense-like job")
    } finally sc.removeSparkListener(listener)
  }

  test("oversized polygon index auto-falls-back to the shuffled cell join") {
    val gardens = Synthetic.gardens(spark, 20, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    assert(idx.broadcastEstimateBytes > 64, "estimate should exceed the tiny test ceiling")
    val small = VegPipeline.Config(tileSize = ts, handleMissingTiles = false,
      broadcastMaxBytes = 64)
    val sums = VegPipeline.fragmentSums(spark, idx, tiles, small)
    val plan = sums.queryExecution.executedPlan.toString
    // the broadcast-lookup formulation is join-free; over-ceiling must
    // plan the cell join instead of collect()ing an arbitrary frame
    assert(plan.contains("Join"), s"expected the shuffled cell join after auto-fallback:\n$plan")
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
    val a = VegPipeline.scoreAgainst(spark, idx, tiles, small)
      .select("gid", "npix", "frac_greenleaf").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val b = VegPipeline.scoreAgainst(spark, idx, tiles,
        small.copy(broadcastMaxBytes = Long.MaxValue))
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
      Seq("SI5050", "SJ5050", "SU0401", "garbage").toDF("image_id"), cfg)
      .collect().map(_.getString(0))
    assert(norm.toSeq == Seq("SJ5050", "SJ5050", "SU0401", "garbage"))

    // pipeline-level: a garden over the SJ5050 cell, its tile named
    // non-canonically. Pruning drops the tile (zero-fill) unless ids are
    // normalized at ingest — then pruned == unpruned, tile scored.
    val sq = Seq(Seq(Seq(
      Seq(350200.0, 350200.0), Seq(350800.0, 350200.0),
      Seq(350800.0, 350800.0), Seq(350200.0, 350800.0), Seq(350200.0, 350200.0))))
    val gardens = Seq(("g1", Seq.empty[String], sq, Exprs.EPSG27700))
      .toDF("id", "uprn", "geometry", "crs")
    val bytes = Codec.encodePNG(Synthetic.tileRaster(350, 350, ts, 42L))
    val tiles = Seq(("SI5050", bytes)).toDF("image_id", "bytes")

    def frac(tilesDf: org.apache.spark.sql.DataFrame, prune: Boolean): (Long, Double) = {
      val r = VegPipeline.run(spark, gardens, tilesDf,
        cfg.copy(pruneTileScan = prune)).select("npix", "frac_greenleaf").head()
      (r.getLong(0), r.getDouble(1))
    }
    val unpruned = frac(tiles, prune = false)
    val prunedRaw = frac(tiles, prune = true)
    val prunedNorm = frac(VegPipeline.normalizeImageIds(tiles, cfg), prune = true)
    assert(unpruned._1 > 0)
    assert(prunedNorm == unpruned, "normalized ids must score identically under pruning")
    // documented precondition: without normalization the non-canonical
    // tile is consistently treated as missing (zero-filled, frac 0)
    assert(prunedRaw._1 == unpruned._1 && prunedRaw._2 == 0.0)
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
      val idx = VegPipeline.buildIndex(spark, gardens, ts)
      val cfg = VegPipeline.Config(tileSize = ts, broadcastMaxBytes = 0,
        handleMissingTiles = false)
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
      val viaBroadcast = VegPipeline.scoreAgainst(spark, idx,
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
    val pred = VegPipeline.tileIdPredicate(idx, cfg).get
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
    def tileFor(x: Int, y: Int): Option[graft.img.Raster] =
      if (x < x0 || x >= x0 + 3 || y < y0 || y >= y0 + 3) None
      else Some(Synthetic.tileRaster(x, y, ts, 42L))
    val oracle = gardenRows.map(g => g.id -> MosaicOracle.computeWebMerc(g, zoom, ts, tileFor, kernels)).toMap

    val tiles = (for (x <- x0 until x0 + 3; y <- y0 until y0 + 3) yield {
      val r = Synthetic.tileRaster(x, y, ts, 42L)
      Synthetic.TileRow(s"$zoom/$x/$y", graft.img.Codec.encodePNG(r), ts, ts, "png", "wm tile", 0L)
    }).toDF()
    val gardens = gardenRows.toDF()
    val res = VegPipeline.run(spark, gardens, tiles,
      VegPipeline.Config(tileSize = ts, kernelNames = names,
        webMercatorZoom = Some(zoom), handleMissingTiles = false)).collect()
    assert(res.length == 12)
    res.foreach { row =>
      val o = oracle(row.getAs[String]("id"))
      assert(row.getAs[Long]("npix") == o.npix, s"npix for ${row.getAs[String]("id")}")
      names.zipWithIndex.foreach { case (nm, i) =>
        assert(row.getAs[Double](s"frac_$nm") == o.fracs(i), s"$nm for ${row.getAs[String]("id")}")
      }
      assert(math.abs(row.getAs[Double]("area_m2") - o.areaM2) < 1e-12) // tile² units
    }
    val withPix = res.filter(_.getAs[Long]("npix") > 100)
    assert(withPix.nonEmpty && withPix.exists(r => r.getAs[Double]("frac_greenleaf") > 0.1))
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
    val cfg = VegPipeline.Config(tileSize = 64, kernelNames = Seq("greenleaf", "hsv"),
      webMercatorZoom = Some(15))
    val dir = java.nio.file.Files.createTempDirectory("ckpt_wm").toString
    val idx = VegPipeline.buildIndex(spark, gardens, 64, Some(15))
    assert(Checkpoint.runGroups(spark, idx, tiles, cfg, dir, buckets = 4, groupSize = 2) == 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "npix", "frac_greenleaf", "frac_hsv").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).sortBy(_._1).toSeq
    val batch = rows(VegPipeline.run(spark, gardens, tiles, cfg))
    assert(batch.size == 12 && batch.count(_._2 > 0) >= 10)
    assert(rows(Checkpoint.fractions(spark, idx, cfg, dir)) == batch)
  }

  test("scoring an index under a config for another grid or tile naming fails loudly") {
    val gardens = Synthetic.gardens(spark, 10, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    val squareIdx = VegPipeline.buildIndex(spark, gardens, ts)
    val cfg = VegPipeline.Config(tileSize = ts, handleMissingTiles = false)
    intercept[IllegalArgumentException] {
      VegPipeline.scoreAgainst(spark, squareIdx, tiles,
        cfg.copy(grid = graft.index.GridSystem.Hex(1.7))).collect()
    }
    intercept[IllegalArgumentException] {
      VegPipeline.scoreAgainst(spark, squareIdx, tiles, cfg.copy(webMercatorZoom = Some(15))).collect()
    }
  }

  test("shuffle path and metrics accumulators") {
    val gardens = Synthetic.gardens(spark, 20, gridW, gridH)
    val tiles = Synthetic.tiles(spark, gridW, gridH, ts)
    val m = graft.pipeline.PipelineMetrics.create(spark)
    val shuffled = VegPipeline.run(spark, gardens, tiles,
      VegPipeline.Config(tileSize = ts, broadcastMaxBytes = 0,
        handleMissingTiles = false, metrics = Some(m)))
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
