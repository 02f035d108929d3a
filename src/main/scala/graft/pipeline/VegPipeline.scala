package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.geo.TileCode
import graft.kernel.Kernels

/** The flagship distributed query: garden polygons x aerial tile table ->
  * per-garden vegetation fractions (the Spark-native re-expression of
  * analyse_polygons.main, reference: green_spaces/analyse_polygons.py:189-237,
  * calculate_indices.py:105-182, image_loaders.py:187-329).
  *
  * Plan shape (designed for a 100 TB tile table):
  *   1. prepare gardens (tiny side): CRS transform, centroid, area, cover
  *      cells, pixel-space blob — one narrow projection.
  *   2. index blobs by cell: within broadcastMaxBytes the index is the
  *      lookup, a driver-built cell→blobs map broadcast once, whose keys
  *      also give the pruning ids and zero-fill cells without a Spark job;
  *      cellPolys (blobs grouped by cell) serves only the shuffled join.
  *   3. score tiles through the lookup (or join cellPolys on cell) — the
  *      tile table streams; each matched tile is decoded exactly once and
  *      scored against all covering polygons (ScoreFragments).
  *   4. explode fragment scores -> partial-aggregated (map-side combine)
  *      groupBy gid: only (gid, npix, veg[]) rows cross the wire.
  *   5. merge-join garden metadata back (its shuffle overlaps scoring),
  *      derive fractions.
  *
  * Skew: dense cells cost per-tile work proportional to covering polygons;
  * no shuffle key carries image bytes, so AQE's skew-join handling plus the
  * small fragment rows keep hot cells bounded. When the polygon side's
  * estimated size exceeds broadcastMaxBytes, the same plan runs as a
  * shuffled join co-partitioned on cell (tiles shuffle once; pre-bucket
  * the tile table by cell to eliminate even that at scale).
  */
object VegPipeline extends org.apache.spark.internal.Logging {

  final case class Config(
      tileSize: Int = 256,
      kernelNames: Seq[String] = Seq("greenleaf"),
      handleMissingTiles: Boolean = true,
      /** Some(zoom): the web-mercator loader path (slippy "z/x/y" tiles,
        * y-down raster, area in tile^2 units, image_loaders.py:32-158). */
      webMercatorZoom: Option[Int] = None,
      /** Ceiling on the estimated broadcast-lookup size: when the
        * prepared polygon side exceeds it, the broadcast path is
        * auto-disabled and the same plan runs as the shuffled cell join
        * (the reference user never picks an execution strategy — the
        * cache self-sizes, analyse_polygons.py:203-206 — so the engine
        * must not OOM the driver on an oversized garden set). 2 GiB
        * default: well under driver/executor headroom and Spark's 8 GiB
        * broadcast hard cap. */
      broadcastMaxBytes: Long = 2L << 30,
      /** Push the polygon set's covering range into the tile scan as an
        * image_id predicate (the reference never reads a tile outside the
        * covering range, image_loaders.py:266-269). Canonical-id IN set
        * for small extents, min/max range otherwise — both reach the
        * parquet reader as PushedFilters.
        *
        * PRECONDITION: image_ids must be in canonical form (the id
        * [[normalizeImageIds]] round-trips to itself; the reference only
        * ever reads canonically-named tiles, it builds paths FROM
        * coordinates, image_loaders.py:229-233). A parseable but
        * NON-canonical id (e.g. an OSGB code containing the skipped
        * letter 'I') decodes to the same cell yet fails the IN-set match
        * and is treated as missing (zero-filled). Run
        * [[normalizeImageIds]] at ingest when ids may be non-canonical. */
      pruneTileScan: Boolean = true,
      /** Covering-cell count above which pruning falls back from an exact
        * IN set to a sound min/max image_id range. The literal IN set is
        * serialized into every task binary and deserialized PER TASK —
        * measured at ~35 ms/task for 147k strings, which at 1000 scan
        * tasks costs more than the whole unpruned scan. 8k ids ≈ 200 KB
        * keeps that negligible; beyond it a covering set that large
        * overlaps most of the table anyway, so the min/max range (pushed
        * to parquet row-group stats) plus the exact cell join filter
        * capture nearly all the benefit. */
      pruneInSetMax: Int = 8192,
      /** decoded-tile / fragment accumulators (C3 statistics). */
      metrics: Option[PipelineMetrics] = None,
      /** Grid system for the cell→polygon index and the polygon⋈tile
        * join key. Square (default) = one cell per km tile, the
        * reference's semantics and the zero-fill/pruning-capable path.
        * A hex grid (H3-style axial hexes, [[graft.index.HexIndex]])
        * indexes polygons by the hexes of their covered tiles' centers;
        * the join matches a superset of the square-grid tile set whose
        * extra fragments score zero pixels, so the per-garden sums are
        * bit-identical. Hex requires handleMissingTiles=false (zero-fill
        * enumerates expected TILES, which only the square grid can) and
        * disables covering-range scan pruning. */
      grid: graft.index.GridSystem = graft.index.GridSystem.Square)

  import Exprs.{col => ec, expr => ee}

  /** Normalized gardens (id, uprn, geometry, crs) -> prepared metadata.
    *
    * gid is xxhash64(id): deterministic under partition recomputation,
    * executor loss and session restart (monotonically_increasing_id is
    * none of those — a recomputed partition can renumber rows, silently
    * mis-joining fragment sums onto the wrong garden, and checkpoint
    * partials written by a crashed run would not survive a resume).
    * Requires unique feature ids (the reference keys its outputs by
    * feature id too, analyse_polygons.py:157-165); 64-bit collision odds
    * at 10^6 features are ~3e-8. */
  def prepareGardens(gardens: DataFrame, tileSize: Int,
                     webMercatorZoom: Option[Int] = None,
                     grid: graft.index.GridSystem = graft.index.GridSystem.Square): DataFrame = {
    require(webMercatorZoom.isEmpty || grid == graft.index.GridSystem.Square,
      "non-square grids are only wired for the OSGB tile path")
    gardens.withColumn("gid", xxhash64(col("id")))
      .withColumn("prep", ec(PrepareGarden(
        ee(col("gid")), ee(col("geometry")), ee(col("crs")), tileSize, grid, webMercatorZoom)))
      .select(col("gid"), col("id"), col("uprn"),
        col("prep.blob").as("blob"), col("prep.cells").as("cells"),
        col("prep.cx").as("cx"), col("prep.cy").as("cy"),
        col("prep.area_m2").as("area_m2"), col("prep.sort_key").as("sort_key"))
  }

  /** The tile naming, chosen in this one place: OSGB km tile codes by
    * default, slippy "z/x/y" keys at a web-mercator zoom. `toCell` maps a
    * key to its packed cell (null outside the grid); `toKey` is its exact
    * inverse for well-formed keys, and `cellKey` the same on the driver. */
  private final case class TileNaming(toCell: Column => Column, toKey: Column => Column,
                                      cellKey: Long => String)
  private def naming(webMercatorZoom: Option[Int]): TileNaming = webMercatorZoom match {
    case Some(z) => TileNaming(id => ec(SlippyKeyToCell(ee(id), z)),
      cell => concat(lit(s"$z/"), shiftright(cell, 31).cast("long"),
        lit("/"), cell.bitwiseAND(lit(0x7fffffffL)).cast("long")),
      cell => s"$z/${cell >> 31}/${cell & 0x7fffffffL}")
    case None => TileNaming(id => ec(TileCodeToCell(ee(id))),
      cell => ec(CellToTileCode(
        ee(shiftright(cell, 31).cast("int")),
        ee(cell.bitwiseAND(lit(0x7fffffffL)).cast("int")))),
      cell => TileCode.fromEastingsNorthings((cell >> 31).toInt, (cell & 0x7fffffffL).toInt))
  }

  /** Tile key (image_id) -> packed cell id, null for a key outside the
    * grid — the key every tile-table writer and scorer derives cells by. */
  def keyToCell(webMercatorZoom: Option[Int])(imageId: Column): Column =
    naming(webMercatorZoom).toCell(imageId)

  /** The reusable cell→polygon "interval index" artifact: prepared garden
    * metadata (persisted) + per-cell packed polygon blobs. Build once,
    * score any number of tile batches/streams against it — under a
    * config with the same tile size, tile naming and grid. */
  final case class PolyIndex(prepared: DataFrame, cellPolys: DataFrame, tileSize: Int,
                             webMercatorZoom: Option[Int] = None,
                             grid: graft.index.GridSystem = graft.index.GridSystem.Square) {
    /** Memoized covering-range scan predicates (one per loader/config):
      * the index is immutable once built, so repeated scoring runs reuse
      * the computed id set instead of re-collecting it. */
    @transient private[pipeline] lazy val predicateCache =
      new java.util.concurrent.ConcurrentHashMap[(Option[Int], Int), Option[Column]]()

    /** Estimated in-memory size of [[broadcastLookup]]: each garden's
      * blob bytes once (blobs are reference-shared across covering cells)
      * plus, per covering cell, an 8-byte array ref and a 64-byte
      * map-entry overhead bound. One narrow pass over the persisted
      * `prepared` frame sends one sum per partition to the driver (one
      * job, no exchange). Drives the automatic broadcast↔shuffle path
      * choice — computed lazily and memoized. */
    @transient lazy val broadcastEstimateBytes: Long =
      prepared.select(coalesce(length(col("blob")), lit(0)).cast("long") +
          coalesce(size(col("cells")), lit(0)).cast("long") * 72L)
        .rdd.mapPartitions(rows => Iterator(rows.map(_.getLong(0)).sum)).collect().sum

    /** The cell→blobs lookup as an executor-shared Broadcast variable,
      * materialized ONCE per index lifetime. A BroadcastHashJoin would
      * rebuild+rebroadcast its HashedRelation for EVERY query over the
      * same index — measurable seconds per run, and one rebuild per
      * micro-batch on the streaming path. Built lazily so the
      * shuffle-join path never pays for it.
      *
      * Built from `prepared` (one row per garden), sharing each blob's
      * byte array across all its covering cells: Java serialization
      * writes shared references once, so the broadcast does NOT pay the
      * per-covering-cell blob duplication that the exploded cellPolys
      * frame (and a HashedRelation over it) would. */
    @transient lazy val broadcastLookup
        : org.apache.spark.broadcast.Broadcast[java.util.HashMap[Long, Array[Array[Byte]]]] = {
      val buf = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Array[Byte]]]()
      prepared.select("blob", "cells").collect().foreach { r =>
        val blob = r.getAs[Array[Byte]](0)
        r.getSeq[Long](1).foreach { c =>
          buf.computeIfAbsent(c, _ => scala.collection.mutable.ArrayBuffer.empty) += blob
        }
      }
      val m = new java.util.HashMap[Long, Array[Array[Byte]]](buf.size())
      buf.forEach((k, v) => m.put(k, v.toArray))
      prepared.sparkSession.sparkContext.broadcast(m)
    }
  }

  def buildIndex(spark: SparkSession, gardens: DataFrame, tileSize: Int,
                 webMercatorZoom: Option[Int] = None,
                 grid: graft.index.GridSystem = graft.index.GridSystem.Square): PolyIndex = {
    val prepared = prepareGardens(gardens, tileSize, webMercatorZoom, grid)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val cellPolys = prepared
      .select(explode(col("cells")).as("cell"), col("blob"))
      .groupBy("cell").agg(collect_list("blob").as("blobs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    PolyIndex(prepared, cellPolys, tileSize, webMercatorZoom, grid)
  }

  /** Per-garden result: gid, id, uprn, cx, cy, area_m2, sort_key, npix,
    * frac_<kernel>... */
  def run(spark: SparkSession, gardens: DataFrame, tiles: DataFrame,
          cfg: Config = Config(), cirTiles: Option[DataFrame] = None): DataFrame =
    scoreAgainst(spark,
      buildIndex(spark, gardens, cfg.tileSize, cfg.webMercatorZoom, cfg.grid),
      tiles, cfg, cirTiles)

  def scoreAgainst(spark: SparkSession, index: PolyIndex, tiles: DataFrame,
                   cfg: Config, cirTiles: Option[DataFrame] = None): DataFrame =
    fractionsFromSums(index, fragmentSums(spark, index, tiles, cfg, cirTiles), cfg)

  /** An index scored under a config keyed differently would look its
    * cells up in the wrong key space and return wrong sums silently; and
    * zero-fill enumerates square tiles, so it cannot run on a hex grid. */
  private def requireIndexFits(index: PolyIndex, cfg: Config): Unit = {
    require(index.tileSize == cfg.tileSize, "index/config tile size mismatch")
    require(index.webMercatorZoom == cfg.webMercatorZoom,
      s"index built for webMercatorZoom=${index.webMercatorZoom}, config has ${cfg.webMercatorZoom}")
    require(index.grid == cfg.grid, s"index built for grid ${index.grid}, config has ${cfg.grid}")
    require(cfg.grid == graft.index.GridSystem.Square || !cfg.handleMissingTiles,
      "missing-tile zero-fill enumerates expected TILES, which only the " +
        "square grid keys; use handleMissingTiles=false with a hex grid")
  }

  /** Canonical image_id of a packed cell — the exact inverse of
    * [[keyToCell]] for well-formed ids (the reference only ever reads
    * canonically-named tiles: it builds file paths FROM coordinates,
    * image_loaders.py:229-233, 266-269). */
  private def cellToImageId(cfg: Config, cell: Column = col("cell")): Column =
    naming(cfg.webMercatorZoom).toKey(cell)

  private def fitsBroadcast(index: PolyIndex, cfg: Config): Boolean =
    index.broadcastEstimateBytes <= cfg.broadcastMaxBytes

  /** The covering cells, for the scan predicate and the zero-fill alike:
    * the lookup's sorted keys on the driver, without a Spark job, when the
    * index fits the broadcast ceiling (the lookup is touched only then);
    * otherwise `cellPolys`, whose `cell` column is the same set. */
  private def coveredCells(index: PolyIndex, cfg: Config): Either[Array[Long], DataFrame] =
    if (fitsBroadcast(index, cfg))
      Left(index.broadcastLookup.value.keySet.asScala.toArray.sorted)
    else Right(index.cellPolys)

  /** Covering-range scan pruning: a parquet-pushable predicate on
    * image_id derived from the polygon set's covering cells. Exact IN
    * set of canonical ids when the extent is small (the reference's
    * covering-range read, image_loaders.py:266-269); sound min/max id
    * range (row-group pruning via parquet stats) when it is not. None
    * when the polygon set covers nothing. */
  def tileIdPredicate(index: PolyIndex, cfg: Config): Option[Column] =
    index.predicateCache.computeIfAbsent((cfg.webMercatorZoom, cfg.pruneInSetMax), _ => {
      // up to pruneInSetMax + 1 ids decide small-vs-large AND supply the
      // set; `range` gives the min and max id over all of them
      val (headIds, range) = coveredCells(index, cfg) match {
        case Left(cells) =>
          val ids = cells.map(naming(cfg.webMercatorZoom).cellKey).filter(_ != null)
          (ids.take(cfg.pruneInSetMax + 1), () => (ids.min, ids.max))
        case Right(cellPolys) =>
          val ids = cellPolys.select(cellToImageId(cfg).as("tid")).where(col("tid").isNotNull)
          (ids.limit(cfg.pruneInSetMax + 1).collect().map(_.getString(0)),
            () => { val r = ids.agg(min("tid"), max("tid")).head(); (r.getString(0), r.getString(1)) })
      }
      if (headIds.isEmpty) Some(lit(false))
      else if (headIds.length <= cfg.pruneInSetMax)
        Some(col("image_id").isInCollection(headIds.toSeq))
      else { val (lo, hi) = range(); Some(col("image_id") >= lo && col("image_id") <= hi) }
    })

  /** Rewrite image_id to canonical form by round-tripping through the
    * cell key (id -> cell -> canonical id); unparseable ids pass through
    * unchanged (and are skipped by scoring anyway). Run at ingest when a
    * tile catalog may contain parseable-but-non-canonical names, so the
    * covering-range pruning predicate ([[Config.pruneTileScan]]) and the
    * scored set agree. */
  def normalizeImageIds(tiles: DataFrame, cfg: Config): DataFrame =
    tiles.withColumn("image_id",
      coalesce(cellToImageId(cfg, keyToCell(cfg.webMercatorZoom)(col("image_id"))), col("image_id")))

  /** The tile frame with the covering-range scan predicate applied — the
    * exact pruning [[fragmentSums]] performs internally, so
    * [[writePartialUnit]] records the SAME tile set the scoring pass saw
    * (a tile dropped by pruning must count as missing, not silently
    * vanish from both passes). */
  def pruneTiles(tiles: DataFrame, index: PolyIndex, cfg: Config): DataFrame =
    if (!cfg.pruneTileScan || cfg.grid != graft.index.GridSystem.Square) tiles
    else tileIdPredicate(index, cfg).fold(tiles)(tiles.where)

  /** The distributive core: per-garden raw long sums
    * (gid, npix, veg_0..veg_{nK-1}) of all fragment scores. This is the
    * unit Checkpoint groups and streaming batches persist — re-aggregating
    * any partition of the tile table and summing is bit-exact (pure long
    * adds), so partials never round-trip through a double.
    *
    * `handleMissingTiles` adds the reference's zero-fill fragments
    * (image_loaders.py:239): cells covered by polygons but absent from
    * the tile table score against a null raster (onBlack classification,
    * full npix denominator). The present-cell set comes from a second,
    * image_id-column-only pass over the tile table — parquet column
    * pruning makes that a ~0.01% re-read, no fragment persist needed. */
  def fragmentSums(spark: SparkSession, index: PolyIndex, tiles: DataFrame,
                   cfg: Config, cirTiles: Option[DataFrame] = None): DataFrame = {
    val nK = cfg.kernelNames.length
    val frags = fragments(spark, index, tiles, cfg, cirTiles)
    val vegSums = (0 until nK).map(i => sum(col("veg")(i)).as(s"veg_$i"))
    frags.groupBy("gid").agg(sum(col("npix")).as("npix"), vegSums: _*)
  }

  /** The unaggregated fragment frame (gid, npix, veg[nK]) that
    * [[fragmentSums]] groups — one row per scored polygon∩tile fragment
    * (plus the zero-fill rows when handleMissingTiles). Exposed so the
    * correctness sidecars ([[graft.Sidecars]]) can hand the DuckDB oracle
    * the pipeline's pre-aggregation state: the oracle then re-derives the
    * groupBy-sum, metadata join and fraction division independently. */
  def fragments(spark: SparkSession, index: PolyIndex, tiles: DataFrame,
                cfg: Config, cirTiles: Option[DataFrame] = None): DataFrame = {
    val nK = cfg.kernelNames.length
    require(nK > 0, "at least one index kernel required")
    requireIndexFits(index, cfg)
    // format-compat check (reference: analyse_polygons.py:208-213)
    val fmts = cfg.kernelNames.map(Kernels.all(_).inputFormat).distinct
    require(fmts.size == 1,
      s"all kernels in one pass must share an input format, got $fmts")
    require(fmts.head != "IRGB" || cirTiles.nonEmpty,
      "IRGB kernels need the CIR tile table for Ir fusion (S3)")
    val hexGrid = cfg.grid != graft.index.GridSystem.Square

    // automatic path selection: the broadcast-lookup formulation only when
    // the estimated lookup size fits the configured ceiling; otherwise the
    // shuffled cell join, without the caller having to know (What a user
    // of the reference never configures, the engine must not OOM over).
    val useBroadcast = fitsBroadcast(index, cfg)
    if (!useBroadcast)
      logWarning(s"polygon index estimated at ${index.broadcastEstimateBytes} bytes exceeds " +
        s"broadcastMaxBytes=${cfg.broadcastMaxBytes}; using the shuffled cell join")

    def prune(df: DataFrame): DataFrame = pruneTiles(df, index, cfg)
    val prunedTiles = prune(tiles)
    // a pre-materialized `cell` column (the bucketed tile-table write
    // path, TileBuckets.write) is used as-is: deriving it again through
    // the key expression would discard the scan's bucket partitioning
    // and reintroduce the Exchange the bucketing exists to remove
    def withCell(df: DataFrame): DataFrame =
      if (df.columns.contains("cell")) df
      else df.withColumn("cell", keyToCell(cfg.webMercatorZoom)(col("image_id")))
    val rgbWithCell = withCell(prunedTiles)
      .select(col("cell"), col("image_id"), col("bytes"))
      .where(col("cell").isNotNull)

    // RGB ⋈ CIR fusion join on tile cell (J2) for IRGB kernels.
    // Deliberately a SortMergeJoin: each side's payload crosses exactly
    // one Exchange (the floor for a non-co-located layout) and SMJ
    // spills gracefully. A shuffle_hash hint was MEASURED WORSE here
    // (IRGB quarter-table job 2.49 -> 2.87 s min with a 34 s GC-bound
    // outlier): the build side pins a partition's whole CIR payload in
    // an in-memory HashedRelation, which is exactly the §3.1 OOM risk
    // for fat rows. The zero-Exchange answer is the bucketed layout
    // (TileBuckets), benched separately as q34_irgb_bucketed.
    val tilesWithCell = cirTiles match {
      case Some(cir) =>
        val cirWithCell = withCell(prune(cir))
          .select(col("cell"), col("bytes").as("cir_bytes"))
          .where(col("cell").isNotNull)
        rgbWithCell.join(cirWithCell, Seq("cell"), "left_outer")
      case None => rgbWithCell.withColumn("cir_bytes", lit(null).cast("binary"))
    }

    // hex cover: the join key is the hex of the tile's CENTER; `cell`
    // stays the square tile cell that anchors the raster geometry
    val tilesKeyed =
      if (!hexGrid) tilesWithCell
      else tilesWithCell.withColumn("jcell", ec(PointCell(
        ee(shiftright(col("cell"), 31).cast("double") + lit(0.5)),
        ee(col("cell").bitwiseAND(lit(0x7fffffffL)).cast("double") + lit(0.5)),
        cfg.grid)))
    val joinKey = if (hexGrid) "jcell" else "cell"

    val (matched, scoreCol) =
      if (useBroadcast) {
        // map-side-join formulation: the cell→blobs lookup is an
        // executor-shared Broadcast built ONCE per index lifetime
        // (index.broadcastLookup) — a BroadcastHashJoin would rebuild its
        // HashedRelation per query / per streaming micro-batch. Uncovered
        // cells yield an empty fragment array, i.e. inner-join semantics.
        (tilesKeyed, ec(ScoreFragments(
          ee(col("cell")), ee(col("bytes")), ee(col("cir_bytes")),
          ee(lit(null).cast("array<binary>")),
          cfg.tileSize, cfg.kernelNames, yDown = cfg.webMercatorZoom.nonEmpty,
          metrics = cfg.metrics, lookup = Some(index.broadcastLookup),
          joinCell = if (hexGrid) Some(ee(col("jcell"))) else None)))
      } else {
        val polysKeyed =
          if (hexGrid) index.cellPolys.withColumnRenamed("cell", "jcell") else index.cellPolys
        (tilesKeyed.join(polysKeyed, Seq(joinKey)), ec(ScoreFragments(
          ee(col("cell")), ee(col("bytes")), ee(col("cir_bytes")), ee(col("blobs")),
          cfg.tileSize, cfg.kernelNames, yDown = cfg.webMercatorZoom.nonEmpty,
          metrics = cfg.metrics)))
      }
    val scored = fragmentRows(matched, scoreCol)

    if (cfg.handleMissingTiles)
      scored.union(missingSumsFromPresent(presentCells(prunedTiles, cfg), index, cfg))
    else scored
  }

  /** Distinct cells present in a tile table — an image_id-column-only
    * scan (parquet column pruning skips the bytes entirely). */
  def presentCells(tiles: DataFrame, cfg: Config): DataFrame = {
    val cellCol =
      if (tiles.columns.contains("cell")) col("cell")
      else keyToCell(cfg.webMercatorZoom)(col("image_id"))
    tiles.select(cellCol.as("cell"))
      .where(col("cell").isNotNull)
      .distinct()
  }

  /** Zero-fill fragment scores for covered cells absent from `present`
    * (null raster -> onBlack classification). Returns unaggregated
    * (gid, npix, veg) rows. On the broadcast path the covered cells are
    * the lookup's keys and the missing ones score through the lookup;
    * the shuffled path takes both from cellPolys. */
  def missingSumsFromPresent(present: DataFrame, index: PolyIndex, cfg: Config): DataFrame = {
    requireIndexFits(index, cfg)
    val (covered, blobs, lookup) = coveredCells(index, cfg) match {
      case Left(cells) => // an RDD keeps a large cell set out of the plan
        val spark = present.sparkSession
        (spark.createDataset(spark.sparkContext.parallelize(cells.toSeq))(Encoders.scalaLong)
          .toDF("cell"), lit(null).cast("array<binary>"), Some(index.broadcastLookup))
      case Right(cellPolys) => (cellPolys, col("blobs"), None)
    }
    val missingScore = ec(ScoreFragments(
      ee(col("cell")), ee(lit(null).cast("binary")), ee(lit(null).cast("binary")), ee(blobs),
      cfg.tileSize, cfg.kernelNames, yDown = cfg.webMercatorZoom.nonEmpty,
      metrics = cfg.metrics, lookup = lookup))
    fragmentRows(covered.join(present, Seq("cell"), "left_anti"), missingScore)
  }

  /** One (gid, npix, veg) row per fragment of a ScoreFragments column. */
  private def fragmentRows(df: DataFrame, score: Column): DataFrame =
    df.select(explode(score).as("s"))
      .select(col("s.gid").as("gid"), col("s.npix").as("npix"), col("s.veg").as("veg"))

  /** Writes one partial-sum unit — a [[Checkpoint]] group or a
    * streaming micro-batch — of `tiles`: the raw-long sums without
    * zero-fill at `<outDir>/<unit>`, then the cells the unit presented to
    * scoring at `<outDir>/cells/<unit>`. Both overwrite, so re-running a
    * unit is idempotent; callers commit (manifest line, batch id) after
    * this returns. The cell set is taken from the SAME pruned tile set
    * scoring saw: a tile the covering-range predicate drops (a
    * parseable but non-canonical id) counts as missing at finalization
    * instead of vanishing from both passes. */
  def writePartialUnit(spark: SparkSession, index: PolyIndex, tiles: DataFrame, cfg: Config,
                       outDir: String, unit: String): Unit = {
    fragmentSums(spark, index, tiles, cfg.copy(handleMissingTiles = false))
      .write.mode("overwrite").parquet(s"$outDir/$unit")
    presentCells(pruneTiles(tiles, index, cfg), cfg)
      .write.mode("overwrite").parquet(s"$outDir/cells/$unit")
  }

  /** Final per-garden fractions over the units matching `unitGlob` (e.g.
    * `group=*`) that [[writePartialUnit]] wrote under `outDir`. Reads
    * partials and cell sets only, no tile. */
  def fractionsFromUnits(spark: SparkSession, index: PolyIndex, cfg: Config,
                         outDir: String, unitGlob: String): DataFrame =
    fractionsFromPartials(index, spark.read.parquet(s"$outDir/$unitGlob"),
      spark.read.parquet(s"$outDir/cells/$unitGlob"), cfg)

  /** Final per-garden fractions (without uprn and sort_key) from
    * persisted raw-long partials (gid, npix, veg_0..). With
    * handleMissingTiles, the zero-fill fragments of covered cells absent
    * from `present` are added once here: per-unit runs must not each
    * zero-fill, since a cell missing from one unit is usually present in
    * another. */
  def fractionsFromPartials(index: PolyIndex, partials: DataFrame, present: => DataFrame,
                            cfg: Config): DataFrame = {
    val nK = cfg.kernelNames.length
    val withMissing =
      if (cfg.handleMissingTiles)
        partials.unionByName(missingSumsFromPresent(present, index, cfg)
          .select(Seq(col("gid"), col("npix")) ++
            (0 until nK).map(i => col("veg")(i).as(s"veg_$i")): _*))
      else partials
    val agg = withMissing.groupBy("gid").agg(
      sum("npix").as("npix"),
      (0 until nK).map(i => sum(col(s"veg_$i")).as(s"veg_$i")): _*)
    fractionsFromSums(index, agg, cfg).drop("uprn", "sort_key")
  }

  /** Garden metadata ⋈ raw sums -> the per-garden result frame
    * (gid, id, uprn, cx, cy, area_m2, sort_key, npix, frac_<kernel>...). */
  def fractionsFromSums(index: PolyIndex, sums: DataFrame, cfg: Config): DataFrame = {
    // a merge join: the meta side's shuffle runs beside the scoring
    // stages, where a broadcast of the sums would wait for them
    val meta = index.prepared.select("gid", "id", "uprn", "cx", "cy", "area_m2", "sort_key")
      .hint("merge")
    val joined = meta.join(sums, Seq("gid"), "left_outer")
    val fracCols = cfg.kernelNames.zipWithIndex.map { case (name, i) =>
      when(col("npix").isNull || col("npix") === 0L, lit(0.0))
        .otherwise(col(s"veg_$i").cast("double") / col("npix").cast("double"))
        .as(s"frac_$name")
    }
    joined.select(
      Seq(col("gid"), col("id"), col("uprn"), col("cx"), col("cy"),
        col("area_m2"), col("sort_key"),
        coalesce(col("npix"), lit(0L)).as("npix")) ++ fracCols: _*)
  }

  /** Global summary (A2): total area, per-index vegetation area + pct
    * (reference: analyse_polygons.py:135-155). Each double term is cast
    * to DECIMAL(28,4) before summing: decimal addition is exact, so the
    * totals are independent of partition/association order — a plain
    * double sum would drift in its last bits run-to-run at scale (and a
    * SQL oracle doing the same cast reproduces them bit-for-bit). Scale 4
    * (sub-cm² on m² values) stays far from the ~16-significant-digit edge
    * of a double, where Spark's shortest-repr-based double→decimal cast
    * and an exact-binary cast could round a digit apart. */
  def summarize(perGarden: DataFrame, kernelNames: Seq[String]): DataFrame = {
    def dsum(c: Column): Column = sum(c.cast("decimal(28,4)")).cast("double")
    val aggs = kernelNames.flatMap { name =>
      Seq(dsum(col("area_m2") * col(s"frac_$name")).as(s"veg_area_$name"))
    }
    val base = perGarden.agg(dsum(col("area_m2")).as("total_area_m2"), aggs: _*)
    val pctCols = kernelNames.map { name =>
      (col(s"veg_area_$name") / col("total_area_m2") * 100.0).as(s"veg_pct_$name")
    }
    base.select(Seq(col("total_area_m2")) ++
      kernelNames.map(n => col(s"veg_area_$n")) ++ pctCols: _*)
  }

  /** toid->uprn explode (S8; reference: analyse_polygons.py:175-186). */
  def toid2uprn(perGarden: DataFrame): DataFrame =
    perGarden.select(col("id"), explode(col("uprn")).as("uprn"))
      .withColumnRenamed("id", "feature_id")
}
