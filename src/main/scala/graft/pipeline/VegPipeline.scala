package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *      cells, pixel-space blob, mask pixel total — one narrow projection.
  *   2. index blobs by cell: an index within a fixed size ceiling is the
  *      lookup, a driver-built cell→blobs map broadcast once, whose keys
  *      also give the pruning ids without a Spark job; a larger one is
  *      cellPolys (blobs grouped by cell) for the shuffled join — a choice
  *      the index makes once (PolyIndex.usesLookup).
  *   3. score tiles through the lookup (or join cellPolys on cell) — the
  *      tile table streams once; each matched tile is decoded exactly once
  *      and scored against all covering polygons (ScoreFragments).
  *   4. explode fragment scores -> partial-aggregated (map-side combine)
  *      groupBy gid: only (gid, npix, veg[]) rows cross the wire.
  *   5. merge-join garden metadata back (its shuffle overlaps scoring),
  *      zero-fill the mask pixels no tile row covered (mask total less
  *      scored pixels), derive fractions.
  *
  * Skew: dense cells cost per-tile work proportional to covering polygons;
  * no shuffle key carries image bytes, so AQE's skew-join handling plus the
  * small fragment rows keep hot cells bounded. When the polygon side's
  * estimated size exceeds the lookup ceiling, the same plan runs as a
  * shuffled join co-partitioned on cell (tiles shuffle once; pre-bucket
  * the tile table by cell to eliminate even that at scale).
  */
object VegPipeline extends org.apache.spark.internal.Logging {

  final case class Config(
      tileSize: Int = 256,
      kernelNames: Seq[String] = Seq("greenleaf"),
      handleMissingTiles: Boolean = true,
      /** decoded-tile / fragment accumulators (C3 statistics). */
      metrics: Option[PipelineMetrics] = None)

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
    gardens.withColumn("gid", xxhash64(col("id")))
      .withColumn("prep", ec(PrepareGarden(
        ee(col("gid")), ee(col("geometry")), ee(col("crs")), tileSize, grid, webMercatorZoom)))
      .select(col("gid"), col("id"), col("uprn"),
        col("prep.blob").as("blob"), col("prep.cells").as("cells"),
        col("prep.cx").as("cx"), col("prep.cy").as("cy"),
        col("prep.area_m2").as("area_m2"), col("prep.sort_key").as("sort_key"),
        col("prep.npix_total").as("npix_total"))
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
    * metadata (persisted), built once and scored against any number of
    * tile batches/streams — under a config with the same tile size. The
    * index fixes the run's choices once, and every later step reads them
    * here: `webMercatorZoom` is the tile naming, [[usesLookup]] the lookup
    * formulation, and [[covering]] the covering cells pruning reads. */
  final class PolyIndex private[graft] (val prepared: DataFrame, val tileSize: Int,
      val webMercatorZoom: Option[Int], lookupMaxBytes: Long) extends Serializable {

    /** Estimated in-memory size of [[broadcastLookup]]: each garden's
      * blob bytes once (blobs are reference-shared across covering cells)
      * plus, per covering cell, an 8-byte array ref and a 64-byte
      * map-entry overhead bound. One narrow pass over the persisted
      * `prepared` frame sends one sum per partition to the driver (one
      * job, no exchange). Computed lazily and memoized. */
    @transient lazy val broadcastEstimateBytes: Long =
      prepared.select(coalesce(length(col("blob")), lit(0)).cast("long") +
          coalesce(size(col("cells")), lit(0)).cast("long") * 72L)
        .rdd.mapPartitions(rows => Iterator(rows.map(_.getLong(0)).sum)).collect().sum

    /** This index over the same `prepared` frame under another lookup
      * ceiling: how specs reach the shuffled cell join on small fixtures. */
    private[graft] def underCeiling(bytes: Long): PolyIndex =
      new PolyIndex(prepared, tileSize, webMercatorZoom, bytes)

    /** Scoring's formulation, decided once: the [[broadcastLookup]] if the
      * estimate fits the ceiling (outside specs [[LookupMaxBytes]]), else
      * the cell join against [[cellPolys]]. */
    @transient private[graft] lazy val usesLookup: Boolean = {
      val fits = broadcastEstimateBytes <= lookupMaxBytes
      if (!fits) logWarning(s"polygon index estimated at $broadcastEstimateBytes bytes exceeds " +
        s"the $lookupMaxBytes-byte lookup ceiling; using the shuffled cell join")
      fits
    }

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

    /** Blobs grouped by tile cell (cell, blobs): the shuffled cell join's
      * side, persisted only once that join or its [[covering]] reads it. */
    @transient lazy val cellPolys: DataFrame = prepared
      .select(explode(col("cells")).as("cell"), col("blob"))
      .groupBy("cell").agg(collect_list("blob").as("blobs"))
    @transient private[VegPipeline] lazy val joinSide = cellPolys.persist(StorageLevel.MEMORY_AND_DISK)

    /** The covering tile cells (of any cover grid) as pruning reads them,
      * an image_id predicate and a box: the lookup's keys, with no Spark
      * job, when [[usesLookup]]; else at most 8,193 of the join side's
      * cells, and above 8,192 one aggregation, so the driver never holds a
      * large covering set. */
    @transient private[graft] lazy val covering: Covering = {
      val name = naming(webMercatorZoom)
      val cells =
        if (usesLookup) broadcastLookup.value.keySet.asScala.toArray
        else joinSide.select("cell").limit(MaxInSetIds + 1).collect().map(_.getLong(0))
      val inHand = usesLookup || cells.length <= MaxInSetIds
      lazy val ids = cells.map(name.cellKey).filter(_ != null).sorted
      val (es, ns) = (cells.map(_ >> 31), cells.map(_ & 0x7fffffffL))
      val (lo, hi, bbox) =
        if (inHand) (ids.headOption.orNull, ids.lastOption.orNull,
          Option.when(cells.nonEmpty)((es.min, es.max, ns.min, ns.max)))
        else {
          val (tid, e, n) = (name.toKey(col("cell")), shiftright(col("cell"), 31),
            col("cell").bitwiseAND(lit(0x7fffffffL)))
          val r = joinSide.agg(min(tid), max(tid), min(e), max(e), min(n), max(n)).head()
          (r.getString(0), r.getString(1), Some((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        }
      Covering(
        if (lo == null) lit(false)
        else if (inHand && ids.length <= MaxInSetIds) col("image_id").isInCollection(ids)
        else col("image_id") >= lo && col("image_id") <= hi, bbox)
    }
  }

  /** Lookup ceiling on [[PolyIndex.broadcastEstimateBytes]]. The reference
    * user never picks a strategy (its cache sizes itself,
    * analyse_polygons.py:203-206), and the driver must not OOM: 2 GiB is
    * well under driver headroom and Spark's 8 GiB broadcast cap. */
  private val LookupMaxBytes = 2L << 30

  /** Prepares the gardens and keys their blobs by tile cell. The index
    * fixes its choices once ([[PrepareGarden]], [[PolyIndex.usesLookup]]);
    * every later step (lookup, pruning, zero-fill, checkpoint buckets)
    * reads them from it:
    *  - `webMercatorZoom` is the tile naming: None for OSGB km tile codes,
    *    Some(zoom) for the web-mercator loader path (slippy "z/x/y" tiles,
    *    y-down raster, area in tile² units, image_loaders.py:32-158);
    *  - `grid` is the cover: a hex cover keys each garden by a superset of
    *    its square cover's tiles, so the later steps are grid-blind.
    * Only `prepared` is persisted here. */
  def buildIndex(spark: SparkSession, gardens: DataFrame, tileSize: Int,
                 webMercatorZoom: Option[Int] = None,
                 grid: graft.index.GridSystem = graft.index.GridSystem.Square): PolyIndex =
    new PolyIndex(prepareGardens(gardens, tileSize, webMercatorZoom, grid)
      .persist(StorageLevel.MEMORY_AND_DISK), tileSize, webMercatorZoom, LookupMaxBytes)

  /** Per-garden result over OSGB-named tiles: gid, id, uprn, cx, cy,
    * area_m2, sort_key, npix, frac_<kernel>... Other tile namings build
    * their index with [[buildIndex]] and call [[scoreAgainst]]. */
  def run(spark: SparkSession, gardens: DataFrame, tiles: DataFrame,
          cfg: Config = Config(), cirTiles: Option[DataFrame] = None): DataFrame =
    scoreAgainst(spark, buildIndex(spark, gardens, cfg.tileSize), tiles, cfg, cirTiles)

  def scoreAgainst(spark: SparkSession, index: PolyIndex, tiles: DataFrame,
                   cfg: Config, cirTiles: Option[DataFrame] = None): DataFrame =
    fractionsFromSums(index, fragmentSums(spark, index, tiles, cfg, cirTiles), cfg)

  /** What pruning reads of an index's covering tile cells: the image_id
    * predicate and the cells' (eMin, eMax, nMin, nMax), None if empty. */
  private[graft] final case class Covering(idPredicate: Column, bbox: Option[(Long, Long, Long, Long)])

  /** Covering-cell count above which the predicate falls back from an
    * exact IN set to a sound min/max image_id range. The literal IN set
    * is serialized into every task binary and deserialized PER TASK —
    * measured at ~35 ms/task for 147k strings, which at 1000 scan tasks
    * costs more than the whole unpruned scan. 8k ids ≈ 200 KB keeps that
    * negligible; beyond it a covering set that large overlaps most of the
    * table anyway, so the min/max range (pushed to parquet row-group
    * stats) plus the exact cell match capture nearly all the benefit. */
  private val MaxInSetIds = 8192

  /** Covering-range scan pruning (the reference never reads a tile outside
    * the covering range, image_loaders.py:266-269): a parquet-pushable
    * image_id predicate from [[PolyIndex.covering]]. `cfg` is unused: the
    * index alone decides.
    *
    * PRECONDITION: image_ids are canonical (the id [[normalizeImageIds]]
    * round-trips to itself; the reference builds paths FROM coordinates,
    * image_loaders.py:229-233). A parseable but non-canonical id (e.g. an
    * OSGB code with the skipped letter 'I') decodes to the same cell yet
    * fails the IN set, so its tile is treated as missing (zero-filled). */
  def tileIdPredicate(index: PolyIndex, cfg: Config): Column =
    index.covering.idPredicate

  /** Rewrite image_id to canonical form under the `webMercatorZoom` tile
    * naming (id -> cell -> canonical id); unparseable ids pass through
    * unchanged (and are skipped by scoring anyway). Run at ingest, with or
    * without an index, when a tile catalog may hold parseable but
    * non-canonical names, so the always-on covering-range predicate
    * ([[tileIdPredicate]]) and the scored set agree. An alias merged into
    * the id of a tile the table also holds leaves two rows for one cell,
    * which zero-fill does not take (see [[fragmentSums]]): keep one. */
  def normalizeImageIds(tiles: DataFrame, webMercatorZoom: Option[Int] = None): DataFrame = {
    val n = naming(webMercatorZoom)
    tiles.withColumn("image_id", coalesce(n.toKey(n.toCell(col("image_id"))), col("image_id")))
  }

  /** The tile frame with [[tileIdPredicate]] applied — the exact pruning
    * [[fragmentSums]] performs internally. A tile it drops is not scored,
    * so zero-fill counts its pixels as missing. `cfg` is unused, as in
    * [[tileIdPredicate]]. */
  def pruneTiles(tiles: DataFrame, index: PolyIndex, cfg: Config): DataFrame =
    tiles.where(tileIdPredicate(index, cfg))

  /** The distributive core: per-garden raw long sums
    * (gid, npix, veg_0..veg_{nK-1}) of the scored fragments, one per tile
    * row a polygon covers. This is the unit Checkpoint groups and
    * streaming batches persist — re-aggregating any partition of the tile
    * table and summing is bit-exact (pure long adds), so partials never
    * round-trip through a double. The sums carry no zero-fill:
    * [[fractionsFromSums]] adds it from each garden's mask total.
    *
    * PRECONDITION with `handleMissingTiles`: at most one tile row per
    * cell after pruning, as in the reference, which reads one file per
    * tile name (image_loaders.py:229-233). A cell scored twice (a
    * duplicate row, or an alias [[normalizeImageIds]] merged into a tile
    * the table also holds) lifts a garden's scored pixels above its mask
    * total, and [[fractionsFromSums]] fails naming the garden. */
  def fragmentSums(spark: SparkSession, index: PolyIndex, tiles: DataFrame,
                   cfg: Config, cirTiles: Option[DataFrame] = None): DataFrame = {
    val vegSums = cfg.kernelNames.indices.map(i => sum(col("veg")(i)).as(s"veg_$i"))
    scoredFragments(index, tiles, cfg, cirTiles)
      .groupBy("gid").agg(sum(col("npix")).as("npix"), vegSums: _*)
  }

  /** The unaggregated fragment frame (gid, npix, veg[nK]) whose
    * groupBy-sum is [[fragmentSums]], plus with handleMissingTiles one
    * zero-fill row per garden — (gid, missing pixels, onBlack × them),
    * the arithmetic [[fractionsFromSums]] applies. Exposed so the
    * correctness sidecars ([[graft.Sidecars]]) can hand the DuckDB oracle
    * the pipeline's pre-aggregation state: the oracle then re-derives the
    * groupBy-sum, metadata join and fraction division independently. */
  def fragments(spark: SparkSession, index: PolyIndex, tiles: DataFrame,
                cfg: Config, cirTiles: Option[DataFrame] = None): DataFrame = {
    val scored = scoredFragments(index, tiles, cfg, cirTiles)
    if (!cfg.handleMissingTiles) scored
    else {
      val missing = missingPixels
      scored.union(index.prepared.select("gid", "id", "npix_total")
        .join(scored.groupBy("gid").agg(sum("npix").as("npix")), Seq("gid"), "left_outer")
        .select(col("gid"), missing.as("npix"),
          array(onBlack(cfg).map(b => lit(b) * missing): _*).as("veg")))
    }
  }

  /** One (gid, npix, veg) row per polygon∩tile fragment scored. */
  private def scoredFragments(index: PolyIndex, tiles: DataFrame, cfg: Config,
                              cirTiles: Option[DataFrame]): DataFrame = {
    require(cfg.kernelNames.nonEmpty, "at least one index kernel required")
    // masks laid on another tile size's pixel grid would sum wrong silently
    require(index.tileSize == cfg.tileSize, "index/config tile size mismatch")
    // format-compat check (reference: analyse_polygons.py:208-213)
    val fmts = cfg.kernelNames.map(Kernels.all(_).inputFormat).distinct
    require(fmts.size == 1,
      s"all kernels in one pass must share an input format, got $fmts")
    require(fmts.head != "IRGB" || cirTiles.nonEmpty,
      "IRGB kernels need the CIR tile table for Ir fusion (S3)")

    // a pre-materialized `cell` column (the bucketed tile-table write
    // path, TileBuckets.write, or a Checkpoint group's bucket key) is used
    // as-is: deriving it again through the key expression would discard
    // the scan's bucket partitioning and reintroduce the Exchange the
    // bucketing exists to remove
    def withCell(df: DataFrame): DataFrame =
      if (df.columns.contains("cell")) df
      else df.withColumn("cell", keyToCell(index.webMercatorZoom)(col("image_id")))
    val rgbWithCell = withCell(pruneTiles(tiles, index, cfg))
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
        val cirWithCell = withCell(pruneTiles(cir, index, cfg))
          .select(col("cell"), col("bytes").as("cir_bytes"))
          .where(col("cell").isNotNull)
        rgbWithCell.join(cirWithCell, Seq("cell"), "left_outer")
      case None => rgbWithCell.withColumn("cir_bytes", lit(null).cast("binary"))
    }

    // the formulation the index chose. The map-side lookup is an
    // executor-shared Broadcast built ONCE per index lifetime
    // (index.broadcastLookup) — a BroadcastHashJoin would rebuild its
    // HashedRelation per query / per streaming micro-batch; an uncovered
    // cell yields an empty fragment array, i.e. inner-join semantics.
    val lookup = index.usesLookup
    val matched = if (lookup) tilesWithCell else tilesWithCell.join(index.joinSide, Seq("cell"))
    matched.select(explode(ec(ScoreFragments(ee(col("cell")), ee(col("bytes")), ee(col("cir_bytes")),
        ee(if (lookup) lit(null).cast("array<binary>") else col("blobs")),
        cfg.tileSize, cfg.kernelNames, yDown = index.webMercatorZoom.nonEmpty,
        metrics = cfg.metrics, lookup = Option.when(lookup)(index.broadcastLookup)))).as("s"))
      .select(col("s.gid").as("gid"), col("s.npix").as("npix"), col("s.veg").as("veg"))
  }

  /** Writes one partial-sum unit — a [[Checkpoint]] group or a
    * streaming micro-batch — of `tiles`: its [[fragmentSums]] at
    * `<outDir>/<unit>`. The write overwrites, so re-running a unit is
    * idempotent; callers commit (manifest line, batch id) after this
    * returns. */
  def writePartialUnit(spark: SparkSession, index: PolyIndex, tiles: DataFrame, cfg: Config,
                       outDir: String, unit: String): Unit =
    fragmentSums(spark, index, tiles, cfg).write.mode("overwrite").parquet(s"$outDir/$unit")

  /** Final per-garden fractions (without uprn and sort_key) over the
    * units matching `unitGlob` (e.g. `group=*`) that [[writePartialUnit]]
    * wrote under `outDir`: their sums re-aggregate and
    * [[fractionsFromSums]] zero-fills once. Reads partials only, no tile;
    * other entries of `outDir`, such as the `cells` directory older
    * layouts wrote, are ignored. Fails when no unit matches. */
  def fractionsFromUnits(spark: SparkSession, index: PolyIndex, cfg: Config,
                         outDir: String, unitGlob: String): DataFrame = {
    // concrete paths: the reader logs a WARN with a stack trace for a
    // glob while it looks for a streaming-sink metadata directory
    val pattern = new org.apache.hadoop.fs.Path(outDir, unitGlob)
    val units = Option(pattern.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(pattern)).toSeq.flatten.filter(_.isDirectory).map(_.getPath.toString)
    require(units.nonEmpty, s"no partial-sum unit matches $pattern")
    val sums = spark.read.parquet(units: _*).groupBy("gid").agg(sum("npix").as("npix"),
      cfg.kernelNames.indices.map(i => sum(col(s"veg_$i")).as(s"veg_$i")): _*)
    fractionsFromSums(index, sums, cfg).drop("uprn", "sort_key")
  }

  /** Garden metadata ⋈ raw sums -> the per-garden result frame
    * (gid, id, uprn, cx, cy, area_m2, sort_key, npix, frac_<kernel>...).
    * With handleMissingTiles, zero-fill happens here as long arithmetic
    * on the scored sums: npix = npix_total and
    * veg_i = Σveg_i + onBlack_i × (npix_total − Σnpix) — the totals of
    * scoring each uncovered cell against a null raster, without reading
    * the tile table again. */
  def fractionsFromSums(index: PolyIndex, sums: DataFrame, cfg: Config): DataFrame = {
    // a merge join: the meta side's shuffle runs beside the scoring
    // stages, where a broadcast of the sums would wait for them
    val meta = index.prepared
      .select("gid", "id", "uprn", "cx", "cy", "area_m2", "sort_key", "npix_total")
      .hint("merge")
    val joined = meta.join(sums, Seq("gid"), "left_outer")
    val missing = if (cfg.handleMissingTiles) missingPixels else lit(0L)
    val npix = coalesce(col("npix"), lit(0L)) + missing
    val fracCols = cfg.kernelNames.zip(onBlack(cfg)).zipWithIndex.map { case ((name, b), i) =>
      val veg = coalesce(col(s"veg_$i"), lit(0L)) + lit(b) * missing
      when(npix === 0L, lit(0.0)).otherwise(veg.cast("double") / npix.cast("double"))
        .as(s"frac_$name")
    }
    joined.select(
      Seq(col("gid"), col("id"), col("uprn"), col("cx"), col("cy"),
        col("area_m2"), col("sort_key"), npix.as("npix")) ++ fracCols: _*)
  }

  /** The pixels of a garden's mask that no scored tile row covered — the
    * mosaic regions the reference zero-fills (image_loaders.py:239) — on
    * a row with the garden's `id`, `npix_total` and scored `npix` sum
    * (null when nothing was scored). More scored pixels than the mask
    * holds mean a cell was scored twice, which no arithmetic undoes: that
    * fails, naming the garden. */
  private def missingPixels: Column = {
    val scored = coalesce(col("npix"), lit(0L))
    // raise_error is null-typed; the coalesce keeps the column non-nullable
    coalesce(
      when(scored > col("npix_total"), raise_error(concat(lit("garden "), col("id"),
        lit(" scored "), scored.cast("string"), lit(" pixels, more than its mask's "),
        col("npix_total").cast("string"), lit(": a tile cell was scored twice " +
          "(duplicate tile rows, or an alias id merged into its canonical tile)")))),
      col("npix_total") - scored)
  }

  /** Each kernel's count for one zero-filled (black) pixel. */
  private def onBlack(cfg: Config): Seq[Long] = cfg.kernelNames.map(Kernels.all(_).onBlack.toLong)

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
