package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.geo.TileCode
import graft.index.ZIndex
import graft.pipeline.{GeoJson, PipelineMetrics, Reports, VegPipeline}

/** What a traced op needs: the span store, the stage listener, the op id
  * and the engine's own counters. `layer` wraps one public call in a span
  * and a job group of the same name. */
final class OpTrace(val spark: SparkSession, val spans: Spans, val listener: StageListener,
                    val opId: String, val metrics: PipelineMetrics) {
  val layers = scala.collection.mutable.ArrayBuffer[String]()
  /** id of the op's root span, parent of its layer spans */
  var root = 0
  /** the engine's tiles decoded, fragments scored and missing fragments */
  var counts: Seq[Long] = Nil

  def run[A](f: => A): A = {
    Seq(metrics.tilesDecoded, metrics.fragmentsScored, metrics.missingTileFragments).foreach(_.reset())
    try spans(0, opId, "op") { id => root = id; f }
    finally counts = Seq(metrics.tilesDecoded, metrics.fragmentsScored, metrics.missingTileFragments)
      .map(_.value.longValue)
  }
  def layer[A](name: String)(f: => A): A = {
    layers += name
    spark.sparkContext.setJobGroup(s"$opId/$name", name, interruptOnCancel = false)
    try spans(root, opId, name)(_ => f)
    finally spark.sparkContext.clearJobGroup()
  }
  def spanS(name: String): Double =
    spans.toSeq.filter(s => s.op == opId && s.name == name).map(_.durNs).sum / 1e9
  def group(name: String): (Int, StageSums) = listener.group(spark.sparkContext, s"$opId/$name")
}

/** Timings of one index set-up: build (+ materialize), broadcast, predicate. */
final case class IndexSetup(buildS: Double, broadcastS: Double, predicateS: Double) {
  def totalS: Double = buildS + broadcastS + predicateS
}

/** One benchmark workload: its inputs, its index set-up, one op (one user
  * job the caller waits for) and the replay of that op's per-tile work. */
abstract class Workload(val spark: SparkSession, val ts: Int, val nGardens: Int) {
  def cfg: VegPipeline.Config
  /** Gardens as the user hands them to the engine. */
  def readGardens(): DataFrame
  def tiles(): DataFrame
  def cirTiles(): Option[DataFrame]

  /** The index the workload's ops score against (set-up builds it). */
  var index: VegPipeline.PolyIndex = _

  /** Builds (and materializes) the index, its broadcast lookup and its
    * scan predicate, replacing the previous one. */
  def setUp(): IndexSetup = {
    if (index != null) Workload.release(index)
    val t0 = System.nanoTime()
    index = VegPipeline.buildIndex(spark, readGardens(), ts)
    index.cellPolys.count() // materializes both persisted sides
    val t1 = System.nanoTime()
    index.broadcastEstimateBytes
    index.broadcastLookup
    val t2 = System.nanoTime()
    VegPipeline.tileIdPredicate(index, cfg)
    val t3 = System.nanoTime()
    IndexSetup((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
  }

  /** rows, Σnpix and Σveg per kernel of a per-garden result (veg is
    * recovered exactly from frac × npix). */
  def aggFingerprint(perGarden: DataFrame): String = {
    val vegs = cfg.kernelNames.map(k => sum(round(col(s"frac_$k") * col("npix")).cast("long")))
    val r = perGarden.agg(count(lit(1)), (sum(col("npix")) +: vegs): _*).collect()(0)
    s"rows=${r.getLong(0)} npix=${r.getLong(1)} veg=${(2 until r.length).map(r.getLong).mkString(",")}"
  }

  def replayFingerprint(r: ReplaySums): String =
    s"rows=$nGardens npix=${r.npix} veg=${r.veg.mkString(",")}"

  /** The pipeline's fingerprint on the set-up index, compared with the replay. */
  def pipelineFingerprint(): String =
    aggFingerprint(VegPipeline.scoreAgainst(spark, index, tiles(), cfg, cirTiles()))

  /** Runs one op and returns its output fingerprint. */
  def op(trace: Option[OpTrace]): String

  /** The op's pruned tile rows (plus zero-fill cells) for the replay. */
  def replayTiles(): Seq[TileIn] = {
    def rows(df: DataFrame): Array[(String, Array[Byte])] =
      VegPipeline.pruneTiles(df, index, cfg).select("image_id", "bytes").collect()
        .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    val cir = cirTiles().map(df => rows(df).toMap)
    val present = rows(tiles()).flatMap { case (id, bytes) =>
      Option(TileCode.toEastingsNorthings(id)).map { case (e, n) =>
        TileIn(ZIndex.cellId(e, n), bytes, cir.flatMap(_.get(id)).orNull)
      }
    }
    val zeroFill =
      if (!cfg.handleMissingTiles) Nil
      else {
        val have = present.map(_.cell).toSet
        index.broadcastLookup.value.keySet.asScala.toSeq.map(_.longValue)
          .filterNot(have).sorted.map(TileIn(_, null, null))
      }
    present.toSeq ++ zeroFill
  }
}

object Workload {
  val Crs27700 = "urn:ogc:def:crs:EPSG::27700"
  val RgbKernels = Seq("greenleaf", "hsv")

  def release(idx: VegPipeline.PolyIndex): Unit = {
    idx.broadcastLookup.destroy()
    idx.prepared.unpersist()
    idx.cellPolys.unpersist()
  }

  def apply(name: String, spark: SparkSession, cache: InputCache, sz: Sizes, seed: Long,
            work: File): Workload = name match {
    case "rgb_sparse" =>
      new SparseJob(spark, sz.ts, sz.rgbGardens, cache.gardens(sz.rgbGardens, sz.rgbW, sz.rgbH, seed),
        cache.rgbTiles(sz.rgbW, sz.rgbH, sz.ts))
    case "dense_job" =>
      new DenseJob(spark, sz.ts, sz.denseGardens,
        cache.gardensGeoJsonl(sz.denseGardens, sz.denseW, sz.denseH, seed),
        cache.tilesWithout(sz.denseW, sz.denseH, sz.ts, seed),
        cache.cirTiles(sz.denseW, sz.denseH, sz.ts), new File(work, "reports"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** rgb_sparse: the index is built once in set-up; each op scores the whole
  * RGB tile table against it and collects the aggregate. */
final class SparseJob(spark: SparkSession, ts: Int, nGardens: Int, gardensPath: String,
                      tilesPath: String) extends Workload(spark, ts, nGardens) {
  val cfg = VegPipeline.Config(tileSize = ts, kernelNames = Workload.RgbKernels,
    handleMissingTiles = false)
  def readGardens(): DataFrame = spark.read.parquet(gardensPath)
  def tiles(): DataFrame = spark.read.parquet(tilesPath)
  def cirTiles(): Option[DataFrame] = None

  def op(trace: Option[OpTrace]): String = trace match {
    case None => pipelineFingerprint()
    case Some(t) =>
      val c = cfg.copy(metrics = Some(t.metrics))
      t.layer("prune.predicate")(VegPipeline.tileIdPredicate(index, c))
      val sums = t.layer("score") {
        val s = VegPipeline.fragmentSums(spark, index, tiles(), c, cirTiles())
          .persist(StorageLevel.MEMORY_ONLY)
        s.count()
        s
      }
      try t.layer("finalize")(aggFingerprint(VegPipeline.fractionsFromSums(index, sums, c)))
      finally sums.unpersist()
  }
}

/** dense_job: a whole user job per op — read the GeoJSONL gardens, build
  * the index, score RGB fused with CIR (IRGB kernels) with missing-tile
  * zero-fill, write the reports. */
final class DenseJob(spark: SparkSession, ts: Int, nGardens: Int, gardensPath: String,
                     tilesPath: String, cirPath: String, reportDir: File)
    extends Workload(spark, ts, nGardens) {
  val cfg = VegPipeline.Config(tileSize = ts, kernelNames = Seq("ndvi-irgb", "matt"))
  def readGardens(): DataFrame = GeoJson.readGardensLines(spark, gardensPath, Workload.Crs27700)
  def tiles(): DataFrame = spark.read.parquet(tilesPath)
  def cirTiles(): Option[DataFrame] = Some(spark.read.parquet(cirPath))

  /** Byte length and SHA-256 of the files Reports.writeAll produced. */
  private def reportFingerprint(): (String, Long) = {
    val md = MessageDigest.getInstance("SHA-256")
    var bytes = 0L
    Option(reportDir.listFiles()).toSeq.flatten.sortBy(_.getName).foreach { f =>
      val b = Files.readAllBytes(f.toPath)
      bytes += b.length
      md.update(f.getName.getBytes("UTF-8")); md.update(b)
    }
    (s"report_bytes=$bytes sha256=${md.digest().map("%02x".format(_)).mkString}", bytes)
  }

  var lastReportBytes = 0L

  def op(trace: Option[OpTrace]): String = {
    Option(reportDir.listFiles()).toSeq.flatten.foreach(_.delete())
    reportDir.mkdirs()
    val prefix = new File(reportDir, "garden").getPath
    trace match {
      case None =>
        val idx = VegPipeline.buildIndex(spark, readGardens(), ts)
        try Reports.writeAll(VegPipeline.scoreAgainst(spark, idx, tiles(), cfg, cirTiles()), cfg.kernelNames,
          "bench", prefix, Workload.Crs27700)
        finally Workload.release(idx)
      case Some(t) =>
        val c = cfg.copy(metrics = Some(t.metrics))
        val gardens = t.layer("geojson.ingest") {
          val g = readGardens().persist(StorageLevel.MEMORY_ONLY)
          g.count()
          g
        }
        val idx = t.layer("index.build") {
          val i = VegPipeline.buildIndex(spark, gardens, ts)
          i.cellPolys.count()
          i
        }
        try {
          t.layer("index.broadcast") { idx.broadcastEstimateBytes; idx.broadcastLookup }
          t.layer("prune.predicate")(VegPipeline.tileIdPredicate(idx, c))
          val sums = t.layer("score") {
            val s = VegPipeline.fragmentSums(spark, idx, tiles(), c, cirTiles())
              .persist(StorageLevel.MEMORY_ONLY)
            s.count()
            s
          }
          val res = t.layer("finalize") {
            val r = VegPipeline.fractionsFromSums(idx, sums, c).persist(StorageLevel.MEMORY_ONLY)
            r.count()
            r
          }
          t.layer("reports.write")(Reports.writeAll(res, c.kernelNames, "bench", prefix, Workload.Crs27700))
          res.unpersist(); sums.unpersist()
        } finally { Workload.release(idx); gardens.unpersist() }
    }
    val (fp, bytes) = reportFingerprint()
    lastReportBytes = bytes
    fp
  }
}
