package graft.pipeline

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint-resumable execution of the flagship scoring over an
  * arbitrarily large tile table (the engine's replacement for the
  * reference's atomic-rename work queue + sift + recombine,
  * scripts/bulk_analyse.py / bulk_sift_incomplete.py / bulk_recombine.py).
  *
  * The tile table is bucketed by the hash of its tile cell, under the
  * index's tile naming (`PolyIndex.webMercatorZoom`), into `buckets`
  * units of work, processed `groupSize` buckets per Spark job. Each group is one
  * partial-sum unit ([[VegPipeline.writePartialUnit]]: sums at
  * `group=<g>`), and the group appends a manifest line after it commits,
  * so a crashed run resumes by anti-joining the manifest — per-partition
  * lineage, idempotent (re-running a group overwrites its own output
  * only). Partials carry RAW LONG (gid, npix, veg_i) sums — pure long
  * adds re-aggregate bit-exactly, never round-tripping a double — and
  * gid is xxhash64(feature id), so partials written before a crash join
  * correctly against an index rebuilt by a fresh session.
  *
  * The final fractions re-aggregate all partials, then zero-fill once
  * (the reference's missing-tile semantics, image_loaders.py:239): each
  * garden's mask pixels that no group scored count as black. No cell set
  * is kept, so finalization reads no tile — the tile table may change or
  * go once all groups have run — and directories written by older
  * layouts, which also hold a `cells` directory of cell sets, finalize
  * as they are.
  */
object Checkpoint {

  private def manifestPath(outDir: String) = Paths.get(outDir, "_manifest")

  def completedGroups(outDir: String): Set[Int] = {
    val p = manifestPath(outDir)
    if (!Files.exists(p)) Set.empty
    else Files.readAllLines(p).toArray.map(_.toString.trim).filter(_.nonEmpty).map(_.toInt).toSet
  }

  /** Score tiles in resumable groups; returns the number of groups run
    * this invocation. `maxGroups` limits work per call (used to simulate
    * interruption in tests; production passes Int.MaxValue). */
  def runGroups(spark: SparkSession, index: VegPipeline.PolyIndex, tiles: DataFrame,
                cfg: VegPipeline.Config, outDir: String,
                buckets: Int = 64, groupSize: Int = 8,
                maxGroups: Int = Int.MaxValue): Int = {
    Files.createDirectories(Paths.get(outDir))
    val done = completedGroups(outDir)
    val nGroups = (buckets + groupSize - 1) / groupSize
    val pending = (0 until nGroups).filterNot(done)
    val toRun = pending.take(maxGroups)

    // the bucket key is the tile cell under the index's tile naming;
    // scoring takes the `cell` column as it is
    val tilesWithBucket = tiles
      .withColumn("cell", VegPipeline.keyToCell(index.webMercatorZoom)(col("image_id")))
      .where(col("cell").isNotNull)
      .withColumn("bucket", pmod(hash(col("cell")), lit(buckets)))

    toRun.foreach { g =>
      val lo = g * groupSize
      val hi = math.min(lo + groupSize, buckets)
      val part = tilesWithBucket.where(col("bucket") >= lo && col("bucket") < hi)
        .drop("bucket")
      VegPipeline.writePartialUnit(spark, index, part, cfg, outDir, s"group=$g")
      // commit marker AFTER the data is durably written
      Files.writeString(manifestPath(outDir), s"$g\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    toRun.size
  }

  /** Final per-garden fractions across all committed groups, zero-filled
    * once. */
  def fractions(spark: SparkSession, index: VegPipeline.PolyIndex,
                cfg: VegPipeline.Config, outDir: String): DataFrame =
    VegPipeline.fractionsFromUnits(spark, index, cfg, outDir, "group=*")
}
