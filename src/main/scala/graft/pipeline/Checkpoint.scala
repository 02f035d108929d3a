package graft.pipeline

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint-resumable execution of the flagship scoring over an
  * arbitrarily large tile table (the engine's replacement for the
  * reference's atomic-rename work queue + sift + recombine,
  * scripts/bulk_analyse.py / bulk_sift_incomplete.py / bulk_recombine.py).
  *
  * The tile table is bucketed by cell hash into `buckets` units of work,
  * processed `groupSize` buckets per Spark job. Each completed group
  * appends a manifest line after its partial-sum parquet commits, so a
  * crashed run resumes by anti-joining the manifest — per-partition
  * lineage, idempotent (re-running a group overwrites its own output
  * only). Partials carry RAW LONG (gid, npix, veg_i) sums — pure long
  * adds re-aggregate bit-exactly, never round-tripping a double — and
  * gid is xxhash64(feature id), so partials written before a crash join
  * correctly against an index rebuilt by a fresh session.
  *
  * The final fractions re-aggregate all partials plus, once, the
  * zero-fill fragments for covered cells absent from the ENTIRE tile
  * table (the reference's missing-tile semantics, image_loaders.py:239)
  * — per-group runs must not each zero-fill, a cell missing from one
  * group's bucket range is usually present in another's.
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

    val tilesWithBucket = tiles
      .withColumn("cell0", VegPipeline.keyToCell(cfg.webMercatorZoom)(col("image_id")))
      .where(col("cell0").isNotNull)
      .withColumn("bucket", pmod(hash(col("cell0")), lit(buckets)))

    toRun.foreach { g =>
      val lo = g * groupSize
      val hi = math.min(lo + groupSize, buckets)
      val part = tilesWithBucket.where(col("bucket") >= lo && col("bucket") < hi)
        .drop("cell0", "bucket")
      VegPipeline.fragmentSums(spark, index, part,
          cfg.copy(handleMissingTiles = false))
        .write.mode("overwrite").parquet(s"$outDir/group=$g")
      // commit marker AFTER the data is durably written
      Files.writeString(manifestPath(outDir), s"$g\n",
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }
    toRun.size
  }

  /** Final per-garden fractions across all committed groups, plus the
    * once-only missing-tile zero-fill pass against the full tile table
    * (`tiles` must be the same table the groups partitioned). */
  def fractions(spark: SparkSession, index: VegPipeline.PolyIndex, tiles: DataFrame,
                cfg: VegPipeline.Config, outDir: String): DataFrame =
    // zero-fill against the SAME pruned tile set each group scored
    // (fragmentSums prunes internally): a parseable-but-non-canonical id
    // dropped by the covering-range predicate must count as a missing
    // tile here, not vanish from both passes
    VegPipeline.fractionsFromPartials(index, spark.read.parquet(s"$outDir/group=*"),
      VegPipeline.presentCells(VegPipeline.pruneTiles(tiles, index, cfg), cfg), cfg)
}
