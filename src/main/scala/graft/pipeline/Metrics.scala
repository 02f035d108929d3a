package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.{CollectionAccumulator, LongAccumulator}

/** Decoded-tile / fragment metrics (the engine's analogue of the
  * reference's cache request/hit/miss counters and statistics_report,
  * image_loaders.py:44-45,160-184,305-329 — per BASELINE's
  * "per-partition lineage + decoded-tile metrics").
  *
  * Spark accumulators: serialized into the scoring expression, merged
  * back per task — correct on a real multi-executor cluster, not just
  * local mode.
  *
  * `missingTileFragments` counts fragments scored against a tile row
  * whose bytes are null or empty. Tiles absent from the table are
  * zero-filled by arithmetic on the garden's mask total, without a
  * fragment, so they do not count.
  *
  * `warnings` carries per-tile warning MESSAGES from executors (S10 —
  * the reference appends text like resize mismatches to its warnings
  * list, image_loaders.py:222-224, and writes them to
  * <loader>-warnings.txt). Read via [[warningMessages]], which sorts and
  * deduplicates: a stage retry may re-add the same message, and the
  * reference's single-threaded append order has no distributed analogue. */
final case class PipelineMetrics(tilesDecoded: LongAccumulator,
                                 fragmentsScored: LongAccumulator,
                                 missingTileFragments: LongAccumulator,
                                 warnings: CollectionAccumulator[String])
    extends Serializable {

  def warn(message: String): Unit = warnings.add(message)

  def warningMessages: Seq[String] =
    warnings.value.asScala.toSeq.distinct.sorted

  /** One-line usage report (reference report_usage/statistics_report). */
  def report: String =
    s"Tiles decoded: ${tilesDecoded.value}; fragments scored: ${fragmentsScored.value};" +
      s" missing-tile fragments: ${missingTileFragments.value};" +
      s" warnings: ${warnings.value.size()}"
}

object PipelineMetrics {
  def create(spark: SparkSession): PipelineMetrics = PipelineMetrics(
    spark.sparkContext.longAccumulator("graft.tilesDecoded"),
    spark.sparkContext.longAccumulator("graft.fragmentsScored"),
    spark.sparkContext.longAccumulator("graft.missingTileFragments"),
    spark.sparkContext.collectionAccumulator[String]("graft.warnings"))
}
