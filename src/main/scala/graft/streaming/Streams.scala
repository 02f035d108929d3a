package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.VegPipeline

/** Structured-Streaming surface. The reference is batch-only (its
  * work-queue is the closest analogue, scripts/bulk_analyse.py) — the
  * engine exposes the tile-scoring stage as an incremental streaming
  * pipeline (stateless map + idempotent per-batch commit) plus a
  * windowed-aggregation path over event streams. */
object Streams extends Serializable {

  /** Incremental tile scoring: tiles arriving in a parquet directory are
    * scored per micro-batch against a caller-built garden index (the
    * same [[VegPipeline.PolyIndex]] a batch or [[graft.pipeline.Checkpoint]]
    * job scores against; built once per job). Each batch is one
    * partial-sum unit ([[VegPipeline.writePartialUnit]]) written
    * idempotently by batch id before the batch commits. Final fractions
    * re-aggregate all batch outputs — the same distributive algebra that
    * makes the batch pipeline mosaic-free makes the streaming pipeline
    * incremental. */
  def startTileScoring(spark: SparkSession, tilesDir: String, tileSchemaSource: DataFrame,
                       index: VegPipeline.PolyIndex, cfg: VegPipeline.Config, outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.schema(tileSchemaSource.schema).parquet(tilesDir)
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        VegPipeline.writePartialUnit(spark, index, batch, cfg, outDir, s"batch=$batchId")
      }
      .start()

  /** Final per-garden fractions from the accumulated streaming partials.
    * With cfg.handleMissingTiles (the batch default), each garden's mask
    * pixels that no batch scored are zero-filled here, once — the batch
    * path's semantics. Batches keep no cell set, so this reads no tile,
    * and output directories of older layouts, which also hold a `cells`
    * directory of cell sets, finalize as they are. */
  def fractionsFromPartials(spark: SparkSession, outDir: String, index: VegPipeline.PolyIndex,
                            cfg: VegPipeline.Config): DataFrame =
    VegPipeline.fractionsFromUnits(spark, index, cfg, outDir, "batch=*")

  /** The file streaming source requires a directory; stage single files. */
  private def stageDir(path: String): String = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isDirectory(p)) path
    else {
      val d = java.nio.file.Files.createTempDirectory("graft_stream_src")
      java.nio.file.Files.copy(p, d.resolve(p.getFileName))
      d.toString
    }
  }

  /** Runs a streaming query over the parquet events at `eventsPath` to
    * completion into the memory sink `sinkName` and returns the sink
    * table. `query` builds the streaming frame from a reader of the event
    * stream (called once per stream side it needs); `maxFilesPerTrigger`
    * forces that many files per micro-batch. */
  private def runOverEvents(spark: SparkSession, eventsPath: String, sinkName: String,
                            outputMode: String, maxFilesPerTrigger: Option[Int] = None)
                           (query: (() => DataFrame) => DataFrame): DataFrame = {
    val schema = spark.read.parquet(eventsPath).schema
    val srcDir = stageDir(eventsPath)
    val events = () => {
      val reader = spark.readStream.schema(schema)
      maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toLong))
        .parquet(srcDir)
    }
    // the memory sink holds the result, so the staged copy can go
    try {
      val q = query(events).writeStream.outputMode(outputMode)
        .format("memory").queryName(sinkName).start()
      try q.processAllAvailable() finally q.stop()
    } finally if (srcDir != eventsPath) FileUtils.deleteDirectory(new java.io.File(srcDir))
    spark.table(sinkName)
  }

  /** Windowed streaming aggregation over an event stream (hourly windows,
    * per type), run to completion on a static parquet dir — the canonical
    * readStream -> window -> memory-sink pattern. */
  def hourlyEventCounts(spark: SparkSession, eventsPath: String): DataFrame =
    runOverEvents(spark, eventsPath, "graft_hourly_events", "complete") { events =>
      events()
        .withColumn("ts", col("ts").cast("timestamp")) // NTZ parquet -> event time
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    }.select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** Streaming HyperLogLog register maintenance: the sketch state
    * (group, bucket) → max(rho) is associative, commutative AND
    * idempotent, so the streaming stateful aggregation converges to
    * EXACTLY the batch register table regardless of micro-batch
    * boundaries, retries or arrival order — the re-aggregatable-sketch
    * contract (q81/q87/q93) carried into Structured Streaming. Ingest is
    * forced to one file per micro-batch (maxFilesPerTrigger=1) so the
    * cross-batch state merge genuinely runs; state is bounded by
    * |groups|·m registers however long the stream. Complete-mode memory
    * sink on a static dir, like [[hourlyEventCounts]]. */
  def hllRegisters(spark: SparkSession, eventsPath: String,
                   groupCol: String = "event_type",
                   keyCol: String = "user_id"): DataFrame =
    runOverEvents(spark, eventsPath, "graft_hll_registers", "complete",
        maxFilesPerTrigger = Some(1)) { events =>
      graft.functions.Hll.rhoFrame(events(), groupCol, keyCol)
        .groupBy(groupCol, "bucket")
        .agg(max("rho").as("r"))
    }

  /** Streaming exact deduplication: watermarked `dropDuplicates` over a
    * key projection — the streaming-INGEST half of the exact-dedup
    * operator family (q11 is the batch half). State holds one entry per
    * key and EVICTS keys older than the watermark, so memory is bounded
    * by the dedup horizon, not the stream length — the shape that
    * ingests a 100 TB/day event firehose without unbounded state. The
    * projection keeps ONLY the key columns (with the hour-truncated
    * event time itself a key member), so the surviving row is
    * arrival-order-INDEPENDENT and the output equals batch
    * `SELECT DISTINCT` exactly (the o56 oracle). Append-mode sink:
    * rows emit once their key can no longer receive duplicates. */
  def dedupedEventKeys(spark: SparkSession, eventsPath: String): DataFrame =
    runOverEvents(spark, eventsPath, "graft_dedup_events", "append") { events =>
      events()
        .select(col("user_id"), col("event_type"),
          date_trunc("hour", col("ts").cast("timestamp")).as("hr"))
        .withWatermark("hr", "1 hour")
        .dropDuplicates()
    }.orderBy("user_id", "event_type", "hr")

  /** Stream-stream interval join (the last Structured-Streaming join
    * shape): attribute each click to the views of the SAME user in the
    * preceding hour. Both sides carry event-time watermarks and the join
    * condition bounds the time range, so Spark can size and EVICT the
    * per-side join state — without the range bound the state would grow
    * with the stream. Inner join in append mode emits a pair exactly
    * once; the result set is arrival-order-independent, so it equals the
    * batch interval self-join (o59) exactly. */
  def attributedClicks(spark: SparkSession, eventsPath: String): DataFrame =
    runOverEvents(spark, eventsPath, "graft_attributed_clicks", "append") { events =>
      def side(tpe: String, p: String) =
        events()
          .where(col("event_type") === tpe)
          .select(col("user_id").as(s"user_$p"), col("event_id").as(s"${p}_id"),
            col("ts").cast("timestamp").as(s"${p}_ts"))
          .withWatermark(s"${p}_ts", "1 hour")
      side("view", "view").join(side("click", "click"),
        expr("""user_view = user_click AND
                click_ts >= view_ts AND click_ts <= view_ts + interval 1 hour"""))
    }.select(col("user_view").as("user_id"), col("view_id"), col("click_id"))
      .orderBy("user_id", "view_id", "click_id")

  /** Stream-STATIC enrichment join (the dimension-lookup shape of every
    * streaming ingest: events arrive, reference data sits in a table):
    * the event stream inner-joins a static user→segment dimension —
    * Spark plans it as a per-micro-batch broadcast hash join, no join
    * state at all (unlike stream-stream, nothing must wait for the other
    * side) — then rolls up watermarked hourly windows per segment.
    * Complete-mode memory sink run to completion on a static dir, so the
    * result equals the batch join+groupBy exactly (the o73 oracle).
    * Users without a dimension row drop (inner semantics), pinned by the
    * unit test. */
  def segmentHourlyCounts(spark: SparkSession, eventsPath: String,
                          customerPath: String): DataFrame = {
    val dim = spark.read.parquet(customerPath)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    runOverEvents(spark, eventsPath, "graft_segment_hourly", "complete") { events =>
      events()
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .join(broadcast(dim), Seq("user_id"))
        .groupBy(window(col("ts"), "1 hour"), col("segment"))
        .agg(count(lit(1)).as("n"),
          sum((col("event_type") === "error").cast("long")).as("n_errors"))
    }.select(col("window.start").as("win_start"), col("segment"), col("n"), col("n_errors"))
      .orderBy("win_start", "segment")
  }

  /** Per-user streaming sessionization via the DECLARATIVE session
    * window (gap-merged event-time sessions): two events share a session
    * iff their gap is strictly under `gap`; session end = last event +
    * gap (Spark's session_window semantics — the gap-and-islands SQL
    * oracle, o40, reproduces both conventions exactly). Complete-mode
    * memory sink run to completion on a static dir, like
    * [[hourlyEventCounts]]. */
  def userSessions(spark: SparkSession, eventsPath: String,
                   gap: String = "4 hours"): DataFrame =
    runOverEvents(spark, eventsPath, "graft_user_sessions", "complete") { events =>
      events()
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), gap))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    }.select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"), col("sum_value"))
      .orderBy("user_id", "session_start")
}
