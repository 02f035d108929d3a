package graft.streaming

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
    * scored against the (static) prepared garden index per micro-batch;
    * per-batch raw-long (gid, npix, veg_i) partials — plus the batch's
    * distinct cell set — are written idempotently by batch id. Final
    * fractions = re-aggregate over all batch outputs — the same
    * distributive algebra that makes the batch pipeline mosaic-free makes
    * the streaming pipeline incremental. */
  def startTileScoring(spark: SparkSession, tilesDir: String, tileSchemaSource: DataFrame,
                       gardens: DataFrame, cfg: VegPipeline.Config, outDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val index = VegPipeline.buildIndex(spark, gardens, cfg.tileSize, cfg.webMercatorZoom, cfg.grid)
    // per-batch pruning would re-derive the covering predicate each
    // micro-batch for no scan benefit (batches are already small)
    val batchCfg = cfg.copy(handleMissingTiles = false, pruneTileScan = false)

    val stream = spark.readStream.schema(tileSchemaSource.schema).parquet(tilesDir)
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", s"$outDir/_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // idempotent per batch: overwrite both artifacts by batch id
        VegPipeline.fragmentSums(spark, index, batch, batchCfg)
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        VegPipeline.presentCells(batch, batchCfg)
          .write.mode("overwrite").parquet(s"$outDir/cells/batch=$batchId")
        ()
      }
      .start()
  }

  /** Final per-garden fractions from the accumulated streaming partials.
    * With cfg.handleMissingTiles (the batch default), covered cells never
    * seen in ANY batch get the reference's zero-fill fragments here, once
    * — same semantics as the batch path with handleMissingTiles=true. */
  def fractionsFromPartials(spark: SparkSession, outDir: String, gardens: DataFrame,
                            cfg: VegPipeline.Config): DataFrame = {
    val index = VegPipeline.buildIndex(spark, gardens, cfg.tileSize, cfg.webMercatorZoom, cfg.grid)
    VegPipeline.fractionsFromPartials(index, spark.read.parquet(s"$outDir/batch=*"),
      spark.read.parquet(s"$outDir/cells/batch=*").distinct(), cfg)
  }

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

  /** Windowed streaming aggregation over an event stream (hourly windows,
    * per type), run to completion on a static parquet dir — the canonical
    * readStream -> window -> memory-sink pattern. */
  def hourlyEventCounts(spark: SparkSession, eventsPath: String): DataFrame = {
    val static = spark.read.parquet(eventsPath)
    val srcDir = stageDir(eventsPath)
    val stream = spark.readStream.schema(static.schema).parquet(srcDir)
    val agg = stream
      .withColumn("ts", col("ts").cast("timestamp")) // NTZ parquet -> event time
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    val sinkName = "graft_hourly_events"
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(sinkName).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(sinkName)
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")
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
                   keyCol: String = "user_id"): DataFrame = {
    val static = spark.read.parquet(eventsPath)
    val stream = spark.readStream.schema(static.schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir(eventsPath))
    val regs = graft.functions.Hll.rhoFrame(stream, groupCol, keyCol)
      .groupBy(groupCol, "bucket")
      .agg(max("rho").as("r"))
    val sinkName = "graft_hll_registers"
    val q = regs.writeStream.outputMode("complete")
      .format("memory").queryName(sinkName).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(sinkName)
  }

  def dedupedEventKeys(spark: SparkSession, eventsPath: String): DataFrame = {
    val static = spark.read.parquet(eventsPath)
    val stream = spark.readStream.schema(static.schema).parquet(stageDir(eventsPath))
    val dedup = stream
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts").cast("timestamp")).as("hr"))
      .withWatermark("hr", "1 hour")
      .dropDuplicates()
    val sinkName = "graft_dedup_events"
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName(sinkName).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(sinkName).orderBy("user_id", "event_type", "hr")
  }

  /** Stream-stream interval join (the last Structured-Streaming join
    * shape): attribute each click to the views of the SAME user in the
    * preceding hour. Both sides carry event-time watermarks and the join
    * condition bounds the time range, so Spark can size and EVICT the
    * per-side join state — without the range bound the state would grow
    * with the stream. Inner join in append mode emits a pair exactly
    * once; the result set is arrival-order-independent, so it equals the
    * batch interval self-join (o59) exactly. */
  def attributedClicks(spark: SparkSession, eventsPath: String): DataFrame = {
    val static = spark.read.parquet(eventsPath)
    val srcDir = stageDir(eventsPath)
    def side(tpe: String, p: String) =
      spark.readStream.schema(static.schema).parquet(srcDir)
        .where(col("event_type") === tpe)
        .select(col("user_id").as(s"user_$p"), col("event_id").as(s"${p}_id"),
          col("ts").cast("timestamp").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "1 hour")
    val joined = side("view", "view").join(side("click", "click"),
      expr("""user_view = user_click AND
              click_ts >= view_ts AND click_ts <= view_ts + interval 1 hour"""))
    val sinkName = "graft_attributed_clicks"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(sinkName).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(sinkName)
      .select(col("user_view").as("user_id"), col("view_id"), col("click_id"))
      .orderBy("user_id", "view_id", "click_id")
  }

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
    val static = spark.read.parquet(eventsPath)
    val stream = spark.readStream.schema(static.schema).parquet(stageDir(eventsPath))
    val agg = stream
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour"), col("segment"))
      .agg(count(lit(1)).as("n"),
        sum((col("event_type") === "error").cast("long")).as("n_errors"))
    val sinkName = "graft_segment_hourly"
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(sinkName).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(sinkName)
      .select(col("window.start").as("win_start"), col("segment"), col("n"), col("n_errors"))
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
                   gap: String = "4 hours"): DataFrame = {
    val static = spark.read.parquet(eventsPath)
    val stream = spark.readStream.schema(static.schema).parquet(stageDir(eventsPath))
    val agg = stream
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    val sinkName = "graft_user_sessions"
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(sinkName).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(sinkName)
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  // public: Janino-generated serializer code must resolve the accessors
  case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessState(startUs: Long, lastUs: Long, n: Long, sumScaled: Long)
  case class Session(user_id: Long, session_start: java.sql.Timestamp,
                     session_end: java.sql.Timestamp, n: Long, sum_value: Double)

  private def tsToUs(t: java.sql.Timestamp): Long =
    java.lang.Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def usToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(java.lang.Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((java.lang.Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** The same sessionization via CUSTOM state — `KeyValueGroupedDataset.
    * flatMapGroupsWithState` with an event-time timeout: one open-session
    * state per user, sessions closed by a later event emit immediately,
    * the final open session emits when the watermark passes its end
    * (timeout). Unit-tested row-for-row equal to [[userSessions]] — the
    * declarative path is the preferred formulation (Catalyst sees it);
    * this is the template for session logic a built-in window can't
    * express. value sums accumulate as scale-6 scaled longs (exact, the
    * same quantization as the decimal cast on the declarative path).
    * Caller drops parquet files into `srcDir` and calls
    * `processAllAvailable()`; closed sessions append to the memory sink
    * `sinkName`. A timeout only FIRES in a batch after the watermark
    * advances past it, so a final flush needs two sentinel future-dated
    * files (watermark updates at batch end, timeouts fire in the NEXT
    * batch). */
  def userSessionsWithState(spark: SparkSession, srcDir: String,
                            schema: org.apache.spark.sql.types.StructType,
                            gap: String, sinkName: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val gapUs = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(gapUs.months == 0 && gapUs.days == 0, "session gap must be sub-day exact")
    val gapMicros = gapUs.microseconds

    def scaled(v: Double): Long =
      java.math.BigDecimal.valueOf(v).setScale(6, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    def emit(uid: Long, st: SessState): Session =
      Session(uid, usToTs(st.startUs), usToTs(st.lastUs + gapMicros), st.n,
        new java.math.BigDecimal(java.math.BigInteger.valueOf(st.sumScaled), 6).doubleValue())

    val events = spark.readStream.schema(schema).parquet(srcDir)
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
      .withWatermark("ts", "1 hour")
      .as[SessEvent]

    val sessions = events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[SessEvent], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = emit(uid, state.get)
            state.remove()
            Iterator.single(out)
          } else {
            val sorted = evs.toArray.sortBy(e => tsToUs(e.ts))
            val closed = scala.collection.mutable.ArrayBuffer.empty[Session]
            var open = state.getOption
            sorted.foreach { e =>
              val us = tsToUs(e.ts)
              open match {
                case Some(st) if us - st.lastUs < gapMicros =>
                  open = Some(SessState(st.startUs, us, st.n + 1, st.sumScaled + scaled(e.value)))
                case other =>
                  other.foreach(st => closed += emit(uid, st))
                  open = Some(SessState(us, us, 1L, scaled(e.value)))
              }
            }
            open match {
              case Some(st) if st.lastUs + gapMicros <= state.getCurrentWatermarkMs * 1000L =>
                closed += emit(uid, st) // already expired: close now, no timeout
                state.remove()
              case Some(st) =>
                state.update(st)
                state.setTimeoutTimestamp(java.lang.Math.floorDiv(st.lastUs + gapMicros, 1000L))
              case None => // timed-out path handled above; nothing open
            }
            closed.iterator
          }
      }
    sessions.writeStream.outputMode("append")
      .format("memory").queryName(sinkName).start()
  }
}
