package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

import graft.pipeline.PipelineMetrics

/** The benchmark's JVM side. One run = one workload at one seed, closed
  * loop: a single caller submits one op (one user job) at a time at
  * local[nproc] and waits for it.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --size full|tiny
  *        --data DIR --work DIR --out FILE
  *
  * Writes one JSON document to --out: host, set-up and input timings, the
  * reference and replay fingerprints, every op's wall time and check,
  * and with --trace 1 the per-layer table (spans go to --out's sibling
  * trace file). The Python front end (run.py) turns it into metrics. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        size: Sizes, data: File, work: File, out: File)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Sizes(m.getOrElse("size", "full")), new File(need("data")), new File(need("work")),
      new File(need("out")))
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(s.size / 2) }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  final case class Op(phase: String, seconds: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val nproc = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getPath)
      // image-table reader settings, as the engine's own bench uses: the
      // default 4096-row columnar batch holds ~60 MB of tile bytes per task
      .config("spark.sql.parquet.columnarReaderBatchSize", "128")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val result = LinkedHashMap[String, Any]()
    try run(o, spark, nproc, sessionS, result)
    finally spark.stop()
    result("peak_rss_mb") = peakRssMb()
    o.out.getParentFile.mkdirs()
    Files.write(o.out.toPath, Json(result).getBytes("UTF-8"))
  }

  private def run(o: Opts, spark: SparkSession, nproc: Int, sessionS: Double,
                  result: LinkedHashMap[String, Any]): Unit = {
    result("host") = LinkedHashMap(
      "nproc" -> nproc, "master" -> spark.sparkContext.master, "spark_version" -> spark.version,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "java_version" -> System.getProperty("java.version"), "seed" -> o.seed,
      "size" -> o.size.name)
    val failures = ArrayBuffer[String]()
    result("failures") = failures

    // inputs: generated once per (workload, seed, size), checked on reuse
    val cache = new InputCache(o.data, spark)
    val wl = Workload(o.workload, spark, cache, o.size, o.seed, o.work)
    result("inputs") = LinkedHashMap("gen_s" -> cache.genNs / 1e9, "check_s" -> cache.checkNs / 1e9,
      "hashes" -> cache.hashes)

    // set-up: index build, broadcast and prune predicate, three times
    val setups = (1 to 3).map(_ => wl.setUp())
    result("setup") = LinkedHashMap("session_s" -> sessionS,
      "index_s" -> setups.map(_.totalS), "setup_s" -> (sessionS + median(setups.map(_.totalS))))

    // reference fingerprint, cross-checked against the Spark-free replay
    val tr0 = System.nanoTime()
    val tiles = wl.replayTiles()
    val lookup = wl.index.broadcastLookup.value
    val replay = Replay.run(lookup, tiles, wl.ts, wl.cfg.kernelNames, nproc)
    val pipeline = wl.pipelineFingerprint()
    val replayFp = wl.replayFingerprint(replay)
    if (pipeline != replayFp) failures += s"pipeline fingerprint $pipeline != replay $replayFp"
    val reference = wl match {
      case d: DenseJob =>
        // dense ops build their own index; the set-up one is not needed past here
        Workload.release(d.index)
        d.op(None)
      case _ => pipeline
    }
    result("reference") = LinkedHashMap("fingerprint" -> reference, "pipeline" -> pipeline,
      "replay" -> replayFp, "seconds" -> (System.nanoTime() - tr0) / 1e9)
    // gardens scored = gardens with at least one fragment on the op's tiles
    val scored = tiles.flatMap(t => Option(lookup.get(t.cell)).toSeq.flatten)
      .map(b => graft.pipeline.PolyBlob.deserialize(b).gid).distinct.size
    result("work_per_op") = LinkedHashMap("tiles_decoded" -> replay.tilesDecoded,
      "gardens" -> scored, "fragments" -> replay.fragments)

    val ops = ArrayBuffer[Op]()
    def runOp(phase: String, trace: Option[OpTrace]): Unit = {
      val a = System.nanoTime()
      val ok =
        try {
          val fp = trace.fold(wl.op(None))(t => t.run(wl.op(trace)))
          if (fp != reference) failures += s"$phase op fingerprint $fp != reference $reference"
          fp == reference
        } catch { case e: Exception => failures += s"$phase op failed: $e"; false }
      ops += Op(phase, (System.nanoTime() - a) / 1e9, ok)
    }
    def loop(phase: String, seconds: Double, minOps: Int)(trace: Int => Option[OpTrace]): Unit = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      var i = 0
      while (i < minOps || System.nanoTime() < end) { runOp(phase, trace(i)); i += 1 }
    }

    // warm-up (JIT, codegen and scan caches): in a fresh JVM op times fall
    // by a third over the first ~15-20 ops, then level off; then the timed
    // closed loop
    loop("warmup", o.seconds * 0.3, 16)(_ => None)
    loop("timed", if (o.trace) o.seconds / 2 else o.seconds, 1)(_ => None)
    if (o.trace) trace(o, spark, nproc, wl, setups, tiles, lookup, ops, loop, result)
    result("ops") = ops.map(op => LinkedHashMap("phase" -> op.phase, "s" -> op.seconds, "ok" -> op.ok))
  }

  /** The traced half of a --trace 1 run: traced ops (listener, job groups,
    * engine accumulators), then three replays of one op's per-tile work
    * on nproc threads. Fills result("layers") and writes the spans. */
  private def trace(o: Opts, spark: SparkSession, nproc: Int, wl: Workload, setups: Seq[IndexSetup],
                    tiles: Seq[TileIn], lookup: java.util.HashMap[Long, Array[Array[Byte]]],
                    ops: ArrayBuffer[Op], loop: (String, Double, Int) => (Int => Option[OpTrace]) => Unit,
                    result: LinkedHashMap[String, Any]): Unit = {
    val spans = new Spans
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    val pm = PipelineMetrics.create(spark)
    val traced = ArrayBuffer[OpTrace]()
    loop("traced", o.seconds / 2, 1) { i =>
      val t = new OpTrace(spark, spans, listener, s"op$i", pm)
      traced += t
      Some(t)
    }

    val replays = (0 until 3).map { k =>
      if (k == 0) spans(0, "replay", "replay")(id => Replay.run(lookup, tiles, wl.ts, wl.cfg.kernelNames, nproc,
        Some((spans, id, "replay"))))
      else Replay.run(lookup, tiles, wl.ts, wl.cfg.kernelNames, nproc)
    }
    val rep = replays.sortBy(_.coveredNs).apply(1)

    def med(f: OpTrace => Double): Double = median(traced.map(f).toSeq)
    def groups(t: OpTrace, names: Seq[String]): Seq[StageSums] =
      t.layers.distinct.filter(names.contains).map(t.group(_)._2).toSeq
    def all(t: OpTrace): Seq[StageSums] = groups(t, t.layers.distinct.toSeq)
    def scoreSums(t: OpTrace): StageSums = t.group("score")._2
    val dense = wl.isInstanceOf[DenseJob]
    val scoreTaskS = med(t => scoreSums(t).runMs / 1e3)
    val timed = ops.filter(_.phase == "timed").map(_.seconds).toSeq
    val tracedS = ops.filter(_.phase == "traced").map(_.seconds).toSeq
    val ser = {
      val bos = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bos)
      out.writeObject(lookup); out.close()
      bos.size().toDouble
    }
    def per(ns: Long, n: Long, scale: Double): Double = if (n == 0) 0.0 else ns / scale / n
    val decoded = rep.tilesDecoded.toDouble
    val layers = LinkedHashMap[String, (Double, String)](
      "geojson.ingest_s" -> (if (dense) med(_.spanS("geojson.ingest")) else 0.0, "s"),
      "index.build_s" -> (if (dense) med(_.spanS("index.build")) else median(setups.map(_.buildS)), "s"),
      "index.broadcast_s" -> (if (dense) med(_.spanS("index.broadcast")) else median(setups.map(_.broadcastS)), "s"),
      "index.cells" -> (lookup.size.toDouble, "count"),
      "index.broadcast_bytes" -> (ser, "B"),
      "prune.predicate_s" -> (if (dense) med(_.spanS("prune.predicate")) else median(setups.map(_.predicateS)), "s"),
      "scan.rows" -> (med(t => scoreSums(t).inputRecords.toDouble), "count"),
      "scan.bytes" -> (med(t => scoreSums(t).inputBytes.toDouble), "B"),
      "scan.useful_ratio" -> {
        val rows = med(t => scoreSums(t).inputRecords.toDouble)
        (if (rows == 0) 0.0 else decoded / rows, "ratio")
      },
      "polyblob.deserialize_us" -> (per(rep.deserNs, rep.deserCalls, 1e3), "us"),
      "polyblob.calls" -> (rep.deserCalls.toDouble, "count"),
      "codec.decode_us" -> (per(rep.decodeNs, rep.decodeCalls, 1e3), "us"),
      "codec.tiles" -> (decoded, "count"),
      "codec.decode_share" -> (if (scoreTaskS == 0) 0.0 else rep.decodeNs / 1e9 / scoreTaskS, "ratio"),
      "codec.fuse_us" -> (per(rep.fuseNs, rep.fuseTiles, 1e3), "us"),
      "rasterize.mask_us" -> (per(rep.maskNs, rep.maskCalls, 1e3), "us"),
      "rasterize.interior_ratio" -> {
        val n = rep.interior + rep.maskCalls
        (if (n == 0) 0.0 else rep.interior.toDouble / n, "ratio")
      },
      "kernels.classify_ns_per_px" -> (per(math.max(0L, rep.scoreNs - rep.maskNs), rep.pixels, 1.0), "ns/px"),
      "kernels.pixels" -> (rep.pixels.toDouble, "count"),
      "score_s" -> (med(_.spanS("score")), "s"),
      "exchange.shuffle_write_bytes" -> (med(t => groups(t, Seq("score", "finalize")).map(_.shuffleWriteBytes).sum.toDouble), "B"),
      "exchange.shuffle_read_bytes" -> (med(t => groups(t, Seq("score", "finalize")).map(_.shuffleReadBytes).sum.toDouble), "B"),
      "exchange.records" -> (med(t => groups(t, Seq("score", "finalize")).map(_.shuffleWriteRecords).sum.toDouble), "count"),
      "finalize_s" -> (med(_.spanS("finalize")), "s"),
      "reports.write_s" -> (if (dense) med(_.spanS("reports.write")) else 0.0, "s"),
      "reports.bytes" -> (wl match { case d: DenseJob => d.lastReportBytes.toDouble; case _ => 0.0 }, "B"),
      "spark.jobs" -> (med(t => t.layers.distinct.map(t.group(_)._1).sum.toDouble), "count"),
      "spark.tasks" -> (med(t => all(t).map(_.tasks).sum.toDouble), "count"),
      "spark.task_s" -> (med(t => all(t).map(_.runMs).sum / 1e3), "s"),
      "spark.task_skew" -> (med(t => scoreSums(t).skew), "ratio"),
      "spark.gc_s" -> (med(t => all(t).map(_.gcMs).sum / 1e3), "s"),
      "spark.spill_bytes" -> (med(t => all(t).map(_.spillBytes).sum.toDouble), "B"),
      "spark.unattributed_share" -> (if (scoreTaskS == 0) 0.0 else 1.0 - rep.coveredNs / 1e9 / scoreTaskS, "ratio"),
      "replay.covered_s" -> (rep.coveredNs / 1e9, "s"),
      "pipeline.tiles_decoded" -> (med(_.counts(0).toDouble), "count"),
      "pipeline.fragments_scored" -> (med(_.counts(1).toDouble), "count"),
      "pipeline.missing_fragments" -> (med(_.counts(2).toDouble), "count"),
      "trace.overhead_ratio" -> (if (timed.isEmpty) 0.0 else median(tracedS) / median(timed) - 1.0, "ratio"))
    result("layers") = layers.map { case (k, (v, u)) => k -> LinkedHashMap("value" -> v, "unit" -> u) }
    result("replay_largest_layer") = Seq("polyblob.deserialize" -> rep.deserNs, "codec.decode" -> rep.decodeNs,
      "codec.fuse" -> rep.fuseNs, "fragments.mask_and_score" -> rep.scoreNs).maxBy(_._2)._1
    val traceFile = new File(o.out.getParentFile, o.out.getName.stripSuffix(".json") + "-spans.json")
    Files.write(traceFile.toPath, Json(LinkedHashMap("workload" -> o.workload, "seed" -> o.seed,
      "spans" -> spans.toJson)).getBytes("UTF-8"))
    result("spans_file") = traceFile.getPath
  }
}
