package perfbench

import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.geom.Rasterize
import graft.img.{Codec, Raster, Resize}
import graft.index.ZIndex
import graft.kernel.Kernels
import graft.pipeline.PolyBlob

/** One row of an op's pruned tile scan: its cell, RGB bytes and, on the
  * IRGB path, the same cell's CIR bytes (null when absent). A missing tile
  * (zero-filled by the engine) has null bytes. */
final case class TileIn(cell: Long, bytes: Array[Byte], cir: Array[Byte])

/** Counts, sums and per-layer busy time of one replay. Times are summed
  * over the pool's threads, i.e. core time. */
final class ReplaySums(val nK: Int) {
  var npix = 0L
  val veg = new Array[Long](nK)
  var tilesDecoded = 0L
  var fragments = 0L
  var missingFragments = 0L
  var deserNs = 0L
  var deserCalls = 0L
  var decodeNs = 0L
  var decodeCalls = 0L
  var fuseNs = 0L
  var fuseTiles = 0L
  var maskNs = 0L
  var maskCalls = 0L
  var interior = 0L
  var scoreNs = 0L
  var pixels = 0L

  def add(o: ReplaySums): Unit = {
    npix += o.npix
    for (k <- 0 until nK) veg(k) += o.veg(k)
    tilesDecoded += o.tilesDecoded; fragments += o.fragments
    missingFragments += o.missingFragments
    deserNs += o.deserNs; deserCalls += o.deserCalls
    decodeNs += o.decodeNs; decodeCalls += o.decodeCalls
    fuseNs += o.fuseNs; fuseTiles += o.fuseTiles
    maskNs += o.maskNs; maskCalls += o.maskCalls; interior += o.interior
    scoreNs += o.scoreNs; pixels += o.pixels
  }

  /** Core time of the replayed per-tile work (the separately timed mask
    * calls repeat work already inside scoreFragment and are left out). */
  def coveredNs: Long = deserNs + decodeNs + fuseNs + scoreNs
}

/** Spark-free replay, in this JVM, of the engine's per-tile scoring (the
  * body of graft.pipeline.ScoreFragments) through the engine's public
  * per-layer functions, on a thread pool, with no Spark join or aggregate. Its sums
  * are a second path to the pipeline's output fingerprint, and its
  * per-call timings are the per-layer busy times of the traced run. */
object Replay {

  def run(lookup: java.util.HashMap[Long, Array[Array[Byte]]], tiles: Seq[TileIn],
          ts: Int, kernelNames: Seq[String], threads: Int,
          spans: Option[(Spans, Int, String)] = None): ReplaySums = {
    val kernels = kernelNames.map(Kernels.all(_)).toArray
    val irgb = kernels.head.inputFormat == "IRGB"
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val tasks = tiles.map { t =>
        new Callable[ReplaySums] {
          def call(): ReplaySums = spans match {
            case Some((sp, parent, op)) =>
              sp(parent, op, "replay.tile")(id => tile(lookup, t, ts, kernels, irgb, Some((sp, id, op))))
            case None => tile(lookup, t, ts, kernels, irgb, None)
          }
        }
      }
      val out = new ReplaySums(kernels.length)
      pool.invokeAll(tasks.asJava).asScala.foreach(f => out.add(f.get()))
      out
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  private def tile(lookup: java.util.HashMap[Long, Array[Array[Byte]]], t: TileIn, ts: Int,
                   kernels: Array[graft.kernel.IndexKernel], irgb: Boolean,
                   spans: Option[(Spans, Int, String)]): ReplaySums = {
    val s = new ReplaySums(kernels.length)
    val blobs = lookup.get(t.cell)
    if (blobs == null || blobs.isEmpty) return s
    def timed[A](name: String)(f: => A): (A, Long) = {
      val a = System.nanoTime()
      val r = f
      val b = System.nanoTime()
      spans.foreach { case (sp, parent, op) => sp.record(parent, op, name, a, b) }
      (r, b - a)
    }
    val e = ZIndex.cellE(t.cell); val n = ZIndex.cellN(t.cell)
    val (pps, dNs) = timed("polyblob.deserialize")(blobs.map(PolyBlob.deserialize))
    s.deserNs += dNs; s.deserCalls += blobs.length

    var raster: Raster = null
    if (t.bytes != null && t.bytes.nonEmpty) {
      s.tilesDecoded += 1
      val (r, ns) = timed("codec.decode") {
        val r0 = Codec.decodeBGR(t.bytes)
        if (r0.w != ts || r0.h != ts) Resize.bilinear(r0, ts, ts) else r0
      }
      raster = r; s.decodeNs += ns; s.decodeCalls += 1
      if (irgb) {
        val (cir, cNs) = timed("codec.decode") {
          if (t.cir != null && t.cir.nonEmpty) Codec.decodeBGR(t.cir)
          else Raster(new Array[Byte](ts * ts * 3), ts, ts, 3)
        }
        if (t.cir != null && t.cir.nonEmpty) { s.decodeNs += cNs; s.decodeCalls += 1 }
        val (ux0, uy0, ux1, uy1) = fragmentUnion(pps, e, n, ts)
        val (fused, fNs) = timed("codec.fuse")(Codec.fuseBGRIWindow(raster, cir, ux0, uy0, ux1, uy1))
        raster = fused; s.fuseNs += fNs; s.fuseTiles += 1
      }
    }
    s.fragments += pps.length
    if (raster == null) s.missingFragments += pps.length

    val a = System.nanoTime()
    pps.foreach { pp =>
      // the mask alone, as scoreFragment derives it (whole-cell interior
      // windows skip rasterization)
      val tileX0 = e * ts; val tileY0 = n * ts
      val wx0 = math.max(pp.cropX0, tileX0); val wx1 = math.min(pp.cropX1, tileX0 + ts - 1)
      val wy0 = math.max(pp.cropY0, tileY0); val wy1 = math.min(pp.cropY1, tileY0 + ts - 1)
      if (wx0 <= wx1 && wy0 <= wy1) {
        val w = wx1 - wx0 + 1; val h = wy1 - wy0 + 1
        val whole = wx0 == tileX0 && wy0 == tileY0 && w == ts && h == ts
        if (whole && ZIndex.rectFullyCovered(pp.gPix, tileX0, tileY0, tileX0 + ts, tileY0 + ts))
          s.interior += 1
        else {
          val m0 = System.nanoTime()
          Rasterize.maskWindow(pp.gPix, wx0, wy0, w, h)
          s.maskNs += System.nanoTime() - m0
          s.maskCalls += 1
        }
      }
      val f0 = System.nanoTime()
      val (npix, veg) = PolyBlob.scoreFragment(pp, e, n, ts, raster, kernels)
      s.scoreNs += System.nanoTime() - f0
      s.npix += npix
      if (raster != null) s.pixels += npix
      for (k <- veg.indices) s.veg(k) += veg(k)
    }
    val b = System.nanoTime()
    spans.foreach { case (sp, parent, op) => sp.record(parent, op, "fragments.mask_and_score", a, b) }
    s
  }

  /** Union of the fragments' raster windows (tile row/col space), the
    * window the engine upscales the Ir plane over. */
  private def fragmentUnion(pps: Array[PolyBlob.Prepared], e: Int, n: Int, ts: Int): (Int, Int, Int, Int) = {
    val tileX0 = e * ts; val tileY0 = n * ts
    var ux0 = Int.MaxValue; var ux1 = Int.MinValue
    var uy0 = Int.MaxValue; var uy1 = Int.MinValue
    pps.foreach { pp =>
      val wx0 = math.max(pp.cropX0, tileX0); val wx1 = math.min(pp.cropX1, tileX0 + ts - 1)
      val wy0 = math.max(pp.cropY0, tileY0); val wy1 = math.min(pp.cropY1, tileY0 + ts - 1)
      if (wx0 <= wx1 && wy0 <= wy1) {
        ux0 = math.min(ux0, wx0 - tileX0); ux1 = math.max(ux1, wx1 - tileX0)
        uy0 = math.min(uy0, ts - 1 - (wy1 - tileY0)); uy1 = math.max(uy1, ts - 1 - (wy0 - tileY0))
      }
    }
    (ux0, uy0, ux1, uy1)
  }
}
