package graft.media

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.img.{Codec, ColorSpace, Raster, Resize}

/** Multimodal payload support: image/audio/video as opaque binary columns
  * with typed metadata, plus decode / frame-sample / resize /
  * feature-extract operators.
  *
  * The container codecs for real-world formats (mp4/mp3/...) are NOT in
  * this environment — those decode paths are STUBBED: `probe` reports
  * kind="unsupported" and the frame operators return empty results (see
  * [[MediaCodec.sampleFrames]]).
  * Everything else — schema, partitioning, per-row batch shape, PNG frame
  * decode, resize, feature extraction — is real and tested, on a
  * deterministic container format (GRFTVID1/GRFTAUD1).
  */
object MediaCodec {
  val VideoMagic = "GRFTVID1"
  val AudioMagic = "GRFTAUD1"

  final case class VideoMeta(nFrames: Int, w: Int, h: Int, fps: Int)

  def encodeVideo(frames: Seq[Raster], fps: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeBytes(VideoMagic)
    out.writeInt(frames.length)
    out.writeInt(frames.headOption.map(_.w).getOrElse(0))
    out.writeInt(frames.headOption.map(_.h).getOrElse(0))
    out.writeInt(fps)
    frames.foreach { f =>
      val png = Codec.encodePNG(f)
      out.writeInt(png.length)
      out.write(png)
    }
    out.flush()
    bos.toByteArray
  }

  def encodeAudio(samples: Array[Short], rate: Int): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeBytes(AudioMagic)
    out.writeInt(samples.length)
    out.writeInt(rate)
    samples.foreach(out.writeShort(_))
    out.flush()
    bos.toByteArray
  }

  /** PNG signature: 0x89 'P' 'N' 'G' 0x0d 0x0a 0x1a 0x0a. The 0x89 byte is
    * outside ASCII, so the check must be on raw bytes: an ASCII decode maps
    * it to the replacement char and a string comparison never fires. */
  private def isPng(bytes: Array[Byte]): Boolean =
    (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G'

  def magicOf(bytes: Array[Byte]): String =
    if (bytes == null || bytes.length < 8) "unsupported"
    else if (isPng(bytes)) "image"
    else new String(bytes, 0, 8, "ASCII") match {
      case VideoMagic => "video"
      case AudioMagic => "audio"
      case _ => "unsupported"
    }

  def videoMeta(bytes: Array[Byte]): Option[VideoMeta] = {
    if (magicOf(bytes) != "video") return None
    val in = new DataInputStream(new ByteArrayInputStream(bytes, 8, bytes.length - 8))
    Some(VideoMeta(in.readInt(), in.readInt(), in.readInt(), in.readInt()))
  }

  /** Every `stride`-th frame's PNG payload (real for GRFTVID1). A
    * production deployment plugs an external codec (e.g. jcodec/ffmpeg
    * bindings) in for other containers; the engine bundles none, so
    * unsupported containers yield no frames rather than failing the job
    * (corrupt-input tracking mirrors the reference's corrupted-tile
    * lists, generate_coverage.py:95-97). */
  def sampleFrames(bytes: Array[Byte], stride: Int): Seq[Array[Byte]] = {
    if (magicOf(bytes) != "video") return Seq.empty
    val in = new DataInputStream(new ByteArrayInputStream(bytes, 8, bytes.length - 8))
    val n = in.readInt(); in.readInt(); in.readInt(); in.readInt()
    (0 until n).flatMap { i =>
      val len = in.readInt()
      val frame = new Array[Byte](len)
      in.readFully(frame)
      if (i % stride == 0) Some(frame) else None
    }
  }

  /** 11-dim frame feature: BGR channel means + 8-bin grey histogram
    * (normalised) — a deterministic stand-in for a learned embedding. */
  def frameFeatures(png: Array[Byte]): Array[Double] = {
    val r = Codec.decodeBGR(png)
    val n = r.w * r.h
    val sums = new Array[Double](3)
    val hist = new Array[Double](8)
    var i = 0
    while (i < n) {
      val b = r.data(i * 3) & 0xff
      val g = r.data(i * 3 + 1) & 0xff
      val rr = r.data(i * 3 + 2) & 0xff
      sums(0) += b; sums(1) += g; sums(2) += rr
      hist(ColorSpace.bgr2gray(b, g, rr) >> 5) += 1
      i += 1
    }
    Array(sums(0) / n, sums(1) / n, sums(2) / n) ++ hist.map(_ / n)
  }

  /** Audio features per container: RMS + zero-crossing rate. */
  def audioFeatures(bytes: Array[Byte]): Option[(Double, Double)] = {
    if (magicOf(bytes) != "audio") return None
    val in = new DataInputStream(new ByteArrayInputStream(bytes, 8, bytes.length - 8))
    val n = in.readInt(); val _ = in.readInt()
    var sq = 0.0
    var zc = 0
    var prev = 0
    var i = 0
    while (i < n) {
      val s = in.readShort().toInt
      sq += s.toDouble * s
      if (i > 0 && ((s >= 0) != (prev >= 0))) zc += 1
      prev = s
      i += 1
    }
    Some((math.sqrt(sq / math.max(n, 1)), zc.toDouble / math.max(n - 1, 1)))
  }
}

/** probe(bytes) -> struct(kind, n_frames, w, h, fps). */
case class ProbeMedia(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("w", IntegerType, nullable = true),
    StructField("h", IntegerType, nullable = true),
    StructField("fps", IntegerType, nullable = true)))
  override def nullSafeEval(v: Any): Any = {
    val bytes = v.asInstanceOf[Array[Byte]]
    val kind = MediaCodec.magicOf(bytes)
    MediaCodec.videoMeta(bytes) match {
      case Some(m) => InternalRow(UTF8String.fromString(kind), m.nFrames, m.w, m.h, m.fps)
      case None => InternalRow(UTF8String.fromString(kind), null, null, null, null)
    }
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** sample_frames(bytes, stride) -> array<binary> of PNG frames. */
case class SampleFrames(child: Expression, stride: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(BinaryType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(MediaCodec.sampleFrames(v.asInstanceOf[Array[Byte]], stride).toArray[Any])
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** frame_features(png) -> array<double> (11-dim). */
case class FrameFeatures(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(MediaCodec.frameFeatures(v.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** audio_features(bytes) -> struct(rms, zcr); null for non-audio payloads
  * (mirrors the corrupt-input-tolerant decode contract of the other media
  * expressions — a bad row nulls out instead of failing the job). */
case class AudioFeatures(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("rms", DoubleType, nullable = false),
    StructField("zcr", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    MediaCodec.audioFeatures(v.asInstanceOf[Array[Byte]]) match {
      case Some((rms, zcr)) => InternalRow(rms, zcr)
      case None => null
    }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** channel_sums(bytes) -> struct(n_pix, sum_r, sum_g, sum_b, sumsq_r,
  * sumsq_g, sumsq_b): exact integer per-channel pixel sums for corpus
  * normalization statistics (the mean/std constants a training pipeline
  * bakes into its input transform). Integer sums are associative, so the
  * corpus-wide aggregation is partition-order independent and the final
  * mean/std doubles are bit-identical however the cluster re-shards.
  * Corrupt payloads null out like the other media expressions. */
case class ChannelSums(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("n_pix", LongType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("sumsq_r", LongType, nullable = false),
    StructField("sumsq_g", LongType, nullable = false),
    StructField("sumsq_b", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    try {
      val rst = Codec.decodeBGR(v.asInstanceOf[Array[Byte]])
      val d = rst.data
      var sr = 0L; var sg = 0L; var sb = 0L
      var qr = 0L; var qg = 0L; var qb = 0L
      var i = 0
      while (i < d.length) {
        val b = d(i) & 0xff; val g = d(i + 1) & 0xff; val r = d(i + 2) & 0xff
        sb += b; sg += g; sr += r
        qb += b.toLong * b; qg += g.toLong * g; qr += r.toLong * r
        i += 3
      }
      InternalRow(rst.w.toLong * rst.h, sr, sg, sb, qr, qg, qb)
    } catch { case scala.util.control.NonFatal(_) => null }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** image_quality_stats(bytes) -> struct(mean_lum, contrast, sharpness)
  * ([[graft.img.Quality.stats]]): the per-image curation statistics of a
  * training-data image filter (exposure / contrast / variance-of-
  * Laplacian blur score). Corrupt payloads null out instead of failing
  * the job, like the other media expressions. */
case class ImageQualityStats(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("mean_lum", DoubleType, nullable = false),
    StructField("contrast", DoubleType, nullable = false),
    StructField("sharpness", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    try {
      val s = graft.img.Quality.stats(Codec.decodeBGR(v.asInstanceOf[Array[Byte]]))
      InternalRow(s.meanLum, s.contrast, s.sharpness)
    } catch { case scala.util.control.NonFatal(_) => null }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** resize_frame(png, w, h) -> png (area-average). */
case class ResizeFrame(child: Expression, w: Int, h: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullSafeEval(v: Any): Any =
    Codec.encodePNG(Resize.area(Codec.decodeBGR(v.asInstanceOf[Array[Byte]]), w, h))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Deterministic synthetic media tables. */
object SyntheticMedia {
  import graft.data.Synthetic.{mix2, u01}

  final case class MediaRow(media_id: Long, bytes: Array[Byte], fmt: String, caption: String)

  def makeVideo(id: Long, nFrames: Int, w: Int, h: Int, seed: Long): MediaRow = {
    val frames = (0 until nFrames).map { f =>
      // evolving pattern per frame, deterministic in (id, frame)
      graft.data.Synthetic.tileRaster((id % 97).toInt + f, (id % 89).toInt, w, seed ^ (f + 1))
    }
    MediaRow(id, MediaCodec.encodeVideo(frames, fps = 10), "grftvid",
      s"synthetic clip $id frames=$nFrames ${w}x$h")
  }

  def makeAudio(id: Long, n: Int, seed: Long): MediaRow = {
    val samples = new Array[Short](n)
    var i = 0
    while (i < n) {
      val amp = 3000 + (u01(mix2(seed, id)) * 8000).toInt
      samples(i) = (math.sin(i * 2 * math.Pi / (20 + id % 30)) * amp).toShort
      i += 1
    }
    MediaRow(id, MediaCodec.encodeAudio(samples, 8000), "grftaud", s"synthetic tone $id")
  }

  def videos(spark: SparkSession, n: Long, nFrames: Int = 8, w: Int = 32, h: Int = 32,
             seed: Long = 42L): DataFrame = {
    import spark.implicits._
    spark.range(n).map(id => makeVideo(id, nFrames, w, h, seed)).toDF()
  }

  def audios(spark: SparkSession, n: Long, samples: Int = 4000, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    spark.range(n).map(id => makeAudio(id, samples, seed)).toDF()
  }
}
