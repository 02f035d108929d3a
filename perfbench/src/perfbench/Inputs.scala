package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.Synthetic
import graft.geo.TileCode

/** Input sizes. `full` is what the benchmark measures; `tiny` is for the
  * smoke test. Tile content is the engine's own deterministic synthetic
  * jpg mosaic; the seed drives the vector side (garden placement, shape
  * and mix) and, on dense_job, which tiles are absent. */
final case class Sizes(name: String, ts: Int, rgbW: Int, rgbH: Int, rgbGardens: Int,
                       denseW: Int, denseH: Int, denseGardens: Int)

object Sizes {
  val full = Sizes("full", 256, 60, 60, 600, 6, 6, 2800)
  val tiny = Sizes("tiny", 256, 8, 8, 12, 4, 4, 200)
  def apply(name: String): Sizes = name match {
    case "full" => full
    case "tiny" => tiny
    case other => throw new IllegalArgumentException(s"unknown size $other")
  }
}

/** Generated inputs cached under the benchmark's data dir, one directory
  * per key. Each entry records its row count and a SHA-256 over its files;
  * both are checked before use and the entry is regenerated on mismatch.
  * Generation and checking are timed apart from set-up. */
final class InputCache(root: File, spark: SparkSession) {
  var genNs = 0L
  var checkNs = 0L
  /** key -> content hash, so a run can show that a seed changed its inputs */
  val hashes = scala.collection.mutable.LinkedHashMap[String, String]()

  private def read(format: String, path: String): DataFrame = format match {
    case "parquet" => spark.read.parquet(path)
    case "text" => spark.read.text(path)
  }

  private def contentHash(dir: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def files(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
        if (f.isDirectory) files(f) else if (f.getName.startsWith(".")) Nil else Seq(f)
      }
    files(dir).foreach { f =>
      md.update(dir.toPath.relativize(f.toPath).toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f.toPath))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Path of the checked entry `key`, generating it with `gen(path)` first
    * when it is absent or fails its check. */
  def get(key: String, format: String)(gen: String => Unit): String = {
    val dir = new File(root, key)
    val data = new File(dir, "data")
    val manifest = new File(dir, "manifest")
    val t0 = System.nanoTime()
    val ok = manifest.isFile && {
      val Array(rows, hash) = new String(Files.readAllBytes(manifest.toPath), "UTF-8").trim.split(" ")
      contentHash(data) == hash && read(format, data.getPath).count() == rows.toLong
    }
    checkNs += System.nanoTime() - t0
    if (!ok) {
      val t1 = System.nanoTime()
      deleteTree(dir)
      val tmp = new File(root, key + ".tmp")
      deleteTree(tmp)
      tmp.mkdirs()
      gen(new File(tmp, "data").getPath)
      val rows = read(format, new File(tmp, "data").getPath).count()
      Files.write(new File(tmp, "manifest").toPath,
        s"$rows ${contentHash(new File(tmp, "data"))}".getBytes("UTF-8"))
      dir.getParentFile.mkdirs()
      Files.move(tmp.toPath, dir.toPath)
      genNs += System.nanoTime() - t1
    }
    hashes(key) = new String(Files.readAllBytes(manifest.toPath), "UTF-8").trim.split(" ")(1)
    data.getPath
  }

  private def writeTiles(df: DataFrame, files: Int, path: String): Unit =
    // small row groups keep the fat bytes column from being read in one
    // piece per task and give the scan several splits per core
    df.repartition(files).write
      .option("parquet.block.size", (1 << 20).toString).parquet(path)

  def rgbTiles(w: Int, h: Int, ts: Int): String =
    get(s"rgb_${w}x${h}_ts$ts", "parquet")(p => writeTiles(Synthetic.tilesJpg(spark, w, h, ts), 16, p))

  def cirTiles(w: Int, h: Int, ts: Int): String =
    get(s"cir_${w}x${h}_ts$ts", "parquet")(p => writeTiles(Synthetic.tilesCirJpg(spark, w, h, ts), 8, p))

  def gardens(n: Int, w: Int, h: Int, seed: Long): String =
    get(s"gardens_${w}x${h}_n${n}_s$seed", "parquet") { p =>
      Synthetic.gardens(spark, n, w, h, seed).repartition(4).write.parquet(p)
    }

  /** The gardens as newline-delimited GeoJSON features (EPSG:27700). */
  def gardensGeoJsonl(n: Int, w: Int, h: Int, seed: Long): String =
    get(s"gardens_${w}x${h}_n${n}_s$seed.geojsonl", "text") { p =>
      Synthetic.gardens(spark, n, w, h, seed).select(to_json(struct(
          lit("Feature").as("type"),
          struct(col("id"), col("uprn")).as("properties"),
          struct(lit("MultiPolygon").as("type"), col("geometry").as("coordinates")).as("geometry")))
        .as("value"))
        .repartition(4).write.text(p)
    }

  /** Image ids of the seed-chosen 1 tile in 16 that dense_job leaves out. */
  def absentTiles(w: Int, h: Int, seed: Long): Seq[String] =
    (0 until w * h).sortBy(i => Synthetic.mix2(seed, i.toLong)).take(math.max(1, w * h / 16))
      .map(i => TileCode.fromEastingsNorthings(Synthetic.BaseE + i % w, Synthetic.BaseN + i / w))

  def tilesWithout(w: Int, h: Int, ts: Int, seed: Long): String = {
    val mosaic = rgbTiles(w, h, ts)
    get(s"rgb_${w}x${h}_ts${ts}_absent_s$seed", "parquet") { p =>
      writeTiles(spark.read.parquet(mosaic).where(!col("image_id").isin(absentTiles(w, h, seed): _*)), 4, p)
    }
  }
}
