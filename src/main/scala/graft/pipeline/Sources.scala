package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S1: GeoJSON FeatureCollection scan -> the engine's normalized garden
  * frame (id, uprn: array<string>, geometry: 4-level multipolygon coords,
  * crs). Handles the reference's duck-typed variants
  * (analyse_polygons.py:175-201, calculate_indices.py:114-121):
  *   - properties.id falling back to properties.toid,
  *   - uprn as scalar, list, "{a,b}"-packed string, or null,
  *   - Polygon vs MultiPolygon geometry (Polygon is wrapped),
  *   - file-level crs defaulting to CRS84.
  * An input without features gives zero rows of the same schema.
  */
object GeoJson {

  def readGardens(spark: SparkSession, path: String): DataFrame = {
    val raw = spark.read.option("multiLine", "true").json(path)
    val crsName: String =
      if (hasField(raw.schema, "crs"))
        Option(raw.select(col("crs.properties.name")).first().getString(0))
          .getOrElse(Exprs.CRS84)
      else Exprs.CRS84

    val feats = raw.select(explode(col("features")).as("f"))
    feats.schema("f").dataType match {
      case f: StructType => normalizeFeatures(feats, f, pfx = "f.", crsName = crsName)
      case _ => // `"features": []` infers array<string>
        require(raw.where(size(col("features")) > 0).isEmpty,
          "features must be GeoJSON Feature objects")
        noFeatures(spark, crsName)
    }
  }

  /** S1 scale path: newline-delimited GeoJSON features ("GeoJSONL") —
    * the Spark-native replacement for the reference's file-shard
    * parallelism (scripts/split_geojson.py + the bulk work queue). A
    * FeatureCollection is ONE json document, so `multiLine` parsing
    * cannot split it; one feature per line makes polygon ingest an
    * ordinary splittable text scan that parallelizes across executors
    * at any input size. Accepts the same duck-typed variants as
    * [[readGardens]]; per-line features carry no file-level crs, so pass
    * `crsName` for projected inputs (default CRS84, like the reference). */
  def readGardensLines(spark: SparkSession, path: String,
                       crsName: String = Exprs.CRS84): DataFrame = {
    val raw = spark.read.json(path)
    if (raw.schema.isEmpty) noFeatures(spark, crsName) // an empty file infers struct<>
    else normalizeFeatures(raw, raw.schema, pfx = "", crsName = crsName)
  }

  /** The normalized frame of an input without features: zero rows, built
    * by the one normalization so its schema is a read's schema. */
  private def noFeatures(spark: SparkSession, crsName: String): DataFrame = {
    val feature = StructType.fromDDL("properties struct<id: string>, " +
      "geometry struct<coordinates: array<array<array<array<double>>>>>")
    normalizeFeatures(spark.createDataFrame(java.util.List.of[Row](), feature), feature,
      pfx = "", crsName = crsName)
  }

  /** Shared duck-typing normalization over a feature frame of schema
    * `feature`: `pfx` is "" for top-level (GeoJSONL) or "f." for the
    * exploded collection. */
  private def normalizeFeatures(feats: DataFrame, feature: StructType, pfx: String,
                                crsName: String): DataFrame = {
    require(hasField(feature, "geometry") && hasField(feature, "properties"),
      "GeoJSON features need geometry and properties fields")
    val props = feature("properties").dataType.asInstanceOf[StructType]
    val geom = feature("geometry").dataType.asInstanceOf[StructType]
    val idCol: Column = (props.fieldNames.contains("id"), props.fieldNames.contains("toid")) match {
      case (true, true) => coalesce(col(s"${pfx}properties.id"), col(s"${pfx}properties.toid"))
      case (true, false) => col(s"${pfx}properties.id")
      case (false, true) => col(s"${pfx}properties.toid")
      case _ => throw new IllegalArgumentException("features need properties.id or properties.toid")
    }
    val uprnCol: Column =
      if (!props.fieldNames.contains("uprn")) array().cast("array<string>")
      else props("uprn").dataType match {
        case _: ArrayType =>
          coalesce(col(s"${pfx}properties.uprn").cast("array<string>"), array().cast("array<string>"))
        case _ => // scalar or "{a,b}"-packed string (analyse_polygons.py:175-186)
          when(col(s"${pfx}properties.uprn").isNull, array().cast("array<string>"))
            .otherwise(split(regexp_replace(col(s"${pfx}properties.uprn").cast("string"), "[{}]", ""), ","))
      }
    val geomCol: Column = depthOf(geom("coordinates").dataType) match {
      case 4 => col(s"${pfx}geometry.coordinates")
      case 3 => array(col(s"${pfx}geometry.coordinates")) // Polygon -> MultiPolygon
      case d => throw new IllegalArgumentException(s"unsupported coordinates nesting depth $d")
    }
    feats.select(
      idCol.cast("string").as("id"),
      uprnCol.as("uprn"),
      geomCol.cast("array<array<array<array<double>>>>").as("geometry"),
      lit(crsName).as("crs"))
  }

  private def depthOf(dt: DataType, acc: Int = 0): Int = dt match {
    case ArrayType(inner, _) => depthOf(inner, acc + 1)
    case _ => acc
  }

  private def hasField(s: StructType, name: String): Boolean = s.fieldNames.contains(name)
}

/** S7-S10 sinks with byte-for-byte reference formatting
  * (analyse_polygons.py:122-186). The exact-parity writers stream ordered
  * rows on the driver (the reference's outputs are single files by
  * definition). */
object Reports {

  /** Rows must already carry id, cx, cy, area_m2, sort_key, gid and
    * frac_<name> columns (VegPipeline.run output). */
  def writeAll(perGarden: DataFrame, kernelNames: Seq[String], loaderName: String,
               baseOutputFileName: String, crsName: String,
               warnings: Seq[String] = Nil): Unit = {
    val prefix = baseOutputFileName + loaderName + kernelNames.map("-" + _).mkString

    if (warnings.nonEmpty) {
      val w = new java.io.PrintWriter(prefix + "-warnings.txt", "UTF-8")
      try warnings.foreach(w.println) finally w.close()
    }

    // the rows are collected anyway, so they sort on the driver: a
    // global orderBy would add a sampling job and a shuffle
    val rows = perGarden.select(
      Seq(col("id"), col("cx"), col("cy"), col("area_m2"), col("uprn")) ++
        kernelNames.map(n => col(s"frac_$n")) ++ Seq(col("sort_key"), col("gid")): _*)
      .collect().sortBy(r => (r.getLong(r.length - 2), r.getLong(r.length - 1)))

    // summary (analyse_polygons.py:135-155): the reference accumulates
    // `+=` over features IN PROCESSING ORDER, and commaFixed2's last
    // decimal is sensitive to fp accumulation order — a distributed
    // double sum is partition-order dependent and can flake that byte.
    // So the byte-for-byte summary replays the reference's sequential
    // accumulation over the rows ALREADY collected for the CSV (sorted,
    // deterministic); VegPipeline.summarize is the distributed scale
    // path for summary totals when byte parity is not required.
    var totalArea = 0.0
    val totalVeg = new Array[Double](kernelNames.length)
    rows.foreach { r =>
      totalArea += r.getDouble(3)
      kernelNames.indices.foreach(i => totalVeg(i) += r.getDouble(3) * r.getDouble(5 + i))
    }
    val summary = new java.io.PrintWriter(prefix + "-summary.txt", "UTF-8")
    try {
      summary.println(s"Total surface area: ${PyFormat.commaFixed2(totalArea)}m²")
      kernelNames.zipWithIndex.foreach { case (name, i) =>
        val pct = 100.0 * totalVeg(i) / totalArea
        summary.println(s"Total vegetation surface area from $name:" +
          s" ${PyFormat.commaFixed2(totalVeg(i))}m² (${PyFormat.fixed1(pct)}%)")
      }
      summary.println(s"Garden centroid output with co-ordinate reference system [$crsName]")
    } finally summary.close()

    // vegetation.csv + toid2uprn.csv (analyse_polygons.py:157-186)
    val veg = new java.io.PrintWriter(prefix + "-vegetation.csv", "UTF-8")
    val t2u = new java.io.PrintWriter(prefix + "-toid2uprn.csv", "UTF-8")
    try {
      veg.print("feature id, garden centroid x, garden centroid y, surface area m²")
      kernelNames.foreach(n => veg.print(s", fraction classed as vegetation by $n"))
      veg.println()
      t2u.println("feature id, feature uprn")
      rows.foreach { r =>
        val id = r.getString(0)
        veg.print(s"$id, ${PyFormat.repr(r.getDouble(1))}, ${PyFormat.repr(r.getDouble(2))}, ${PyFormat.repr(r.getDouble(3))}")
        kernelNames.indices.foreach(i => veg.print(s", ${PyFormat.repr(r.getDouble(5 + i))}"))
        veg.println()
        r.getSeq[String](4).foreach(u => t2u.println(s"$id, $u"))
      }
    } finally { veg.close(); t2u.close() }
  }

  /** S11 debug PNG sink (reference: calculate_indices.py:21-43,145-167,
    * off by default): per selected garden, write the cropped garden
    * image, the tinted masked-garden, the binary mask and one painted
    * overlay per kernel. Debug-scoped: gardens are few by definition, so
    * crops assemble on the driver from the collected covering tiles. */
  def debugImages(spark: SparkSession, gardens: DataFrame, tiles: DataFrame,
                  gardenIds: Seq[String], kernelNames: Seq[String],
                  tileSize: Int, outDir: String,
                  downsampleScale: Int = 1): Unit = {
    import graft.geom.Rasterize
    import graft.img.{Codec, Raster, Resize}
    import graft.index.ZIndex
    import graft.kernel.{Kernels, Overlay}
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    val prepared = VegPipeline.prepareGardens(gardens, tileSize)
      .where(col("id").isin(gardenIds: _*))
      .select("id", "blob", "cells").collect()
    val wantedCells = prepared.flatMap(_.getSeq[Long](2)).toSet
    val tileMap = tiles
      .select(VegPipeline.keyToCell(None)(col("image_id")).as("cell"), col("bytes"))
      .where(col("cell").isin(wantedCells.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("bytes")).toMap

    prepared.foreach { row =>
      val id = row.getString(0)
      val pp = PolyBlob.deserialize(row.getAs[Array[Byte]](1))
      val w = pp.cropX1 - pp.cropX0 + 1
      val h = pp.cropY1 - pp.cropY0 + 1
      val crop = Raster(new Array[Byte](w * h * 3), w, h, 3)
      // assemble the crop from covering tiles (y-flip, OSGB orientation)
      row.getSeq[Long](2).foreach { cell =>
        tileMap.get(cell).foreach { bytes =>
          var t = Codec.decodeBGR(bytes)
          if (t.w != tileSize || t.h != tileSize) t = Resize.bilinear(t, tileSize, tileSize)
          val e = ZIndex.cellE(cell); val n = ZIndex.cellN(cell)
          val x0 = e * tileSize; val y0 = n * tileSize
          var r = 0
          while (r < h) {
            val yAbs = pp.cropY0 + h - 1 - r
            if (yAbs >= y0 && yAbs < y0 + tileSize) {
              val tileRow = tileSize - 1 - (yAbs - y0)
              var c = 0
              while (c < w) {
                val xAbs = pp.cropX0 + c
                if (xAbs >= x0 && xAbs < x0 + tileSize) {
                  val src = (tileRow * tileSize + (xAbs - x0)) * 3
                  val dst = (r * w + c) * 3
                  crop.data(dst) = t.data(src)
                  crop.data(dst + 1) = t.data(src + 1)
                  crop.data(dst + 2) = t.data(src + 2)
                }
                c += 1
              }
            }
            r += 1
          }
        }
      }
      val mask = Rasterize.maskWindow(pp.gPix, pp.cropX0, pp.cropY0, w, h)
      def down(img: Raster): Raster =
        if (downsampleScale <= 1) img
        else Resize.area(img, img.w / downsampleScale, img.h / downsampleScale)
      def write(name: String, img: Raster): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/$id-$name.png"),
          Codec.encodePNG(down(img)))
      write("1-garden", crop)
      // masked garden: tint outside the mask (calculate_indices.py:28-33)
      val tinted = Overlay.tint(crop)
      val maskedGarden = Raster(crop.data.clone(), w, h, 3)
      var i = 0
      while (i < w * h) {
        if (!mask(i)) {
          maskedGarden.data(i * 3) = tinted.data(i * 3)
          maskedGarden.data(i * 3 + 1) = tinted.data(i * 3 + 1)
          maskedGarden.data(i * 3 + 2) = tinted.data(i * 3 + 2)
        }
        i += 1
      }
      write("2-maskedGarden", maskedGarden)
      val maskImg = Raster(Array.tabulate(w * h * 3)(j =>
        if (mask(j / 3)) 255.toByte else 0.toByte), w, h, 3)
      write("2-mask", maskImg)
      kernelNames.foreach { kn =>
        write(s"3-$kn", Overlay.paint(crop, Kernels.all(kn), mask))
      }
    }
  }
}
