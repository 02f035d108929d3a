package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.coverage.Coverage
import graft.data.Synthetic
import graft.functions.TextHash
import graft.pipeline.{GeoJson, KnnJoin, PyFormat, Reports, VegPipeline}
import graft.streaming.Streams

/** Specs for the second operator wave: text hashing, kNN, coverage,
  * GeoJSON ingest, report formatting, and streaming. */
class OperatorsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("operators-spec")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("SparkEntry.entry driver smoke: rows > 0 with expected columns") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("id", "cx", "cy", "area_m2", "npix", "frac_greenleaf", "frac_hsv"))
    assert(df.count() > 0)
  }

  // ------------------------------------------------ PyFormat

  test("PyFormat.repr matches CPython float repr rules") {
    assert(PyFormat.repr(170.3162) == "170.3162")
    assert(PyFormat.repr(12345678.9) == "12345678.9")       // java would say 1.23456789E7
    assert(PyFormat.repr(1.0) == "1.0")
    assert(PyFormat.repr(0.5) == "0.5")
    assert(PyFormat.repr(0.0001) == "0.0001")
    assert(PyFormat.repr(0.00001) == "1e-05")
    assert(PyFormat.repr(1e16) == "1e+16")
    assert(PyFormat.repr(1e15) == "1000000000000000.0")
    assert(PyFormat.repr(-2.5) == "-2.5")
    assert(PyFormat.repr(0.0) == "0.0")
    assert(PyFormat.repr(1.0 / 3.0) == "0.3333333333333333")
    assert(PyFormat.repr(0.1 + 0.2) == "0.30000000000000004")
  }

  test("PyFormat fixed formats match CPython format specs (test_bulk_recombine fixtures)") {
    // '{:,.2f}' examples
    assert(PyFormat.commaFixed2(1234567.891) == "1,234,567.89")
    assert(PyFormat.commaFixed2(0.125) == "0.12")  // banker's rounding
    assert(PyFormat.commaFixed2(0.135) == "0.14")  // 0.135 is actually 0.13500000000000001
    assert(PyFormat.commaFixed2(100.0) == "100.00")
    assert(PyFormat.fixed1(12.25) == "12.2")       // half-even
    assert(PyFormat.fixed1(12.35) == "12.3")       // 12.35 -> 12.349999... in binary
  }

  // ------------------------------------------------ text hashing

  test("rolling hashes: sliding property and determinism") {
    val h1 = TextHash.rollingHashes("abcdefgh", 3)
    assert(h1.length == 6)
    // same k-gram at different positions hashes identically
    val h2 = TextHash.rollingHashes("xxabcyy abc", 3)
    assert(h2.contains(h1(0))) // "abc"
    // direct (non-rolling) recompute agrees
    val direct = TextHash.rollingHashes("cde", 3)(0)
    assert(h1(2) == direct)
  }

  test("winnow: min-per-window, consecutive dedup") {
    assert(TextHash.winnow(Array(5L, 3L, 8L, 3L, 9L, 1L), 3).toSeq == Seq(3L, 1L))
    assert(TextHash.winnow(Array(7L), 3).toSeq == Seq(7L))
    assert(TextHash.winnow(Array.empty[Long], 4).isEmpty)
  }

  test("simhash: identical token sets collide, disjoint sets differ") {
    val a = TextHash.simHash(Seq("spark", "query", "join", "scan"))
    val b = TextHash.simHash(Seq("spark", "query", "join", "scan"))
    val c = TextHash.simHash(Seq("completely", "different", "words", "here"))
    assert(a == b)
    assert(java.lang.Long.bitCount(a ^ c) > 8)
  }

  test("minhash: jaccard estimate improves with shared shingles") {
    val base = (0 until 50).map(i => s"sh$i")
    val near = (0 until 45).map(i => s"sh$i") ++ (0 until 5).map(i => s"zz$i")
    val far = (0 until 50).map(i => s"ww$i")
    val s1 = TextHash.minHash(base, 64)
    val s2 = TextHash.minHash(near, 64)
    val s3 = TextHash.minHash(far, 64)
    def sim(a: Array[Long], b: Array[Long]) = a.zip(b).count(p => p._1 == p._2) / 64.0
    assert(sim(s1, s2) > 0.5)
    assert(sim(s1, s3) < 0.2)
  }

  test("CPython MT19937 + random.sample parity (goldens from CPython 3.11)") {
    import graft.functions.{MT19937, PyRandom}
    val rng = new MT19937(42)
    assert((0 until 6).map(_ => rng.nextUInt32()) ==
      Seq(2746317213L, 478163327L, 107420369L, 3184935163L, 1181241943L, 1051802512L))
    assert(PyRandom.sampleIndices(42, 100, 5).toSeq == Seq(81, 14, 3, 94, 35))
    assert(PyRandom.sampleIndices(42, 10, 10).toSeq == Seq(1, 0, 4, 9, 6, 5, 8, 2, 3, 7))
    assert(PyRandom.sampleIndices(42, 1000, 8).toSeq == Seq(654, 114, 25, 759, 281, 250, 228, 142))
    assert(PyRandom.sampleIndices(123456789, 50, 6).toSeq == Seq(41, 28, 34, 45, 38, 25))
    // the same independent CPython goldens the q38 DuckDB oracle embeds
    graft.functions.PyRandomGolden.sample42.foreach { case (n, want) =>
      assert(PyRandom.sampleIndices(42, n, 25).toSeq == want, s"n=$n")
    }
  }

  test("seeded DataFrame sample selects CPython's rows in selection order") {
    import graft.functions.PyRandom
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, s"row$i")).toDF("k", "v")
    val got = PyRandom.seededSample(spark, df, 5, 42)
      .orderBy("sample_rank").select("k").collect().map(_.getLong(0))
    assert(got.toSeq == Seq(81L, 14L, 3L, 94L, 35L))
  }

  // ------------------------------------------------ kNN

  test("kNN via cell-ring expansion matches brute force exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pts = (0 until 500).map(i => (i.toLong, rnd.nextDouble() * 20, rnd.nextDouble() * 20))
    val points = pts.toDF("pid", "px", "py")
    val queries = pts.take(40).map { case (i, x, y) => (i, x, y) }.toSeq.toDF("qid", "qx", "qy")

    val res = KnnJoin.run(spark, queries, points, k = 5)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "dense kNN must stay on the equi-join ring path")
    val got = res
      .select("qid", "rank", "pid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(t => (t._1, t._2))

    val want = pts.take(40).flatMap { case (qid, qx, qy) =>
      pts.filter(_._1 != qid)
        .map { case (pid, px, py) => (pid, (px - qx) * (px - qx) + (py - qy) * (py - qy)) }
        .sortBy(t => (t._2, t._1)).take(5).zipWithIndex
        .map { case ((pid, _), i) => (qid, i + 1, pid) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want.toSeq)
  }

  test("kNN over the hex grid (H3-style) matches brute force exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val pts = (0 until 400).map(i => (i.toLong, rnd.nextDouble() * 15, rnd.nextDouble() * 15))
    val points = pts.toDF("pid", "px", "py")
    val queries = pts.take(25).toSeq.toDF("qid", "qx", "qy")
    val got = KnnJoin.run(spark, queries, points, k = 4,
        grid = graft.index.GridSystem.Hex(1.0))
      .select("qid", "rank", "pid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    val want = pts.take(25).flatMap { case (qid, qx, qy) =>
      pts.filter(_._1 != qid)
        .map { case (pid, px, py) => (pid, (px - qx) * (px - qx) + (py - qy) * (py - qy)) }
        .sortBy(t => (t._2, t._1)).take(4).zipWithIndex
        .map { case ((pid, _), i) => (qid, i + 1, pid) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want.toSeq)
  }

  test("kNN stragglers (sparse regions) hit the ring cap, not a cell explosion") {
    import spark.implicits._
    // a dense cluster plus one far-isolated query: ring doubling stops at
    // the cap (ringCellCount > max(|points|, ringCap)) and the straggler
    // resolves via a bounded broadcast of the 1-query remaining set — NOT
    // by exploding the ~1.9M ring cells coverage would need, and NOT by a
    // shuffled cartesian over the points
    val cluster = (0 until 60).map(i => (i.toLong, (i % 10) * 0.2, (i / 10) * 0.2))
    val far = Seq((999L, 500.0, 480.0))
    val pts = cluster ++ far
    val points = pts.toDF("pid", "px", "py")
    val queries = Seq((999L, 500.0, 480.0), (0L, 0.0, 0.0)).toDF("qid", "qx", "qy")
    val res = KnnJoin.run(spark, queries, points, k = 5)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "kNN plan contains a cartesian product")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "straggler did not take the capped broadcast fallback")
    val got = res.select("qid", "rank", "pid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    val want = Seq((999L, 500.0, 480.0), (0L, 0.0, 0.0)).flatMap { case (qid, qx, qy) =>
      pts.filter(_._1 != qid)
        .map { case (pid, px, py) => (pid, (px - qx) * (px - qx) + (py - qy) * (py - qy)) }
        .sortBy(t => (t._2, t._1)).take(5).zipWithIndex
        .map { case ((pid, _), i) => (qid, i + 1, pid) }
    }.sortBy(t => (t._1, t._2))
    assert(got.toSeq == want)
  }

  test("kNN with fewer than k points returns all neighbours that exist") {
    import spark.implicits._
    val points = Seq((1L, 0.0, 0.0), (2L, 3.0, 0.0), (3L, 0.0, 4.0)).toDF("pid", "px", "py")
    val queries = Seq((1L, 0.0, 0.0)).toDF("qid", "qx", "qy")
    val got = KnnJoin.run(spark, queries, points, k = 5)
      .select("qid", "rank", "pid").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq((1L, 1, 2L), (1L, 2, 3L)))
  }

  test("hex index: cellOf/center/kRing invariants") {
    val hex = graft.index.HexIndex(1.0)
    // the center of a cell maps back to the cell
    for (q <- -3 to 3; r <- -3 to 3) {
      val c = hex.pack(q, r)
      val (x, y) = hex.center(c)
      assert(hex.cellOf(x, y) == c, s"center roundtrip ($q,$r)")
    }
    // ring sizes: 3k^2+3k+1
    assert(hex.kRing(hex.pack(0, 0), 0).length == 1)
    assert(hex.kRing(hex.pack(0, 0), 1).length == 7)
    assert(hex.kRing(hex.pack(0, 0), 2).length == 19)
    // every point maps into a cell whose center is within circumradius
    val rnd = new scala.util.Random(3)
    (0 until 500).foreach { _ =>
      val x = rnd.nextDouble() * 20 - 10
      val y = rnd.nextDouble() * 20 - 10
      val (cx, cy) = hex.center(hex.cellOf(x, y))
      assert(math.hypot(x - cx, y - cy) <= 1.0 + 1e-9)
    }
    // ring-exit lower bound: for every cell at hex distance k+1..k+3, the
    // center distance minus two circumradii must be >= minDistOutsideRing(k).
    // The tight case is the diagonal direction — axial (1,1) is hex
    // distance 2 at center distance 3*size, closer than the straight-axis
    // 2*sqrt(3)*size.
    val (dx, dy) = hex.center(hex.pack(1, 1))
    assert(math.abs(math.hypot(dx, dy) - 3.0) < 1e-12)
    for (k <- 0 to 3) {
      val ringK = hex.kRing(hex.pack(0, 0), k).toSet
      val beyond = hex.kRing(hex.pack(0, 0), k + 3).filterNot(ringK)
      // center distance minus two circumradii, clamped at 0 (adjacent
      // hexes share an edge, so the true minimum point distance is >= 0)
      val minPointDist = beyond.map { c =>
        val (x, y) = hex.center(c); math.max(0.0, math.hypot(x, y) - 2.0)
      }.min
      assert(hex.minDistOutsideRing(k) <= minPointDist + 1e-12,
        s"bound k=$k overstates: ${hex.minDistOutsideRing(k)} > $minPointDist")
    }
  }

  // ------------------------------------------------ coverage

  test("flight-date parsing: two formats, list handling, corrupt tracking") {
    assert(Coverage.parseDateFlown("<r><osgb:dateFlown>2010-05-18</osgb:dateFlown></r>")
      .contains(java.time.LocalDate.of(2010, 5, 18)))
    assert(Coverage.parseDateFlown("<r><osgb:dateFlown>16/07/2006</osgb:dateFlown></r>")
      .contains(java.time.LocalDate.of(2006, 7, 16)))
    assert(Coverage.parseDateFlown("<r><osgb:dateFlown>garbage</osgb:dateFlown></r>").isEmpty)
    assert(Coverage.parseDateFlown("not xml at all").isEmpty)
    // dateFloat golden: 2010-05-18 is ISO (2010, week 20, tue=2)
    val df = Coverage.dateFloat(java.time.LocalDate.of(2010, 5, 18))
    assert(math.abs(df - (2010 + (20 * 7 + 2) / 366.0)) < 1e-12)
  }

  test("coverage thumbnail map: placement, flip, odd names") {
    import spark.implicits._
    val ts = 64
    val tiles = Seq(
      Synthetic.makeTile(0, 0, ts, 42L).copy(image_id = "SV0000"),
      Synthetic.makeTile(1, 0, ts, 42L).copy(image_id = "SV0100"),
      Synthetic.makeTile(0, 1, ts, 42L).copy(image_id = "SV0001"),
      Synthetic.makeTile(0, 0, ts, 42L).copy(image_id = "WEIRD_NAME")
    ).toDF()
    val res = Coverage.thumbnailMap(spark, tiles, tsz = 4)
    val w = 7 * 100 * 4; val h = 13 * 100 * 4
    assert(res.raster.w == w && res.raster.h == h)
    // SV0000 occupies bottom-left 4x4 block; some pixel non-zero there
    val bottomLeft = (0 until 4).exists { r =>
      (0 until 4 * 3).exists(c => res.raster.data(((h - 4 + r) * w) * 3 + c) != 0)
    }
    assert(bottomLeft)
    assert(res.status.exists(_.contains("WEIRD_NAME")))
    // coverage-only mode paints white
    val cov = Coverage.thumbnailMap(spark, tiles, tsz = 4, coverageOnly = true)
    assert((cov.raster.data(((h - 1) * w) * 3) & 0xff) == 255)
  }

  test("flights over synthetic xml table with oracle-checked stats") {
    import spark.implicits._
    val xmls = Seq(
      ("SV0000", "<r><osgb:dateFlown>2010-05-18</osgb:dateFlown></r>"),
      ("SV0001", "<r><osgb:dateFlown>16/07/2006</osgb:dateFlown></r>"),
      ("SV0002", "<r><broken>")).toDF("tile_code", "xml")
    val parsed = Coverage.flights(spark, xmls)
    val stats = Coverage.flightStats(parsed).collect()(0)
    assert(stats.getAs[Long]("n_corrupt") == 1)
    assert(stats.getAs[Long]("n_tiles") == 3)
    assert(math.abs(stats.getAs[Double]("min_date_float") -
      Coverage.dateFloat(java.time.LocalDate.of(2006, 7, 16))) < 1e-12)

    // S12 flights raster: date plane assembled, normalized, y-flipped
    val fr = Coverage.flightsRaster(parsed, tsz = 4)
    val w = 7 * 100 * 4; val h = 13 * 100 * 4
    assert(fr.captureDate.w == w && fr.captureDate.h == h)
    def px(r: graft.img.Raster, e: Int, n: Int): Int =
      r.data(((h - n * 4 - 4) * w + e * 4) * 3) & 0xff
    // SV0000 = 2010 (max) -> 255; SV0001 = 2006 (min) -> 0; corrupt SV0002 -> background 0
    assert(px(fr.captureDate, 0, 0) == 255)
    assert(px(fr.captureDate, 0, 1) == 0)
    assert(px(fr.captureDate, 0, 2) == 0)
    // time-of-year plane: frac(dateFloat) scaled to bytes
    val f2010 = Coverage.dateFloat(java.time.LocalDate.of(2010, 5, 18))
    assert(px(fr.timeOfYear, 0, 0) == math.round((f2010 - math.floor(f2010)) * 255.0).toInt)
    assert(fr.status.exists(_.startsWith("Maximum date: ")))
  }

  test("tile cache (C2): second read skips the build") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tcache").toString
    var builds = 0
    def build() = { builds += 1; Seq((1, "a"), (2, "b")).toDF("k", "v") }
    val first = graft.sources.TileCache.cached(spark, root, "src=test_z12")(build())
    assert(first.count() == 2 && builds == 1)
    val second = graft.sources.TileCache.cached(spark, root, "src=test_z12")(build())
    assert(second.count() == 2 && builds == 1, "second read must not rebuild")
    assert(second.orderBy("k").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
  }

  // ------------------------------------------------ GeoJSON ingest

  test("GeoJSON reader: multipolygon, packed uprn, crs, toid fallback") {
    val json =
      """{ "type": "FeatureCollection", "name": "t",
        |  "crs": {"type": "name", "properties": {"name": "urn:ogc:def:crs:EPSG::27700"}},
        |  "features": [
        |   {"type": "Feature", "properties": {"id": "osgb1", "uprn": "{111,222}"},
        |    "geometry": {"type": "MultiPolygon",
        |      "coordinates": [[[[0.0, 0.0], [100.0, 0.0], [100.0, 100.0], [0.0, 0.0]]]]}},
        |   {"type": "Feature", "properties": {"toid": "osgb2", "uprn": null},
        |    "geometry": {"type": "MultiPolygon",
        |      "coordinates": [[[[10.0, 10.0], [20.0, 10.0], [20.0, 20.0], [10.0, 10.0]]]]}}
        |]}""".stripMargin
    val f = java.io.File.createTempFile("gardens", ".geojson")
    java.nio.file.Files.writeString(f.toPath, json)
    val df = GeoJson.readGardens(spark, f.getAbsolutePath)
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("id") == "osgb1")
    assert(rows(0).getSeq[String](rows(0).fieldIndex("uprn")) == Seq("111", "222"))
    assert(rows(0).getAs[String]("crs") == "urn:ogc:def:crs:EPSG::27700")
    assert(rows(1).getAs[String]("id") == "osgb2")
    assert(rows(1).getSeq[String](rows(1).fieldIndex("uprn")).isEmpty)
    val geom = rows(0).getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[_]]]]("geometry")
    assert(geom.head.head.length == 4)
  }

  test("GeoJSONL reader (scale path) matches the FeatureCollection reader") {
    // one feature per line: a splittable scan, the Spark-native
    // replacement for split_geojson file sharding
    val lines = Seq(
      """{"type": "Feature", "properties": {"id": "osgb1", "uprn": "{111,222}"}, "geometry": {"type": "MultiPolygon", "coordinates": [[[[0.0, 0.0], [100.0, 0.0], [100.0, 100.0], [0.0, 0.0]]]]}}""",
      """{"type": "Feature", "properties": {"toid": "osgb2", "uprn": null}, "geometry": {"type": "MultiPolygon", "coordinates": [[[[10.0, 10.0], [20.0, 10.0], [20.0, 20.0], [10.0, 10.0]]]]}}""")
    val f = java.io.File.createTempFile("gardens", ".geojsonl")
    java.nio.file.Files.writeString(f.toPath, lines.mkString("\n"))
    val df = GeoJson.readGardensLines(spark, f.getAbsolutePath,
      crsName = "urn:ogc:def:crs:EPSG::27700")
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("id") == "osgb1")
    assert(rows(0).getSeq[String](rows(0).fieldIndex("uprn")) == Seq("111", "222"))
    assert(rows(0).getAs[String]("crs") == "urn:ogc:def:crs:EPSG::27700")
    assert(rows(1).getAs[String]("id") == "osgb2")
    assert(rows(1).getSeq[String](rows(1).fieldIndex("uprn")).isEmpty)
    // a Polygon-typed line wraps to MultiPolygon like the collection reader
    val f2 = java.io.File.createTempFile("gardens_poly", ".geojsonl")
    java.nio.file.Files.writeString(f2.toPath,
      """{"type": "Feature", "properties": {"id": "p1"}, "geometry": {"type": "Polygon", "coordinates": [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]}}""")
    val geom = GeoJson.readGardensLines(spark, f2.getAbsolutePath).collect()(0)
      .getAs[scala.collection.Seq[scala.collection.Seq[scala.collection.Seq[_]]]]("geometry")
    assert(geom.length == 1 && geom.head.head.length == 4)
  }

  test("empty GeoJSON inputs give zero gardens of the normalized schema") {
    // `"features": []` infers array<string>; an empty GeoJSONL file infers struct<>
    val fc = java.io.File.createTempFile("gardens_empty", ".geojson")
    java.nio.file.Files.writeString(fc.toPath, """{"type":"FeatureCollection","features":[]}""")
    val lines = java.io.File.createTempFile("gardens_empty", ".geojsonl")
    val tiles = Synthetic.tiles(spark, 2, 2, 64)
    Seq(GeoJson.readGardens(spark, fc.getAbsolutePath),
        GeoJson.readGardensLines(spark, lines.getAbsolutePath)).foreach { df =>
      assert(df.schema.map(f => f.name -> f.dataType.simpleString) == Seq("id" -> "string",
        "uprn" -> "array<string>", "geometry" -> "array<array<array<array<double>>>>",
        "crs" -> "string"))
      assert(df.count() == 0)
      assert(VegPipeline.run(spark, df, tiles, VegPipeline.Config(tileSize = 64)).count() == 0)
    }
  }

  // ------------------------------------------------ reports

  test("report files replicate the reference's formats byte-for-byte") {
    val dir = java.nio.file.Files.createTempDirectory("reports").toString
    val res = VegPipeline.run(spark,
      Synthetic.gardens(spark, 10, 4, 4), Synthetic.tiles(spark, 4, 4, 64),
      VegPipeline.Config(tileSize = 64, kernelNames = Seq("greenleaf")))
    Reports.writeAll(res, Seq("greenleaf"), "testloader", dir + "/run-",
      "urn:ogc:def:crs:EPSG::27700", warnings = Seq("w1"))
    val summary = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir + "/run-testloader-greenleaf-summary.txt"))
    assert(summary.startsWith("Total surface area: "))
    assert(summary.contains("m²"))
    assert(summary.contains("Total vegetation surface area from greenleaf: "))
    assert(summary.contains("Garden centroid output with co-ordinate reference system [urn:ogc:def:crs:EPSG::27700]"))
    val veg = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir + "/run-testloader-greenleaf-vegetation.csv"))
    assert(veg.startsWith("feature id, garden centroid x, garden centroid y, surface area m², fraction classed as vegetation by greenleaf\n"))
    assert(veg.linesIterator.size == 11)
    val t2u = java.nio.file.Files.readString(
      java.nio.file.Paths.get(dir + "/run-testloader-greenleaf-toid2uprn.csv"))
    assert(t2u.startsWith("feature id, feature uprn\n"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir + "/run-testloader-greenleaf-warnings.txt")))
  }

  test("writeAll orders rows by (sort_key, gid) exactly as a Spark orderBy does") {
    import spark.implicits._
    // sort_key ties broken by gid (negative gids too), a garden with
    // npix = 0, a multi-uprn and a uprn-less garden, in no sorted order
    val cols = Seq("gid", "id", "uprn", "cx", "cy", "area_m2", "sort_key", "npix", "frac_a", "frac_b")
    val perGarden = Seq(("g1", 7L, 3L, Seq("u1")), ("g2", 7L, -5L, Seq("u2", "u3", "u4")),
      ("g3", 2L, 9L, Seq.empty[String]), ("g4", 7L, 0L, Seq("u5")), ("g5", -1L, 4L, Seq("u6")),
      ("g6", 2L, -9L, Seq("u7", "u8")), ("g7", 7L, Long.MinValue, Seq("u9"))).zipWithIndex.map {
      case ((id, sortKey, gid, uprn), i) =>
        val npix = if (id == "g3") 0L else 100L + i
        (gid, id, uprn, 1000.5 + i * 3.25, 2000.25 - i, 10.1 + i * 0.3, sortKey, npix,
          if (npix == 0) 0.0 else (i + 1) / 9.0, if (npix == 0) 0.0 else 1.0 / (i + 2))
    }.toDF(cols: _*).repartition(3)
    val dir = java.nio.file.Files.createTempDirectory("report_order").toString
    Reports.writeAll(perGarden, Seq("a", "b"), "t", s"$dir/got-", "EPSG:27700")
    // the same rows in Spark's orderBy order, re-keyed by their rank so
    // that any sort keeps that order
    val ranked = perGarden.orderBy("sort_key", "gid")
      .as[(Long, String, Seq[String], Double, Double, Double, Long, Long, Double, Double)]
      .collect().zipWithIndex.map { case (r, i) => r.copy(_1 = i.toLong, _7 = i.toLong) }
    Reports.writeAll(ranked.toSeq.toDF(cols: _*), Seq("a", "b"), "t", s"$dir/want-", "EPSG:27700")
    def bytes(prefix: String, file: String) =
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s"$dir/$prefix-t-a-b-$file")).toSeq
    Seq("vegetation.csv", "toid2uprn.csv", "summary.txt").foreach { f =>
      assert(bytes("got", f) == bytes("want", f), f)
    }
    assert(new String(bytes("got", "toid2uprn.csv").toArray, "UTF-8").linesIterator.toSeq.tail ==
      Seq("g5, u6", "g6, u7", "g6, u8", "g7, u9", "g2, u2", "g2, u3", "g2, u4", "g4, u5", "g1, u1"))
  }

  test("writeAll over zero gardens writes every file; non-finite values format as CPython's") {
    import spark.implicits._
    // format(nan, '.1f'), format(inf, ',.2f'), format(-inf, ',.2f')
    assert(PyFormat.fixed1(Double.NaN) == "nan")
    assert(PyFormat.commaFixed2(Double.PositiveInfinity) == "inf")
    assert(PyFormat.commaFixed2(Double.NegativeInfinity) == "-inf")
    val perGarden = Seq((1L, "g1", Seq("u1"), 1.5, 2.5, 10.0, 7L, 100L, 0.25))
      .toDF("gid", "id", "uprn", "cx", "cy", "area_m2", "sort_key", "npix", "frac_greenleaf").limit(0)
    val dir = java.nio.file.Files.createTempDirectory("report_empty").toString
    Reports.writeAll(perGarden, Seq("greenleaf"), "t", s"$dir/run-", "EPSG:27700", warnings = Seq("w1"))
    def read(file: String) =
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/run-t-greenleaf-$file"))
    assert(read("summary.txt").linesIterator.toSeq == Seq(
      "Total surface area: 0.00m²",
      "Total vegetation surface area from greenleaf: 0.00m² (nan%)",
      "Garden centroid output with co-ordinate reference system [EPSG:27700]"))
    assert(read("vegetation.csv") == "feature id, garden centroid x, garden centroid y, " +
      "surface area m², fraction classed as vegetation by greenleaf\n")
    assert(read("toid2uprn.csv") == "feature id, feature uprn\n")
    assert(read("warnings.txt") == "w1\n")
  }

  test("debug PNG sink writes garden/mask/overlay images (S11)") {
    val dir = java.nio.file.Files.createTempDirectory("dbg").toString
    val gardens = Synthetic.gardens(spark, 10, 4, 4)
    val tiles = Synthetic.tiles(spark, 4, 4, 64)
    val someId = gardens.select("id").collect()(3).getString(0)
    Reports.debugImages(spark, gardens, tiles, Seq(someId), Seq("greenleaf"), 64, dir)
    val files = new java.io.File(dir).list().sorted
    assert(files.contains(s"$someId-1-garden.png"))
    assert(files.contains(s"$someId-2-maskedGarden.png"))
    assert(files.contains(s"$someId-2-mask.png"))
    assert(files.contains(s"$someId-3-greenleaf.png"))
    // mask png decodes to pure black/white
    val maskImg = graft.img.Codec.decodeBGR(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/$someId-2-mask.png")))
    assert(maskImg.data.forall(b => b == 0 || b == -1))
  }

  // ------------------------------------------------ ANN / media

  test("LSH ANN recall vs brute force is high on clustered embeddings") {
    import org.apache.spark.sql.functions.{col => c}
    import spark.implicits._
    // 10 tight direction-clusters of 40 vectors each (deterministic)
    val dim = 16
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(dim)(j => (Synthetic.u01(Synthetic.mix2(seed, j)) - 0.5))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = (0 until 400).map { i =>
      val cluster = i % 10
      val center = unit(1000L + cluster)
      val noise = unit(5000L + i)
      (i.toLong, center.zip(noise).map { case (a, b) => a + 0.15f * b })
    }
    val emb = rows.toDF("vec_id", "embedding")
    val k = 10
    val exact = graft.functions.Ann.bruteForceTopK(emb, c("vec_id") % 40 === 0, k)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(nPlanes: Int, nTables: Int): Double = {
      val approx = graft.functions.Ann.lshTopK(emb, c("vec_id") % 40 === 0, k, dim,
          nPlanes = nPlanes, nTables = nTables)
        .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    // small single-table config (dense buckets)
    assert(recallOf(6, 1) > 0.8, s"recall(6,1) = ${recallOf(6, 1)}")
    // the scale config (q27): 16-bit sparse buckets, recall carried by
    // 8 independent tables + 1-bit probes
    assert(recallOf(16, 8) >= 0.9, s"recall(16,8) = ${recallOf(16, 8)}")
    // at most k per query (approximate path returns a proper top-k)
    val counts = graft.functions.Ann.lshTopK(emb, c("vec_id") % 40 === 0, k, dim,
        nPlanes = 16, nTables = 8)
      .groupBy("query_id").count().collect()
    assert(counts.forall(_.getLong(1) <= k))
  }

  test("IVF ANN (k-means coarse quantizer) reaches recall >= 0.9 at nProbe=8/32 lists") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val dim = 16
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(dim)(j => (Synthetic.u01(Synthetic.mix2(seed, j)) - 0.5))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rows = (0 until 400).map { i =>
      val cluster = i % 10
      val center = unit(1000L + cluster)
      val noise = unit(5000L + i)
      (i.toLong, center.zip(noise).map { case (a, b) => a + 0.15f * b })
    }
    val emb = rows.toDF("vec_id", "embedding")
    val k = 10
    val exact = graft.functions.Ann.bruteForceTopK(emb, c("vec_id") % 40 === 0, k)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = graft.functions.Ann.ivfTopK(emb, c("vec_id") % 40 === 0, k, dim,
        nList = 32, nProbe = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"IVF recall = $recall")
    // determinism: same centroids -> same result set
    val again = graft.functions.Ann.ivfTopK(emb, c("vec_id") % 40 === 0, k, dim,
        nList = 32, nProbe = 8)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == approx)
  }

  test("IVF-PQ ADC rerank: high recall, exact-integer scores, equi-join plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val dim = 16
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(dim)(j => (Synthetic.u01(Synthetic.mix2(seed, j)) - 0.5))
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // 40 WELL-SEPARATED direction clusters of 10: a query's true top-5
    // are its cluster siblings, separated from other clusters by far
    // more than the PQ quantization error. (PQ is lossy BY DESIGN at
    // noise scale — it resolves cluster-level structure, and the exact
    // intra-candidate order is what the q101 oracle pins instead.)
    val rows = (0 until 400).map { i =>
      val cluster = i % 40
      val center = unit(1000L + cluster)
      val noise = unit(5000L + i)
      (i.toLong, center.zip(noise).map { case (a, b) => a + 0.05f * b })
    }
    val emb = rows.toDF("vec_id", "embedding")
    val k = 5
    val cents = graft.functions.Ann.trainIvfCentroids(emb, dim, nList = 16)
    val books = graft.functions.Pq.trainCodebooks(emb, dim, m = 8, k = 16)
    val df = graft.functions.Pq.ivfPqTopK(emb, c("vec_id") % 40 === 0, k, cents, books, nProbe = 6)
    val got = df.collect()
    // cluster-level retrieval: every query has 9 same-cluster siblings;
    // the returned top-5 must come from them (intra-cluster ORDER at
    // noise scale is below PQ resolution by design — the q101 oracle
    // pins the exact ADC ordering instead)
    val precision = got.count(r => r.getLong(2) % 40 == r.getLong(0) % 40).toDouble / got.length
    assert(precision >= 0.9, s"IVF-PQ cluster precision = $precision")
    assert(got.length >= 5 * 8, s"too few results: ${got.length}")
    // ADC scores are exact longs, ascending within each query, ranks 1..k
    got.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to sorted.length))
      assert(sorted.map(_.getLong(3)).toSeq == sorted.map(_.getLong(3)).sortBy(identity).toSeq)
    }
    // determinism: training + assignment + rerank reproduce bit-for-bit
    val again = graft.functions.Pq.ivfPqTopK(emb, c("vec_id") % 40 === 0, k,
        graft.functions.Ann.trainIvfCentroids(emb, dim, nList = 16),
        graft.functions.Pq.trainCodebooks(emb, dim, m = 8, k = 16), nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(again == got.map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet)
    // candidate generation stays a plain list-id equi-join
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "IVF-PQ plan must stay an equi-join")
  }

  test("LongArraySum: equals posexplode+groupBy, invariant under repartitioning") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    val n = 7
    val rows = (0 until 200).map { r =>
      (r.toLong, Array.tabulate(n)(i => (Synthetic.mix2(r.toLong, i) % 1000L) - 500L))
    }
    val df = rows.toDF("id", "xs")
    def summed(d: org.apache.spark.sql.DataFrame): Seq[Long] =
      d.agg(GraftBridge.column(
        graft.functions.LongArraySum(GraftBridge.expression(col("xs")), n)
          .toAggregateExpression()).as("g"))
        .head().getSeq[Long](0)
    val viaAgg = summed(df)
    val viaExplode = df.select(posexplode(col("xs")).as(Seq("pos", "v")))
      .groupBy("pos").agg(sum("v").as("s")).orderBy("pos")
      .collect().map(_.getLong(1)).toSeq
    assert(viaAgg == viaExplode)
    // partial aggregation + merge must be order/partitioning free
    assert(summed(df.repartition(13)) == viaAgg)
    assert(summed(df.coalesce(1)) == viaAgg)
    // null rows skipped like builtin aggregates
    val withNulls = df.withColumn("xs", when(col("id") % 3 === 0, lit(null)).otherwise(col("xs")))
    val expect = rows.filter(_._1 % 3 != 0).map(_._2)
      .foldLeft(new Array[Long](n)) { (a, x) => a.indices.foreach(i => a(i) += x(i)); a }.toSeq
    assert(summed(withNulls) == expect)
  }

  test("GramSum: equals the transform+LongArraySum gram, floats widen, nulls skip") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    val dim = 5
    val nCells = dim * (dim + 1) / 2
    val rows = (0 until 100).map { r =>
      (r.toLong, Array.tabulate(dim)(i =>
        ((Synthetic.mix2(r.toLong, i) % 2000L) - 1000L).toDouble / 311.0))
    }
    val df = rows.toDF("id", "e")
    def fused(d: org.apache.spark.sql.DataFrame, c: String): Seq[Long] =
      d.agg(GraftBridge.column(
        graft.functions.GramSum(GraftBridge.expression(col(c)), dim)
          .toAggregateExpression()).as("g")).head().getSeq[Long](0)
    // the former gramFrame spelling, as the differential oracle
    val cells = expr(
      s"flatten(transform(sequence(0, ${dim - 1}), i -> transform(sequence(i, ${dim - 1}), j -> " +
        "CAST(floor(element_at(e, i + 1) * element_at(e, j + 1) * 1048576.0) AS BIGINT))))")
    val viaTransform = df
      .select(transform(col("e"), x => x.cast("double")).as("e"))
      .select(cells.as("cells"))
      .agg(GraftBridge.column(
        graft.functions.LongArraySum(GraftBridge.expression(col("cells")), nCells)
          .toAggregateExpression()).as("g")).head().getSeq[Long](0)
    assert(fused(df, "e") == viaTransform)
    // partitioning-free (partial agg + merge)
    assert(fused(df.repartition(13), "e") == viaTransform)
    // float input widens per element like CAST(x AS DOUBLE)
    val dfF = df.withColumn("ef", transform(col("e"), x => x.cast("float")))
    val viaTransformF = dfF
      .select(transform(col("ef"), x => x.cast("double")).as("e"))
      .select(cells.as("cells"))
      .agg(GraftBridge.column(
        graft.functions.LongArraySum(GraftBridge.expression(col("cells")), nCells)
          .toAggregateExpression()).as("g")).head().getSeq[Long](0)
    assert(fused(dfF, "ef") == viaTransformF)
    // null rows skipped like builtin aggregates
    val withNulls = df.withColumn("e",
      when(col("id") % 3 === 0, lit(null)).otherwise(col("e")))
    val expect = df.where(col("id") % 3 =!= 0)
    assert(fused(withNulls, "e") == fused(expect, "e"))
  }

  test("semdedup cluster-bucketed near-dup: equi-join plan, no all-pairs") {
    val df = Queries.all("q102_semdedup")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "semdedup candidate generation must stay a cluster-id equi-join")
    // injected near-dups (vec_id % 50 == 0 copies, offset = max vec_id + 1
    // so dup ids stay disjoint at any table size) must all be caught,
    // each canonicalized to its source vector
    val off = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .agg(max("vec_id")).head().getLong(0) + 1L
    val dropped = df.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    (0L until 500L by 50L).foreach { v =>
      assert(dropped.get(v + off).contains(v), s"injected dup of $v not canonicalized")
    }
  }

  test("triangle census: degree-ordered count matches brute force on a known graph") {
    import spark.implicits._
    // orders encode a graph: K4 on parts 1-4 (4 triangles) plus a
    // triangle 10-11-12 sharing no parts, plus a path 20-21-22 (0)
    val orders = Seq(
      (1L, Seq(1L, 2L, 3L, 4L)),     // K4: C(4,3) = 4 triangles
      (2L, Seq(10L, 11L, 12L)),      // +1 triangle
      (3L, Seq(20L, 21L)), (4L, Seq(21L, 22L))) // path: 0 triangles
    val li = orders.flatMap { case (ok, pks) => pks.map(pk => (ok, pk)) }
      .toDF("l_orderkey", "l_partkey")
    val dir = java.nio.file.Files.createTempDirectory("tri").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val row = Queries.all("q103_triangle_census")(spark, dir).head()
    assert(row.getLong(0) == 10)  // nodes
    assert(row.getLong(1) == 11)  // edges: 6 + 3 + 2
    assert(row.getLong(3) == 5, s"triangles = ${row.getLong(3)}")
    // wedges: K4 deg3 x4 -> 12; tri deg2 x3 -> 3; path: deg 1,2,1 -> 1
    assert(row.getLong(2) == 16)
    assert(row.getLong(4) == 3000L * 5 / 16)
  }

  test("banded hamming self-join finds exactly the brute-force pairs within radius < nBands") {
    import spark.implicits._
    // deterministic hashes with planted near-dups: flip 1..6 bits of a base
    val base = (0 until 40).map(i => Synthetic.mix(i.toLong))
    val rows = base.zipWithIndex.flatMap { case (h, i) =>
      val flips = (1 to (i % 4)).foldLeft(h)((acc, b) => acc ^ (1L << ((i * 7 + b * 11) % 64)))
      Seq((i.toLong * 2, h), (i.toLong * 2 + 1, flips))
    }
    val df = rows.toDF("id", "h")
    val got = graft.functions.NearDup.bandedSelfJoin(df, "id", "h", bandBits = 8, maxHamming = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (a, ha) <- rows; (b, hb) <- rows if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 7
    } yield (a, b, d)).toSet
    assert(got == want, s"banded=${got.size} brute=${want.size}")
  }

  test("media probe classifies a real PNG payload as an image") {
    import graft.media._
    // regression: the PNG signature starts with 0x89, which an ASCII
    // string decode mangles — the probe must test raw bytes
    val png = graft.img.Codec.encodePNG(Synthetic.tileRaster(400, 100, 16, 42L))
    assert(MediaCodec.magicOf(png) == "image")
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    import spark.implicits._
    val probed = Seq(Tuple1(png)).toDF("bytes")
      .select(ec(ProbeMedia(ee(col("bytes")))).as("meta"))
      .select("meta.kind").head.getString(0)
    assert(probed == "image")
    assert(MediaCodec.magicOf("notapngno".getBytes("ASCII")) == "unsupported")
  }

  test("media: video container probe/sample/features/resize round-trip") {
    import graft.media._
    val row = SyntheticMedia.makeVideo(7L, nFrames = 6, w = 16, h = 16, seed = 42L)
    assert(MediaCodec.magicOf(row.bytes) == "video")
    val meta = MediaCodec.videoMeta(row.bytes).get
    assert(meta.nFrames == 6 && meta.w == 16 && meta.h == 16 && meta.fps == 10)
    val frames = MediaCodec.sampleFrames(row.bytes, stride = 2)
    assert(frames.length == 3)
    val feats = MediaCodec.frameFeatures(frames.head)
    assert(feats.length == 11)
    assert(math.abs(feats.drop(3).sum - 1.0) < 1e-9) // histogram normalised
    // unsupported container -> stubbed decode yields no frames, no crash
    assert(MediaCodec.sampleFrames("not-a-video".getBytes, 1).isEmpty)
    assert(MediaCodec.magicOf("garbagegarbage".getBytes) == "unsupported")
    // audio
    val a = SyntheticMedia.makeAudio(3L, 2000, 42L)
    val Some((rms, zcr)) = MediaCodec.audioFeatures(a.bytes)
    assert(rms > 100 && zcr > 0.0 && zcr < 0.5)
  }

  test("AudioFeatures expression matches the scalar decode; nulls on non-audio") {
    import graft.media._
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    import org.apache.spark.sql.functions.{col => c}
    import spark.implicits._
    val a = SyntheticMedia.makeAudio(3L, 2000, 42L)
    val rows = Seq((3L, a.bytes), (4L, "not-audio-bytes".getBytes("ASCII")))
      .toDF("media_id", "bytes")
      .select(c("media_id"), ec(AudioFeatures(ee(c("bytes")))).as("f"))
      .select(c("media_id"), c("f.rms"), c("f.zcr"))
      .orderBy("media_id").collect()
    val Some((rms, zcr)) = MediaCodec.audioFeatures(a.bytes)
    assert(rows(0).getDouble(1) == rms && rows(0).getDouble(2) == zcr)
    assert(rows(1).isNullAt(1) && rows(1).isNullAt(2))
  }

  test("media expressions run distributed over the synthetic video table") {
    import graft.media._
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    import org.apache.spark.sql.functions.{col => c, _}
    val vids = SyntheticMedia.videos(spark, 12)
    val probed = vids.select(c("media_id"), ec(ProbeMedia(ee(c("bytes")))).as("meta"))
      .select(c("media_id"), c("meta.kind"), c("meta.n_frames"))
    assert(probed.collect().forall(r => r.getString(1) == "video" && r.getInt(2) == 8))
    val feats = vids
      .select(c("media_id"), explode(ec(SampleFrames(ee(c("bytes")), 4))).as("frame"))
      .select(c("media_id"), ec(FrameFeatures(ee(c("frame")))).as("f"))
    val n = feats.count()
    assert(n == 24) // 8 frames, stride 4 -> 2 per video
    val resized = vids.limit(2)
      .select(ec(ResizeFrame(ee(element_at(ec(SampleFrames(ee(c("bytes")), 8)), 1)), 8, 8)).as("png"))
      .collect()
    resized.foreach { r =>
      val img = graft.img.Codec.decodeBGR(r.getAs[Array[Byte]]("png"))
      assert(img.w == 8 && img.h == 8)
    }
  }

  // ------------------------------------------------ streaming

  test("streaming tile scoring equals the batch pipeline (incl. missing-tile zero-fill)") {
    val ts = 64
    val dir = java.nio.file.Files.createTempDirectory("stream").toString
    val tilesDir = s"$dir/tiles"
    val outDir = s"$dir/out"
    // tile table WITH HOLES: two cells never arrive in any batch, so the
    // zero-fill pass must supply their fragments (reference missing-tile
    // semantics) — this is what distinguishes handleMissingTiles=true
    val all = Synthetic.tiles(spark, 4, 4, ts)
      .where(!col("image_id").isin("SU0101", "SU0302"))
    all.where(col("image_id") < lit("SU0202")).write.parquet(tilesDir)
    val gardens = Synthetic.gardens(spark, 15, 4, 4)
    val cfg = VegPipeline.Config(tileSize = ts, kernelNames = Seq("greenleaf"))
    assert(cfg.handleMissingTiles, "test must exercise the batch default")

    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    val q = Streams.startTileScoring(spark, tilesDir, all, idx, cfg, outDir)
    q.processAllAvailable()
    all.where(col("image_id") >= lit("SU0202")).write.mode("append").parquet(tilesDir)
    q.processAllAvailable()
    q.stop()

    val streamed = Streams.fractionsFromPartials(spark, outDir, idx, cfg)
      .select("id", "npix", "frac_greenleaf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val batch = VegPipeline.run(spark, gardens, all, cfg)
      .select("id", "npix", "frac_greenleaf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(streamed.toSeq == batch.toSeq)
  }

  test("checkpoint/resume: interrupted run resumes from the manifest and matches batch") {
    val ts = 64
    val dir = java.nio.file.Files.createTempDirectory("ckpt").toString
    val gardens = Synthetic.gardens(spark, 20, 4, 4)
    // holes in the tile table: the final fractions() pass must zero-fill
    // cells absent from the WHOLE table, exactly once across all groups
    val tiles = Synthetic.tiles(spark, 4, 4, ts)
      .where(!col("image_id").isin("SU0200", "SU0103"))
    val cfg = VegPipeline.Config(tileSize = ts, kernelNames = Seq("greenleaf", "hsv"))
    assert(cfg.handleMissingTiles, "test must exercise the batch default")
    val idx = VegPipeline.buildIndex(spark, gardens, ts)

    // simulate a crash after 2 of 4 groups
    val ran1 = graft.pipeline.Checkpoint.runGroups(spark, idx, tiles, cfg, dir,
      buckets = 16, groupSize = 4, maxGroups = 2)
    assert(ran1 == 2)
    assert(graft.pipeline.Checkpoint.completedGroups(dir) == Set(0, 1))
    // resume: only the remaining 2 groups run
    val ran2 = graft.pipeline.Checkpoint.runGroups(spark, idx, tiles, cfg, dir,
      buckets = 16, groupSize = 4)
    assert(ran2 == 2)
    // re-invocation is a no-op (idempotent)
    assert(graft.pipeline.Checkpoint.runGroups(spark, idx, tiles, cfg, dir,
      buckets = 16, groupSize = 4) == 0)

    val resumed = graft.pipeline.Checkpoint.fractions(spark, idx, cfg, dir)
      .select("id", "npix", "frac_greenleaf", "frac_hsv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    val batch = VegPipeline.run(spark, gardens, tiles, cfg)
      .select("id", "npix", "frac_greenleaf", "frac_hsv").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    assert(resumed.toSeq == batch.toSeq)
  }

  test("checkpoint zero-fills against the pruned tile set (non-canonical ids stay consistent)") {
    // a parseable-but-non-canonical id is dropped by the covering-range
    // predicate in every scoring group; fractions() must treat it as
    // missing too (not silently vanish) => checkpoint == direct batch
    // under the SAME pruning config
    val ts = 64
    val dir = java.nio.file.Files.createTempDirectory("ckpt_nc").toString
    val gardens = Synthetic.gardens(spark, 20, 4, 4)
    // "SU+201" is parseable ("+2".toInt == 2) and decodes to the SAME
    // covered cell as canonical "SU0201", but fails the canonical IN-set
    // — the exact alias class (like skip-I letters) the fix targets: on
    // the old code its cell appeared present (full-table presentCells)
    // yet was never scored, so it vanished from both passes
    val tiles = Synthetic.tiles(spark, 4, 4, ts)
      .withColumn("image_id",
        when(col("image_id") === "SU0201", lit("SU+201")).otherwise(col("image_id")))
    val cfg = VegPipeline.Config(tileSize = ts, kernelNames = Seq("greenleaf"))
    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    graft.pipeline.Checkpoint.runGroups(spark, idx, tiles, cfg, dir,
      buckets = 8, groupSize = 4)
    val ck = graft.pipeline.Checkpoint.fractions(spark, idx, cfg, dir)
      .select("id", "npix", "frac_greenleaf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val batch = VegPipeline.run(spark, gardens, tiles, cfg)
      .select("id", "npix", "frac_greenleaf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(ck.toSeq == batch.toSeq)
  }

  test("streaming tile scoring equals batch on alias tile ids (SU+201 zero-filled)") {
    // the covering-range predicate drops the alias "SU+201" from every
    // scan, so batch zero-fills its cell; a stream unit must prune the
    // same way and record the cell as missing, not score its pixels
    val ts = 64
    val dir = java.nio.file.Files.createTempDirectory("stream_alias").toString
    val tilesDir = s"$dir/tiles"
    val outDir = s"$dir/out"
    val tiles = Synthetic.tiles(spark, 4, 4, ts)
      .withColumn("image_id",
        when(col("image_id") === "SU0201", lit("SU+201")).otherwise(col("image_id")))
    val gardens = Synthetic.gardens(spark, 20, 4, 4)
    val cfg = VegPipeline.Config(tileSize = ts, kernelNames = Seq("greenleaf"))
    assert(cfg.handleMissingTiles, "test must exercise the batch default")
    val idx = VegPipeline.buildIndex(spark, gardens, ts)

    tiles.where(col("image_id") < lit("SU0202")).write.parquet(tilesDir)
    val q = Streams.startTileScoring(spark, tilesDir, tiles, idx, cfg, outDir)
    try {
      q.processAllAvailable()
      tiles.where(col("image_id") >= lit("SU0202")).write.mode("append").parquet(tilesDir)
      q.processAllAvailable()
    } finally q.stop()

    def rows(df: org.apache.spark.sql.DataFrame) = df.select("id", "npix", "frac_greenleaf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    assert(rows(Streams.fractionsFromPartials(spark, outDir, idx, cfg)) ==
      rows(VegPipeline.run(spark, gardens, tiles, cfg)))
  }

  test("checkpoint fractions read no tile, also in a directory an older layout wrote") {
    val ts = 64
    val dir = java.nio.file.Files.createTempDirectory("ckpt_notiles")
    val tilesDir = dir.resolve("tiles").toString
    val outDir = dir.resolve("out").toString
    Synthetic.tiles(spark, 4, 4, ts).where(!col("image_id").isin("SU0200", "SU0103"))
      .write.parquet(tilesDir)
    val tiles = spark.read.parquet(tilesDir)
    val gardens = Synthetic.gardens(spark, 20, 4, 4)
    val cfg = VegPipeline.Config(tileSize = ts, kernelNames = Seq("greenleaf"))
    val idx = VegPipeline.buildIndex(spark, gardens, ts)
    def rows(df: org.apache.spark.sql.DataFrame) = df.select("id", "npix", "frac_greenleaf").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val batch = rows(VegPipeline.run(spark, gardens, tiles, cfg))
    assert(graft.pipeline.Checkpoint.runGroups(spark, idx, tiles, cfg, outDir,
      buckets = 8, groupSize = 4) == 2)

    // finalization reads only partials: the tiles may go
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tilesDir))
    assert(rows(graft.pipeline.Checkpoint.fractions(spark, idx, cfg, outDir)) == batch)

    // an older layout also kept each group's cell set under cells/; the
    // directory finalizes as it is
    spark.range(3).toDF("cell").write.parquet(dir.resolve("out").resolve("cells")
      .resolve("group=1").toString)
    assert(rows(graft.pipeline.Checkpoint.fractions(spark, idx, cfg, outDir)) == batch)

    // a directory no group committed to still fails
    intercept[IllegalArgumentException] {
      graft.pipeline.Checkpoint.fractions(spark, idx, cfg, dir.resolve("empty").toString)
    }
  }

  test("streaming hourly window agg runs and is deterministic") {
    val a = Streams.hourlyEventCounts(spark, "/root/testdata/sf0.001/events.parquet").collect()
    assert(a.length > 0)
    val b = Streams.hourlyEventCounts(spark, "/root/testdata/sf0.001/events.parquet").collect()
    assert(a.map(_.toString).sameElements(b.map(_.toString)))
  }

  test("streaming over a single-file events parquet leaves no staged copy behind") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events_one").toFile
    Seq(("2024-01-01 00:10:00", "view", 1.5), ("2024-01-01 01:20:00", "click", 2.0))
      .toDF("ts", "event_type", "value").withColumn("ts", col("ts").cast("timestamp"))
      .coalesce(1).write.parquet(s"$dir/events")
    val file = new java.io.File(dir, "events").listFiles().filter(_.getName.endsWith(".parquet"))
    assert(file.length == 1)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def staged() = Option(tmp.list()).toSeq.flatten.filter(_.startsWith("graft_stream_src")).toSet
    val before = staged()
    assert(Streams.hourlyEventCounts(spark, file.head.getPath).count() == 2)
    assert(staged() -- before == Set.empty)
  }

  test("streaming dedup (q56): equals batch SELECT DISTINCT; state bounded by watermark key") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val streamed = Streams.dedupedEventKeys(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSeq
    val batch = spark.read.parquet(path)
      .select(col("user_id"), col("event_type"),
        date_trunc("hour", col("ts").cast("timestamp")).as("hr"))
      .distinct().orderBy("user_id", "event_type", "hr").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // a second run is deterministic (arrival order cannot leak into the
    // output because the projection is exactly the key)
    val again = Streams.dedupedEventKeys(spark, path).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2))).toSeq
    assert(again == streamed)
  }

  test("stream-stream interval join (q59): equals the batch interval self-join, deterministic") {
    val path = "/root/testdata/sf0.001/events.parquet"
    val streamed = Streams.attributedClicks(spark, path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val ev = spark.read.parquet(path)
    val v = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("vts"))
    val c = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    val batch = v.join(c, Seq("user_id"))
      .where(col("cts") >= col("vts") && col("cts") <= col("vts") + expr("interval 1 hour"))
      .select("user_id", "view_id", "click_id")
      .orderBy("user_id", "view_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("sessionization (q40): session_window matches the DuckDB 691-session count") {
    val sessions = Streams.userSessions(spark, "/root/testdata/sf0.001/events.parquet").collect()
    // 691 sessions independently derived via gap-and-islands SQL in DuckDB
    assert(sessions.length == 691)
  }

  test("embedding-cosine near-dup (q29) finds exactly the injected pairs") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q29_embedding_neardup")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val expectIds = spark.read.parquet(s"$dir/embeddings.parquet")
      .where(col("vec_id") % 50 === 0).select("vec_id")
      .collect().map(_.getLong(0)).sorted
    val off = spark.read.parquet(s"$dir/embeddings.parquet")
      .agg(max("vec_id")).head().getLong(0) + 1L
    // each injected perturbed copy pairs with its original and nothing else
    assert(got.map(t => (t._1, t._2)).toSeq ==
      expectIds.map(v => (v, v + off)).toSeq)
    assert(got.forall(t => t._3 >= 98 && t._3 <= 100))
  }

  test("flagship fragment sidecar parts reproduce the q30 per-garden result") {
    val vc = Queries.veg30(spark, "/root/testdata/sf0.001")
    val (frags, meta) = Queries.vegFragParts(spark, vc)
    val nK = vc.cfg.kernelNames.length
    val sums = frags.groupBy("gid").agg(sum("npix").as("npix"),
      (0 until nK).map(i => sum(col("veg")(i)).as(s"v$i")): _*)
    val rebuilt = meta.join(sums, Seq("gid"), "left_outer")
      .select(Seq(col("id"), coalesce(col("npix"), lit(0L)).as("npix")) ++
        vc.cfg.kernelNames.zipWithIndex.map { case (k, i) =>
          when(col("npix").isNull || col("npix") === 0L, lit(0.0))
            .otherwise(col(s"v$i").cast("double") / col("npix").cast("double"))
            .as(s"frac_$k")
        }: _*)
      .orderBy("id").collect().map(_.toString)
    val direct = SparkEntry.queries("q30_veg_flagship")(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString)
    assert(rebuilt.toSeq == direct.toSeq)
  }

  // ------------------------------------------------ as-of / range joins

  private def writeEvents(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ev").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def ts(sec: Long) =
    new java.sql.Timestamp(java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime + sec * 1000L)

  test("as-of join (q41): strict prior, equal-ts exclusion, max-event_id tiebreak") {
    val dir = writeEvents(Seq(
      (1L, ts(10), 1L, "error", 1.5),
      (2L, ts(10), 1L, "error", 2.5),  // same ts as 1: max event_id must win
      (3L, ts(20), 1L, "error", 3.5),  // equal to click 4's ts: excluded (strict <)
      (4L, ts(20), 1L, "click", 0.0),
      (5L, ts(30), 1L, "click", 0.0),  // sees error 3
      (6L, ts(5), 2L, "click", 0.0),   // no prior error for user 2
      (7L, ts(9), 2L, "error", 7.5),
      (8L, ts(12), 2L, "click", 0.0)))
    val out = SparkEntry.queries("q41_asof_join")(spark, dir)
      .select("click_id", "err_id", "err_value").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2))).toSeq
    assert(out == Seq((4L, 2L, 2.5), (5L, 3L, 3.5), (6L, -1L, -1.0), (8L, 7L, 7.5)))
  }

  test("bucketed range join (q42) equals brute force; plan has no nested-loop/cartesian join") {
    // clicks straddle bucket boundaries and the exact +300 s edge
    val rows = (0 until 40).map { i =>
      val kind = if (i % 4 == 0) "error" else "click"
      (100L + i, ts(i.toLong * 97 % 1300), (i % 3).toLong, kind, i.toDouble)
    } ++ Seq(
      (900L, ts(1000), 9L, "error", 0.0),
      (901L, ts(1000), 9L, "click", 0.0),   // equal ts: excluded (strict >)
      (902L, ts(1300), 9L, "click", 0.0),   // exactly +300 s: included
      (903L, ts(1301), 9L, "click", 0.0))   // just beyond: excluded
    val dir = writeEvents(rows)
    val df = SparkEntry.queries("q42_range_join")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    val errs = rows.filter(_._4 == "error")
    val clicks = rows.filter(_._4 == "click")
    val brute = errs.map { e =>
      e._1 -> clicks.count(c => c._3 == e._3 &&
        c._2.getTime > e._2.getTime && c._2.getTime <= e._2.getTime + 300000L).toLong
    }.toMap
    assert(got == brute)
    assert(got(900L) == 1L)  // only the exact +300 s click
  }

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    rows.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("trigram repetition (q43): duplicate fractions incl. short-doc edge") {
    val dir = writeDocs(Seq(
      (0L, "a b a b a b"),   // 4 trigrams, 2 distinct
      (1L, "x y"),           // too short: 0 trigrams, frac 0
      (2L, "w w w w w"),     // 3 trigrams, all identical
      (3L, "p q r s")))      // 2 trigrams, all distinct
    val got = SparkEntry.queries("q43_repetition")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSeq
    assert(got == Seq((0L, 4, 2, 0.5), (1L, 0, 0, 0.0),
      (2L, 3, 2, 2.0 / 3.0), (3L, 2, 0, 0.0)))
  }

  test("tf/df keywords (q44): ranking and word-order tiebreak") {
    val dir = writeDocs(Seq(
      (0L, "apple apple banana"),
      (1L, "banana cherry")))
    val got = SparkEntry.queries("q44_keywords")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    // doc0: apple tf2/df1=2.0, banana tf1/df2=0.5; doc1: cherry 1.0, banana 0.5
    assert(got == Seq((0L, 1, "apple", 2L, 1L), (0L, 2, "banana", 1L, 2L),
      (1L, 1, "cherry", 1L, 1L), (1L, 2, "banana", 1L, 2L)))
  }

  test("decontamination (q45): 5-gram overlap vs brute force; broadcast plan, no cartesian") {
    // test docs are doc_id % 20 == 0; doc 21 copies a 5-gram run from doc 0,
    // doc 22 shares only a 4-gram (below n), doc 23 is short, doc 24 clean
    val dir = writeDocs(Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta"),
      (20L, "one two three four five six"),
      (21L, "xx alpha beta gamma delta epsilon yy"),          // 1 shared 5-gram (from doc 0)
      (22L, "one two three four nope"),                        // longest overlap = 4-gram: clean
      (23L, "two three"),                                      // too short for any 5-gram
      (24L, "totally different words here with no overlap at all"),
      (25L, "two three four five six seven")))                 // shares "two three four five six"
    val df = SparkEntry.queries("q45_decontaminate")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    assert(plan.contains("BroadcastHashJoin"))  // test-gram side broadcasts
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((21L, 1L, 1), (22L, 0L, 0), (23L, 0L, 0),
      (24L, 0L, 0), (25L, 1L, 1)))
    // brute force over raw grams (no hashing) must agree on the flag set
    def grams(s: String): Set[String] = {
      val w = s.split(" ")
      if (w.length < 5) Set.empty
      else (0 to w.length - 5).map(i => w.slice(i, i + 5).mkString(" ")).toSet
    }
    val docs = Seq(0L -> "alpha beta gamma delta epsilon zeta eta",
      20L -> "one two three four five six",
      21L -> "xx alpha beta gamma delta epsilon yy",
      22L -> "one two three four nope", 23L -> "two three",
      24L -> "totally different words here with no overlap at all",
      25L -> "two three four five six seven")
    val testG = docs.filter(_._1 % 20 == 0).flatMap(d => grams(d._2)).toSet
    val brute = docs.filter(_._1 % 20 != 0)
      .map(d => (d._1, grams(d._2).count(testG.contains).toLong)).toMap
    assert(got.map(r => r._1 -> r._2).toMap == brute)
  }

  test("connected components: chain, star, singleton; multi-round convergence") {
    import spark.implicits._
    // one 50-node chain (worst case for label propagation), one star, one singleton
    val chain = (0L until 49L).map(i => (i + 1, i))      // edges point "backwards"
    val star = Seq((100L, 103L), (100L, 101L), (102L, 100L))
    val nodes = ((0L to 49L) ++ (100L to 103L) ++ Seq(999L)).toDF("id")
    val edges = (chain ++ star).toDF("src", "dst")
    // smallGraph = 0 forces the ITERATIVE path (the auto-gate would take
    // the single-task union-find at this |V|)
    val got = graft.functions.ConnectedComponents.run(nodes, edges, smallGraph = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert((0L to 49L).forall(got(_) == 0L))
    assert((100L to 103L).forall(got(_) == 100L))
    assert(got(999L) == 999L)
    // the gated single-task union-find path must label identically
    val gotLocal = graft.functions.ConnectedComponents.run(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotLocal == got)
  }

  test("connected components small-graph gate: one job each way, same labels") {
    import spark.implicits._
    // adversarial shapes for union-by-min ordering: a cycle, a component
    // whose min id arrives LAST in edge order, duplicate + both-orientation
    // edges, and a singleton
    val nodes = (Seq(7L, 3L, 9L, 12L, 15L, 20L, 21L, 22L, 1L) :+ 500L).toDF("id")
    val edges = Seq(
      (7L, 9L), (9L, 12L), (12L, 7L),          // cycle
      (20L, 21L), (21L, 22L), (22L, 20L), (20L, 21L), (21L, 20L), // dups/orientations
      (15L, 3L), (3L, 1L)                       // min id (1) joins via the tail
    ).toDF("src", "dst")
    val local = graft.functions.ConnectedComponents.run(nodes, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val iter = graft.functions.ConnectedComponents.run(nodes, edges, smallGraph = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(local == iter)
    assert(local(7L) == 7L && local(9L) == 7L && local(12L) == 7L)
    assert(Seq(15L, 3L, 1L).forall(local(_) == 1L))
    assert(Seq(20L, 21L, 22L).forall(local(_) == 20L))
    assert(local(500L) == 500L)
  }

  test("dedup clusters (q47): transitive chain collapses; agrees with union-find over q24 pairs") {
    // docs 0/1/2 form a near-dup CHAIN under simhash hamming<=16 (0~1, 1~2
    // likely; 0~2 may or may not pair directly — CC must union them
    // regardless); 3/4 are exact dups; 5 is unrelated.
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again today"),
      (1L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (2L, "the quick brown fox jumps over the lazy cat again and again tonight"),
      (3L, "entirely different content about spark query engines at scale"),
      (4L, "entirely different content about spark query engines at scale"),
      (5L, "zebra xylophone quartz vortex jumble frond plinth"))
    val dir = writeDocs(docs)
    val pairs = SparkEntry.queries("q24_simhash_dedup")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 2L)) && pairs.contains((3L, 4L)))
    // brute-force union-find over the SAME pair set
    val parent = scala.collection.mutable.Map(docs.map(d => d._1 -> d._1): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) => val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val want = docs.map(d => d._1 -> find(d._1)).toMap
    val got = SparkEntry.queries("q47_dedup_clusters")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got.map(r => r._1 -> r._2).toMap == want)
    val sizes = want.values.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got.forall { case (id, cl, sz, keep) =>
      sz == sizes(cl) && keep == (if (id == cl) 1 else 0) })
  }

  test("PII redaction (q48): emails and phones replaced and counted; clean text untouched") {
    val dir = writeDocs(Seq(
      (0L, "contact alice.smith+dev@example.co.uk or bob@test.org today"),
      (1L, "call 555-123-4567 or 555 987 6543 now"),
      (2L, "mixed: c@d.io and 111-222-3333 together"),
      (3L, "no pii here at all"),
      (4L, "not a phone: 12-34-56 or 1234-567-8901x")))  // no \b-delimited 3-3-4 run
    val got = SparkEntry.queries("q48_redact_pii")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(got(0) == ((0L, "contact <EMAIL> or <EMAIL> today", 2, 0)))
    assert(got(1) == ((1L, "call <PHONE> or <PHONE> now", 0, 2)))
    assert(got(2) == ((2L, "mixed: <EMAIL> and <PHONE> together", 1, 1)))
    assert(got(3) == ((3L, "no pii here at all", 0, 0)))
    assert(got(4) == ((4L, "not a phone: 12-34-56 or 1234-567-8901x", 0, 0)))
  }

  test("stratified sample (q49): per-language rates, deterministic, matches independent md5 math") {
    // 40 en / 40 fr / 40 de docs with unambiguous stopword signals
    val docs = (0L until 120L).map { i =>
      val body = i % 3 match {
        case 0 => s"the cat and the dog of house $i is here"
        case 1 => s"le chat et la maison $i est grande"
        case _ => s"der hund und die katze $i ist gross"
      }
      (i, body)
    }
    val dir = writeDocs(docs)
    val got = SparkEntry.queries("q49_stratified_sample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    // independent reimplementation: JDK MessageDigest md5, same salt/bucket
    def bucket(text: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"strat|$text".getBytes("UTF-8"))
      (java.lang.Long.parseLong(d.take(3).map(b => f"$b%02x").mkString, 16) % 100).toInt
    }
    val rates = Map("en" -> 50, "fr" -> 20, "de" -> 10)
    val want = docs.flatMap { case (id, text) =>
      val lang = (id % 3) match { case 0 => "en"; case 1 => "fr"; case _ => "de" }
      val b = bucket(text)
      if (b < rates(lang)) Some((id, lang, b, rates(lang))) else None
    }
    assert(got == want)
    assert(got.nonEmpty && got.map(_._2).distinct.size == 3)  // every stratum sampled
  }

  test("map-only corpus ops (q46/q48/q49/q54): no joins, only the presentation-sort exchange") {
    val dir = writeDocs((0L until 32L).map(i => (i, s"the words of document $i and more")))
    for (q <- Seq("q46_hash_split", "q48_redact_pii", "q49_stratified_sample",
        "q54_mixture_upsample")) {
      val df = SparkEntry.queries(q)(spark, dir)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"), s"$q plans a join:\n$plan")
      // AQE prints the plan twice (initial + final); the only exchange
      // kind allowed anywhere is the presentation sort's rangepartitioning
      val exchanges = "Exchange [a-z]+partitioning".r.findAllIn(plan).toSeq
      assert(exchanges.forall(_.contains("rangepartitioning")),
        s"$q has non-sort exchanges: $exchanges")
    }
  }

  test("hash split (q46): deterministic, content-keyed, buckets in range, split thresholds") {
    val dir = writeDocs((0L until 64L).map(i => (i, s"document body number ${i % 16}")))
    val a = SparkEntry.queries("q46_hash_split")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    val b = SparkEntry.queries("q46_hash_split")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq
    assert(a == b)  // deterministic across runs
    assert(a.forall { case (_, bk, sp) =>
      bk >= 0 && bk < 100 &&
        sp == (if (bk < 80) "train" else if (bk < 90) "val" else "test") })
    // same text -> same bucket regardless of doc_id (content-keyed)
    val byText = a.groupBy(_._1 % 16).values
    assert(byText.forall(g => g.map(_._2).distinct.size == 1))
  }

  test("PrefixSum: equals the single-window cumsum; no SinglePartition exchange") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // sparse, unordered, duplicate-free keys; values incl. zeros
    val rows = Seq((7L, 3L), (1L, 0L), (100L, 5L), (42L, 2L), (3L, 7L),
      (55L, 1L), (2L, 4L), (99L, 0L), (64L, 6L), (13L, 9L))
    val df = rows.toDF("k", "v").repartition(4)
    val got = graft.functions.PrefixSum.runningTotal(df, "k", "v", "run", buckets = 3)._1
      .select("k", "run").as[(Long, Long)].collect().sortBy(_._1)
    val want = df.withColumn("run", sum("v").over(Window.orderBy("k")))
      .select("k", "run").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    // the distributed scan must not plan the single-task global window
    val plan = graft.functions.PrefixSum.runningTotal(df, "k", "v", "run", buckets = 3)._1
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"global-window bottleneck:\n$plan")
    // empty input: null column, no crash
    val empty = spark.emptyDataFrame.withColumn("k", lit(1L)).withColumn("v", lit(1L)).where(lit(false))
    assert(graft.functions.PrefixSum.runningTotal(empty, "k", "v", "run")._1.count() == 0)
  }

  test("pack sequences (q50): offsets are a prefix sum; boundary docs span sequences") {
    val dir = writeDocs((0L until 40L).map(i =>
      (i * 3, ((0 until (i.toInt % 7) * 30 + 1).map(j => s"w$j")).mkString(" "))))
    val rs = SparkEntry.queries("q50_pack_sequences")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // contiguity: each doc starts where the previous ended
    rs.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 == a._3 + a._2, s"gap between ${a._1} and ${b._1}") }
    // seq ids are the 512-token cuts of [start, start+n)
    assert(rs.forall { case (_, n, off, f, l) =>
      f == off / 512 && l == (off + n - 1) / 512 && l >= f })
    // with 30..181-token docs a boundary-spanning doc must exist
    assert(rs.exists { case (_, _, _, f, l) => l > f })
  }

  test("vocab OOV (q51): top-V tie-break deterministic, counts exact, vocab broadcast") {
    // "aa" x3, "bb" x3, "cc" x2, singles — with V=24 all words of this tiny
    // corpus are in-vocab except the 25th+ ranked; craft 26 distinct words
    val text0 = "aa aa aa bb bb bb cc cc " + (1 to 24).map(i => f"w$i%02d").mkString(" ")
    val dir = writeDocs(Seq((0L, text0), (1L, "aa bb zz")))
    val df = SparkEntry.queries("q51_vocab_oov")(spark, dir)
    val rs = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 0: 32 tokens; vocab = aa,bb,cc + 21 of w01..w24 (count 1, word asc
    // keeps w01..w21) -> OOV = w22,w23,w24 = 3
    assert(rs(0L) == ((32L, 3L)))
    // doc 1: aa,bb in vocab; zz (count 1) sorts after w21 -> OOV = 1
    assert(rs(1L) == ((3L, 1L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"vocab probe not broadcast:\n$plan")
  }

  test("chunking (q57): overlap windows, truncated tail, short-doc and exact-boundary edges") {
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    val dir = writeDocs(Seq(
      (0L, words(5)),     // n < chunk: one truncated chunk
      (1L, words(96)),    // n == stride: exactly one FULL-count chunk (96 < 128)
      (2L, words(97)),    // one past the stride: second chunk of 1
      (3L, words(128)),   // exactly one full chunk (ceil(128/96) = 2 -> 2nd has 32)
      (4L, words(300))))  // ceil(300/96) = 4 chunks; last n_tok = 300 - 288 = 12
    val got = SparkEntry.queries("q57_chunk_overlap")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.filter(_._1 == 0L) == Seq((0L, 0L, 0L, 5L)))
    assert(got.filter(_._1 == 1L) == Seq((1L, 0L, 0L, 96L)))
    assert(got.filter(_._1 == 2L) == Seq((2L, 0L, 0L, 97L), (2L, 1L, 96L, 1L)))
    assert(got.filter(_._1 == 3L) == Seq((3L, 0L, 0L, 128L), (3L, 1L, 96L, 32L)))
    assert(got.filter(_._1 == 4L) == Seq((4L, 0L, 0L, 128L), (4L, 1L, 96L, 128L),
      (4L, 2L, 192L, 108L), (4L, 3L, 288L, 12L)))
    // consecutive full chunks overlap by exactly chunk - stride = 32 tokens
    val full = got.filter(r => r._1 == 4L && r._4 == 128L)
    assert(full.sliding(2).forall { case Seq(a, b) => a._3 + 128 - b._3 == 32 })
  }

  test("shuffle order (q58): a permutation, deterministic, equals the single-window rank") {
    import org.apache.spark.sql.expressions.Window
    val dir = writeDocs((0L until 64L).map(i => (i, s"document body number $i with words")))
    val df = SparkEntry.queries("q58_shuffle_order")(spark, dir)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // positions are exactly 0..N-1 (a permutation), not the identity
    assert(got.map(_._2).sorted == (0L until 64L))
    assert(got.map(_._2) != (0L until 64L).toSeq)
    // equals the naive single-window formulation
    val naive = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        (row_number().over(Window.orderBy(
          conv(substring(md5(concat(lit("shuf|"), col("text"))), 1, 15), 16, 10)
            .cast("long"))) - 1).cast("long").as("p"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.forall { case (id, p) => naive(id) == p })
    // distributed shape: no SinglePartition exchange anywhere in the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"q58 funnels through one task:\n$plan")
  }

  test("z-order key (q52): column arithmetic equals the bit-by-bit reference; bijective") {
    import graft.index.ZOrder
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val coords = Seq.tabulate(512)(_ => (rnd.nextInt(65536), rnd.nextInt(65536))) ++
      Seq((0, 0), (65535, 65535), (65535, 0), (0, 65535), (700, 1300))
    val got = coords.toDF("e", "n")
      .select($"e", $"n", ZOrder.key($"e".cast("long"), $"n".cast("long")).as("z"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    coords.foreach { case (e, n) =>
      assert(got((e, n)) == ZOrder.keyRef(e, n), s"mismatch at ($e, $n)")
    }
    assert(got.values.toSet.size == got.size) // bijective on distinct coords
    // locality: key of a cell and its +1 neighbours differ only below the
    // next power-of-4 boundary — spot-check the defining recursive split:
    // all cells of a 2^k-aligned square share the key's high bits
    val base = ZOrder.keyRef(0x1200, 0x0400)
    for (de <- 0 until 16; dn <- 0 until 16)
      assert((ZOrder.keyRef(0x1200 + de, 0x0400 + dn) >> 8) == (base >> 8))
  }

  test("z-order layout: adversarial strip bbox prunes to few files; column-major layout cannot") {
    import graft.sources.TileLayout
    // 32x32 grid of tiny tiles -> 16 files. Adversarial bbox: the full-width
    // bottom strip (n in [100,103]) — a cell-sorted (e-major) layout puts a
    // piece of EVERY e-column in every file's n-range, so nothing prunes.
    val tiles = Synthetic.tiles(spark, 32, 32, 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    TileLayout.writeZOrdered(tiles, s"$dir/z", nFiles = 16)
    val zdf = spark.read.parquet(s"$dir/z")
    // layout did not lose or duplicate rows, and the key is the Morton code
    assert(zdf.count() == 32 * 32)
    val bad = zdf.where(col("zkey") =!=
      graft.index.ZOrder.key(col("cell_e").cast("long"), col("cell_n").cast("long"))).count()
    assert(bad == 0)
    def matchingFiles(df: org.apache.spark.sql.DataFrame,
                      eLo: Int, eHi: Int, nLo: Int, nHi: Int): Long =
      df.groupBy(input_file_name().as("f"))
        .agg(min("cell_e").as("e0"), max("cell_e").as("e1"),
          min("cell_n").as("n0"), max("cell_n").as("n1"))
        .where(col("e1") >= eLo && col("e0") <= eHi &&
          col("n1") >= nLo && col("n0") <= nHi)
        .count()
    // synthetic grid bases at (400, 100)
    // the strip lives in 4 aligned 8x8 Morton blocks; quantile-sampled range
    // boundaries can straddle each block across two files -> at most 8
    val zHit = matchingFiles(zdf, 400, 431, 100, 103)
    assert(zHit <= 8, s"z-order layout should prune the strip to a few files, got $zHit/16")
    // control: same table range-laid-out by the PACKED cell (e-major)
    val cellSorted = zdf.drop("zkey")
      .repartitionByRange(16, col("cell")).sortWithinPartitions("cell")
    cellSorted.write.mode("overwrite").parquet(s"$dir/em")
    val emHit = matchingFiles(spark.read.parquet(s"$dir/em"), 400, 431, 100, 103)
    assert(emHit >= 14, s"e-major control should match nearly all files, got $emHit/16")
    // both layouts return identical bbox rows
    def bbox(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.where(col("cell_e").between(400, 431) && col("cell_n").between(100, 103))
        .select("image_id").collect().map(_.getString(0)).toSet
    assert(bbox(zdf) == bbox(spark.read.parquet(s"$dir/em")) && bbox(zdf).size == 32 * 4)
  }

  test("prefix-filtered set-similarity join: equals brute force, prunes candidates, no cartesian") {
    import spark.implicits._
    // two disjoint-vocabulary families of near-dup chains plus noise:
    // cross-family pairs share NOTHING, so prefix filtering must prune them
    def words(fam: Int, i: Int): Seq[String] = {
      val base = (0 until 20).map(w => s"w${fam}_$w")
      base.drop(i % 3) ++ (0 until (i % 3)).map(w => s"n${fam}_${i}_$w")
    }
    val docs = (0 until 60).map(i => (i.toLong, words(i % 2, i / 2).distinct)).toDF("doc_id", "words")
    val got = graft.functions.SetSimJoin.jaccardSelfJoin(docs, "doc_id", "words", 9L, 10L)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // brute force over the same frame
    val a = docs.select(col("doc_id").as("a_id"), col("words").as("aw"))
    val b = docs.select(col("doc_id").as("b_id"), col("words").as("bw"))
    val brute = a.crossJoin(b).where(col("a_id") < col("b_id"))
      .withColumn("n_common", size(array_intersect(col("aw"), col("bw"))))
      .withColumn("n_union", size(col("aw")) + size(col("bw")) - col("n_common"))
      .where(col("n_common") * 10 >= col("n_union") * 9)
      .select("a_id", "b_id", "n_common", "n_union")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val gotSet = key(got)
    assert(gotSet == key(brute) && gotSet.nonEmpty)
    // pruning: candidates must exclude every cross-family pair (1/2 of
    // all pairs share no token at all)
    val nCand = graft.functions.SetSimJoin.candidates(docs, "doc_id", "words", 9L, 10L).count()
    assert(nCand <= 60L * 59 / 2 / 2, s"prefix filter pruned nothing: $nCand candidates")
    assert(nCand >= gotSet.size)
  }

  test("containment join: equals directed brute force; catches what Jaccard misses") {
    import spark.implicits._
    // doc 0 ⊂ doc 1 (1 is 4x longer: Jaccard 0.25, containment 1.0);
    // doc 2 ⊂ doc 3 at 9/10; docs 4/5 disjoint-vocabulary noise
    val short = (0 until 10).map(w => s"c$w")
    val long = short ++ (0 until 30).map(w => s"x$w")
    val nearSub = short.take(9) :+ "odd"
    val docs = Seq(
      (0L, short), (1L, long), (2L, nearSub), (3L, short ++ Seq("pad1", "pad2")),
      (4L, (0 until 12).map(w => s"q$w")), (5L, (0 until 12).map(w => s"r$w")))
      .toDF("doc_id", "words")
    val got = graft.functions.SetSimJoin.containmentSelfJoin(docs, "doc_id", "words", 9L, 10L)
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    val a = docs.select(col("doc_id").as("a_id"), col("words").as("aw"))
    val b = docs.select(col("doc_id").as("b_id"), col("words").as("bw"))
    val brute = a.crossJoin(b).where(col("a_id") =!= col("b_id"))
      .withColumn("n_common", size(array_intersect(col("aw"), col("bw"))))
      .withColumn("a_len", size(col("aw")))
      .where(col("n_common") * 10 >= col("a_len") * 9)
      .select("a_id", "b_id", "n_common", "a_len")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val gotSet = key(got)
    assert(gotSet == key(brute))
    // the asymmetric pair Jaccard ≥ 0.9 can never return: 0 ⊂ 1
    assert(gotSet.contains((0L, 1L, 10, 10)))
    assert(!gotSet.contains((1L, 0L, 10, 40))) // containment is DIRECTED
    assert(gotSet.contains((2L, 3L, 9, 10)))   // 9/10 boundary inclusive
    assert(!gotSet.exists(p => p._1 >= 4L || p._2 >= 4L)) // noise prunes out
  }

  test("set-similarity dense path: bitset plan equals brute force and the sparse plan") {
    import spark.implicits._
    // 30-token vocabulary -> the adaptive router must take the bitset
    // path; mix of exact-duplicate classes (diagonal expansion), a
    // boundary subset, an asymmetric container, and disjoint noise
    val ten = (0 until 10).map(w => s"t$w")
    val docs = (
      Seq(0L, 1L, 2L).map(i => (i, ten)) ++                       // identical class of 3
        Seq((3L, ten.take(9)),                                    // 9/10 boundary vs class
          (4L, (0 until 20).map(w => s"t$w")),                    // container of the class
          (5L, (20 until 30).map(w => s"t$w")))                   // disjoint noise
      ).toDF("doc_id", "words")
    def bruteJ = {
      val a = docs.select(col("doc_id").as("a_id"), col("words").as("aw"))
      val b = docs.select(col("doc_id").as("b_id"), col("words").as("bw"))
      a.crossJoin(b).where(col("a_id") < col("b_id"))
        .withColumn("n_common", size(array_intersect(col("aw"), col("bw"))))
        .withColumn("n_union", size(col("aw")) + size(col("bw")) - col("n_common"))
        .where(col("n_common") * 10 >= col("n_union") * 9)
        .select("a_id", "b_id", "n_common", "n_union")
    }
    def bruteC = {
      val a = docs.select(col("doc_id").as("a_id"), col("words").as("aw"))
      val b = docs.select(col("doc_id").as("b_id"), col("words").as("bw"))
      a.crossJoin(b).where(col("a_id") =!= col("b_id"))
        .withColumn("n_common", size(array_intersect(col("aw"), col("bw"))))
        .withColumn("a_len", size(col("aw")))
        .where(col("n_common") * 10 >= col("a_len") * 9)
        .select("a_id", "b_id", "n_common", "a_len")
    }
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val jac = graft.functions.SetSimJoin.jaccardSelfJoin(docs, "doc_id", "words", 9L, 10L)
    // routing proof: the dense expansion computes popcounts in the final
    // plan (the BNLJ itself ran eagerly at localCheckpoint time)
    assert(jac.queryExecution.executedPlan.toString.contains("bit_count"))
    val jSet = key(jac)
    assert(jSet == key(bruteJ))
    assert(jSet == key(graft.functions.SetSimJoin
      .sparseJaccardSelfJoin(docs, "doc_id", "words", 9L, 10L)))
    // duplicate class expands to its 3 within-class pairs exactly once each
    assert(Seq((0L, 1L), (0L, 2L), (1L, 2L)).forall(p => jSet.contains((p._1, p._2, 10, 10))))
    val con = graft.functions.SetSimJoin.containmentSelfJoin(docs, "doc_id", "words", 9L, 10L)
    assert(con.queryExecution.executedPlan.toString.contains("bit_count"))
    val cSet = key(con)
    assert(cSet == key(bruteC))
    assert(cSet == key(graft.functions.SetSimJoin
      .sparseContainmentSelfJoin(docs, "doc_id", "words", 9L, 10L)))
    assert(cSet.contains((0L, 4L, 10, 10)))   // contained in the longer doc
    assert(!cSet.contains((4L, 0L, 10, 20)))  // directed
    assert(cSet.contains((3L, 0L, 9, 9)))     // boundary subset
    assert(!cSet.exists(p => p._1 == 5L || p._2 == 5L)) // disjoint noise out
  }

  test("NearDup.bandedJoin: cross-frame recall equals brute force at the pigeonhole bound") {
    import spark.implicits._
    // base hash 0; probes at hamming 0..4 with differing bits SPREAD
    // across all four 16-bit bands (the adversarial placement: at
    // hamming 4 every band differs, so banding legitimately may or may
    // not find it — but <= 3 MUST be found, and the refine must cut 4)
    def spread(k: Int): Long = (0 until k).map(i => 1L << (i * 16)).fold(0L)(_ | _)
    val probe = (0 to 4).map(k => (k.toLong, spread(k))).toDF("doc_id", "h")
    val base = Seq((100L, 0L), (101L, spread(4))).toDF("doc_id", "h")
    val got = graft.functions.NearDup
      .bandedJoin(probe, "doc_id", "h", base, "doc_id", "h", bandBits = 16, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val brute = probe.select(col("doc_id").as("p"), col("h").as("ph"))
      .crossJoin(base.select(col("doc_id").as("b"), col("h").as("bh")))
      .withColumn("ham", bit_count(col("ph").bitwiseXOR(col("bh"))))
      .where(col("ham") <= 3)
      .select("p", "b", "ham")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == brute)
    // probes 0..3 match base 100 (hamming k <= 3); probe 4 must NOT
    // (refine cuts it even though bands still collide on band 4..);
    // probe 1..4 match base 101 at hamming 4-k <= 3
    assert(got.contains((0L, 100L, 0)) && got.contains((3L, 100L, 3)))
    assert(!got.exists(p => p._1 == 4L && p._2 == 100L))
    assert(got.contains((4L, 101L, 0)) && got.contains((1L, 101L, 3)))
  }

  test("set-similarity router boundary: 62-token vocab goes dense, 63 stays sparse") {
    import spark.implicits._
    // identical doc pairs at both vocab sizes; results must agree either way
    def docs(v: Int) = Seq(
      (0L, (0 until v).map(w => s"t$w")),
      (1L, (0 until v).map(w => s"t$w")),
      (2L, (0 until v - 1).map(w => s"t$w"))).toDF("doc_id", "words")
    def run(v: Int) = {
      val j = graft.functions.SetSimJoin.jaccardSelfJoin(docs(v), "doc_id", "words", 9L, 10L)
      (j.queryExecution.executedPlan.toString.contains("bit_count"),
        j.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet)
    }
    val (dense62, r62) = run(62)
    val (dense63, r63) = run(63)
    assert(dense62, "62-token vocabulary must take the bitset path")
    assert(!dense63, "63 tokens exceeds the 62-bit cap - must stay on the prefix plan")
    // at v tokens: pair (0,1) identical; (2,0)/(2,1) at (v-1)/v >= 0.9
    assert(r62 == Set((0L, 1L, 62, 62), (0L, 2L, 61, 62), (1L, 2L, 61, 62)))
    assert(r63 == Set((0L, 1L, 63, 63), (0L, 2L, 62, 63), (1L, 2L, 62, 63)))
  }

  test("SampleNegatives: interval boundaries, md5 offset parity, determinism") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    // weights 5, 1, 10 -> cum 5, 6, 16: every position p picks the item
    // whose [cum-w, cum) interval contains it
    val cum = Array(5L, 6L, 16L)
    val df = Seq(7L).toDF("id")
      .select(ec(graft.functions.SampleNegatives(ee(c("id")), cum, 16)).as("idx"))
    val got = df.head().getSeq[Int](0)
    // offset o = md5("7") first 12 hex chars % 16; cuts are o, o+1, ... o+15 (mod 16)
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest("7".getBytes("US-ASCII")).take(6)
      .foldLeft(0L)((a, b) => (a << 8) | (b & 0xffL))
    val o = h % 16
    val expect = (0 until 16).map { j =>
      val p = (o + j) % 16
      if (p < 5) 0 else if (p < 6) 1 else 2
    }
    assert(got == expect)
    // frequency proportionality: across the full cycle each item appears
    // w times (systematic sampling with k = T)
    assert(got.count(_ == 0) == 5 && got.count(_ == 1) == 1 && got.count(_ == 2) == 10)
    // deterministic under re-evaluation
    assert(df.head().getSeq[Int](0) == got)
  }

  test("streaming HLL registers equal batch registers across micro-batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hll").toString
    val ev = (0 until 2000).map(i => (i.toLong % 97, s"t${i % 3}")).toDF("user_id", "event_type")
    ev.repartition(4).write.mode("overwrite").parquet(s"$dir/events.parquet")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // 4 files -> 4 micro-batches (maxFilesPerTrigger=1): the cross-batch
    // max-register state merge must converge to the batch registers
    val streamRegs = key(graft.streaming.Streams.hllRegisters(spark, s"$dir/events.parquet"))
    val batchRegs = key(graft.functions.Hll.rhoFrame(
        spark.read.parquet(s"$dir/events.parquet"), "event_type", "user_id")
      .groupBy("event_type", "bucket").agg(max("rho").as("r")))
    assert(streamRegs == batchRegs && streamRegs.nonEmpty)
  }

  test("two-level mosaic CCL equals a global flood fill on the stitched mask") {
    import spark.implicits._
    val ts = 16; val gw = 3; val gh = 2
    // cross-tile structures: a horizontal bar across the whole top tile
    // row, a vertical bar crossing the horizontal interface, plus
    // isolated pixels — global coords: gy 0 = north edge of the mosaic
    def veg(ei: Int, ni: Int, x: Int, y: Int): Boolean = {
      val gx = ei * ts + x
      val gy = (gh - 1 - ni) * ts + y
      gy == 7 || gx == 21 || (gx % 16 == 3 && gy % 16 == 12)
    }
    val rows = for { ei <- 0 until gw; ni <- 0 until gh } yield {
      val data = new Array[Byte](ts * ts * 3)
      for (y <- 0 until ts; x <- 0 until ts) {
        val o = (y * ts + x) * 3
        if (veg(ei, ni, x, y)) { data(o) = 10; data(o + 1) = 200.toByte; data(o + 2) = 10 }
        else { data(o) = 120; data(o + 1) = 120; data(o + 2) = 120 }
      }
      val png = graft.img.Codec.encodePNG(graft.img.Raster(data, ts, ts, 3))
      val code = graft.geo.TileCode.fromEastingsNorthings(400 + ei, 100 + ni)
      (code, png, ts, ts, "png", s"test tile $ei $ni", 0L)
    }
    val tiles = rows.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    // brute force: flood fill the stitched global mask
    val W = gw * ts; val H = gh * ts
    val g = Array.tabulate(H, W)((gy, gx) =>
      veg(gx / ts, gh - 1 - gy / ts, gx % ts, gy % ts))
    val seen = Array.ofDim[Boolean](H, W)
    val bruteSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (sy <- 0 until H; sx <- 0 until W) if (g(sy)(sx) && !seen(sy)(sx)) {
      var stack = List((sy, sx)); seen(sy)(sx) = true; var size = 0L
      while (stack.nonEmpty) {
        val (cy, cx) = stack.head; stack = stack.tail; size += 1
        Seq((1, 0), (-1, 0), (0, 1), (0, -1)).foreach { case (dy, dx) =>
          val ny = cy + dy; val nx = cx + dx
          if (ny >= 0 && ny < H && nx >= 0 && nx < W && g(ny)(nx) && !seen(ny)(nx)) {
            seen(ny)(nx) = true; stack = (ny, nx) :: stack
          }
        }
      }
      bruteSizes += size
    }
    val comp = graft.pipeline.MosaicCcl.components(tiles, "greenleaf").collect()
    assert(comp.length == bruteSizes.length,
      s"components: got ${comp.length}, brute force ${bruteSizes.length}")
    assert(comp.map(_.getLong(2)).sorted.toSeq == bruteSizes.sorted.toSeq)
    // the stitch machinery must actually fire: the bars cross interfaces
    val (nodes, claims) = graft.pipeline.MosaicCcl.fragments(tiles, "greenleaf")
    assert(graft.pipeline.MosaicCcl.stitchEdges(claims).count() >= 3)
    assert(nodes.count() > comp.length.toLong)
    // the iterative label-propagation path agrees with the small-graph
    // union-find shortcut bit-for-bit
    val iter = graft.pipeline.MosaicCcl.components(tiles, "greenleaf", smallGraph = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(iter == comp.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq)
  }

  test("SnapshotTable: snapshot isolation, time travel, manifest file skipping") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val root = java.nio.file.Files.createTempDirectory("graft-snap").toString + "/tbl"
    def frame(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"row$i")).toDF("id", "payload")
        .repartitionByRange(4, col("id"))
    assert(SnapshotTable.append(spark, root, frame(0, 400), Seq("id")) == 1)
    assert(SnapshotTable.append(spark, root, frame(400, 800), Seq("id")) == 2)
    // current snapshot = union of both commits; time travel sees only v1
    assert(SnapshotTable.scan(spark, root).count() == 800)
    assert(SnapshotTable.scan(spark, root, version = Some(1)).count() == 400)
    // manifest file skipping: [100,150] lives in 1-2 of the 8 range-laid
    // files, and pruning must not change the result
    val pruned = SnapshotTable.scan(spark, root, Seq(SnapshotTable.Range("id", 100, 150)))
    assert(pruned.inputFiles.length <= 2,
      s"expected the manifest to skip most files, read ${pruned.inputFiles.length}/8")
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq == (100L to 150L))
    // snapshot isolation: a resolved reader is pinned to its manifest —
    // a later overwrite commit cannot change what it sees
    val reader = SnapshotTable.scan(spark, root)
    SnapshotTable.overwrite(spark, root, frame(9000, 9001), Seq("id"))
    assert(reader.count() == 800)
    assert(SnapshotTable.scan(spark, root).count() == 1)
    assert(SnapshotTable.scan(spark, root, version = Some(2)).count() == 800)
    // a range no file can satisfy returns an empty frame with the schema
    val none = SnapshotTable.scan(spark, root, Seq(SnapshotTable.Range("id", -50, -10)), Some(2))
    assert(none.columns.toSeq == Seq("id", "payload") && none.count() == 0)
    // crash recovery: a commit that wrote its data dir but died before
    // the manifest rename leaves an orphaned dir no manifest references
    // — the next commit must succeed regardless (unique staging dirs)
    // and the orphan's rows must never become visible
    frame(500, 510).write.parquet(s"$root/data/c4")
    assert(SnapshotTable.currentVersion(spark, root) == 3)
    assert(SnapshotTable.append(spark, root, frame(100, 120), Seq("id")) == 4)
    assert(SnapshotTable.scan(spark, root).count() == 21) // 1 (overwrite v3) + 20
    assert(SnapshotTable.scan(spark, root).where(col("id").between(500, 509)).count() == 0,
      "orphaned crashed-commit rows must never become visible")
  }

  test("bloom decontamination (q53): equals q45 exactly; bloom probe is map-side pre-exchange") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta"),
      (20L, "one two three four five six"),
      (21L, "xx alpha beta gamma delta epsilon yy"),
      (22L, "one two three four nope"),
      (23L, "two three"),
      (24L, "totally different words here with no overlap at all"),
      (25L, "two three four five six seven"))
    val dir = writeDocs(docs)
    val bloomed = SparkEntry.queries("q53_decontaminate_bloom")(spark, dir)
    val plain = SparkEntry.queries("q45_decontaminate")(spark, dir)
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1), r.getInt(2))
    assert(bloomed.collect().map(key).toSeq == plain.collect().map(key).toSeq)
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_might_contain"), s"bloom probe missing:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    assert(plan.contains("BroadcastHashJoin")) // exact confirm join broadcasts
    // the probe must sit BELOW the first exchange (map-side): in the plan
    // string the filter's first occurrence is deeper than every Exchange
    val probeAt = plan.indexOf("graft_bloom_might_contain")
    val firstAggExchange = plan.indexOf("Exchange hashpartitioning(doc_id")
    assert(firstAggExchange == -1 || probeAt > firstAggExchange,
      "bloom probe is not below the doc_id aggregation exchange")
  }

  test("bloom filter: no false negatives by construction; fpp in spec on longs") {
    import spark.implicits._
    val members = (0L until 5000L).map(i => i * 2654435761L % 1000003L).distinct
    val bf = graft.functions.Bloom.filterOf(members.toDF("h"), "h", fpp = 0.01)
    members.foreach(v => assert(bf.mightContainLong(v), s"false negative on $v"))
    val mset = members.toSet
    val probes = (1L to 200000L).map(_ + 2000000L).filterNot(mset.contains)
    val fp = probes.count(bf.mightContainLong).toDouble / probes.size
    assert(fp < 0.03, s"observed fpp $fp far above the 0.01 target")
    // expression path (interpreted + codegen) agrees with the direct call
    val viaExpr = members.take(64).toDF("h")
      .select(graft.functions.Bloom.mightContain($"h", bf).as("m"))
      .collect().forall(_.getBoolean(0))
    assert(viaExpr)
  }

  test("mixture upsample (q54): per-language fractional copies, deterministic, md5-checked") {
    // en docs dominated by 'the/and/of/is'; fr by 'le/la/et/est'; de by 'der/und/die/ist'
    val docs = Seq(
      (0L, "the cat and the dog of the house is here"),
      (1L, "le chat et la maison est grande le jour"),
      (2L, "der hund und die katze ist der beste"),
      (3L, "le vin et la mer est belle et calme"))
    val dir = writeDocs(docs)
    val df = SparkEntry.queries("q54_mixture_upsample")(spark, dir)
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    // every doc appears exactly n_copies times with copy_idx 0..n-1
    rows.groupBy(_._1).foreach { case (_, rs) =>
      val n = rs.head._3
      assert(rs.length == n && rs.map(_._4).sorted.toSeq == (0 until n))
    }
    val byDoc = rows.groupBy(_._1).map { case (id, rs) => id -> ((rs.head._2, rs.head._3)) }
    assert(byDoc(0L)._1 == "en" && byDoc(0L)._2 == 1) // en never upsamples
    assert(Seq(2, 3).contains(byDoc(1L)._2) && byDoc(1L)._1 == "fr")
    assert(Seq(3, 4).contains(byDoc(2L)._2) && byDoc(2L)._1 == "de")
    // independent md5 replication of the fractional coin for the fr docs
    def u(text: String): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(("mix|" + text).getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 6)
      (java.lang.Long.parseLong(hex, 16) % 10000L).toInt
    }
    assert(byDoc(1L)._2 == 2 + (if (u(docs(1)._2) < 5000) 1 else 0))
    assert(byDoc(3L)._2 == 2 + (if (u(docs(3)._2) < 5000) 1 else 0))
    assert(byDoc(2L)._2 == 3 + (if (u(docs(2)._2) < 2500) 1 else 0))
    // determinism: a second run replicates the exact multiset
    val again = SparkEntry.queries("q54_mixture_upsample")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(again.sorted.toSeq == rows.sorted.toSeq)
  }

  test("dup spans (q60): cross-doc 8-gram windows; within-doc repeats don't count") {
    def w(ts: String*): String = ts.mkString(" ")
    val shared = w("a", "b", "c", "d", "e", "f", "g", "h") // the one cross-doc window
    val dir = writeDocs(Seq(
      (0L, shared + " i j"),       // 10 tokens, 3 windows; window0 == shared
      (1L, shared + " x y"),       // shares only window0 with doc 0
      (2L, "p q r"),               // < 8 tokens: zero windows
      (3L, w(Seq.fill(10)("z"): _*)),   // one distinct window x3, single doc: NOT dup
      (4L, shared + " " + shared)))     // 16 tokens, 9 windows; shared appears twice
    val got = SparkEntry.queries("q60_dup_spans")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      (0L, 3L, 1L, 1.0 / 3.0),
      (1L, 3L, 1L, 1.0 / 3.0),
      (2L, 0L, 0L, 0.0),
      (3L, 3L, 0L, 0.0),       // pigeonhole: needs >= 2 DISTINCT documents
      (4L, 9L, 2L, 2.0 / 9.0)))  // both occurrences of the shared window count
  }

  test("span coalesce (q117): overlapping+touching dup windows merge to maximal regions") {
    def w(ts: String*): String = ts.mkString(" ")
    val shared = w("a", "b", "c", "d", "e", "f", "g", "h")
    val shared2 = w("q", "r", "s", "t", "u", "v", "w", "x")
    val dir = writeDocs(Seq(
      (0L, shared + " i " + shared2),      // spans [0,7] and [9,16]: gap at 8 -> 2 regions
      (1L, shared + " j " + shared2),      // same window pair, other doc
      (2L, "p q r"),                        // no windows -> zeros
      (3L, shared + " " + shared),          // spans [0,7],[8,15] touch -> ONE region [0,15]
      (4L, shared + " " + shared + " tail")))  // doc 3/4 share ALL 9+ windows
    val got = SparkEntry.queries("q117_span_coalesce")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // docs 3/4: windows i=0..8 all duplicated (both docs contain the
    // 16-token run) -> overlapping spans [0,7]..[8,15] coalesce to [0,15]
    assert(got == Seq(
      (0L, 2L, 16L, 8L),
      (1L, 2L, 16L, 8L),
      (2L, 0L, 0L, 0L),
      (3L, 1L, 16L, 16L),
      (4L, 1L, 16L, 16L)))
  }

  test("weighted reservoir (q118): exact A-Res top-k replicated independently") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-wres").toString
    val docs = (0L until 300L).map(i => (i, s"doc $i", 40L + (i * 7919L) % 500L))
    docs.toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q118_weighted_reservoir")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // independent md5-based replication of the exponential race
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long, nc: Long): Double = {
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      val u = (java.lang.Long.parseLong(hex, 16) + 1) / 1152921504606846976.0
      -math.log(u) / nc.toDouble
    }
    val want = docs.map { case (id, _, nc) => (id, nc, key(id, nc)) }
      .sortBy(t => (t._3, t._1)).take(100)
      .map(t => (t._1, t._2)).sortBy(_._1)
    assert(got == want)
    // heavier docs win more often than their count share: mean selected
    // weight must exceed the corpus mean (weight-proportional sampling)
    val meanSel = got.map(_._2).sum.toDouble / got.size
    val meanAll = docs.map(_._3).sum.toDouble / docs.size
    assert(meanSel > meanAll)
  }

  test("heavy hitters (q61): identical to the naive GROUP BY/HAVING; CMS probe in plan") {
    // ~2.4k bigrams so total/1024 >= 2 exercises a real threshold:
    // "hot pair" dominates, a mid phrase sits near the cut, tail is singletons
    val docs = (0L until 100L).map(i => (i, "hot pair " + s"mid$i phrase u${i}a u${i}b " +
      (0 until 16).map(j => s"t${i}_$j").mkString(" ")))
    val dir = writeDocs(docs)
    val df = SparkEntry.queries("q61_heavy_hitters")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_cms_estimate"), s"CMS prefilter missing from plan:\n$plan")
    val got = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // naive reference plan computed inline (no sketch)
    val grams = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(ws) - 2), i -> concat_ws(' ', ws[i], ws[i+1]))")).as("gram"))
    val total = grams.count()
    val thresh = math.max(total / 1024L, 1L)
    assert(thresh >= 2L) // the test corpus is big enough to have a real cut
    val naive = grams.groupBy("gram").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= thresh)
      .orderBy(col("cnt").desc, col("gram"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == naive)
    assert(got.head._1 == "hot pair" && got.head._2 == 100L)
  }

  test("gap-fill resample (q62): dense hour grid, zero-filled counts, forward-filled value") {
    val dir = writeEvents(Seq(
      (1L, ts(0), 1L, "click", 10.0),        // hour 0
      (2L, ts(600), 1L, "click", 12.0),      // hour 0 again (max -> 12.0)
      (3L, ts(3 * 3600), 1L, "view", 7.0),   // hour 3: hours 1,2 are gaps
      (4L, ts(100), 2L, "click", 5.0)))      // user 2: single hour
    val got = SparkEntry.queries("q62_gapfill_resample")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      (1L, "2024-01-01 00:00:00.0", 2L, 12.0),
      (1L, "2024-01-01 01:00:00.0", 0L, 12.0),  // gap: zero events, value carried
      (1L, "2024-01-01 02:00:00.0", 0L, 12.0),
      (1L, "2024-01-01 03:00:00.0", 1L, 7.0),
      (2L, "2024-01-01 00:00:00.0", 1L, 5.0)))
  }

  test("exact quantiles (q63): histogram+prefix-sum picks the exact ranked value") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    // 50 docs of length 1 and 50 of length 2: p25 lands in the 1-bucket,
    // p75/p95/p99 in the 2-bucket; then a spread tail pins interior ranks
    val lens = Seq.fill(50)(1L) ++ Seq.fill(50)(2L) ++ (101L to 200L)
    lens.zipWithIndex.map { case (n, i) => (i.toLong, "x", n) }
      .toDF("doc_id", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q63_exact_quantiles")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    // N = 200; rank(p) = ceil(p*N/100) = 2p; sorted values:
    // idx 1..50 -> 1, 51..100 -> 2, 101..200 -> 101..200
    assert(got == Seq(
      (25, 50L, 1L), (50, 100L, 2L), (75, 150L, 150L),
      (95, 190L, 190L), (99, 198L, 198L)))
  }

  test("exact quantiles (q63) on an empty documents table: rank 0, null values") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc-empty").toString
    (0L until 10L).map(i => (i, "x", i + 1)).toDF("doc_id", "text", "n_chars")
      .limit(0).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q63_exact_quantiles")(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.isNullAt(2))).toSeq
    // the oracle's ceil(p*0/100) = 0 and its scalar subquery finds no row
    assert(got == Seq(25, 50, 75, 95, 99).map(p => (p, 0L, true)))
  }

  test("pps sample (q105) on an empty or zero-weight documents table: no picks") {
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, "x", 0L)).toDF("doc_id", "text", "n_chars")
    for ((tag, table) <- Seq("empty" -> docs.limit(0), "zero" -> docs)) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-doc-$tag").toString
      table.write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val res = SparkEntry.queries("q105_pps_sample")(spark, dir)
      // the oracle's cut condition needs 0 <= (2k+1)*0 < 200*cum: never
      assert(res.columns.toSeq == Seq("k", "doc_id", "w"), tag)
      assert(res.collect().isEmpty, tag)
    }
  }

  test("Inspect: per-run timing, row count, job lines and the physical plan") {
    val dir = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q01_summary_agg")(spark, dir).count()
    val out = tools.Inspect.run(spark, "q01_summary_agg", dir, 1)
    assert(out.contains("q01_summary_agg warm") && out.contains("q01_summary_agg rep 1"), out)
    assert(out.contains(s"rows=$rows"), out)
    assert(out.linesIterator.exists(_.matches("""\s+job\s+\d+\s+[0-9.]+ s .*""")), out)
    assert(out.contains("== final plan ==") && out.contains("== Physical Plan =="), out)
    assert(!spark.sparkContext.isStopped)
  }

  test("query registry: bench lists and oracles name registered queries") {
    val names = Queries.registry.map(_.name)
    assert(names.size == 127)
    assert(names.distinct == names, s"duplicate names: ${names.diff(names.distinct)}")
    val keys = SparkEntry.queries.keySet
    assert(Queries.registry.filter(_.benched).map(_.name).filterNot(keys).isEmpty,
      "benched rows without a query")
    assert(keys == SparkEntry.oracleSql.keySet,
      s"queries without an oracle: ${keys -- SparkEntry.oracleSql.keySet}; " +
        s"oracles without a query: ${SparkEntry.oracleSql.keySet -- keys}")
  }

  test("int8 quantize (q65): affine code map, clamp, constant-vector edge") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-emb").toString
    Seq(
      (0L, Seq(0.0f, 1.0f, 0.5f, 0.25f)),  // codes 0,255,127,63
      (1L, Seq(2.0f, 2.0f, 2.0f)),         // mx == mn: all 0
      (2L, Seq(-1.0f, 3.0f)))              // extremes only: 0 and 255
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q65_quantize_int8")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (0L, 4L, 445L, 1L, 1L),
      (1L, 3L, 0L, 3L, 0L),
      (2L, 2L, 255L, 1L, 1L)))
  }

  test("k-means assign (q66): equals driver-side argmax over the trained centroids") {
    val dir = "/root/testdata/sf0.001"
    val cents = Queries.kmeansCentroids(spark, dir)
    assert(cents.length == 16 && cents(0).length == 64)
    val got = SparkEntry.queries("q66_kmeans_assign")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    assert(got.keySet == emb.keySet)
    emb.foreach { case (id, e) =>
      val dots = cents.map(c => (0 until 64).map(j => e(j) * c(j)).sum)
      val best = dots.zipWithIndex.maxBy { case (d, i) => (d, -i) }._2
      assert(got(id) == best, s"vec $id: got ${got(id)}, brute-force $best")
    }
    assert(got.values.toSet.size > 1, "degenerate clustering: everything in one list")
  }

  test("augment kernel (q67): all six transforms hand-checked on a non-square raster") {
    import graft.img.{Augment, Raster}
    // 3x2 raster, pixel k has channels (k, k+10, k+20):  0 1 2 / 3 4 5
    def px(k: Int) = Seq(k, k + 10, k + 20)
    val src = Raster((0 until 6).flatMap(px).map(_.toByte).toArray, 3, 2, 3)
    def layout(r: Raster): (Int, Int, Seq[Int]) =
      (r.w, r.h, (0 until r.w * r.h).map(i => r.data(i * 3).toInt))
    assert(layout(Augment(src, "rot90")) == ((2, 3, Seq(3, 0, 4, 1, 5, 2))))
    assert(layout(Augment(src, "rot180")) == ((3, 2, Seq(5, 4, 3, 2, 1, 0))))
    assert(layout(Augment(src, "rot270")) == ((2, 3, Seq(2, 5, 1, 4, 0, 3))))
    assert(layout(Augment(src, "flip_h")) == ((3, 2, Seq(2, 1, 0, 5, 4, 3))))
    assert(layout(Augment(src, "flip_v")) == ((3, 2, Seq(3, 4, 5, 0, 1, 2))))
    assert(layout(Augment(src, "crop_c")) == ((1, 1, Seq(0))))
    // every channel follows its pixel (not just channel 0)
    val r90 = Augment(src, "rot90")
    assert(r90.data(1).toInt == 13 && r90.data(2).toInt == 23) // pixel 3's g, r
    // PNG round-trip through the expressions: rot90 twice == rot180
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    import graft.img.{AugmentImage, PixelChecksum}
    import spark.implicits._
    val tile = graft.data.Synthetic.makeTile(401, 126, 16, 7L)
    val df = Seq((tile.image_id, tile.bytes)).toDF("image_id", "bytes")
    def ck(c: org.apache.spark.sql.Column) = ec(PixelChecksum(ee(c)))
    val twice = df.select(ck(ec(AugmentImage(ee(ec(AugmentImage(ee(col("bytes")),
      ee(lit("rot90"))))), ee(lit("rot90"))))).as("a"),
      ck(ec(AugmentImage(ee(col("bytes")), ee(lit("rot180"))))).as("b"))
      .select(col("a.wsum"), col("b.wsum"), col("a.sum_b"), col("b.sum_b")).head()
    assert(twice.getLong(0) == twice.getLong(1) && twice.getLong(2) == twice.getLong(3))
  }

  test("source profile (q68): exact lower median, odd/even/duplicate groups") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    Seq(
      (0L, "x", "en", "srcA", 1L), (1L, "x", "en", "srcA", 2L), (2L, "x", "fr", "srcA", 3L),
      (3L, "x", "en", "srcB", 1L), (4L, "x", "en", "srcB", 2L),
      (5L, "x", "en", "srcB", 3L), (6L, "x", "en", "srcB", 4L),
      (7L, "x", "de", "srcC", 5L), (8L, "x", "de", "srcC", 5L), (9L, "x", "de", "srcC", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q68_source_profile")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("srcA", 3L, 6L, 2L, 2L),   // odd n: middle value
      ("srcB", 4L, 10L, 1L, 2L),  // even n: LOWER median
      ("srcC", 3L, 17L, 1L, 5L))) // duplicates collapse into one histogram bucket
  }

  test("source overlap (q69): one shared window counted once across doc copies") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    val shared = "a b c d e f g h"
    Seq(
      (0L, shared + " x", "srcA"),
      (1L, shared + " y", "srcB"),
      (2L, shared + " z", "srcB"),  // same window again: distinct (source, h) dedups
      (3L, "p q r s t u v w", "srcC"))
      .toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q69_source_overlap")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("srcA", "srcB", 1L)))
  }

  test("tile pyramid (q70): per-level halving, totals invariant across levels") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-li").toString
    // (e, n, q): e = l_orderkey % 700, n = l_partkey % 1300
    Seq((0L, 0L, 1.0), (1L, 0L, 2.0), (0L, 1L, 3.0), (1L, 1L, 4.0), (2L, 3L, 5.0))
      .toDF("l_orderkey", "l_partkey", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q70_tile_pyramid")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val byLevel = got.groupBy(_._1)
    // totals are level-invariant
    (0L to 4L).foreach { z =>
      assert(byLevel(z).map(_._4).sum == 5L && byLevel(z).map(_._5).sum == 15L) }
    assert(byLevel(0L).size == 5)
    // level 1: (0,0) absorbs the 2x2 quad, (1,1) holds the outlier (2,3)
    assert(byLevel(1L).toSet == Set((1L, 0L, 0L, 4L, 10L), (1L, 1L, 1L, 1L, 5L)))
    // level 2+: everything in the origin cell
    assert(byLevel(2L) == Seq((2L, 0L, 0L, 5L, 15L)))
    assert(byLevel(4L) == Seq((4L, 0L, 0L, 5L, 15L)))
  }

  test("snapshot diff (q71): added/removed/changed partitions, unchanged suppressed") {
    val dir = writeDocs((0L to 10L).map(i => (i, s"document body $i")))
    val got = SparkEntry.queries("q71_snapshot_diff")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((3L, "removed"), (5L, "changed"), (7L, "added")))
  }

  test("sliding window (q72): trailing 3h RANGE frame skips gap hours, no densification") {
    val dir = writeEvents(Seq(
      (1L, ts(0), 1L, "click", 0.0),
      (2L, ts(60), 1L, "click", 0.0),          // same hour 0
      (3L, ts(3600), 1L, "view", 0.0),         // hour 1
      (4L, ts(4 * 3600), 1L, "click", 0.0),    // hour 4: hour 1 is OUTSIDE [2,4]
      (5L, ts(30), 2L, "view", 0.0)))
    val rows = SparkEntry.queries("q72_sliding_window")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val h0 = rows.filter(_._1 == 1L).map(_._2).min
    val got = rows.map { case (u, h, n, s3) => (u, h - h0, n, s3) }.toSeq
    assert(got == Seq(
      (1L, 0L, 2L, 2L),
      (1L, 1L, 1L, 3L),
      (1L, 4L, 1L, 1L),   // RANGE frame: the hour-1 rollup is 3 hours back
      (2L, 0L, 1L, 1L)))
  }

  test("stream-static enrichment (q73): dim join + windowed rollup, dimension-less user drops") {
    import spark.implicits._
    val dir = writeEvents(Seq(
      (1L, ts(10), 1L, "error", 0.0),
      (2L, ts(20), 1L, "click", 0.0),
      (3L, ts(3700), 1L, "click", 0.0),   // hour 1
      (4L, ts(30), 2L, "error", 0.0),     // user 2: in dim, segment B
      (5L, ts(40), 9L, "click", 0.0)))    // user 9: NO dim row -> dropped
    Seq((1L, "A"), (2L, "B"), (3L, "A"))
      .toDF("c_custkey", "c_mktsegment")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = SparkEntry.queries("q73_stream_enrich")(spark, dir).collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      ("2024-01-01 00:00:00.0", "A", 2L, 1L),
      ("2024-01-01 00:00:00.0", "B", 1L, 1L),
      ("2024-01-01 01:00:00.0", "A", 1L, 0L)))
  }

  test("cube rollup (q74): full subtotal lattice with grouping flags") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    Seq((0L, "x", "en", "A", 10L), (1L, "x", "en", "A", 20L),
        (2L, "x", "fr", "A", 5L), (3L, "x", "en", "B", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q74_cube_rollup")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == Set(
      ("en", "A", 0L, 0L, 2L, 30L), ("en", "B", 0L, 0L, 1L, 7L),
      ("fr", "A", 0L, 0L, 1L, 5L),
      ("en", "ALL", 0L, 1L, 3L, 37L), ("fr", "ALL", 0L, 1L, 1L, 5L),
      ("ALL", "A", 1L, 0L, 3L, 35L), ("ALL", "B", 1L, 0L, 1L, 7L),
      ("ALL", "ALL", 1L, 1L, 4L, 42L)))
  }

  test("lang pivot (q75): fixed value list, exact zero fill") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    Seq((0L, "x", "en", "A"), (1L, "x", "en", "A"), (2L, "x", "fr", "A"), (3L, "x", "en", "B"))
      .toDF("doc_id", "text", "lang", "source")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = SparkEntry.queries("q75_lang_pivot")(spark, dir)
    assert(df.columns.toSeq == Seq("source", "n_de", "n_en", "n_es", "n_fr", "n_zh"))
    val got = df.collect()
      .map(r => (r.getString(0), (1 to 5).map(r.getLong))).toSeq
    assert(got == Seq(("A", Seq(0L, 2L, 0L, 1L, 0L)), ("B", Seq(0L, 1L, 0L, 0L, 0L))))
  }

  test("curriculum ntile (q76): remainder to leading buckets, doc_id tiebreak") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    // en: 6 docs (buckets 2,2,1,1), two with equal length -> doc_id order; fr: 1 doc
    Seq((0L, "x", "en", 30L), (1L, "x", "en", 10L), (2L, "x", "en", 20L),
        (3L, "x", "en", 20L), (4L, "x", "en", 40L), (5L, "x", "en", 50L),
        (6L, "x", "fr", 99L))
      .toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q76_curriculum_ntile")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    // en order: 1(10) 2(20) 3(20) 0(30) 4(40) 5(50) -> buckets 1,1,2,2,3,4
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 2L, 0L -> 2L, 4L -> 3L, 5L -> 4L, 6L -> 1L))
  }

  test("funnel (q77): strict stage ordering, partial funnels, null stages") {
    val dir = writeEvents(Seq(
      // user 1: full funnel in order
      (1L, ts(10), 1L, "view", 0.0), (2L, ts(20), 1L, "click", 0.0),
      (3L, ts(30), 1L, "purchase", 0.0),
      // user 2: click BEFORE the first view -> doesn't count; no click after
      (4L, ts(5), 2L, "click", 0.0), (5L, ts(10), 2L, "view", 0.0),
      // user 3: view+click, purchase at the SAME instant as click (strict >)
      (6L, ts(10), 3L, "view", 0.0), (7L, ts(20), 3L, "click", 0.0),
      (8L, ts(20), 3L, "purchase", 0.0),
      // user 4: purchase only -> no funnel row at all (no view)
      (9L, ts(10), 4L, "purchase", 0.0)))
    val got = SparkEntry.queries("q77_funnel")(spark, dir).collect()
      .map(r => (r.getLong(0), r.isNullAt(2), r.isNullAt(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, false, false, 3L), (2L, true, true, 1L), (3L, false, true, 2L)))
  }

  test("retention cohort (q78): epoch-week cohorts, distinct users per offset") {
    val day = 86400L
    val dir = writeEvents(Seq(
      // 2024-01-01 is a Monday = epoch day 19723, week 2817 boundary check
      // user 1 first seen day 0, active day 0 and day 14 (offset 0 and 2)
      (1L, ts(0), 1L, "view", 0.0), (2L, ts(14 * day), 1L, "view", 0.0),
      (3L, ts(14 * day + 5), 1L, "click", 0.0), // same week: still ONE distinct user
      // user 2 first seen day 0 -> same cohort as user 1, only offset 0
      (4L, ts(day), 2L, "view", 0.0),
      // user 3 first seen day 14 -> later cohort
      (5L, ts(14 * day), 3L, "view", 0.0)))
    val got = SparkEntry.queries("q78_retention_cohort")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val w0 = (java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000L / day) / 7
    // day 0 and day 1 share an epoch week here only if they fall in the same
    // floor(day/7) bucket; 2024-01-01 = epoch day 19723, 19723%7 = it lands
    // mid-bucket, so derive expectations from the same arithmetic:
    val d0w = 19723L / 7; val d1w = 19724L / 7; val d14w = 19737L / 7
    assert(w0 == d0w)
    val expected = Seq(
      (d0w, 0L, if (d1w == d0w) 2L else 1L)) ++
      (if (d1w != d0w) Seq((d0w, d1w - d0w, 1L)) else Nil) ++ Seq(
      (d0w, d14w - d0w, 1L),
      (d14w, 0L, 1L))
    assert(got == expected.sortBy(x => (x._1, x._2)))
  }

  test("label centroid (q79): fixed-point exact mean, long format") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-emb").toString
    Seq((0L, Array(1.0f, -0.5f), 1), (1L, Array(0.0f, 0.5f), 1),
        (2L, Array(0.25f, 0.25f), 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = SparkEntry.queries("q79_label_centroid")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 0L, 0.5, 2L), (1L, 1L, 0.0, 2L),
      (2L, 0L, 0.25, 1L), (2L, 1L, 0.25, 1L)))
  }

  test("event transitions (q80): per-user lead order, cross-user boundary excluded") {
    val dir = writeEvents(Seq(
      (1L, ts(10), 1L, "view", 0.0), (2L, ts(20), 1L, "click", 0.0),
      (3L, ts(30), 1L, "view", 0.0),
      // user 2 starts with purchase: no transition from user 1's last view
      (4L, ts(40), 2L, "purchase", 0.0), (5L, ts(50), 2L, "view", 0.0),
      // same-ts tie within user 2 broken by event_id: view(5) -> click(6)? no —
      // 6 has same ts as 5, event_id order puts 5 before 6
      (6L, ts(50), 2L, "click", 0.0)))
    val got = SparkEntry.queries("q80_event_transitions")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(
      ("click", "view", 1L), ("purchase", "view", 1L),
      ("view", "click", 2L)))
  }

  test("hll distinct (q81): register math matches independent sketch; error < 10%") {
    val n = 5000
    val rows = (0 until n).map(i =>
      (i.toLong, ts(i.toLong), (i * 7 + 3).toLong, "view", 0.0))
    val dir = writeEvents(rows)
    val out = SparkEntry.queries("q81_hll_distinct")(spark, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getLong(1) == n) // n_exact
    // independent re-derivation of the register sketch from first principles
    val md = java.security.MessageDigest.getInstance("MD5")
    val regs = new Array[Long](1024)
    (0 until n).foreach { i =>
      val hex = md.digest(((i * 7 + 3).toLong.toString).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      md.reset()
      val bucket = (java.lang.Long.parseLong(hex.substring(0, 3), 16) % 1024L).toInt
      val w = java.lang.Long.parseLong(hex.substring(3, 16), 16)
      val rho = if (w == 0L) 53L else 53L - java.lang.Long.toBinaryString(w).length
      regs(bucket) = math.max(regs(bucket), rho)
    }
    val sTotal = regs.map(rr => 1L << (53 - rr)).sum
    assert(r.getLong(3) == sTotal)
    val est = r.getDouble(4)
    assert(math.abs(est - n) / n < 0.10, s"HLL est $est vs exact $n")
  }

  test("rrf fusion (q82): absent-list zero contribution, rank arithmetic") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    Seq((0L, "spark spark spark", "en", "A", 5L),  // kw rank 1, len rank 4
        (1L, "spark spark x", "en", "A", 100L),    // kw rank 2, len rank 1
        (2L, "no match here", "en", "A", 50L),     // kw absent, len rank 2
        (3L, "spark", "en", "A", 7L))              // kw rank 3, len rank 3
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q82_rrf_fusion")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    def s(r: Int) = 1.0 / (60.0 + r)
    assert(math.abs(got(0L) - (s(1) + s(4))) < 1e-15)
    assert(math.abs(got(1L) - (s(2) + s(1))) < 1e-15)
    assert(math.abs(got(2L) - s(2)) < 1e-15)     // keyword list absent -> 0
    assert(math.abs(got(3L) - (s(3) + s(3))) < 1e-15)
  }

  test("activity bitmap (q83): or-as-sum distinct powers, 7-day streak") {
    val day = 86400L
    val dir = writeEvents(
      // user 1: days 0..6 relative to first -> streak7; duplicate day 0 event
      (0 to 6).map(d => ((d + 10).toLong, ts(d * day), 1L, "view", 0.0)) ++ Seq(
        (20L, ts(30), 1L, "click", 0.0),           // same day 0 again (distinct!)
        // user 2: days 0,2,4 -> no streak; day 70 beyond 63-bit window dropped
        (21L, ts(0), 2L, "view", 0.0), (22L, ts(2 * day), 2L, "view", 0.0),
        (23L, ts(4 * day), 2L, "view", 0.0), (24L, ts(70 * day), 2L, "view", 0.0)))
    val got = SparkEntry.queries("q83_activity_bitmap")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 0x7fL, 7L, 1L),
      (2L, (1L | (1L << 2) | (1L << 4)), 3L, 0L)))
  }

  test("q81/q82 plans: bounded-shuffle sketch, distributed top-k retrieval") {
    val sf = "/root/testdata/sf0.001"
    // q81: the sketch aggregates partially before the exchange and never
    // joins all-pairs; q82: both rankers cut via TakeOrderedAndProject
    // (distributed top-k), not a SinglePartition window over the corpus.
    val p81 = SparkEntry.queries("q81_hll_distinct")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p81.contains("CartesianProduct") && !p81.contains("BroadcastNestedLoopJoin"))
    assert(p81.contains("partial_max") || p81.contains("partial_"),
      "q81 register build must partial-aggregate map-side")
    val p82 = SparkEntry.queries("q82_rrf_fusion")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p82.contains("TakeOrderedAndProject"),
      "q82 rankers must retrieve via distributed top-k")
    assert(!p82.contains("CartesianProduct"))
  }

  test("channel norm (q84): exact sums match a driver-side pixel scan") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q84_channel_norm")(spark, sf).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("b", "g", "r"))
    // independent re-derivation: decode every tile on the driver
    val tiles = graft.data.Synthetic.tiles(spark, 4, 4, 64)
      .select("bytes").collect().map(_.getAs[Array[Byte]](0))
    var n = 0L; val s = new Array[Long](3); val q = new Array[Long](3)
    tiles.foreach { b =>
      val r = graft.img.Codec.decodeBGR(b)
      n += r.w.toLong * r.h
      var i = 0
      while (i < r.data.length) {
        val v = r.data(i) & 0xff
        s(i % 3) += v; q(i % 3) += v.toLong * v // data is BGR interleaved
        i += 1
      }
    }
    out.foreach { row =>
      val ch = "bgr".indexOf(row.getString(0))
      assert(row.getLong(1) == n && row.getLong(2) == s(ch) && row.getLong(3) == q(ch))
      val mean = s(ch).toDouble / n.toDouble
      assert(row.getDouble(4) == mean)
      assert(row.getDouble(5) == math.sqrt(q(ch).toDouble / n.toDouble - mean * mean))
    }
  }

  test("star rollup (q85): dimension chain broadcasts, fact never shuffles for the join") {
    val sf = "/root/testdata/sf0.001"
    val df = SparkEntry.queries("q85_star_rollup")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    assert(!plan.contains("SortMergeJoin"), "fact side must not sort-merge for dims")
    assert(df.count() > 0)
  }

  test("trend slope (q86): exact integer least squares, single-day null") {
    val day = 86400L
    val dir = writeEvents(Seq(
      // user 1: y = 100 + 50*x_cents pattern over 3 days -> slope 123.45/day
      (1L, ts(0), 1L, "view", 1.00), (2L, ts(day), 1L, "view", 124.45),
      (3L, ts(2 * day), 1L, "view", 247.90),
      // user 2: single day -> den 0 -> NULL slope
      (4L, ts(10), 2L, "view", 5.0), (5L, ts(20), 2L, "view", 7.0)))
    val got = SparkEntry.queries("q86_trend_slope")(spark, dir).collect()
    val u1 = got.find(_.getLong(0) == 1L).get
    assert(math.abs(u1.getDouble(4) - 12345.0) < 1e-9) // cents/day
    val u2 = got.find(_.getLong(0) == 2L).get
    assert(u2.isNullAt(4) && u2.getLong(3) == 0L)
  }

  test("agg merge (q87): merged partial states equal the full-scan aggregate") {
    val sf = "/root/testdata/sf0.001"
    val merged = SparkEntry.queries("q87_agg_merge")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val full = spark.read.parquet(s"$sf/events.parquet").groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(merged == full)
  }

  test("cdc compact (q88): newest record per key, event_id tiebreak") {
    val dir = writeEvents(Seq(
      (1L, ts(10), 1L, "view", 1.0), (2L, ts(20), 1L, "view", 2.0),
      (3L, ts(20), 1L, "view", 3.0),   // same ts as 2: higher event_id wins
      (4L, ts(5), 1L, "click", 4.0),
      (5L, ts(99), 2L, "view", 5.0)))
    val got = SparkEntry.queries("q88_cdc_compact")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(4))).toSeq
    assert(got == Seq(
      (1L, "click", 4L, 4.0), (1L, "view", 3L, 3.0), (2L, "view", 5L, 5.0)))
  }

  test("source gini (q89): zero for equal lengths, hand-checked skew") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    Seq((0L, "x", "en", "A", 10L), (1L, "x", "en", "A", 10L), (2L, "x", "en", "A", 10L),
        (3L, "x", "en", "B", 1L), (4L, "x", "en", "B", 1L), (5L, "x", "en", "B", 98L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q89_source_gini")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toMap
    assert(got("A") == 0.0) // perfect equality
    // B: sy=100, siy=1+2+294=297 -> 2*297/300 - 4/3
    assert(math.abs(got("B") - (594.0 / 300.0 - 4.0 / 3.0)) < 1e-15)
  }

  test("budget apportion (q90): largest remainder, sums exactly to budget") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    Seq((0L, "x", "en", "A", 1L), (1L, "x", "en", "B", 1L), (2L, "x", "en", "C", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q90_budget_apportion")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(4))).toSeq
    // 1e6 over 3 equal sources: base 333333 each, one remainder seat to 'A'
    assert(got == Seq(("A", 333333L, 333334L), ("B", 333333L, 333333L),
      ("C", 333333L, 333333L)))
    assert(got.map(_._3).sum == 1000000L)
  }

  test("mad outliers (q91): hand-checked odd and even group sizes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    // A (odd n=5): sorted [1,2,3,4,100] -> med 3; dev [2,1,0,1,97] sorted
    // [0,1,1,2,97] -> mad 1; fence 3 -> one outlier (97).
    // B (even n=4): sorted [1,2,3,1000] -> lower med 2; dev [1,0,1,998]
    // sorted [0,1,1,998] -> mad 1; fence 3 -> one outlier (998).
    Seq((0L, "A", 1L), (1L, "A", 2L), (2L, "A", 3L), (3L, "A", 4L), (4L, "A", 100L),
        (5L, "B", 1L), (6L, "B", 2L), (7L, "B", 3L), (8L, "B", 1000L))
      .map { case (id, src, n) => (id, "x", "en", src, n) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q91_mad_outliers")(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(("A", 5L, 3L, 1L, 1L), ("B", 4L, 2L, 1L, 1L)))
  }

  test("scd2 intervals (q92): change capture, interval chaining, ts tiebreak") {
    // user 1: view@10, view@20, click@30, view@40 -> 3 intervals;
    // user 2: two events at the SAME ts with different types — the
    // event_id tiebreak makes the order (and so the intervals) total.
    val dir = writeEvents(Seq(
      (1L, ts(10), 1L, "view", 0.0), (2L, ts(20), 1L, "view", 0.0),
      (3L, ts(30), 1L, "click", 0.0), (4L, ts(40), 1L, "view", 0.0),
      (5L, ts(7), 2L, "b", 0.0), (6L, ts(7), 2L, "a", 0.0)))
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    def us(sec: Long) = base + sec * 1000000L
    val got = SparkEntry.queries("q92_scd2_intervals")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5))).toSeq
    assert(got == Seq(
      (1L, 1L, "view", us(10), us(30), 2L),
      (1L, 2L, "click", us(30), us(40), 1L),
      (1L, 3L, "view", us(40), -1L, 1L),
      (2L, 1L, "b", us(7), us(7), 1L),   // event_id 5 first, then 6
      (2L, 2L, "a", us(7), -1L, 1L)))
  }

  test("countmin sketch (q93): one-sided error, exact when collision-free") {
    val dir = writeEvents(
      (1L to 10L).flatMap(u => (1L to u).map(i => (u * 100 + i, ts(i), u, "e", 0.0))))
    val got = SparkEntry.queries("q93_countmin_sketch")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got.map(_._1) == (1L to 10L))
    assert(got.forall { case (u, t, e, o) => t == u && e >= t && o == e - t && o >= 0 })
    // 10 keys x 4 rows into 64 buckets: the min over 4 independent cells
    // is exact unless a key collides in ALL rows - astronomically
    // unlikely here, and pinned by the DuckDB oracle at sf0.01 anyway.
    assert(got.count { case (_, t, e, _) => e == t } >= 8)
  }

  test("plan shapes (q89/q91/q92/q93): keyed windows only; q93 sketch broadcasts") {
    val dir = "/root/testdata/sf0.001"
    // q89/q91 windows partition by source, q92 by user_id — none may
    // funnel the corpus through a SinglePartition exchange. (q90 is
    // exempt by design: its global window runs over the pre-aggregated
    // |sources|-row frame.)
    for (q <- Seq("q89_source_gini", "q91_mad_outliers", "q92_scd2_intervals")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"), s"$q funnels through one task:\n$plan")
    }
    val p93 = SparkEntry.queries("q93_countmin_sketch")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p93.contains("BroadcastHashJoin"), s"q93 sketch must broadcast:\n$p93")
  }

  test("MinKLongs: equals sort+slice under any partitioning; bounded state") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 5000).map(i => (s"k${i % 7}", rnd.nextLong() >>> 1))
    val df = rows.toDF("key", "v")
    def minK(d: org.apache.spark.sql.DataFrame) = d.groupBy("key")
      .agg(org.apache.spark.sql.GraftBridge.column(
        graft.functions.MinKLongs(
          org.apache.spark.sql.GraftBridge.expression(col("v")), 32)
          .toAggregateExpression()).as("ids"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toList).toMap
    val expect = rows.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).sorted.take(32).toList }
    assert(minK(df) == expect)                       // 1 partition path
    assert(minK(df.repartition(13)) == expect)       // merge path exercised
    // partial (map-side) aggregation must be in the plan: the shuffle
    // carries <= K longs per (partition, key), never the raw rows
    val plan = df.repartition(13).groupBy("key")
      .agg(org.apache.spark.sql.GraftBridge.column(
        graft.functions.MinKLongs(
          org.apache.spark.sql.GraftBridge.expression(col("v")), 32)
          .toAggregateExpression()).as("ids"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"no object agg:\n$plan")
    assert(plan.contains("partial_min_k_longs"), s"no partial agg:\n$plan")
  }

  test("inverted index (q94): df/cf/head hand-checked; keyed aggs only") {
    val dir = writeDocs(Seq(
      (3L, "b a b"), (1L, "a c"), (2L, "a a d"), (10L, "a")))
    val df = SparkEntry.queries("q94_inverted_index")(spark, dir)
    val got = df.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    assert(got == Seq(
      ("a", 4L, 5L, "1,2,3,10"),   // head sorted NUMERICALLY, not lexically
      ("b", 1L, 2L, "3"),
      ("c", 1L, 1L, "1"),
      ("d", 1L, 1L, "2")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"q94 funnels through one task:\n$plan")
    assert(!plan.contains("Window"), s"q94 must not window over postings:\n$plan")
  }

  test("bm25 topk (q95): scores replicate the formula exactly; distributed top-k") {
    val dir = writeDocs(Seq(
      (1L, "hash window hash"), (2L, "hash spark"), (3L, "other other other window")))
    // replicate the engine's exact double expression tree
    val n = 3L; val dlt = 9L
    def sq(tf: Long, df: Long, dl: Long): Long = {
      val idf = (2 * n - 2 * df + 1).toDouble / (2 * df + 1).toDouble
      val x = (dl * n).toDouble / dlt.toDouble
      math.floor(idf * (tf.toDouble * 2.2)
        / (tf.toDouble + 1.2 * (0.25 + 0.75 * x)) * 1048576.0).toLong
    }
    val expect = Map(
      1L -> (2L, sq(2, 2, 3) + sq(1, 2, 3)),          // hash x2, window
      2L -> (2L, sq(1, 2, 2) + sq(1, 1, 2)),          // hash, spark
      3L -> (1L, sq(1, 2, 4)))                         // window
    val df = SparkEntry.queries("q95_bm25_topk")(spark, dir)
    val got = df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expect)
    // ranking is by quantized score desc then doc_id
    val order = df.collect().map(_.getLong(0)).toSeq
    assert(order == expect.toSeq.sortBy { case (id, (_, s)) => (-s, id) }.map(_._1))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"q95 must cut top-k distributed:\n$plan")
    // doc length is a map-side array size — the full token stream is never
    // shuffled. The only explodes in the final plan are the term-FILTERED
    // tf path and its dft distinct recompute (both discard non-query tokens
    // before any Exchange).
    val finalPlan = plan.split("== Initial Plan ==")(0)
    val nGen = finalPlan.sliding("Generate".length).count(_ == "Generate")
    assert(nGen == 2, s"q95 must explode only on the term-filtered paths (got $nGen):\n$finalPlan")
    val nFilteredGen =
      finalPlan.sliding("Filter term".length).count(_ == "Filter term")
    assert(nFilteredGen == nGen,
      s"every q95 explode must be term-filtered before any shuffle:\n$finalPlan")
  }

  test("sessionize (q96): exact 8h gap stays in-session, one past splits; per-user windows") {
    val dir = writeEvents(Seq(
      (1L, ts(0), 1L, "view", 0.0),
      (2L, ts(100), 1L, "view", 0.0),
      (3L, ts(28900), 1L, "view", 0.0),   // gap == 28800 s exactly: same session
      (4L, ts(57701), 1L, "view", 0.0),   // gap == 28801 s: new session
      (5L, ts(50), 2L, "view", 0.0)))
    val df = SparkEntry.queries("q96_sessionize")(spark, dir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val M = 1000000L
    val B = 1704067200L * M // 2024-01-01T00:00:00Z, the writeEvents epoch
    assert(got == Seq(
      (1L, 1L, B, B + 28900L * M, 3L, 28900L * M),
      (1L, 2L, B + 57701L * M, B + 57701L * M, 1L, 0L),
      (2L, 1L, B + 50L * M, B + 50L * M, 1L, 0L)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"q96 funnels through one task:\n$plan")
  }

  test("rank auc (q97): tie-handling matches brute-force pair counting; single-class users dropped") {
    val dir = writeEvents(Seq(
      // user 1: pos at 1.00 and 3.00, neg at 1.00 and 2.00 -> AUC 0.625
      (1L, ts(1), 1L, "click", 1.00), (2L, ts(2), 1L, "click", 3.00),
      (3L, ts(3), 1L, "view", 1.00), (4L, ts(4), 1L, "view", 2.00),
      // user 2: positives only -> dropped
      (5L, ts(5), 2L, "click", 9.99),
      // user 3: perfect separation -> AUC 1.0
      (6L, ts(6), 3L, "click", 5.00), (7L, ts(7), 3L, "view", 4.00)))
    val df = SparkEntry.queries("q97_rank_auc")(spark, dir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toSeq
    assert(got == Seq((1L, 2L, 2L, 5L, 0.625), (3L, 1L, 1L, 2L, 1.0)))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"q97 funnels through one task:\n$plan")
  }

  test("cohen kappa (q98): exact rational on a hand-built non-square confusion matrix") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-doc").toString
    Seq(
      (0L, "the and of is", "en"), (1L, "the and of is", "en"),
      (2L, "le la et est", "fr"),
      (3L, "xxx", "zh"),              // all-zero hits -> guess 'en'
      (4L, "le la et est", "de"))     // mislabeled: guess 'fr'
      .toDF("doc_id", "text", "lang")
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // N=5 agree=3; rows en2 fr1 zh1 de1; cols en3 fr2; pe = 2*3 + 1*2 = 8
    // kappa = (5*3-8)/(25-8) = 7/17
    val got = SparkEntry.queries("q98_cohen_kappa")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getDouble(7))).toSeq
    val k = 7.0 / 17.0
    assert(got == Seq(
      ("de", "fr", 1L, 1L, 2L, 7L, 17L, k),
      ("en", "en", 2L, 2L, 3L, 7L, 17L, k),
      ("fr", "fr", 1L, 1L, 2L, 7L, 17L, k),
      ("zh", "en", 1L, 1L, 3L, 7L, 17L, k)))
  }

  test("pagerank (q99): fixed-point iterations match an exact driver mirror; rank frame broadcast") {
    // user 1 path A,B,A,B,C -> edges AB2 BA1 BC1; user 2 path C,A -> edge CA1
    val dir = writeEvents(Seq(
      (1L, ts(1), 1L, "A", 0.0), (2L, ts(2), 1L, "B", 0.0), (3L, ts(3), 1L, "A", 0.0),
      (4L, ts(4), 1L, "B", 0.0), (5L, ts(5), 1L, "C", 0.0),
      (6L, ts(6), 2L, "C", 0.0), (7L, ts(7), 2L, "A", 0.0)))
    val S = 1000000000000L; val P = 1048576L
    val edges = Map(("A", "B") -> 2L, ("B", "A") -> 1L, ("B", "C") -> 1L, ("C", "A") -> 1L)
    val outw = edges.groupMapReduce(_._1._1)(_._2)(_ + _)
    val share = edges.map { case ((s0, d), w) => (s0, d) -> w * P / outw(s0) }
    val n = 3L
    val tele = 15L * (S / n) / 100L
    var rank = Map("A" -> S / n, "B" -> S / n, "C" -> S / n)
    for (_ <- 1 to 3) {
      val infl = share.toSeq.groupMapReduce(_._1._2) {
        case ((s0, _), sh) => rank(s0) * sh / P
      }(_ + _)
      rank = rank.keys.map(k => k -> (tele + 85L * infl.getOrElse(k, 0L) / 100L)).toMap
    }
    val df = SparkEntry.queries("q99_pagerank")(spark, dir)
    val got = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == rank)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q99 iteration joins must be equi-joins:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"q99 rank frame should broadcast:\n$plan")
  }

  test("calibration (q100): hand-built bins, exact integer ECE, top-bin clamp") {
    val dir = writeEvents(Seq(
      (1L, ts(1), 1L, "click", 0.01),   // cents 1     -> bin 0
      (2L, ts(2), 1L, "view", 10.00),   // cents 1000  -> bin 0
      (3L, ts(3), 1L, "click", 100.00), // cents 10000 -> bin 2
      (4L, ts(4), 1L, "view", 100.00),  // cents 10000 -> bin 2
      (5L, ts(5), 2L, "view", 499.99),  // cents 49999 -> bin 9
      (6L, ts(6), 2L, "click", 600.00)))// cents 60000 -> clamped to bin 9
    val got = SparkEntry.queries("q100_calibration")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6), r.getDouble(7))).toSeq
    // gaps: |50000-1001| + |50000-20000| + |50000-109999| = 48999+30000+59999
    val eceNum = 138998L
    val ece = 138998.0 / 300000.0
    assert(got == Seq(
      (0L, 2L, 1L, 1001L, 0.5, 1001.0 / 100000.0, eceNum, ece),
      (2L, 2L, 1L, 20000L, 0.5, 0.2, eceNum, ece),
      (9L, 2L, 1L, 109999L, 0.5, 109999.0 / 100000.0, eceNum, ece)))
  }

  test("lm score (q64): integer log2 bigram frequencies, hand-checked") {
    val dir = writeDocs(Seq(
      (0L, "a b a b"),  // bigrams: "a b" x2, "b a" x1
      (1L, "a b c"),    // "a b", "b c"
      (2L, "solo")))    // < 2 tokens: zero bigrams
    // corpus counts: "a b" -> 3 (bits 1), "b a" -> 1 (0), "b c" -> 1 (0)
    val got = SparkEntry.queries("q64_lm_score")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == Seq(
      (0L, 3L, 2L, 2.0 / 3.0),
      (1L, 2L, 1L, 0.5),
      (2L, 0L, 0L, 0.0)))
  }

  // ------------------------------------------------ GlobalRank

  test("GlobalRank.byStringKey equals single-partition row_number, all bucket counts") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // keys engineered to straddle 8-byte-prefix bucket boundaries, with
    // duplicate keys (tie-broken by id), a short key that is a prefix of
    // a longer one, and an empty string
    val rows = Seq(
      (1L, "apple"), (2L, "apple"), (3L, "applepie"), (4L, "app"),
      (5L, ""), (6L, "zebra"), (7L, "banana"), (8L, "bananas"),
      (9L, "mango"), (10L, "mangosteen"), (11L, "apple pie"), (12L, "zz"))
    val df = rows.toDF("id", "k").repartition(5)
    val want = df.withColumn("rk",
        org.apache.spark.sql.functions.row_number()
          .over(Window.orderBy(org.apache.spark.sql.functions.col("k"),
            org.apache.spark.sql.functions.col("id"))).cast("long"))
      .select("id", "rk").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (b <- Seq(1, 3, 32)) {
      val got = functions.GlobalRank.byStringKey(df, "k", "id", "rk", buckets = b)
        .select("id", "rk").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == want, s"buckets=$b")
    }
  }

  test("GlobalRank output column set and determinism across reruns") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"key${(i * 7919) % 100}%03d")).toDF("id", "k")
    val a = functions.GlobalRank.byStringKey(df, "k", "id", "rk").collect().toSet
    val b = functions.GlobalRank.byStringKey(df, "k", "id", "rk").collect().toSet
    assert(a == b)
    assert(functions.GlobalRank.byStringKey(df, "k", "id", "rk").columns.toSeq ==
      Seq("id", "k", "rk"))
    // ranks are a permutation of 1..N
    assert(a.map(_.getLong(2)) == (1L to 500L).toSet)
  }

  test("GlobalRank.byLongStringKey equals single-partition row_number over (long, string)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Zipf-shaped long keys (most rows share df=1 — the shape that
    // defeats fixed-width bucketing) tie-broken by unique strings
    val rows = (1 to 300).map { i =>
      val df = if (i % 10 == 0) (i / 10).toLong else 1L
      (df, s"tok${(i * 7919) % 1000}%04d$i")
    }
    val df = rows.toDF("df", "tok").repartition(7)
    val want = df.withColumn("rk",
        org.apache.spark.sql.functions.row_number()
          .over(Window.orderBy(org.apache.spark.sql.functions.col("df"),
            org.apache.spark.sql.functions.col("tok"))).cast("long"))
      .select("tok", "rk").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    for (b <- Seq(1, 3, 32)) {
      val got = functions.GlobalRank.byLongStringKey(df, "df", "tok", "rk", buckets = b)
        .select("tok", "rk").collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got == want, s"buckets=$b")
    }
  }

  test("SetSimJoin fails loudly when the vocabulary exceeds the int rank limit") {
    import spark.implicits._
    val docs = (0 until 10)
      .map(i => (i.toLong, (0 until 8).map(j => s"w${(i * 3 + j) % 100}")))
      .toDF("doc_id", "words")
    val vocab = docs.select(explode($"words")).distinct().count()
    val err = intercept[IllegalArgumentException](
      functions.SetSimJoin.jaccardSelfJoin(docs, "doc_id", "words", 9L, 10L, vocab - 1))
    assert(err.getMessage.contains(
      s"SetSimJoin: a vocabulary of $vocab tokens exceeds the int rank limit of ${vocab - 1}"))
    // at the limit it runs
    functions.SetSimJoin.jaccardSelfJoin(docs, "doc_id", "words", 9L, 10L, vocab).collect()
  }

  test("SetSimJoin sparse path: no SinglePartition in any executed or final plan") {
    import spark.implicits._
    // >62-token vocabulary so even the routed entry points would take the
    // sparse plan; the direct sparse* calls always do. Capture every
    // INTERIOR plan (localCheckpoint materializations — where the old
    // dictionary-rank SinglePartition window lived) with a listener,
    // plus the final plan.
    val docs = (0 until 40)
      .map(i => (i.toLong, (0 until 12).map(j => s"w${(i * 5 + j) % 80}")))
      .toDF("doc_id", "words")
    val plans = new scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val j = functions.SetSimJoin.sparseJaccardSelfJoin(docs, "doc_id", "words", 8L, 10L)
      j.collect()
      val c = functions.SetSimJoin.sparseContainmentSelfJoin(docs, "doc_id", "words", 8L, 10L)
      c.collect()
      plans.synchronized {
        plans += j.queryExecution.executedPlan.toString
        plans += c.queryExecution.executedPlan.toString
      }
      Thread.sleep(3000) // listener bus is async
      val all = plans.synchronized(plans.toVector)
      assert(all.nonEmpty)
      all.foreach(p =>
        assert(!p.contains("SinglePartition"), s"sparse path funnels through one task:\n$p"))
    } finally spark.listenerManager.unregister(listener)
  }

  // ------------------------------------------------ q125 image canonicalization

  test("image canonicalization (q125): one keep per cluster, copies cluster with originals") {
    val df = Queries.all("q125_image_canonical")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      "q125 must stay on the banded equi-join candidate path")
    val rows = df
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3)))
    // every tile appears once: originals + their ~d copies
    assert(rows.map(_._1).distinct.length == rows.length)
    assert(rows.count(_._1.endsWith("~d")) == rows.length / 2)
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      // exactly one canonical per cluster, and it is never a perturbed copy
      val keeps = members.filter(_._4 == 1)
      assert(keeps.length == 1, s"cluster $cid keeps ${keeps.length}")
      assert(!keeps.head._1.endsWith("~d"), s"cluster $cid kept a copy")
      // cluster id is the lexicographically smallest member
      assert(cid == members.map(_._1).min, s"cluster $cid label mismatch")
      // recorded size matches the actual member count
      assert(members.forall(_._3 == members.length))
    }
    // a 1-bit phash perturbation is hamming 1 <= 7: every copy MUST share
    // its original's cluster
    val cluster = rows.map(r => r._1 -> r._2).toMap
    rows.filter(_._1.endsWith("~d")).foreach { case (id, cid, _, _) =>
      assert(cluster(id.dropRight(2)) == cid, s"$id split from its original")
    }
  }

  // ------------------------------------------------ q127 BPE pair stats

  test("BPE pair stats (q127): hand-computed pair counts, overlap per position") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    Seq((0L, "aa ab aa"), (1L, "aaa b"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = SparkEntry.queries("q127_bpe_pair_stats")(spark, dir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "q127 top-20 must plan the distributed top-k, not a global sort")
    val got = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // word types: aa(f=2) -> (a,a)x1 each occurrence = 2; aaa(f=1) -> two
    // overlapping (a,a) positions = 2; ab(f=1) -> (a,b)=1; b has no pairs
    assert(got == Seq(("a", "a", 4L), ("a", "b", 1L)))
  }

  // ------------------------------------------------ q126 compaction planner

  test("compaction planner (q126): deterministic next-fit bins over a temp snapshot table") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
    // three commits, deliberately uneven file sizes
    Seq(0L until 100L, 100L until 130L, 130L until 400L).foreach { r =>
      sources.SnapshotTable.append(spark,
        root, r.map(i => (i, i % 7)).toDF("k", "v").repartitionByRange(3, col("k")),
        Seq("k"))
    }
    val got = Queries.compactionPlan(spark, root, "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    // independent driver-side replication of the plan
    val man = sources.SnapshotTable.manifest(spark, root)
      .select("file", "rows", "min_k", "max_k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._3)
    val total = man.map(_._2).sum
    val target = math.max(1L, (total + 3L) / 4L)
    var cum = 0L
    val bins = man.map { case (f, rows, mn, mx) =>
      val b = cum / target; cum += rows; (f, rows, mn, mx, b)
    }
    val stats = bins.groupBy(_._5).map { case (b, fs) =>
      b -> ((fs.length.toLong, fs.map(_._2).sum, fs.map(_._3).min, fs.map(_._4).max))
    }
    val want = bins.map { case (f, rows, _, _, b) =>
      val (nf, br, mn, mx) = stats(b); (f, rows, b, nf, br, mn, mx)
    }.sortBy(_._1)
    assert(got.toSeq == want.toSeq)
    // bins cover the key space in order: nondecreasing bin along min_k order
    assert(bins.map(_._5).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
  }
}
