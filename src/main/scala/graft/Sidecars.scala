package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Oracle sidecar tables: engine-side frames that the DuckDB oracles for
  * the image / flagship / ANN operators read back (no SQL engine can
  * decode image tiles or train the IVF quantizer, so the oracles verify
  * the downstream ALGEBRA — dedup/banding/hamming, summary aggregation,
  * uprn explode, exact-cosine rerank + window + tiebreak — over the exact
  * same inputs the engine used).
  *
  * Written ONLY here, from Verify's setup, before the query dump and the
  * driver's oracle run — never as a query side effect. The queries
  * themselves never read these files, so a stale sidecar (different run,
  * scale factor or CWD) makes the oracle compare go RED instead of
  * silently validating the wrong input. */
object Sidecars {
  private val root = new java.io.File("data/oracle").getAbsolutePath
  val phashPath = s"$root/tiles_phash.parquet"
  val vegPath = s"$root/veg_pergarden.parquet"
  val vegNoFillPath = s"$root/veg_pergarden_nofill.parquet"
  val annLshPath = s"$root/ann_lsh_candidates.parquet"
  val annIvfPath = s"$root/ann_ivf_candidates.parquet"
  val veg30FragsPath = s"$root/veg30_frags.parquet"
  val veg30MetaPath = s"$root/veg30_meta.parquet"
  val veg34FragsPath = s"$root/veg34_frags.parquet"
  val veg34MetaPath = s"$root/veg34_meta.parquet"
  val veg35FragsPath = s"$root/veg35_frags.parquet"
  val veg35MetaPath = s"$root/veg35_meta.parquet"
  val imageStatsPath = s"$root/tiles_image_stats.parquet"
  val framePixelsPath = s"$root/media_frame_pixels.parquet"
  val audioSamplesPath = s"$root/media_audio_samples.parquet"
  val kmeansCentroidsPath = s"$root/kmeans_centroids.parquet"
  val pqCodebookPath = s"$root/pq_codebook.parquet"
  val augPixelsPath = s"$root/aug_tile_pixels.parquet"
  val channelSumsPath = s"$root/tiles_channel_sums.parquet"
  val snapshotEventsPath = s"$root/snapshot_events"
  val snapshotDocsPath = s"$root/snapshot_docs"
  val cclNodesPath = s"$root/ccl_nodes.parquet"
  val cclClaimsPath = s"$root/ccl_claims.parquet"
  val unicodeDocsPath = s"$root/unicode_docs.parquet"
  val captionTilesPath = s"$root/caption_tiles.parquet"

  /** The q112 INPUT fixture: a deterministic non-ASCII corpus (precomposed
    * vs combining-mark accents, case variants, whitespace noise) — the
    * one table the driver testdata lacks (it is ASCII-only at every
    * scale factor, which is why o23's byte-hash oracle is safe). Unlike
    * the derived sidecars this is a scale-independent INPUT, so a rerun
    * always writes identical content. */
  private[graft] def unicodeDocs: Seq[(Long, String)] = {
    val variants = Seq(
      "Caf\u00e9 du Monde",                    // precomposed \u00e9
      "Cafe\u0301 du Monde",                   // decomposed e + U+0301
      "CAF\u00c9  DU  MONDE",                  // case + double space
      "cafe du monde",                        // already plain
      "na\u00efve r\u00e9sum\u00e9",
      "nai\u0308ve re\u0301sume\u0301",        // fully decomposed
      "NA\u00cfVE R\u00c9SUM\u00c9",
      "\u00dcber   alles",
      "\u00dcber\talles",
      "d\u00e9j\u00e0 vu",
      "deja vu",
      "plain text no accents",
      "  plain   text  no accents ",
      "z\u00fcrich \u00e5rhus \u00f8resund",
      "zurich arhus \u00f8resund",
      "\tCaf\u00e9 du Monde\n",            // tab/newline boundaries
      "Caf\u00e9 du\r\nMonde",             // CRLF interior
      "\n\n\u00dcber\r alles \t")          // mixed boundary noise
    (0 until 45).map(i => (i.toLong, variants(i % variants.length) + s" tail${i / variants.length}")) ++ Seq(
      // trailing-boundary rows (the "tail" suffix above makes every
      // variant's own boundary interior, so these carry the edge):
      // \u2028 LINE SEPARATOR is outside the [ \t\n\r] trim class AND is
      // where Java's $ anchor diverges from RE2's \u2014 it must survive,
      // and the space before it must survive the trim (see NormalizeText)
      (45L, "Caf\u00e9 du Monde \u2028"),
      (46L, "Caf\u00e9 du Monde  \n"),          // true trailing LF+spaces: trimmed
      (47L, "\u2029 \u00dcber alles \u0085"))   // paragraph-sep lead, NEL tail: both survive
  }

  def writeAll(s: SparkSession, dir: String): Unit = {
    // q26/q31: the synthetic tile table's (image_id, phash) projection
    Queries.phashBase(s, dir).coalesce(1)
      .write.mode("overwrite").parquet(phashPath)
    // q55: per-image quality statistics (exposure/contrast/blur score)
    Queries.imageStatsBase(s, dir).coalesce(1)
      .write.mode("overwrite").parquet(imageStatsPath)
    // q84: per-tile exact integer channel sums — the oracle re-aggregates
    // them and must reproduce the engine's corpus mean/std doubles
    Queries.channelSumsBase(s, dir).coalesce(1)
      .write.mode("overwrite").parquet(channelSumsPath)
    // q32/q33: the flagship per-garden frame (same config as the queries)
    Queries.flagshipFrame(s, dir)
      .select("id", "uprn", "cx", "cy", "area_m2", "npix", "frac_greenleaf")
      .coalesce(1).write.mode("overwrite").parquet(vegPath)
    // q39: the SQUARE-grid flagship frame with handleMissingTiles=false —
    // the hex-cover query, which runs without zero-fill, must reproduce
    // it row-for-row (the square path itself is mosaic-oracle-validated
    // in PipelineSpec)
    Queries.flagshipFrameNoFill(s, dir)
      .select("id", "npix", "frac_greenleaf")
      .coalesce(1).write.mode("overwrite").parquet(vegNoFillPath)
    // q27/q28: each query's ANN candidate set, so the oracle re-runs the
    // exact fp64 cosine rerank over the SAME candidates (recall itself is
    // a unit-test property; the oracle pins the rerank algebra)
    val emb = s.read.parquet(s"$dir/embeddings.parquet")
    graft.functions.Ann.lshCandidates(emb, col("vec_id") % 100 === 0, 64,
        nPlanes = 16, nTables = 8)
      .select("query_id", "neighbor_id").coalesce(1)
      .write.mode("overwrite").parquet(annLshPath)
    graft.functions.Ann.ivfCandidates(emb, col("vec_id") % 100 === 0, 64,
        nList = 32, nProbe = 8)
      .select("query_id", "neighbor_id").coalesce(1)
      .write.mode("overwrite").parquet(annIvfPath)
    // q66: the trained k-means centroid matrix, so the oracle re-derives
    // the nearest-centroid assignment (argmax dot + smaller-cluster
    // tiebreak) over the SAME quantizer the engine used
    locally {
      import s.implicits._
      Queries.kmeansCentroids(s, dir).zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toSeq) }
        .toDF("cluster", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(kmeansCentroidsPath)
    }
    // q101: the trained PQ codebooks (M×K sub-centroids), so the oracle
    // re-derives code assignment, ADC table quantization and the integer
    // rerank over the SAME codebooks the engine used
    locally {
      import s.implicits._
      val books = Queries.pqCodebooks(s, dir)
      (for {
        (cb, m) <- books.zipWithIndex
        (cent, code) <- cb.zipWithIndex
      } yield (m, code, cent.toSeq)).toSeq
        .toDF("m", "code", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(pqCodebookPath)
    }
    // q106: an Iceberg-style snapshot table over events — rebuilt fresh
    // each run (delete + three appends keyed by contiguous event_id
    // ranges, so per-file stats are tight), then the query's
    // manifest-pruned scan is verified against the PLAIN events table by
    // DuckDB. Inverted staleness contract: here the QUERY reads the
    // sidecar-built table and the oracle reads the source, so a stale
    // snapshot (older run / other scale factor) mismatches loudly.
    locally {
      val p = new org.apache.hadoop.fs.Path(snapshotEventsPath)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(p)) fsys.delete(p, true)
      val ev = s.read.parquet(s"$dir/events.parquet")
      val nmax = ev.agg(max("event_id")).head().getLong(0)
      val (cut1, cut2) = (nmax / 3, 2 * nmax / 3)
      Seq(col("event_id") <= cut1,
          col("event_id") > cut1 && col("event_id") <= cut2,
          col("event_id") > cut2)
        .foreach { pred =>
          graft.sources.SnapshotTable.append(s, snapshotEventsPath,
            ev.where(pred).repartitionByRange(4, col("event_id")), Seq("event_id"))
        }
    }
    // q124: the committed document-corpus snapshot (the history side of
    // the incremental ingest-dedup operator) — 2 appends so the scan
    // resolves a unioned manifest; same inverted staleness contract as
    // q106: the query reads THIS table, the oracle recomputes history
    // from the source documents table, so a stale snapshot fails loudly.
    locally {
      val p = new org.apache.hadoop.fs.Path(snapshotDocsPath)
      val fsys = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fsys.exists(p)) fsys.delete(p, true)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").where(col("doc_id") % 10 =!= 0)
      Seq(col("doc_id") % 10 <= 5, col("doc_id") % 10 > 5).foreach { pred =>
        graft.sources.SnapshotTable.append(s, snapshotDocsPath,
          docs.where(pred).repartitionByRange(2, col("doc_id")), Seq("doc_id"))
      }
    }
    // q112: the deterministic non-ASCII fixture corpus (both engines
    // read the SAME parquet, so the compare isolates the normalization
    // algebra — Java Normalizer vs utf8proc — not the data)
    locally {
      import s.implicits._
      unicodeDocs.toDF("uid", "text")
        .coalesce(1).write.mode("overwrite").parquet(unicodeDocsPath)
    }
    // q113: the caption-consistency input frame (engine-decoded veg
    // pixel counts + deterministically corrupted captions) - the oracle
    // re-runs the parse/expectation/verdict algebra over the same rows
    Queries.captionTiles(s, dir).coalesce(1)
      .write.mode("overwrite").parquet(captionTilesPath)
    // q108: the per-tile CCL fragment frame (node sizes + boundary
    // claims) — the oracle re-derives the whole cross-tile merge
    // (interface pairing, recursive min-label closure, component stats)
    // in SQL; the per-tile labeling is pinned by the stitched-mosaic
    // differential test
    locally {
      val (nodes, claims) = graft.pipeline.MosaicCcl.fragments(
        Queries.cclTiles(s, dir), "greenleaf")
      nodes.coalesce(1).write.mode("overwrite").parquet(cclNodesPath)
      claims.coalesce(1).write.mode("overwrite").parquet(cclClaimsPath)
    }
    // q30/q34/q35: each flagship case's pre-aggregation fragment frame +
    // garden metadata, so the oracle re-derives the distributed
    // groupBy-sum / metadata join / fraction division independently
    // (Queries.vegAggOracle; fragment scoring itself is unit-test-pinned)
    Seq((Queries.veg30(s, dir), veg30FragsPath, veg30MetaPath),
        (Queries.veg34(s, dir), veg34FragsPath, veg34MetaPath),
        (Queries.veg35(s, dir), veg35FragsPath, veg35MetaPath))
      .foreach { case (vc, fp, mp) =>
        val (frags, meta) = Queries.vegFragParts(s, vc)
        frags.coalesce(1).write.mode("overwrite").parquet(fp)
        meta.coalesce(1).write.mode("overwrite").parquet(mp)
      }
    // q67: the RAW DECODED PIXELS of the augmentation tile subset, so the
    // oracle re-derives each spatial transform's src→dst coordinate map
    // in SQL and recomputes the position-weighted checksums exactly
    locally {
      import s.implicits._
      Queries.augmentTiles(s, dir)
        .select(col("image_id"), col("bytes")).as[(String, Array[Byte])]
        .flatMap { case (id, bytes) =>
          val r = graft.img.Codec.decodeBGR(bytes)
          for (y <- 0 until r.h; x <- 0 until r.w) yield {
            val o = (y * r.w + x) * 3
            (id, y, x, r.data(o) & 0xff, r.data(o + 1) & 0xff, r.data(o + 2) & 0xff)
          }
        }.toDF("image_id", "y", "x", "b", "g", "rr")
        .coalesce(1).write.mode("overwrite").parquet(augPixelsPath)
    }
    // q36/q37: the DECODED media payloads (sampled-frame pixels, PCM
    // samples) — container decode is the one step no SQL engine can do;
    // the oracle recomputes every statistic (channel means, RMS,
    // zero-crossing rate, rounding, ordering) from the raw samples.
    // All sums are exact in int64/double (byte and int16 inputs), so the
    // compare is bit-exact, not tolerance-based.
    import s.implicits._
    graft.media.SyntheticMedia.videos(s, 24)
      .select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val nf = graft.media.MediaCodec.videoMeta(bytes).map(_.nFrames).getOrElse(0)
        graft.media.MediaCodec.sampleFrames(bytes, 4).zipWithIndex.flatMap {
          case (png, fi) =>
            val r = graft.img.Codec.decodeBGR(png)
            (0 until r.w * r.h).map { p =>
              (id, fi, nf, r.data(p * 3) & 0xff, r.data(p * 3 + 1) & 0xff)
            }
        }
      }.toDF("media_id", "frame_idx", "n_frames", "b", "g")
      .coalesce(1).write.mode("overwrite").parquet(framePixelsPath)
    graft.media.SyntheticMedia.audios(s, 32)
      .select(col("media_id"), col("bytes")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val in = new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(bytes, 8, bytes.length - 8))
        val n = in.readInt(); val _ = in.readInt()
        (0 until n).map(i => (id, i, in.readShort().toInt))
      }.toDF("media_id", "i", "sample")
      .coalesce(1).write.mode("overwrite").parquet(audioSamplesPath)
  }
}
