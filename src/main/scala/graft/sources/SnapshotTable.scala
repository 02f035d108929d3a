package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot-versioned table with manifest-based file skipping — the core
  * mechanics of an Iceberg/Delta-style table format (the north rule's
  * "Iceberg table of image + caption pairs"), built from public
  * knowledge on plain parquet since table-format jars are not available
  * in this sandbox (SURVEY §environment): a real catalog can replace
  * it behind [[SnapshotTileCatalog]], and this object supplies the same
  * semantics for the engine's own tables.
  *
  *  - **Immutable data files**: every commit ATTEMPT writes NEW files
  *    under a unique `data/c<version>_<nonce>/` dir; nothing is ever
  *    rewritten or deleted in place, so readers of older snapshots are
  *    never torn and in-flight writers can never collide.
  *  - **Versioned manifests**: `manifests/v<version>.parquet` lists every
  *    data file of that snapshot with its row count and per-column
  *    min/max stats (the Iceberg manifest-entry shape). The manifest is
  *    staged to a temp path and atomically renamed — a crashed commit
  *    leaves no manifest and is invisible.
  *  - **Snapshot isolation / time travel**: a read resolves ONE manifest
  *    (latest or an explicit version) and only ever touches the files it
  *    lists; later commits cannot change what an in-flight read sees.
  *  - **File skipping**: a range predicate on a stat column prunes at the
  *    MANIFEST level — at 10^12 images the scan plans only the files
  *    whose [min,max] intersects the query box, which is the difference
  *    between reading hundreds of files or the whole table (the same
  *    stats that [[TileLayout.writeZOrdered]] arranges to be tight).
  *    The predicate is re-applied to the surviving rows, so pruning is
  *    purely an optimization and can never change results.
  *
  * Stats are kept for integer-like columns (long-castable); other
  * columns simply don't participate in skipping. Stats for the new
  * files of a commit come from one narrow aggregation over just those
  * files (`input_file_name()` grouping) — the write-side cost Iceberg
  * pays in its writers.
  */
object SnapshotTable {

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(root: String, v: Long) = new Path(s"$root/manifests/v$v.parquet")

  /** Latest committed version, 0 if none. */
  def currentVersion(spark: SparkSession, root: String): Long = {
    val dir = new Path(s"$root/manifests")
    val f = fs(spark, dir)
    if (!f.exists(dir)) return 0L
    f.listStatus(dir).map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".parquet") =>
        n.stripPrefix("v").stripSuffix(".parquet").toLong }
      .foldLeft(0L)(math.max)
  }

  /** Append `df` as a new snapshot; returns the new version. `statCols`
    * are the columns to collect min/max skipping stats for (long-castable;
    * the set must match previous commits of the table). */
  def append(spark: SparkSession, root: String, df: DataFrame,
             statCols: Seq[String]): Long =
    commit(spark, root, df, statCols, replace = false)

  /** Replace the table contents as a new snapshot (old snapshots stay
    * readable — nothing is deleted); returns the new version. */
  def overwrite(spark: SparkSession, root: String, df: DataFrame,
                statCols: Seq[String]): Long =
    commit(spark, root, df, statCols, replace = true)

  private def commit(spark: SparkSession, root: String, df: DataFrame,
                     statCols: Seq[String], replace: Boolean): Long = {
    val prev = currentVersion(spark, root)
    val v = prev + 1
    // Data files stage under a UNIQUE dir per commit ATTEMPT — the
    // manifest references files by absolute path, so the dir name is
    // free. This makes every failure mode passive:
    //  - a CRASHED attempt leaves an orphan dir no manifest references
    //    (invisible forever; reclaimable offline, never wedges a retry);
    //  - CONCURRENT committers never touch each other's in-flight files
    //    (deleting a same-named data/c<v> here — the previous recovery
    //    scheme — could silently commit a MIX of two writers' files);
    //  - the manifest rename below stays the single commit point: the
    //    loser of a version race throws and its staged dir is garbage.
    val dataDir = s"$root/data/c${v}_${java.util.UUID.randomUUID().toString.take(8)}"
    df.write.mode("errorifexists").parquet(dataDir)

    // per-new-file stats: one narrow scan over just the committed files
    val statAggs = count(lit(1L)).as("rows") +:
      statCols.flatMap(c => Seq(
        min(col(c).cast("long")).as(s"min_$c"),
        max(col(c).cast("long")).as(s"max_$c")))
    val newEntries = spark.read.parquet(dataDir)
      .groupBy(input_file_name().as("file"))
      .agg(statAggs.head, statAggs.tail: _*)

    val manifest =
      if (replace || prev == 0L) newEntries
      else spark.read.parquet(manifestPath(root, prev).toString).unionByName(newEntries)

    // stage + atomic rename: a crashed commit leaves no v<N> manifest
    val tmp = new Path(s"$root/manifests/.tmp_v$v")
    manifest.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val f = fs(spark, tmp)
    val dst = manifestPath(root, v)
    f.mkdirs(dst.getParent)
    if (!f.rename(tmp, dst))
      throw new IllegalStateException(s"snapshot commit v$v lost the rename race")
    v
  }

  /** Inclusive range constraint on a stat column, for manifest pruning. */
  final case class Range(column: String, lo: Long, hi: Long)

  /** Manifest entries of a snapshot (latest unless `version` given). */
  def manifest(spark: SparkSession, root: String, version: Option[Long] = None): DataFrame = {
    val v = version.getOrElse(currentVersion(spark, root))
    require(v >= 1, s"snapshot table at $root has no committed version")
    spark.read.parquet(manifestPath(root, v).toString)
  }

  /** Read a snapshot, skipping every data file whose [min,max] stats
    * can't intersect the given ranges (a file with NULL stats — e.g. all
    * nulls in that column — is kept). The ranges are re-applied to the
    * surviving rows, so the result equals a full scan + filter exactly;
    * only IO changes. Returns the pruned DataFrame. */
  def scan(spark: SparkSession, root: String, ranges: Seq[Range] = Nil,
           version: Option[Long] = None): DataFrame = {
    val entries = manifest(spark, root, version)
    val keep = ranges.foldLeft(lit(true)) { (acc, r) =>
      // overlap unless provably disjoint: max < lo or min > hi
      acc && !(col(s"max_${r.column}") < r.lo || col(s"min_${r.column}") > r.hi)
    }
    // manifests are O(files) rows — driver-side resolution is the
    // Iceberg planning step, not a data-sized collect
    val files = entries.where(keep).select("file").collect().map(_.getString(0))
    // nothing survives: keep one file for its schema — the re-applied
    // filter makes the frame empty, so correctness is unchanged
    val read = if (files.nonEmpty) files.toIndexedSeq
               else entries.select("file").limit(1).collect().map(_.getString(0)).toIndexedSeq
    val df = spark.read.parquet(read: _*)
    ranges.foldLeft(df)((d, r) => d.where(col(r.column).cast("long").between(r.lo, r.hi)))
  }
}
