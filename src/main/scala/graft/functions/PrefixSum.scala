package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global running total (prefix sum) over a totally-ordered key —
  * the core of GPT-style training-sequence packing (concatenate the
  * token stream, cut every `seqLen`), shard-offset assignment, and
  * global row numbering.
  *
  * The naive Spark expression — `sum(v).over(Window.orderBy(key))` with
  * no partition spec — funnels EVERY row through one task (Spark plans
  * a SinglePartition exchange and warns `No Partition Defined for Window
  * operation`), which caps the operator at one core regardless of
  * cluster size. This implementation is the classic two-pass distributed
  * scan instead:
  *
  *  1. bucket each row by a DETERMINISTIC, order-preserving range split
  *     of the key domain (min/max from one cheap agg — not
  *     `repartitionByRange`, whose sampled boundaries can differ between
  *     the two passes);
  *  2. per-bucket local cumsum (window partitioned by bucket — shuffles
  *     once on the bucket id, sorts only N/P rows per task);
  *  3. per-bucket totals (same shuffle shape, P rows out) are collected
  *     — O(P) driver state, not O(N) — turned into exclusive cumulative
  *     offsets, and added back via a broadcast map-side join.
  *
  * Skew: buckets are equal-width key ranges, so a dense/sparse key space
  * skews bucket sizes; callers with non-uniform keys should pre-densify
  * (e.g. zipWithIndex-style ranking) or raise P. For the packing use
  * case keys are dense sequential doc ids, so buckets balance within one
  * tile of the id range.
  */
object PrefixSum {

  /** Appends `outCol` = Σ value over all rows with key <= this row's key
    * (inclusive running total, key ascending; `valueCol` must be
    * non-negative longs and `keyCol` unique — both hold for token counts
    * keyed by doc id). Returns the frame with the grand total Σ value,
    * which the driver already holds (0 for an empty input), so a caller
    * needing it does not evaluate the window a second time.
    *
    * @param buckets number of range buckets P; parallelism of the sort
    *                stage. Each bucket window-sorts ~N/P rows. */
  def runningTotal(df: DataFrame, keyCol: String, valueCol: String,
                   outCol: String, buckets: Int = 32): (DataFrame, Long) = {
    require(buckets >= 1, "buckets must be >= 1")
    // the input feeds THREE passes (the min/max agg, the bucket totals,
    // the final local cumsum) — materialize it once so its derivation
    // (often a corpus scan + aggregation at the call sites) doesn't
    // re-execute per pass; callers pass narrow (key, value[, ...])
    // projections by contract
    val dfm = df.localCheckpoint(true)
    val kc = col(keyCol).cast("long")
    val Array(kmin, kmax) = dfm.agg(min(kc), max(kc)).head() match {
      case r if r.isNullAt(0) => return (dfm.withColumn(outCol, lit(null).cast("long")), 0L)
      case r => Array(r.getLong(0), r.getLong(1))
    }
    // equal-width range buckets over [kmin, kmax]: order-preserving
    // (k1 < k2 => bucket(k1) <= bucket(k2)) and a pure function of the
    // key, so both passes see identical assignments. Bucket by DIVIDING
    // the offset by a precomputed width instead of multiplying by
    // `buckets` — with wide keys (q58's 60-bit hashes) the product
    // overflows a long; (k - kmin) / ceil(span / buckets) needs no
    // product and (span-1)/width <= (span-1)*buckets/span < buckets
    // keeps every bucket id in [0, buckets).
    val span = (BigInt(kmax) - BigInt(kmin)) + 1
    require(BigInt(kmax) - BigInt(kmin) <= Long.MaxValue,
      s"key span $span exceeds a long — re-key or densify first")
    val width = ((span + buckets - 1) / buckets).max(1).toLong
    val bucket = ((kc - kmin) / width).cast("int")
    val withB = dfm.withColumn("__psb", bucket)

    val w = Window.partitionBy("__psb").orderBy(col(keyCol).asc)
    val local = withB.withColumn("__pslocal", sum(col(valueCol).cast("long")).over(w))

    // bucket totals -> exclusive running offset per bucket (P rows on the
    // driver; P is a parallelism knob, never data-sized)
    val totals = withB.groupBy("__psb")
      .agg(coalesce(sum(col(valueCol).cast("long")), lit(0L)).as("__pstot"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (b, t) => val o = (b, acc); acc += t; o }
    val offCol = offsets.foldLeft(lit(0L)) { case (c, (b, o)) =>
      when(col("__psb") === b, lit(o)).otherwise(c)
    }

    (local.withColumn(outCol, col("__pslocal") + offCol).drop("__psb", "__pslocal"), acc)
  }
}
