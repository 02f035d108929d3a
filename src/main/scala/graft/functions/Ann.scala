package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.Synthetic.{mix, mix2, u01}

/** Approximate-nearest-neighbour search over an embedding column
  * (Array[Float]) — brute-force cosine top-k as the exact baseline and a
  * random-hyperplane LSH bucketing as the scale path (candidates shrink
  * from O(N) to a bucket + multi-probe neighbourhood; the index is just a
  * groupable int column, so it shuffles/partitions like any key).
  */
object Ann {

  /** fp64 dot product of two float/double arrays as a Column expression
    * — the native [[DotF64]], bit-identical to the former
    * aggregate(zip_with(..)) fold (same ascending IEEE order). */
  def dotD(a: Column, b: Column): Column =
    graft.pipeline.Exprs.col(DotF64(graft.pipeline.Exprs.expr(a), graft.pipeline.Exprs.expr(b)))

  def normD(a: Column): Column = sqrt(dotD(a, a))

  def cosine(a: Column, b: Column): Column = dotD(a, b) / (normD(a) * normD(b))

  /** Deterministic pseudo-gaussian hyperplanes: plane i, dim j from
    * splitmix64 (sum of two uniforms, symmetric around 0 — sign-LSH only
    * needs symmetry, not true gaussianity). */
  def hyperplane(plane: Int, dim: Int, seed: Long = 42L): Double = {
    val h = mix2(seed ^ 0xa11, (plane.toLong << 32) | dim.toLong)
    (u01(h) + u01(mix(h))) - 1.0
  }

  /** Exact brute-force top-k cosine neighbours for a query subset. */
  def bruteForceTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = emb.where(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val joined = q.crossJoin(broadcast(
        emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("ne"))))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Multi-table LSH ANN: `nTables` independent sign-LSH tables of
    * `nPlanes` bits each (candidates = union of same-bucket rows across
    * tables, optionally plus all 1-bit probes of each bucket), exact
    * cosine rank within candidates. Returns top-k per query
    * (approximate: recall < 1 by construction, raised by nTables).
    *
    * Scale shape: per-table buckets hold ~N/2^nPlanes rows, so nPlanes
    * must grow with log2(N) to keep candidate sets bounded — at 10^9
    * vectors, nPlanes=16 gives ~15k candidates per probe — while
    * nTables (and 1-bit probes) buy back recall independently of
    * bucket size. The candidate generator is a plain (bucket) equi-join
    * on an int-like key: partitionable, AQE-skew-handleable, never an
    * all-pairs product. */
  def lshTopK(emb: DataFrame, queryPred: Column, k: Int, dim: Int,
              nPlanes: Int = 12, nTables: Int = 4, probe1Bit: Boolean = true,
              seed: Long = 42L): DataFrame =
    rankTopK(lshCandidates(emb, queryPred, dim, nPlanes, nTables, probe1Bit, seed), k)

  /** The scored LSH candidate set (query_id, neighbor_id, cos) BEFORE the
    * top-k window — exposed so a SQL oracle can re-run the exact-cosine
    * rerank over the very same candidates and pin the rerank/window/
    * tiebreak algebra bit-for-bit. */
  def lshCandidates(emb: DataFrame, queryPred: Column, dim: Int,
                    nPlanes: Int = 12, nTables: Int = 4, probe1Bit: Boolean = true,
                    seed: Long = 42L): DataFrame = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    val withBuckets = emb.withColumn("buckets",
      ec(SignLshBuckets(ee(col("embedding")), dim, nPlanes, nTables, seed)))
    val flat = withBuckets.select(col("vec_id"), col("embedding"),
      explode(col("buckets")).as("bucket"))
    val qBase = flat.where(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"), col("bucket"))
    // multi-probe: within each table, also probe the 1-bit flips of the
    // bucket's nPlanes low bits (the table tag lives in the high bits and
    // is preserved, so probes never cross tables)
    val q =
      if (probe1Bit)
        qBase.select(col("query_id"), col("qe"),
          explode(array((lit(0L) +: (0 until nPlanes).map(b => lit(1L << b)))
            .map(f => col("bucket").bitwiseXOR(f)): _*)).as("bucket"))
      else qBase
    q.join(flat.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ne"), col("bucket")), Seq("bucket"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("cos"))
      // a pair can collide in several tables/probes; cos is identical
      .groupBy("query_id", "neighbor_id").agg(min("cos").as("cos"))
  }

  /** Exact-cosine top-k window over a scored candidate frame
    * (query_id, neighbor_id, cos): deterministic neighbor_id tiebreak. */
  def rankTopK(cand: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** Spherical k-means coarse quantizer for [[ivfTopK]], trained with
    * Lloyd's iterations on a bounded deterministic sample (hash-ordered
    * limit — unbiased w.r.t. id order, same sample every run). The
    * centroid matrix is nList×dim doubles — small by construction (a
    * coarse quantizer, not the data), the standard IVF practice. */
  def trainIvfCentroids(emb: DataFrame, dim: Int, nList: Int,
                        iters: Int = 8, maxTrain: Int = 4096): Array[Array[Double]] = {
    val sample = emb.select(col("embedding"))
      .orderBy(xxhash64(col("vec_id"))).limit(maxTrain)
      .collect().map { r =>
        val s = r.getSeq[Any](0)
        val v = Array.tabulate(dim)(i => s(i).asInstanceOf[Number].doubleValue())
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) v else v.map(_ / n)
      }
    require(sample.length >= nList, s"need >= $nList training vectors, got ${sample.length}")
    var centroids = sample.take(nList).map(_.clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(nList)(new Array[Double](dim))
      val counts = new Array[Int](nList)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < nList) {
          var d = 0.0; var j = 0
          while (j < dim) { d += v(j) * centroids(c)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
      }
      centroids = Array.tabulate(nList) { c =>
        if (counts(c) == 0) centroids(c) // empty list keeps its centroid
        else {
          val m = sums(c)
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0) centroids(c) else m.map(_ / n)
        }
      }
    }
    centroids
  }

  /** IVF (inverted-file) ANN — the k-means-coarse-quantizer scale path,
    * complementing [[lshTopK]] (the data-independent one):
    *
    *  1. TRAIN: spherical k-means on a bounded sample (driver-local
    *     Lloyd's — the quantizer is tiny; [[trainIvfCentroids]]),
    *  2. ASSIGN: one narrow pass tags every vector with its nearest
    *     centroid via a native expression (the centroid matrix rides the
    *     task binary at coarse sizes; hand it to executors via a
    *     Broadcast variable if nList×dim grows past a few MB),
    *  3. QUERY: probe the nProbe nearest lists; candidates = plain list-id
    *     equi-join (partitionable, AQE-skew-handleable, never all-pairs),
    *     exact fp64 cosine rerank inside the candidates.
    *
    * Candidates ~ nProbe·N/nList per query, so nList grows with sqrt(N)
    * (classic IVF sizing) and nProbe buys recall independently. */
  def ivfTopK(emb: DataFrame, queryPred: Column, k: Int, dim: Int,
              nList: Int = 64, nProbe: Int = 8, iters: Int = 8,
              maxTrain: Int = 4096): DataFrame =
    rankTopK(ivfCandidates(emb, queryPred, dim, nList, nProbe, iters, maxTrain), k)

  /** The scored IVF candidate set (query_id, neighbor_id, cos) before the
    * top-k window (see [[lshCandidates]] for why it is exposed). */
  def ivfCandidates(emb: DataFrame, queryPred: Column, dim: Int,
                    nList: Int = 64, nProbe: Int = 8, iters: Int = 8,
                    maxTrain: Int = 4096): DataFrame = {
    import graft.pipeline.Exprs.{col => ec, expr => ee}
    val centroids = trainIvfCentroids(emb, dim, nList, iters, maxTrain)
    val assigned = emb.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ne"),
      explode(ec(IvfLists(ee(col("embedding")), centroids, 1))).as("list"))
    val q = emb.where(queryPred).select(col("vec_id").as("query_id"),
      col("embedding").as("qe"),
      explode(ec(IvfLists(ee(col("embedding")), centroids, nProbe))).as("list"))
    q.join(assigned, Seq("list"))
      .where(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qe"), col("ne")).as("cos"))
      .groupBy("query_id", "neighbor_id").agg(min("cos").as("cos"))
  }
}

/** Exact fp64 dot product of two equal-length float/double arrays,
  * folding ASCENDING — operation-for-operation identical to the
  * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` spelling (and therefore
  * to DuckDB's `list_dot_product`, the equivalence the q16 oracle
  * proves), but one native eval instead of per-element interpreted
  * lambda dispatch through two CodegenFallback higher-order functions.
  * Null mirrors the zip_with semantics exactly: null input, unequal
  * lengths (zip_with pads with null) or any null element → null. */
case class DotF64(left: org.apache.spark.sql.catalyst.expressions.Expression,
                  right: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types._

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def floats(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.dataType match {
      case ArrayType(FloatType, _) => true
      case ArrayType(DoubleType, _) => false
      case other => throw new IllegalArgumentException(s"vector type $other unsupported")
    }
  @transient private lazy val lf = floats(left)
  @transient private lazy val rf = floats(right)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  /** Whole-stage codegen: the same ascending primitive loop emitted
    * inline (the BloomMightContain pattern) — no per-row virtual
    * dispatch, and the expression fuses into the surrounding stage
    * instead of breaking it out of codegen. Fold order and null
    * semantics are IDENTICAL to nullSafeEval (null on unequal lengths
    * or any null element), so eval and codegen are bit-equal. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val getA = if (lf) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (rf) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += $getA * $getB;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = $acc;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: org.apache.spark.sql.catalyst.expressions.Expression,
      r: org.apache.spark.sql.catalyst.expressions.Expression): DotF64 = copy(left = l, right = r)
}

/** The nProbe nearest IVF lists (by dot with the normalized centroids —
  * cosine order, the row's own norm being rank-invariant) as a native
  * expression: the Column-tree equivalent is nList×dim terms. */
case class IvfLists(child: org.apache.spark.sql.catalyst.expressions.Expression,
                    centroids: Array[Array[Double]], nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types._

  require(nProbe >= 1 && nProbe <= centroids.length, "nProbe out of range")
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(s"embedding type $other unsupported")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val dim = centroids(0).length
    val e = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      e(j) = if (elemIsFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
      j += 1
    }
    val dots = Array.tabulate(centroids.length) { c =>
      var d = 0.0; var i = 0
      while (i < dim) { d += e(i) * centroids(c)(i); i += 1 }
      d
    }
    val top = dots.zipWithIndex.sortBy { case (d, i) => (-d, i) }.take(nProbe)
    new GenericArrayData(top.map(_._2.asInstanceOf[Any]))
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): IvfLists = copy(child = c)
}

/** Sign-LSH bucket ids for nTables independent tables (nPlanes sign bits
  * each) as one native expression — the equivalent Column tree would be
  * nTables * nPlanes * dim terms (tens of thousands of nodes for
  * realistic parameters, far past codegen limits). Bucket ids are
  * disjoint across tables: table index in bits 32+. */
case class SignLshBuckets(child: org.apache.spark.sql.catalyst.expressions.Expression,
                          dim: Int, nPlanes: Int, nTables: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.sql.types._

  require(nPlanes >= 1 && nPlanes <= 30, s"nPlanes $nPlanes out of range")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(nTables * nPlanes)(p => Array.tabulate(dim)(j => Ann.hyperplane(p, j, seed)))
  @transient private lazy val elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(s"embedding type $other unsupported")
  }

  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val e = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      e(j) = if (elemIsFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
      j += 1
    }
    val out = new Array[Any](nTables)
    var t = 0
    while (t < nTables) {
      var bucket = 0L
      var p = 0
      while (p < nPlanes) {
        val pl = planes(t * nPlanes + p)
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += e(i) * pl(i); i += 1 }
        if (dot >= 0) bucket |= (1L << p)
        p += 1
      }
      out(t) = (t.toLong << 32) | bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): SignLshBuckets = copy(child = c)
}
