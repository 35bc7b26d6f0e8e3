package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow,
  UnsafeArrayData, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.unsafe.Platform

import graft.functions.FloatBits
import graft.operators.TopKBuffer

/** Catalyst-native fused kNN: the whole-operator form of the reference's
  * fused distance+top-k kernel (`/root/reference/shaders/fused_l2_topk.metal`
  * — per-chunk partial selection, merged afterwards).
  *
  * The logical node carries the (small, broadcastable) query batch as data;
  * the physical operator runs distance + k-bounded selection in one
  * primitive-loop pass over each vector partition ([[Knn.scan]]: each row
  * decoded once to fp64, then scored four queries at a time) —
  * emitting ≤ nq·k partial rows per partition directly as `InternalRow`s:
  * no per-pair join row, no encoder copy. The regular `TopKAgg` on top
  * performs the final merge (the analog of the fused kernel's SIMD-group-0
  * merge).
  *
  * `metric` is a [[Knn]] metric code (`L2`, `InnerProduct`, `Cosine`);
  * `round6` finishes each score with [[Knn.round6]] and drops NaN scores.
  */
case class KnnNode(
    child: LogicalPlan,
    queries: Seq[(Long, Array[Float])],
    k: Int,
    ascending: Boolean,
    metric: Int,
    // 0 = fp32 child rows; 1 = f16 bits (array<short>); 2 = bf16 bits.
    // Reduced precision is decoded inside the fused loop, once per row
    // into a reused fp64 scratch array — the scan reads half the bytes
    // and no per-row fp32 array is allocated (the J4/J5 analog of the
    // reference's half-width GEMM tiles, shaders/simdgroup_gemm.metal:262-370).
    decode: Int = 0,
    round6: Boolean = false,
    // constructor field, NOT a val: tree copies (optimizer rewrites) must
    // preserve the expression ids consumers already reference
    output: Seq[Attribute] = KnnNode.freshOutput())
  extends UnaryNode {

  // this node *produces* its attributes (they don't come from the child)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def withNewChildInternal(newChild: LogicalPlan): KnnNode =
    copy(child = newChild)
}

object KnnNode {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("qid", LongType, nullable = false)(),
    AttributeReference("id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
}

case class KnnPartialExec(
    output: Seq[Attribute],
    queries: Seq[(Long, Array[Float])],
    k: Int,
    ascending: Boolean,
    metric: Int,
    decode: Int,
    round6: Boolean,
    child: SparkPlan)
  extends UnaryExecNode {

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val bc = session.sparkContext.broadcast(queries.toArray)
    val kk = k
    val asc = ascending
    val m = metric
    val dec = decode
    val r6 = round6
    child.execute().mapPartitions({ it =>
      val qs = bc.value
      val bufs = Knn.scan(it, qs.map(_._2), kk, asc, m, dec, r6)
      // UnsafeRow output: lets this node sit at the ROOT of a plan too
      // (e.g. a collect of the partials for a driver-side merge) — Spark's
      // byte-array collect path casts rows to UnsafeRow
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(output.map(_.dataType).toArray)
      bufs.iterator.zipWithIndex.flatMap { case (b, qi) =>
        val order = b.sortedIndices
        order.iterator.map { i =>
          proj(new GenericInternalRow(
            Array[Any](qs(qi)._1, b.labels(i), b.scores(i)))): InternalRow
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): KnnPartialExec =
    copy(child = newChild)
}

/** Plans [[KnnNode]]; attach with `spark.experimental.extraStrategies` or
  * via [[graft.GraftExtensions]].
  */
object KnnStrategy extends SparkStrategy {


  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case KnnNode(child, queries, k, asc, m, dec, r6, out) =>
      KnnPartialExec(out, queries, k, asc, m, dec, r6, planLater(child)) :: Nil
    case _ => Nil
  }
}

object Knn {

  /** Register the strategy on a live session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.contains(KnnStrategy)) {
      spark.experimental.extraStrategies = cur :+ KnnStrategy
    }
  }

  /** Metric codes of [[scan]]: squared L2, inner product, and cosine in
    * `graft.functions.cosineSimilarity`'s arithmetic ([[cosine]]).
    */
  final val L2 = 0
  final val InnerProduct = 1
  final val Cosine = 2

  /** The fused kNN kernel: one pass over (id, vec) rows that keeps each
    * query's best k. Every index search path runs it —
    * [[KnnPartialExec]] per partition of a fused batch `search` or a
    * `searchPoint`, and `PointSearcher` per partition of its snapshot —
    * so their scores are bit-identical. `Similarity.bruteForceTopK` and
    * `Similarity.mmrTopK`'s candidates run it too when their queries fit
    * the fused budget, and otherwise fall back to a broadcast cross join
    * of the same arithmetic.
    *
    * The metric is chosen once per call: L2 and inner product without
    * `round6` take the four-query blocked loop ([[scoreRow]]), cosine or
    * `round6` the per-score finishing loop ([[scanFinished]]).
    *
    * @param rows (id: long, vec) rows with a non-null `vec`; `vec` is fp32
    *        (`dec` 0) or f16/bf16 bits (`dec` 1/2, array<short>), decoded
    *        once per row into a reused fp64 scratch array; an
    *        `UnsafeRow`'s elements are read in place, any other row's
    *        through `getArray`
    * @param queries non-null vectors of one length qn; each row scores
    *        min(row length, qn) elements (cosine's norms take each
    *        vector's full length)
    * @param metric [[L2]], [[InnerProduct]] or [[Cosine]]
    * @param round6 round each score with [[round6]] and drop NaN scores
    * @return one buffer per query, in query order
    */
  def scan(rows: Iterator[InternalRow], queries: Array[Array[Float]], k: Int,
           ascending: Boolean, metric: Int, dec: Int,
           round6: Boolean = false): Array[TopKBuffer] = {
    val nq = queries.length
    val qn = if (nq == 0) 0 else queries(0).length
    // the queries widened to fp64 once, query-major
    val qd = new Array[Double](nq * qn)
    var q = 0
    while (q < nq) {
      val qv = queries(q)
      var j = 0
      while (j < qn) { qd(q * qn + j) = qv(j).toDouble; j += 1 }
      q += 1
    }
    val x = new Array[Double](qn)
    val bufs = Array.fill(nq)(new TopKBuffer(k, ascending))
    if (metric == Cosine || round6)
      scanFinished(rows, x, qd, qn, nq, metric, dec, round6, bufs)
    else {
      val ip = metric == InnerProduct
      rows.foreach { row =>
        val n = row match {
          case u: UnsafeRow if !u.isNullAt(1) => decodeUnsafe(u, x, qn, dec)
          case _ => decode(row.getArray(1), x, qn, dec)
        }
        scoreRow(x, n, qd, qn, nq, ip, row.getLong(0), bufs)
      }
    }
    bufs
  }

  /** Cosine similarity from a dot product and the two squared norms, in
    * `graft.functions.cosineSimilarity`'s fp64 order: dot /
    * (sqrt(‖a‖²)·sqrt(‖b‖²)), NaN when that product is 0. The one
    * definition outside Catalyst: [[scan]], `Similarity.mmrTopK`'s
    * pairwise sims and the streaming semantic dedup call it.
    */
  def cosine(dot: Double, normSqA: Double, normSqB: Double): Double = {
    val denom = math.sqrt(normSqA) * math.sqrt(normSqB)
    if (denom == 0.0) Double.NaN else dot / denom
  }

  /** `Similarity.q6` on one double: floor(x·1e6 + ½)/1e6 through a long,
    * as Spark's `floor` returns one; NaN and ±Inf pass through.
    */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else math.floor(x * 1e6 + 0.5).toLong.toDouble / 1e6

  /** [[scan]]'s loop for scores that need finishing: each row's ‖v‖² is
    * taken once over its full length when the metric is cosine, each
    * query is scored on its own left to right (the sums of [[scoreRow]]),
    * then divided by the norms ([[cosine]]) and, under `round6`, rounded
    * with [[round6]], a NaN being dropped.
    */
  private def scanFinished(rows: Iterator[InternalRow], x: Array[Double],
                           qd: Array[Double], qn: Int, nq: Int, metric: Int,
                           dec: Int, round6: Boolean, bufs: Array[TopKBuffer]): Unit = {
    val cos = metric == Cosine
    val ip = metric != L2
    val qNormSq = new Array[Double](nq)
    var q = 0
    while (q < nq) {
      var acc = 0.0
      var j = 0
      while (j < qn) { val v = qd(q * qn + j); acc += v * v; j += 1 }
      qNormSq(q) = acc
      q += 1
    }
    rows.foreach { row =>
      val vec = row.getArray(1)
      val n = decode(vec, x, qn, dec)
      var normSq = 0.0
      if (cos) {
        val len = vec.numElements()
        var j = 0
        while (j < n) { normSq += x(j) * x(j); j += 1 }
        while (j < len) { val v = element(vec, j, dec); normSq += v * v; j += 1 }
      }
      val id = row.getLong(0)
      var qi = 0
      while (qi < nq) {
        val o = qi * qn
        var acc = 0.0
        var j = 0
        if (ip) while (j < n) { acc += x(j) * qd(o + j); j += 1 }
        else while (j < n) { val dd = x(j) - qd(o + j); acc += dd * dd; j += 1 }
        val s = if (cos) cosine(acc, normSq, qNormSq(qi)) else acc
        if (!round6) bufs(qi).insert(s, id)
        else { val r = Knn.round6(s); if (!r.isNaN) bufs(qi).insert(r, id) }
        qi += 1
      }
    }
  }

  /** Element `j` of a vector, decoded as [[decode]] does. */
  private def element(vec: ArrayData, j: Int, dec: Int): Double =
    if (dec == 0) vec.getFloat(j).toDouble
    else if (dec == 1) FloatBits.halfBitsToFloat(vec.getShort(j)).toDouble
    else FloatBits.bf16BitsToFloat(vec.getShort(j)).toDouble

  /** Decodes min(length, qn) elements of the row's vector into `x` and
    * returns that count. The element reads are those of `UnsafeArrayData`
    * (`getFloat`/`getShort` at the header-skipped offset), taken straight
    * from the row's buffer, so no array view is allocated per row.
    */
  private def decodeUnsafe(row: UnsafeRow, x: Array[Double], qn: Int, dec: Int): Int = {
    val base = row.getBaseObject
    val at = row.getBaseOffset + (row.getLong(1) >> 32)
    val len = Platform.getLong(base, at).toInt
    val data = at + UnsafeArrayData.calculateHeaderPortionInBytes(len)
    val n = math.min(len, qn)
    var j = 0
    if (dec == 0)
      while (j < n) { x(j) = Platform.getFloat(base, data + 4L * j).toDouble; j += 1 }
    else if (dec == 1) while (j < n) {
      x(j) = FloatBits.halfBitsToFloat(Platform.getShort(base, data + 2L * j)).toDouble; j += 1
    } else while (j < n) {
      x(j) = FloatBits.bf16BitsToFloat(Platform.getShort(base, data + 2L * j)).toDouble; j += 1
    }
    n
  }

  /** [[decodeUnsafe]] for a vector of any other row format. */
  private def decode(vec: ArrayData, x: Array[Double], qn: Int, dec: Int): Int = {
    val n = math.min(vec.numElements(), qn)
    var j = 0
    if (dec == 0) while (j < n) { x(j) = vec.getFloat(j).toDouble; j += 1 }
    else if (dec == 1)
      while (j < n) { x(j) = FloatBits.halfBitsToFloat(vec.getShort(j)).toDouble; j += 1 }
    else
      while (j < n) { x(j) = FloatBits.bf16BitsToFloat(vec.getShort(j)).toDouble; j += 1 }
    n
  }

  /** Scores one decoded row `x(0 until n)` against every query in `qd`
    * (nq queries of qn doubles, query-major) and offers each score to
    * that query's buffer.
    *
    * Queries go in blocks of 4: four independent accumulators share each
    * load of `x(j)`, so the row is read once per block instead of once
    * per query; a scalar loop takes the remainder. Every accumulator
    * still sums its own query left to right in fp64, and the JVM never
    * contracts `a += d * d` into an FMA, so each score is bit-identical
    * to the one-query loop of `SquaredL2Distance` / `DotProductFloat`,
    * the declarative path's expressions. [[scan]] is its only caller.
    */
  private def scoreRow(x: Array[Double], n: Int, qd: Array[Double], qn: Int,
                       nq: Int, ip: Boolean, id: Long,
                       bufs: Array[TopKBuffer]): Unit = {
    var qi = 0
    while (qi + 4 <= nq) {
      val o0 = qi * qn; val o1 = o0 + qn; val o2 = o1 + qn; val o3 = o2 + qn
      var a0 = 0.0; var a1 = 0.0; var a2 = 0.0; var a3 = 0.0
      var j = 0
      if (ip) while (j < n) {
        val xj = x(j)
        a0 += xj * qd(o0 + j); a1 += xj * qd(o1 + j)
        a2 += xj * qd(o2 + j); a3 += xj * qd(o3 + j)
        j += 1
      } else while (j < n) {
        val xj = x(j)
        val d0 = xj - qd(o0 + j); val d1 = xj - qd(o1 + j)
        val d2 = xj - qd(o2 + j); val d3 = xj - qd(o3 + j)
        a0 += d0 * d0; a1 += d1 * d1; a2 += d2 * d2; a3 += d3 * d3
        j += 1
      }
      bufs(qi).insert(a0, id); bufs(qi + 1).insert(a1, id)
      bufs(qi + 2).insert(a2, id); bufs(qi + 3).insert(a3, id)
      qi += 4
    }
    while (qi < nq) {
      val o = qi * qn
      var acc = 0.0
      var j = 0
      if (ip) while (j < n) { acc += x(j) * qd(o + j); j += 1 }
      else while (j < n) { val dd = x(j) - qd(o + j); acc += dd * dd; j += 1 }
      bufs(qi).insert(acc, id)
      qi += 1
    }
  }

  /** Fused partial-kNN DataFrame (qid, id, score) over a (id, vec)
    * DataFrame — apply `topK` grouped by qid on top for final results.
    *
    * @param queries non-null vectors, all of one length (checked here, on
    *         the driver); each row scores min(row length, query length)
    *         elements
    * @param metric [[L2]], [[InnerProduct]] or [[Cosine]]
    * @param decode 0 = the vector column is fp32; 1/2 = f16/bf16 bits
    *         (array<short>), decoded once per row inside the fused loop.
    * @param round6 round each score with [[round6]] and drop NaN scores
    */
  def partials(vectors: DataFrame, queries: Seq[(Long, Array[Float])],
               k: Int, ascending: Boolean, metric: Int,
               decode: Int = 0, round6: Boolean = false): DataFrame = {
    require(queries.forall(_._2 != null) && queries.map(_._2.length).distinct.size <= 1,
      "Knn.partials: query vectors must be non-null and of one length")
    val spark = vectors.sparkSession
    install(spark)
    GraftBridge.ofRows(spark,
      KnnNode(vectors.queryExecution.analyzed, queries, k, ascending,
        metric, decode, round6))
  }
}
