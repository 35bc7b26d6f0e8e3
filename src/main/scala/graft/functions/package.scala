package graft

import org.apache.spark.sql.{Column, GraftBridge}
import graft.operators.TopKAgg

/** User-facing Column API for graft's custom Catalyst expressions.
  *
  * ```scala
  * import graft.functions._
  * df.select(squaredL2($"qvec", $"vec"))
  * df.groupBy($"qid").agg(topK($"dist", $"id", 10, ascending = true))
  * ```
  */
package object functions {

  private def e(c: Column) = GraftBridge.expression(c)

  /** Inner product Σ aᵢ·bᵢ over two `array<float>` columns (fp64 acc). */
  def dotProduct(a: Column, b: Column): Column =
    GraftBridge.column(DotProductFloat(e(a), e(b)))

  /** Squared L2 distance ‖a−b‖² (no sqrt — FAISS METRIC_L2 semantics). */
  def squaredL2(a: Column, b: Column): Column =
    GraftBridge.column(SquaredL2Distance(e(a), e(b)))

  /** Per-row squared norm ‖v‖². */
  def vectorNormSq(v: Column): Column =
    GraftBridge.column(VectorNormSq(e(v)))

  /** Cosine similarity dot(a,b)/(‖a‖·‖b‖), composed from codegen kernels.
    *
    * A zero-norm side yields NaN (IEEE 0/0) rather than an ANSI
    * divide-by-zero error — matching the GEMM path's plain double
    * arithmetic, and TopKAgg already ranks NaN as always-worst.
    */
  def cosineSimilarity(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.{lit, sqrt, when}
    val denom = sqrt(vectorNormSq(a)) * sqrt(vectorNormSq(b))
    when(denom === 0.0, lit(Double.NaN)).otherwise(dotProduct(a, b) / denom)
  }

  /** fp32 `array<float>` → IEEE-half bits `array<short>` (RNE). */
  def quantizeF16(v: Column): Column =
    GraftBridge.column(QuantizeVector16(e(v), bfloat = false))

  /** fp32 `array<float>` → bfloat16 bits `array<short>` (RNE truncation). */
  def quantizeBf16(v: Column): Column =
    GraftBridge.column(QuantizeVector16(e(v), bfloat = true))

  /** IEEE-half bits → fp32 (exact). */
  def dequantizeF16(v: Column): Column =
    GraftBridge.column(DequantizeVector16(e(v), bfloat = false))

  /** bfloat16 bits → fp32 (exact). */
  def dequantizeBf16(v: Column): Column =
    GraftBridge.column(DequantizeVector16(e(v), bfloat = true))

  /** SQ8 quantize: vector → struct(codes array<byte>, scale double). */
  def quantizeInt8(v: Column): Column =
    GraftBridge.column(QuantizeVectorInt8(e(v)))

  /** SQ8 dequantize: (codes, scale) → fp32 vector (code · scale). */
  def dequantizeInt8(codes: Column, scale: Column): Column =
    GraftBridge.column(DequantizeVectorInt8(e(codes), e(scale)))

  /** SQ4 quantize: vector → struct(codes array<byte> nibble-packed,
    * scale double, n int). */
  def quantizeInt4(v: Column): Column =
    GraftBridge.column(QuantizeVectorInt4(e(v)))

  /** SQ4 dequantize: (packed codes, scale, n) → fp32 vector. */
  def dequantizeInt4(codes: Column, scale: Column, n: Column): Column =
    GraftBridge.column(DequantizeVectorInt4(e(codes), e(scale), e(n)))

  /** FP8 E4M3 quantize: vector → one code byte per element
    * (saturating-finite, RNE — see FloatBits.floatToFp8E4m3Bits). */
  def quantizeFp8(v: Column): Column =
    GraftBridge.column(QuantizeVectorFp8(e(v)))

  /** FP8 E4M3 dequantize: codes → fp32 vector (exact). */
  def dequantizeFp8(codes: Column): Column =
    GraftBridge.column(DequantizeVectorFp8(e(codes)))

  /** Binary (1-bit) quantization: vector → packed sign bits, 63/word. */
  def signBits(v: Column): Column = GraftBridge.column(SignBits(e(v)))

  /** Hamming distance between two packed sign-bit arrays (codegen'd). */
  def hammingDistance(a: Column, b: Column): Column =
    GraftBridge.column(HammingDistance(e(a), e(b)))

  /** PQ encode: vector → `m` sub-centroid indices (see [[PqEncode]]). */
  def pqEncode(v: Column, centroids: Seq[Array[Float]], m: Int): Column =
    GraftBridge.column(PqEncode(e(v), centroids, m))

  /** PQ ADC distance between a code array and a full-precision query. */
  def pqAdcScore(codes: Column, q: Column, centroids: Seq[Array[Float]], m: Int): Column =
    GraftBridge.column(PqAdcScore(e(codes), e(q), centroids, m))

  /** Distinct word n-gram shingles from a token-array column (compiled
    * single pass; ~10× the throughput of the transform/array_distinct
    * composition on shingle-heavy dedup pipelines).
    */
  def wordShingles(tokens: Column, n: Int = 3, distinct: Boolean = true): Column =
    GraftBridge.column(WordShingles(e(tokens), n, distinct))

  /** MinHash signature (numHashes 8-hex-char mins) of a shingle array in
    * one compiled pass — see [[MinHashSignature]]; null for empty arrays.
    */
  def minhashSignature(shingles: Column, numHashes: Int = 8): Column =
    GraftBridge.column(MinHashSignature(e(shingles), numHashes))

  /** n-bit SimHash of a token array in one compiled pass (majority vote
    * over distinct tokens, md5-nibble bits) — see [[SimHashBits]].
    */
  def simhashBits(tokens: Column, nBits: Int): Column =
    GraftBridge.column(SimHashBits(e(tokens), nBits))

  /** Compiled unordered-pair generator over an array<struct<id,h>> bucket:
    * rows (doc_a, ha, doc_b, hb) for each i < j — see [[StructPairs]].
    */
  def structPairs(bucket: Column): Column =
    GraftBridge.column(StructPairs(e(bucket)))

  /** nProbe nearest centroid ids for a vector, best-first by (L2², cid);
    * the centroid table (small, trained) rides inside the expression — no
    * join, no shuffle.
    */
  def nearestCentroids(v: Column, centroids: Seq[(Long, Array[Float])],
                       nProbe: Int): Column =
    GraftBridge.column(NearestCentroids(e(v), centroids, nProbe))

  /** v − centroid(cid): the residual-IVFPQ encode/score input (see
    * [[CentroidResidual]]); centroid table embedded, narrow projection.
    */
  def centroidResidual(v: Column, cid: Column,
                       centroids: Seq[(Long, Array[Float])]): Column =
    GraftBridge.column(CentroidResidual(e(v), e(cid), centroids))

  /** Grouped bounded top-k: `array<struct<label, score>>` best-first.
    * ascending=true keeps smallest scores (L2), false largest (IP);
    * ties break toward the smaller label. `padToK` fills missing slots
    * with (−1, ±Inf) sentinels, matching the reference's k>ntotal
    * semantics.
    */
  def topK(score: Column, label: Column, k: Int, ascending: Boolean,
           padToK: Boolean = false): Column =
    GraftBridge.column(
      TopKAgg(e(score), e(label), k, ascending, padToK).toAggregateExpression())

  /** Bloom-filter membership test — the scan-stage predicate behind
    * [[graft.ops.BloomJoin.bloomPrunedJoin]]. The serialized filter is
    * shipped as a torrent broadcast (fetched once per executor), NOT
    * embedded in the task binary: a 1.2 MB-per-million-key filter in
    * the expression would bloat every task (r14 ADVICE).
    */
  def bloomMightContain(key: Column, filterBytes: Array[Byte]): Column = {
    val bcast = org.apache.spark.sql.SparkSession.active
      .sparkContext.broadcast(filterBytes)
    GraftBridge.column(BloomMightContain(e(key), bcast))
  }

  /** Most-frequent word n-gram of a token-array column:
    * `struct<gram, cnt>`, ties to the lexicographically smallest gram,
    * null below n tokens — the narrow kernel behind the Gopher
    * repetition filters (see [[graft.ops.TextAnalysis.repetition]]).
    */
  def topNgram(tokens: Column, n: Int): Column =
    GraftBridge.column(TopNgram(e(tokens), n))

  /** Corpus-trained BPE tokenization of a text column: pre-tokenize on
    * the `[\p{L}\p{N}]` boundary rule, then apply the trained merge table
    * (see [[graft.ops.TextAnalysis.trainBpe]]) in one compiled narrow
    * pass — `array<string>` of subword tokens for the whole document.
    */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    GraftBridge.column(BpeEncode(e(text), merges))

  /** Project a vector onto a trained PCA basis (mean-centered, fp64 acc,
    * fp32 out) — see [[PcaProject]]; the basis rides in the expression so
    * the reduction is a narrow no-shuffle pass.
    */
  def pcaProject(v: Column, mean: Array[Double],
                 components: Array[Array[Double]]): Column =
    GraftBridge.column(PcaProject(e(v), mean, components))

  /** Shannon entropy (nats) of a string's code-point distribution — the
    * gibberish/blob quality filter; one compiled pass, null for empty.
    */
  def charEntropy(text: Column): Column =
    GraftBridge.column(CharEntropy(e(text)))

  /** Order-preserving `double → long` bit bijection (sortable-bits
    * trick) — feeds [[graft.ops.Scan.exactQuantilesByGroupDouble]];
    * invert with [[DoubleBits.fromSortable]].
    */
  def doubleSortableBits(v: Column): Column =
    GraftBridge.column(DoubleSortableBits(e(v)))

  /** Jaro-Winkler similarity of two strings (DuckDB-pinned semantics:
    * empty input → 0.0, strict 0.7 boost threshold, prefix ≤ 4) — the
    * record-linkage scorer; see [[JaroWinkler]].
    */
  def jaroWinkler(a: Column, b: Column): Column =
    GraftBridge.column(JaroWinkler(e(a), e(b)))

  /** |a ∩ b| for two ascending arrays of distinct longs, by one merge;
    * see [[SortedIntersectSize]].
    */
  def sortedIntersectSize(a: Column, b: Column): Column =
    GraftBridge.column(SortedIntersectSize(e(a), e(b)))

  /** SpaceSaving heavy-hitter sketch (capacity-bounded, mergeable):
    * `array<struct<item, est, err>>`, est desc. See
    * [[graft.operators.SpaceSavingAgg]] for the invariants.
    */
  def spaceSavingHH(item: Column, capacity: Int): Column =
    GraftBridge.column(
      graft.operators.SpaceSavingAgg(e(item), capacity).toAggregateExpression())

  /** Boundary-proof integer witness `floor(x·scale + 1/2)` as LONG — the
    * gate-emission convention for derived doubles (never emit a raw
    * double or decimal in a hashed output column). Non-finite inputs map
    * to explicit sentinels on the Spark side (r16 ADVICE): without the
    * guard, Spark's `floor(NaN·s + ½) CAST LONG` silently yields 0 and
    * ±Inf saturate to Long.Max/Min, while the DuckDB mirror's
    * `CAST(FLOOR(..) AS BIGINT)` errors — a zero-norm vector or
    * zero-variance group would surface as an oracle-side crash or a
    * silent 0 instead of a clean, named divergence. Sentinels:
    * NaN → Long.MinValue+1, +Inf → Long.MaxValue, −Inf → Long.MinValue
    * (all far outside any e6/e4 witness range, so a non-finite upstream
    * value flips the hash loudly at the exact row).
    */
  def intWitness(c: Column, scale: Long): Column = {
    import org.apache.spark.sql.functions.{floor, isnan, lit, when}
    when(isnan(c), lit(Long.MinValue + 1L))
      .when(c === Double.PositiveInfinity, lit(Long.MaxValue))
      .when(c === Double.NegativeInfinity, lit(Long.MinValue))
      .otherwise(floor(c * lit(scale.toDouble) + lit(0.5))
        .cast(org.apache.spark.sql.types.LongType))
  }

  /** Saturation-free witness `floor(x·scale + 1/2)` as DECIMAL(38,0) — the
    * [[intWitness]] shape for values that can exceed the int64 range
    * BEFORE the sum (graph-iteration contributions: a hub node's
    * rank/odeg·1e14 passes 2⁶³ near rank/odeg ≈ 92k). `functions.floor`
    * returns LONG and silently saturates there while the DuckDB mirror's
    * `CAST(FLOOR(..) AS HUGEINT)` does not, so the engines would diverge
    * exactly on the heaviest nodes. The floor here stays in double space
    * (`x − pmod(x, 1)` — IEEE-exact for every finite double, since fmod
    * of representable values is representable and the subtraction is
    * Sterbenz-exact), and the integer-valued double casts to
    * DECIMAL(38,0) without rounding on either engine. Bit-identical to
    * the LONG path for |x| < 2⁶³; beyond it, exact instead of clipped.
    * Same non-finite sentinels as [[intWitness]].
    */
  def decimalWitness(c: Column, scale: Double): Column = {
    import org.apache.spark.sql.functions.{isnan, lit, pmod, when}
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = c * lit(scale) + lit(0.5)
    when(isnan(c), lit(Long.MinValue + 1L).cast(dec))
      .when(c === Double.PositiveInfinity, lit(Long.MaxValue).cast(dec))
      .when(c === Double.NegativeInfinity, lit(Long.MinValue).cast(dec))
      .otherwise((x - pmod(x, lit(1.0))).cast(dec))
  }

  /** [[decimalWitness]] decomposed into three bounded LONG components
    * `(hi, mid, lo)` with `value = hi·2⁶² + mid·2³¹ + lo` — the
    * allocation-free aggregation form (r18 opt): summing DECIMAL(38,0)
    * pays a BigDecimal round-trip per row (precision 38 leaves Spark's
    * compact-long Decimal representation), which made the graph
    * fixpoint iterations allocation-bound. Summing the three components
    * as primitive longs (whole-stage-codegen, zero allocation) and
    * reconstructing `Σ = (Σhi)·2⁶² + (Σmid)·2³¹ + (Σlo)` in
    * DECIMAL(38,0) once per GROUP yields the exact same integer — the
    * decomposition is internal, so any oracle that sums the undecomposed
    * witness (HUGEINT) sees identical values.
    *
    * Exactness: the finite branch computes the floored witness `f` in
    * double space (every step IEEE-exact, see [[decimalWitness]]), then
    * `lo = fmod(f, 2³¹)`, `t = (f−lo)/2³¹`, `mid = fmod(t, 2³¹)`,
    * `hi = (t−mid)/2³¹` — fmod is exact, subtraction of an exact fmod
    * residue is exact, and division by a power of two is exact, so the
    * components reproduce f exactly for |f| < 2⁹³. Non-finite inputs
    * map to the same three sentinel constants as [[decimalWitness]],
    * pre-split host-side by arithmetic shifts (components bounded, sum
    * telescopes back to the exact sentinel).
    *
    * CALLER-OWNED overflow bound: each component is < 2³¹ in magnitude
    * (hi < value/2⁶²), so a group of n rows sums safely in int64 when
    * n < 2³¹ AND n·(max value)/2⁶² < 2⁶³. The graph operators route on
    * the measured node count (n ≤ |V|), falling back to the decimal
    * path above the cap — identical results either way.
    *
    * Representation boundary (documented, not load-bearing): once the
    * floored witness exceeds ~17 significant digits (witness input
    * beyond ~1e3 at the e14 scale), Spark's double→decimal CAST follows
    * `Double.toString`'s shortest round-trip repr while this telescope
    * reproduces the double's exact binary integer — two engine-defined
    * readings of the same double. Gate-validated data never reaches
    * that regime (graph ranks keep r/odeg orders of magnitude below
    * it); `GraphSpec` pins split ≡ decimal across the exercised range
    * and the sentinels.
    */
  def witnessSplit3(c: Column, scale: Double): (Column, Column, Column) = {
    import org.apache.spark.sql.functions.{isnan, lit, pmod, when}
    val lt = org.apache.spark.sql.types.LongType
    val B = SplitBase
    val x = c * lit(scale) + lit(0.5)
    val f = x - pmod(x, lit(1.0))
    val lo = f % lit(B)
    val t = (f - lo) / lit(B)
    val mid = t % lit(B)
    val hi = (t - mid) / lit(B)
    val (nanH, nanM, nanL) = tri(Long.MinValue + 1L)
    val (posH, posM, posL) = tri(Long.MaxValue)
    val (negH, negM, negL) = tri(Long.MinValue)
    def sel(fin: Column, nan: Long, pos: Long, neg: Long): Column =
      when(isnan(c), lit(nan))
        .when(c === Double.PositiveInfinity, lit(pos))
        .when(c === Double.NegativeInfinity, lit(neg))
        .otherwise(fin.cast(lt))
    (sel(hi, nanH, posH, negH), sel(mid, nanM, posM, negM),
      sel(lo, nanL, posL, negL))
  }

  /** [[witnessSplit3]] of one double, written to `out(at)`, `out(at + 1)`
    * and `out(at + 2)` as (hi, mid, lo): the form for loops that keep a
    * score vector in primitive arrays (`Graph`'s driver-resident rounds).
    * The same IEEE ops in the same order as the Column form (Spark's
    * double `pmod` is `r = a % n; if (r < 0) (r + n) % n else r`, its
    * `%` and `/` are Java's, and its double→long cast truncates), so the
    * components are equal component for component wherever the Column
    * form's cast is in range (every component of |f| < 2⁹³); the
    * non-finite inputs take the same sentinels.
    */
  def witnessSplit3(x: Double, scale: Double, out: Array[Long], at: Int): Unit = {
    if (x.isNaN || x.isInfinite) {
      val (h, m, l) = tri(
        if (x.isNaN) Long.MinValue + 1L else if (x > 0) Long.MaxValue else Long.MinValue)
      out(at) = h; out(at + 1) = m; out(at + 2) = l
    } else {
      val v = x * scale + 0.5
      val r = v % 1.0
      val f = v - (if (r < 0) (r + 1.0) % 1.0 else r)
      val lo = f % SplitBase
      val t = (f - lo) / SplitBase
      val mid = t % SplitBase
      out(at) = ((t - mid) / SplitBase).toLong
      out(at + 1) = mid.toLong
      out(at + 2) = lo.toLong
    }
  }

  private val SplitBase = 2147483648.0 // 2^31, exact double

  /** An exact long split as (hi, mid, lo) with s = hi·2⁶² + mid·2³¹ + lo. */
  private def tri(s: Long): (Long, Long, Long) = {
    val h = s >> 62; val r = s - (h << 62)
    val m = r >> 31; val a = r - (m << 31)
    (h, m, a)
  }

  /** 6-dp integer witness with non-finite sentinels — see [[intWitness]]. */
  def e6Witness(c: Column): Column = intWitness(c, 1000000L)

  /** 4-dp integer witness with non-finite sentinels — see [[intWitness]]. */
  def e4Witness(c: Column): Column = intWitness(c, 10000L)
}
