package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.operators.TopKBuffer

/** Similarity-search operators over an embedding column:
  * brute-force top-k (the exact baseline) and an IVF-style partitioned
  * variant (the 100 TB scale path: probe a few clusters instead of
  * scanning everything).
  */
object Similarity {

  /** 6-dp score quantizer in the floor-witness form floor(x·1e6 + ½)/1e6
    * (r16 verdict task #2): `round(x, 6)` is engine-defined at digit
    * boundaries — Spark rounds the double's exact binary expansion via
    * BigDecimal HALF_UP while DuckDB scales-and-rints — so one score at
    * a boundary could flip a (score, label) ranking with no code change.
    * The floor form is pure correctly-rounded IEEE ops (multiply, add,
    * floor, divide), bit-identical on any IEEE-754 engine evaluating the
    * mirrored expression; the DuckDB mirror is
    * `FLOOR(x * 1000000.0 + 0.5) / 1000000.0`. Non-finite scores pass
    * through untouched (Spark's floor→LONG would silently zero a NaN,
    * breaking the downstream isnan filters; DuckDB's FLOOR keeps NaN/Inf
    * naturally, so pass-through IS the mirror).
    */
  private[ops] def q6(c: Column): Column =
    when(isnan(c) || c === Double.PositiveInfinity ||
         c === Double.NegativeInfinity, c)
      .otherwise(floor(c * lit(1e6) + lit(0.5)) / lit(1e6))

  /** Unpack a grouped `hits` top-k array into (qid, rank[1-based], label,
    * score) rows — the ONE place this shape is defined, because every kNN
    * formulation must unpack identically for the shared oracle to match.
    */
  def explodeHits(grouped: DataFrame): DataFrame =
    grouped.select(col("qid"), posexplode(col("hits")))
      .select(col("qid"), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.label").as("label"), col("col.score").as("score"))

  /** Exact top-k by squared L2. queries: (qid, qv); vectors: (id, vec).
    * Broadcast the queries; k-bounded partial agg map-side; shuffle is k
    * rows per query. Output: (qid, rank[1-based], label, score).
    */
  def bruteForceTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                     metric: String = "l2"): DataFrame = {
    val (scoreCol, asc) = metric match {
      case "l2"     => (squaredL2(col("vec"), col("qv")), true)
      case "ip"     => (dotProduct(col("vec"), col("qv")), false)
      case "cosine" => (cosineSimilarity(col("vec"), col("qv")), false)
      case other    => throw new IllegalArgumentException(s"unknown metric $other")
    }
    explodeHits(
      Dedup.spread(vectors).crossJoin(broadcast(queries))
        .select(col("qid"), col("id").as("label"), scoreCol.as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = asc).as("hits")))
  }

  /** Measured-size routing between the broadcast and shuffle-tiled
    * exact-kNN plans (r16): a %-split eval/query frame is ∝ corpus size
    * under the oracle gate convention, so an unconditional
    * broadcast(queries) becomes an executor-memory cliff as the corpus
    * grows another 10×. One cheap count gates the plan — small query
    * sets keep the broadcast plan, large ones take the tiled shuffle —
    * and the two paths are bit-identical by the (score, label) total
    * order (spec-pinned), so the route can never move a result hash.
    * The cap keeps the broadcast ≤ ~30 MB of packed floats at d=64.
    */
  val queryBroadcastCap = 100000L
  /** `knownCount` (r16 verdict #6): callers that already measured the
    * query-side count (an audit slice sized by an earlier agg, a
    * fixed-size eval set) pass it and the routing gate costs nothing;
    * the default −1 keeps the self-measuring behavior. For a derived
    * query frame that is itself a corpus scan, self-measuring doubles
    * the scan — pass the count you have.
    */
  def autoTopK(vectors: DataFrame, queries: DataFrame, k: Int,
               metric: String = "l2", knownCount: Long = -1L): DataFrame = {
    val n = if (knownCount >= 0L) knownCount else queries.count()
    if (n <= queryBroadcastCap)
      bruteForceTopK(vectors, queries, k, metric)
    else shuffleTiledTopK(vectors, queries, k, metric)
  }

  /** Exact kNN join when BOTH sides are too large to broadcast — the shape
    * `bruteForceTopK` cannot take: a 10⁹-row query batch does not fit in a
    * driver broadcast, and at 100 TB neither side does.
    *
    * Tiled shuffle formulation (block-nested-loop over hash tiles):
    *   1. vectors are hash-tiled on `id` into `numTiles` buckets — each
    *      vector lands in exactly ONE tile (the corpus is shuffled once,
    *      never replicated);
    *   2. queries are replicated to every tile (`explode(sequence)`) — the
    *      replication factor is numTiles, chosen so a tile's vectors fit
    *      one task, NOT proportional to corpus size;
    *   3. a shuffle-hash join on `tile` co-locates each (query, tile)
    *      pair with that tile's vectors; distances are the same codegen
    *      expressions as the broadcast path;
    *   4. `topK` partial aggregation bounds each task's output at k rows
    *      per query per tile; the final shuffle moves ≤ numTiles·k rows
    *      per query, independent of corpus size.
    *
    * Same (score, label) total order as every other path, so results are
    * bit-identical to `bruteForceTopK` (spec-pinned). The reference's
    * analog is the multi-threadgroup partial/merge selection split
    * (`/root/reference/shaders/block_select.metal:111-274`) — here the
    * "threadgroups" are shuffle tiles.
    */
  def shuffleTiledTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                       metric: String = "l2", numTiles: Int = 0): DataFrame = {
    val t =
      if (numTiles > 0) numTiles
      else vectors.sparkSession.sparkContext.defaultParallelism
    val (scoreCol, asc) = metric match {
      case "l2"     => (squaredL2(col("vec"), col("qv")), true)
      case "ip"     => (dotProduct(col("vec"), col("qv")), false)
      case "cosine" => (cosineSimilarity(col("vec"), col("qv")), false)
      case other    => throw new IllegalArgumentException(s"unknown metric $other")
    }
    val vt = vectors.withColumn("tile", pmod(hash(col("id")), lit(t)))
    val qt = queries.withColumn("tile",
      explode(sequence(lit(0), lit(t - 1))))
    explodeHits(
      // hint pins the shuffle join: without it Catalyst would broadcast
      // the (replicated) query side, which is exactly the plan this
      // formulation exists to avoid
      vt.hint("shuffle_hash").join(qt, "tile")
        .select(col("qid"), col("id").as("label"), scoreCol.as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = asc).as("hits")))
  }

  /** IVF-style ANN:
    *  1. centroids = a deterministic subset of the vectors (id % modulo == 0
    *     — a stand-in for k-means; the partitioning mechanics are what
    *     matters at scale, and determinism is what the oracle needs);
    *  2. every vector is assigned to its nearest centroid (argmin by
    *     (dist, cid) — one broadcast join + k=1 top-k, no shuffle of the
    *     big side beyond the assignment agg);
    *  3. a query probes its nProbe nearest centroids and scans only those
    *     clusters' vectors.
    *
    * At 100 TB the vectors DataFrame would be written partitioned/bucketed
    * by `cid` so a probe prunes partitions instead of filtering.
    */
  def ivfTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              centroidModulo: Int, nProbe: Int): DataFrame = {
    // "train": the centroid table is small by definition — collect it once
    // and embed it in a narrow projection (no cross-join, no shuffle for
    // assignment or probe lists)
    val cents = ivfModuloCents(vectors, centroidModulo)
    // one-shot composition: assignment (build) + probe scan (serve) in a
    // single lazy plan — right for a query that runs once. A serve-many
    // deployment materializes [[ivfAssign]] once instead: re-running
    // assignment per search re-pays n·nClusters·d FLOPs every action,
    // invisible at 20k vectors but ~50× the serve cost at 200k
    // (BASELINE.md round-14 Pareto note).
    ivfServeTopK(cents,
      ivfAssign(vectors, cents, materialize = false), queries, k, nProbe)
  }

  /** The modulo-sampled centroid table of the [[ivfTopK]] family. */
  def ivfModuloCents(vectors: DataFrame,
                     centroidModulo: Int): Seq[(Long, Array[Float])] =
    collectSmall(
        vectors.filter(col("id") % centroidModulo === 0).select(col("id"), col("vec")),
        "IVF centroid table")
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .sortBy(_._1)

  /** Index BUILD of the IVF family, split from serve (the r13
    * train/serve accounting, extended to ASSIGNMENT): every vector keys
    * by its nearest centroid — one compiled narrow pass, n·nClusters·d
    * FLOPs — and the result is the object a 100 TB deployment persists
    * partitioned/bucketed by `cid` (`payload` picks the stored record:
    * fp32 vectors, or SQ8/SQ4 codes for the compression rungs).
    * `materialize = true` (the serve-many shape) localCheckpoints it so
    * probes scan the stored index instead of re-paying the build —
    * at n=200k/d=64 the per-action assignment is ~6·10¹⁰ FLOPs vs a
    * ~2/5000 probed-fraction scan.
    *
    * APPEND-ONLY INCREMENTAL ADD (FAISS `add` on an IVF index,
    * `include/faiss-metal/MetalIndexFlat.h` S1 semantics generalized):
    * new vector batches assign against the FROZEN centroid table and
    * union into the stored index — `ivfAssign(batch, cents)` unioned
    * with the existing frame serves identically to a from-scratch
    * build over the combined corpus (spec-pinned), because assignment
    * is per-row against fixed centroids.
    */
  def ivfAssign(vectors: DataFrame, cents: Seq[(Long, Array[Float])],
                payload: String = "fp32",
                materialize: Boolean = true): DataFrame = {
    val assigned = Dedup.spread(vectors)
      .withColumn("cid", element_at(nearestCentroids(col("vec"), cents, 1), 1))
    val enc = payload match {
      case "fp32" => assigned.select(col("cid"), col("id"), col("vec"))
      case "sq8"  => assigned.select(col("cid"), col("id"), quantizeInt8(col("vec")).as("q"))
      case "sq4"  => assigned.select(col("cid"), col("id"), quantizeInt4(col("vec")).as("q"))
      case other  => throw new IllegalArgumentException(s"unknown IVF payload $other")
    }
    if (materialize) enc.localCheckpoint(true) else enc
  }

  /** Query SERVE over a built IVF index ([[ivfAssign]]): probe nProbe
    * nearest centroids, scan only those clusters' records, k-bounded
    * top-k — the per-query cost a deployment actually pays.
    */
  def ivfServeTopK(cents: Seq[(Long, Array[Float])], index: DataFrame,
                   queries: DataFrame, k: Int, nProbe: Int,
                   payload: String = "fp32"): DataFrame = {
    val probes = queries
      .select(col("qid"), col("qv"),
        explode(nearestCentroids(col("qv"), cents, nProbe)).as("cid"))
    val score = payload match {
      case "fp32" => squaredL2(col("vec"), col("qv"))
      case "sq8"  => squaredL2(dequantizeInt8(col("q.codes"), col("q.scale")), col("qv"))
      case "sq4"  => squaredL2(dequantizeInt4(col("q.codes"), col("q.scale"), col("q.n")), col("qv"))
      case other  => throw new IllegalArgumentException(s"unknown IVF payload $other")
    }
    explodeHits(
      probes.join(index, "cid")
        .select(col("qid"), col("id").as("label"), score.as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** [[ivfTopK]] with a metadata predicate on the corpus rows — FAISS's
    * `IDSelector` search-time filtering. The predicate is applied INSIDE
    * the probed-cluster scan, before distances and the k-bounded
    * aggregate, so (a) a 1%-selective filter cuts the distance work
    * ~100× instead of being paid after it, and (b) the k results come
    * from the SURVIVING candidates — post-filtering a precomputed k-list
    * would under-fill k whenever the filter removes shortlist members,
    * the classic filtered-ANN correctness trap. At 100 TB the predicate
    * rides the same partition-pruned (`cid`) scan as the probe.
    */
  def ivfFilteredTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                      centroidModulo: Int, nProbe: Int,
                      pred: Column): DataFrame = {
    val cents = collectSmall(
        vectors.filter(col("id") % centroidModulo === 0).select(col("id"), col("vec")),
        "IVF centroid table")
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .sortBy(_._1)
    // assignment runs over the FULL corpus (the index is built once);
    // the predicate prunes at SEARCH time, inside the probed scan
    val assigned = Dedup.spread(vectors)
      .withColumn("cid", element_at(nearestCentroids(col("vec"), cents, 1), 1))
      .filter(pred)
    val probes = queries
      .select(col("qid"), col("qv"),
        explode(nearestCentroids(col("qv"), cents, nProbe)).as("cid"))
    explodeHits(
      probes.join(assigned, "cid")
        .select(col("qid"), col("id").as("label"),
          squaredL2(col("vec"), col("qv")).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** IVF over SQ8 (int8) storage — the `IVF…,SQ8` FAISS factory composite
    * and the missing middle rung of the compression ladder (IVF×raw and
    * IVF×PQ exist; this is IVF×scalar-quantized): coarse-cluster pruning
    * scans nProbe/nClusters of the corpus, and each scanned vector is a
    * 4×-smaller (d bytes + scale) record decoded in-register by the
    * codegen'd [[graft.functions.DequantizeVectorInt8]] — the scan stage
    * reads a quarter of the bytes of [[ivfTopK]] at the same probe shape.
    *
    * Assignment happens on the RAW vector at ingest (FAISS assigns before
    * quantizing on `add`), so the inverted lists are identical to the
    * fp32 index's; only the stored payload differs. Decode is
    * `float(code·scale)` — exact double arithmetic + one IEEE float
    * rounding, both reproducible in SQL, so the whole composite oracles
    * hash-exact rather than by recall bound.
    */
  def ivfSq8TopK(vectors: DataFrame, queries: DataFrame, k: Int,
                 centroidModulo: Int, nProbe: Int): DataFrame = {
    // ingest: assign raw, store int8 — the index a 100 TB deployment
    // would persist partitioned by cid with the (codes, scale) payload
    // (one-shot lazy composition; serve-many deployments materialize
    // [[ivfAssign]] — see [[ivfTopK]])
    val cents = ivfModuloCents(vectors, centroidModulo)
    ivfServeTopK(cents, ivfAssign(vectors, cents, "sq8", materialize = false),
      queries, k, nProbe, "sq8")
  }

  /** IVF over SQ4 (int4) storage — one rung further down the ladder than
    * [[ivfSq8TopK]]: probed records carry nibble-packed codes (⌈d/2⌉
    * bytes + scale, 8× smaller than fp32), decoded in-register by the
    * codegen'd [[graft.functions.DequantizeVectorInt4]]. Same raw-vector
    * assignment (inverted lists identical to the fp32 index) and the
    * same exact decode arithmetic (double steps + one float rounding),
    * so this composite hash-oracles too.
    */
  def ivfSq4TopK(vectors: DataFrame, queries: DataFrame, k: Int,
                 centroidModulo: Int, nProbe: Int): DataFrame = {
    val cents = ivfModuloCents(vectors, centroidModulo)
    ivfServeTopK(cents, ivfAssign(vectors, cents, "sq4", materialize = false),
      queries, k, nProbe, "sq4")
  }

  /** Radius (range) search: ALL neighbors within squared-L2 `radius`, not
    * a fixed k — FAISS CPU's `range_search` surface, which the reference
    * does not implement (its Metal path is top-k only); included so a
    * FAISS-flat user can switch without losing the operation. The filter
    * runs inside the scan's codegen stage, so at scale only matching pairs
    * survive to the (small) result; no top-k state at all.
    */
  def radiusSearch(vectors: DataFrame, queries: DataFrame,
                   radius: Double): DataFrame =
    Dedup.spread(vectors).crossJoin(broadcast(queries))
      .select(col("qid"), col("id").as("label"),
        squaredL2(col("vec"), col("qv")).as("score"))
      .filter(col("score") <= radius)

  /** IVF-pruned radius search — FAISS `range_search` on an IVF index:
    * ALL neighbors within squared-L2 `radius` among the nProbe probed
    * clusters (like every IVF operation, matches whose vectors live in
    * unprobed clusters are traded for the nProbe/nClusters scan
    * fraction; nProbe = nClusters degrades to the exact
    * [[radiusSearch]]). The filter runs inside the probed scan's codegen
    * stage; no top-k state, result size is the match count.
    */
  def ivfRadiusSearch(vectors: DataFrame, queries: DataFrame,
                      radius: Double, centroidModulo: Int,
                      nProbe: Int): DataFrame = {
    val cents = collectSmall(
        vectors.filter(col("id") % centroidModulo === 0).select(col("id"), col("vec")),
        "IVF centroid table")
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .sortBy(_._1)
    val assigned = Dedup.spread(vectors)
      .withColumn("cid", element_at(nearestCentroids(col("vec"), cents, 1), 1))
    val probes = queries
      .select(col("qid"), col("qv"),
        explode(nearestCentroids(col("qv"), cents, nProbe)).as("cid"))
    probes.join(assigned, "cid")
      .select(col("qid"), col("id").as("label"),
        squaredL2(col("vec"), col("qv")).as("score"))
      .filter(col("score") <= radius)
  }

  /** GEMM-batched exact kNN — the direct Spark analog of the reference's
    * tiled simdgroup GEMM path (`shaders/simdgroup_gemm.metal:26-138`,
    * host gate `src/MetalDistance.mm:121-127`): instead of evaluating the
    * distance expression one (query, vector) pair at a time, each
    * partition packs its vectors into row blocks and computes the whole
    * (block × nq) dot-product matrix with one netlib `dgemm` call per
    * block (`D = ‖v‖² + ‖q‖² − 2·V·Qᵀ`, the decomposition of
    * `src/MetalDistance.h:21`), feeding per-query BOUNDED top-k buffers —
    * so, like the fused kernel, a partition emits only nq·k rows however
    * many vectors it scanned.
    *
    * fp64 accumulation (dgemm over widened floats) keeps parity with the
    * expression path's double math; per-buffer eviction uses the same
    * (score, label) total order as TopKAgg, and the final per-query merge
    * IS TopKAgg — the block_select partial/merge/final shape again.
    */
  /** Guarded driver collect for centroid/codebook tables: these embed in
    * expressions and broadcast inside closures, so they must stay small.
    * The limit-probe costs no more than the collect itself and fails fast
    * with a clear message instead of OOMing the driver when a caller picks
    * a modulo that no longer selects a "small" subset at corpus scale.
    */
  private def collectSmall(df: DataFrame, what: String,
                           maxRows: Int = 1 << 17): Array[org.apache.spark.sql.Row] = {
    val probe = df.limit(maxRows + 1).collect()
    require(probe.length <= maxRows,
      s"$what exceeds $maxRows rows — a centroid/codebook table must be small " +
        "enough to embed in an expression; raise the modulo / lower nClusters")
    probe
  }

  /** Empty kNN result in the canonical (qid, rank, label, score) shape —
    * what a GEMM-path search over zero queries returns (instead of
    * throwing, so batch drivers can skip-and-union).
    */
  private def emptyHits(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Long, Long, Long, Double)].toDF("qid", "rank", "label", "score")
  }

  /** [[gemmTopK]] with the query side guarded: the GEMM path must
    * `collect()` the queries to pack the Qᵀ matrix, so an unbounded query
    * set would OOM the DRIVER (not an executor). `maxQueries` bounds the
    * collect — larger sets are transparently routed through
    * [[batchedTopK]] (count once, split into ceil(n·1.25/max) hash
    * batches; the 1.25 headroom absorbs hash imbalance so a batch
    * virtually never re-splits).
    */
  def gemmTopK(vectors: DataFrame, queries: DataFrame, k: Int,
               blockRows: Int = 1024, maxQueries: Int = 65536,
               metric: String = "l2", storage: String = "fp32",
               compute: String = "fp64"): DataFrame = {
    val q = queries.select(col("qid"), col("qv"))
    // limit(max+1): the probe is no more work than the old unconditional
    // collect when the set is small, and detects oversize without a count
    val probe = q.limit(maxQueries + 1).collect()
    if (probe.isEmpty) return emptyHits(vectors.sparkSession)
    if (probe.length > maxQueries) {
      val n = q.count()
      val batches = math.ceil(n * 1.25 / maxQueries).toInt
      return batchedTopK(vectors, queries, k, batches, blockRows, metric, storage,
        maxQueries, compute)
    }
    gemmTopKRows(vectors,
      probe.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)), k, blockRows,
      metric, storage, compute)
  }

  /** The GEMM core over an already-collected query array.
    *
    * Every metric rides the SAME dgemm dot-product matrix — only the
    * epilogue differs (the reference's fused-epilogue shape,
    * `shaders/simdgroup_gemm.metal:370-481`): l2 = ‖v‖²+‖q‖²−2·dot
    * (ascending), ip = dot (descending), cosine = dot/(‖v‖·‖q‖)
    * (descending). Descending metrics negate the score inside the bounded
    * buffers so one ascending (score, label) eviction order serves all
    * three, and un-negate on emission. The fp64 term order matches the
    * codegen expression kernels exactly, so either physical path produces
    * bit-identical scores.
    *
    * `compute = "fp32"` switches the dot-product matrix to netlib `sgemm`
    * over float-packed blocks — HALF the GEMM memory traffic of the
    * fp64-widened default, the Spark analog of the reference's
    * reduced-precision-multiply/tile play
    * (`shaders/simdgroup_gemm.metal:7-14,47-50`: half multiplies, fp32
    * accumulate). Norms still accumulate in fp64 (an O(n·d) side pass vs
    * the O(n·d·nq) GEMM) and the epilogue combines in fp64, so only the
    * dot carries fp32 rounding — `GemmComputeSpec` pins agreement with
    * the fp64 path (the forced-MPS-style dual-path analog,
    * `tests/test_metal_flat.mm:270-307`). Default stays fp64: the oracled
    * queries need bit-parity with the expression path.
    */
  private def gemmTopKRows(vectors: DataFrame, qArr: Array[(Long, Array[Float])],
                           k: Int, blockRows: Int, metric: String = "l2",
                           storage: String = "fp32",
                           compute: String = "fp64"): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val mCode = metric match {
      case "l2" => 0
      case "ip" => 1
      case "cosine" => 2
      case other => throw new IllegalArgumentException(s"unknown metric $other")
    }
    require(Seq("fp32", "f16", "bf16").contains(storage), s"unknown storage $storage")
    require(Seq("fp64", "fp32").contains(compute), s"unknown compute $compute")
    val qRows = qArr.sortBy(_._1)
    require(qRows.nonEmpty, "gemmTopKRows needs at least one query")
    val d = qRows.head._2.length
    val nq = qRows.length
    // exactly one of the two Q packings is populated — the other ships as
    // a zero-length array so the broadcast doesn't pay for both
    val fp32 = compute == "fp32"
    val qFlat = new Array[Double](if (fp32) 0 else nq * d)
    val qFlatF = new Array[Float](if (fp32) nq * d else 0)
    val qNorm = new Array[Double](nq)
    qRows.zipWithIndex.foreach { case ((_, qv), j) =>
      var t = 0; var acc = 0.0
      while (t < d) {
        val x = qv(t).toDouble
        if (fp32) qFlatF(j * d + t) = qv(t) else qFlat(j * d + t) = x
        acc += x * x; t += 1
      }
      qNorm(j) = acc
    }
    val qids = qRows.map(_._1)
    val bc = spark.sparkContext.broadcast((qFlat, qFlatF, qNorm, qids, d, fp32))

    // the partition kernel over fp32 rows; reduced-precision storage
    // decodes each 16-bit row to fp32 JUST before packing (the scan —
    // the 100 TB cost — reads half the bytes, the reference's
    // reduced-precision GEMM-tile play, shaders/simdgroup_gemm.metal:262-370)
    val core: Iterator[(Long, Array[Float])] => Iterator[(Long, Long, Double)] =
      { it =>
        val (qf, qff, qn, ids, dim, fp32c) = bc.value
        val nQ = ids.length
        val qNormSqrt = qn.map(math.sqrt)
        val blas = dev.ludovic.netlib.blas.BLAS.getInstance()
        // per-query bounded buffers over ascending-best scores; TopKBuffer's
        // order keeps NaN always worst (a zero-norm vector under cosine
        // yields 0/0 = NaN) and ties toward the smaller label, as the
        // declarative path does on corpora containing zero vectors
        val bufs = Array.fill(nQ)(new TopKBuffer(k, ascending = true))
        val vFlat = new Array[Double](if (fp32c) 0 else blockRows * dim)
        val vFlatF = new Array[Float](if (fp32c) blockRows * dim else 0)
        val vNorm = new Array[Double](blockRows)
        val vIds = new Array[Long](blockRows)
        val dots = new Array[Double](if (fp32c) 0 else blockRows * nQ)
        val dotsF = new Array[Float](if (fp32c) blockRows * nQ else 0)
        def flush(rows: Int): Unit = if (rows > 0) {
          // column-major: C (nq × rows) = Qᵀ(nq × d) · V(d × rows);
          // C[(i)*nq + j] = dot(q_j, v_i)
          if (fp32c)
            blas.sgemm("T", "N", nQ, rows, dim, 1.0f, qff, dim, vFlatF, dim,
              0.0f, dotsF, nQ)
          else
            blas.dgemm("T", "N", nQ, rows, dim, 1.0, qf, dim, vFlat, dim,
              0.0, dots, nQ)
          var i = 0
          while (i < rows) {
            val vNormSqrt = if (mCode == 2) math.sqrt(vNorm(i)) else 0.0
            var j = 0
            while (j < nQ) {
              val dot = if (fp32c) dotsF(i * nQ + j).toDouble else dots(i * nQ + j)
              // descending metrics negated → single ascending buffer order
              val s = mCode match {
                case 0 => vNorm(i) + qn(j) - 2.0 * dot
                case 1 => -dot
                case _ => -(dot / (vNormSqrt * qNormSqrt(j)))
              }
              bufs(j).insert(s, vIds(i))
              j += 1
            }
            i += 1
          }
        }
        var fill = 0
        it.foreach { case (id, vec) =>
          var t = 0; var acc = 0.0
          while (t < dim && t < vec.length) {
            val x = vec(t).toDouble
            if (fp32c) vFlatF(fill * dim + t) = vec(t)
            else vFlat(fill * dim + t) = x
            acc += x * x; t += 1
          }
          // zero-pad short vectors: the flat slots are REUSED across
          // blocks, so leftover components from a previous block would
          // otherwise leak into the dot product silently
          while (t < dim) {
            if (fp32c) vFlatF(fill * dim + t) = 0f else vFlat(fill * dim + t) = 0.0
            t += 1
          }
          vNorm(fill) = acc; vIds(fill) = id; fill += 1
          if (fill == blockRows) { flush(fill); fill = 0 }
        }
        flush(fill)
        (0 until nQ).iterator.flatMap { j =>
          val b = bufs(j)
          (0 until b.size).map { i =>
            val s = b.scores(i)
            (ids(j), b.labels(i), if (mCode == 0) s else -s)
          }
        }
      }
    val src = Dedup.spread(vectors).select(col("id"), col("vec"))
    val partials = (storage match {
      case "fp32" => src.as[(Long, Array[Float])].mapPartitions(core)
      case _ =>
        val bf = storage == "bf16"
        src.as[(Long, Array[Short])].mapPartitions { it =>
          core(it.map { case (id, a) =>
            val f = new Array[Float](a.length)
            var t = 0
            while (t < a.length) {
              f(t) = if (bf) graft.functions.FloatBits.bf16BitsToFloat(a(t))
                     else graft.functions.FloatBits.halfBitsToFloat(a(t))
              t += 1
            }
            (id, f)
          })
        }
    }).toDF("qid", "label", "score")
    explodeHits(
      partials.groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = mCode == 0).as("hits")))
  }

  /** Bulk kNN for query sets too large to broadcast at once: the query
    * side is split into `batches` deterministic hash blocks, each block
    * runs the GEMM path against the full vector table, results union.
    * This is the missing third regime of the reference's path gate —
    * (small nq: fused) / (medium nq: one broadcast) / (huge nq: batched
    * broadcasts) — and the standard shape for corpus-vs-corpus jobs
    * (bulk embedding dedup, all-documents retrieval): at 1e9 queries no
    * single broadcast fits, but 1e9/batches does, and each batch is one
    * independent scan-parallel job (batches can even run concurrently
    * from the driver).
    */
  def batchedTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                  batches: Int, blockRows: Int = 1024,
                  metric: String = "l2", storage: String = "fp32",
                  maxQueries: Int = 65536,
                  compute: String = "fp64"): DataFrame = {
    require(batches >= 1, s"batches must be >= 1, got $batches")
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // batch on pmod(xxhash64(qid), batches), NOT raw qid: structured id
    // sets (all multiples of `batches`, all even with an even count) would
    // pile the entire query set into one residue class and defeat the
    // driver-OOM guard; hash residues are uniform regardless of id shape
    def residue(modulus: Long, b: Long) =
      queries.select(col("qid"), col("qv"))
        .filter(pmod(xxhash64(col("qid")), lit(modulus)) === b)
    // belt-and-braces re-check: probe each class with limit(max+1) before
    // collecting; a class that still exceeds maxQueries (colliding hash
    // values) splits in two — h ≡ b and h ≡ b+m (mod 2m) partition
    // {h ≡ b (mod m)} exactly — down to a bounded depth (16× headroom;
    // past that the ids are adversarially identical and we collect anyway
    // rather than recurse forever)
    def runResidue(modulus: Long, b: Long, depth: Int): Option[DataFrame] = {
      val part = residue(modulus, b)
      val probe = part.limit(maxQueries + 1).collect()
      // an empty residue class (few queries) is skipped, not fatal
      if (probe.isEmpty) None
      else if (probe.length <= maxQueries)
        Some(gemmTopKRows(vectors,
          probe.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)),
          k, blockRows, metric, storage, compute))
      else if (depth < 4) {
        val halves = Seq(runResidue(modulus * 2, b, depth + 1),
          runResidue(modulus * 2, b + modulus, depth + 1)).flatten
        if (halves.isEmpty) None else Some(halves.reduce(_ unionByName _))
      } else {
        val rows = part.collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        Some(gemmTopKRows(vectors, rows, k, blockRows, metric, storage, compute))
      }
    }
    // the per-batch query collects are independent Spark jobs — submit
    // them from a small pool so they overlap (local mode and clusters both
    // schedule concurrent jobs fairly). Pool size also bounds peak driver
    // memory: at most `poolSize` collected batches are alive at once.
    val poolSize = math.min(batches, 4)
    val pool = Executors.newFixedThreadPool(poolSize)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val futs = (0 until batches).map { b =>
        Future(runResidue(batches.toLong, b.toLong, 0))
      }
      val dfs = futs.flatMap(Await.result(_, Duration.Inf))
      if (dfs.isEmpty) emptyHits(vectors.sparkSession)
      else dfs.reduce(_ unionByName _)
    } finally pool.shutdown()
  }

  /** Two-stage retrieval: a coarse pass over FP16-QUANTIZED storage
    * shortlists k·expand candidates per query, then an exact fp32 rerank
    * keeps the true top-k — the reference's reduced-precision bandwidth
    * play (README.md:12 — +22-34% on bandwidth-bound search;
    * `src/MetalIndexFlat.mm:244-256` f16 ingest) recast as the standard
    * shortlist+rerank pipeline. At 100 TB the f16 column is the one
    * scanned (half the bytes of fp32); the fp32 column is touched only for
    * the nq·k·expand shortlist rows via a broadcast join.
    *
    * With expand ≥ 4 the ~1e-3-relative f16 distance error cannot evict a
    * true top-k member from the shortlist on real data, so the output
    * equals exact brute-force top-k (spec-pinned; the sf0.01 oracle gate
    * re-proves it every round).
    */
  def rerankedTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                   expand: Int = 4): DataFrame =
    // one-shot lazy composition — serve-many deployments materialize
    // [[f16Assign]] once (FAISS quantizes at `add`, not at search:
    // `src/MetalIndexFlat.mm:244-256`) and call [[f16ServeTopK]]
    f16ServeTopK(f16Assign(vectors, materialize = false),
      vectors, queries, k, expand)

  /** Index BUILD of the f16-rerank tier: quantize the corpus ONCE (the
    * reference does this inside `add`, `src/MetalIndexFlat.mm:244-256`)
    * — the stored 16-bit column is what the coarse pass scans at half
    * the fp32 bytes; quantizing per search re-reads the full fp32 bytes
    * and defeats the bandwidth play.
    */
  def f16Assign(vectors: DataFrame, materialize: Boolean = true): DataFrame = {
    val enc = Dedup.spread(vectors)
      .select(col("id"), quantizeF16(col("vec")).as("cvec"))
    if (materialize) enc.localCheckpoint(true) else enc
  }

  /** Query SERVE over a built f16 index ([[f16Assign]]): the coarse scan
    * rides the GEMM physical path over the 16-bit column DIRECTLY
    * (storage = "f16" — the J4/J5 reduced-precision-input analog; scores
    * identical to the squaredL2-over-dequantizeF16 formulation, so the
    * shortlist is unchanged), then exact fp32 rerank.
    */
  def f16ServeTopK(index: DataFrame, vectors: DataFrame,
                   queries: DataFrame, k: Int, expand: Int): DataFrame = {
    val shortlist = gemmTopK(index.select(col("id"), col("cvec").as("vec")),
        queries, k * expand, storage = "f16")
      .select(col("qid"), col("label"))
    explodeHits(
      broadcast(shortlist).join(vectors, shortlist("label") === vectors("id"))
        .join(broadcast(queries), "qid")
        .select(col("qid"), col("label"), squaredL2(col("vec"), col("qv")).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** Adaptive (Matryoshka-style) two-stage retrieval: coarse shortlist on
    * the first `prefixDims` dimensions, then an exact full-dimension
    * rerank of the k·expand candidates. On a columnar layout the coarse
    * scan reads prefixDims/d of the bytes (the same scan-byte argument as
    * the f16 rerank, by truncation instead of quantization — Kusupati et
    * al. 2022, "Matryoshka Representation Learning", the serving pattern
    * it proposes); the rerank restores exact full-dim ordering within the
    * shortlist at nq·k·expand cost, corpus-independent.
    */
  def prefixRerankTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                       prefixDims: Int, expand: Int = 4): DataFrame =
    // one-shot lazy composition (build + serve in one plan) — a
    // serve-many deployment materializes [[prefixAssign]] once and
    // calls [[prefixServeTopK]] per query batch (see [[ivfTopK]])
    prefixServeTopK(prefixAssign(vectors, prefixDims, materialize = false),
      vectors, queries, k, prefixDims, expand)

  /** Index BUILD of the prefix-rerank tier, split from serve (the
    * [[ivfAssign]] accounting applied to the projection family, r15):
    * the stored payload is the `prefixDims`-wide slice — the column a
    * 100 TB deployment persists next to the fp32 vectors so the coarse
    * pass scans prefixDims/d of the bytes WITHOUT re-slicing the wide
    * column per search.
    */
  def prefixAssign(vectors: DataFrame, prefixDims: Int,
                   materialize: Boolean = true): DataFrame = {
    val enc = Dedup.spread(vectors)
      .select(col("id"), slice(col("vec"), 1, prefixDims).as("cvec"))
    if (materialize) enc.localCheckpoint(true) else enc
  }

  /** Query SERVE over a built prefix index ([[prefixAssign]]): slice the
    * nq queries (cheap), GEMM top-(k·expand) over the STORED coarse
    * column, exact full-dimension rerank of the shortlist.
    */
  def prefixServeTopK(index: DataFrame, vectors: DataFrame,
                      queries: DataFrame, k: Int, prefixDims: Int,
                      expand: Int): DataFrame = {
    val qPre = queries.select(col("qid"), slice(col("qv"), 1, prefixDims).as("qv"))
    val shortlist = gemmTopK(index.select(col("id"), col("cvec").as("vec")),
        qPre, k * expand)
      .select(col("qid"), col("label"))
    explodeHits(
      broadcast(shortlist).join(vectors, shortlist("label") === vectors("id"))
        .join(broadcast(queries), "qid")
        .select(col("qid"), col("label"), squaredL2(col("vec"), col("qv")).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** ColBERT-style late-interaction retrieval (MaxSim — Khattab &
    * Zaharia 2020, SIGIR): a query is a SET of token vectors, a document
    * a SET of vectors (here: the `label` groups of the embeddings
    * table), and score(doc) = Σ_t max_{v∈doc} cos(t, v) — each query
    * token matches its best document vector independently, which is what
    * makes late interaction robust to word order and partial matches.
    *
    * Shape at scale: the token set is small by construction (a query has
    * tens of tokens) → broadcast; the per-(doc, token) max and per-doc
    * sum are both combiner-friendly aggregations keyed on the doc label —
    * no shuffle ever carries more than |docs|·|tokens| rows, and the
    * global top-k is a TakeOrdered, not a sort. Zero-norm vectors (NaN
    * cosine) are inert on both sides of the oracle (filtered before the
    * max, the semanticDedup convention).
    *
    * vectors: (label, vec); queryTokens: (tid, qv).
    * Output: (rank, label, maxsim[round 6]) — best `k` docs, score desc,
    * ties to the smaller label.
    */
  def maxSimTopK(vectors: DataFrame, queryTokens: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perTok = Dedup.spread(vectors).crossJoin(broadcast(queryTokens))
      .select(col("label"), col("tid"),
        graft.functions.cosineSimilarity(col("vec"), col("qv")).as("cos"))
      .filter(!isnan(col("cos")))
      .groupBy(col("label"), col("tid")).agg(max(col("cos")).as("m"))
    val top = perTok.groupBy(col("label")).agg(sum(col("m")).as("maxsim"))
      .orderBy(col("maxsim").desc, col("label"))
      .limit(k)
    // rank over the k survivors only — a single-partition window over k
    // rows, not over the corpus
    top.select(
      row_number().over(Window.orderBy(col("maxsim").desc, col("label")))
        .cast(LongType).as("rank"),
      col("label"), q6(col("maxsim")).as("maxsim"))
  }

  /** A trained PCA basis: `mean` (d), `components` (dOut rows × d, unit
    * L2 norm, mutually orthogonal, descending eigenvalue order),
    * `explained` (the dOut kept eigenvalues, descending) and `totalVar`
    * (trace of the covariance — the full spectrum's mass, for explained-
    * variance ratios).
    */
  case class PcaModel(mean: Array[Double], components: Array[Array[Double]],
                      explained: Array[Double], totalVar: Double)

  /** Train a PCA basis on a bounded deterministic sample — FAISS's
    * PCAMatrix::train model (faiss/VectorTransform.h): the transform is
    * always fit on a capped in-process sample regardless of index size,
    * so training cost is corpus-independent at 100 TB. The collected
    * sample is sorted lexicographically before any fp accumulation, making
    * mean/covariance (and therefore the basis) a pure function of the
    * sample SET — invariant to partitioning and core count, the same
    * determinism contract as [[trainPqCodebook]].
    *
    * Eigendecomposition is a driver-side cyclic Jacobi sweep over the
    * d×d covariance (d is an embedding width — 64 here, ≤ a few thousand
    * anywhere — so O(d³) is microseconds-to-ms and needs no LAPACK
    * dependency); Jacobi on a symmetric matrix is unconditionally
    * convergent and, with the fixed (p,q) sweep order used here, fully
    * deterministic. Each kept component's sign is normalized so its
    * largest-|entry| coordinate (first index on ties) is positive —
    * eigenvectors are sign-ambiguous, and an unpinned sign would make the
    * projected space (and every downstream hash) run-dependent.
    */
  /** In-place cyclic Jacobi eigensolve on a symmetric d×d matrix: `a`'s
    * diagonal converges to the eigenvalues; returns the accumulated
    * rotation whose COLUMNS are the eigenvectors. Fixed (p,q) sweep order
    * → fully deterministic; unconditionally convergent on symmetric
    * input. `scaleRef` sets the relative off-diagonal tolerance (the
    * matrix trace for a covariance). Shared by [[trainPca]] and the OPQ
    * Procrustes SVD ([[trainOpq]]).
    */
  private def jacobiEigen(a: Array[Array[Double]],
                          scaleRef: Double): Array[Array[Double]] = {
    val d = a.length
    val vecs = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val tol = 1e-12 * math.max(scaleRef, 1e-300)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > tol) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          off += 2.0 * apq * apq
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s   => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = vecs(i)(p); val viq = vecs(i)(q)
              vecs(i)(p) = c * vip - s * viq
              vecs(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    vecs
  }

  def trainPca(vectors: DataFrame, dOut: Int,
               knownCount: Long = -1L): PcaModel = {
    val sample: Array[Array[Float]] = collectSmall(
        trainSample(vectors, knownCount = knownCount).select(col("vec").as("v")),
        "PCA training sample")
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "PCA training needs a non-empty sample")
    val d = sample(0).length
    require(dOut >= 1 && dOut <= d, s"dOut must be in [1, $d], got $dOut")
    java.util.Arrays.sort(sample, new java.util.Comparator[Array[Float]] {
      def compare(a: Array[Float], b: Array[Float]): Int = {
        var i = 0
        while (i < a.length && i < b.length) {
          val c = java.lang.Float.compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        java.lang.Integer.compare(a.length, b.length)
      }
    })
    val n = sample.length
    val mean = new Array[Double](d)
    sample.foreach { v =>
      var j = 0; while (j < d) { mean(j) += v(j).toDouble; j += 1 }
    }
    locally { var j = 0; while (j < d) { mean(j) /= n; j += 1 } }
    // covariance (population form — the 1/n vs 1/(n−1) choice only scales
    // eigenvalues, never rotates eigenvectors)
    val cov = Array.ofDim[Double](d, d)
    sample.foreach { v =>
      val c = new Array[Double](d)
      var j = 0; while (j < d) { c(j) = v(j).toDouble - mean(j); j += 1 }
      var p = 0
      while (p < d) {
        var q = p
        while (q < d) { cov(p)(q) += c(p) * c(q); q += 1 }
        p += 1
      }
    }
    locally {
      var p = 0
      while (p < d) {
        var q = p
        while (q < d) {
          cov(p)(q) /= n; cov(q)(p) = cov(p)(q); q += 1
        }
        p += 1
      }
    }
    var totalVar = 0.0
    locally { var j = 0; while (j < d) { totalVar += cov(j)(j); j += 1 } }
    // cyclic Jacobi: rotate away each off-diagonal (p,q) in fixed order
    // until the off-diagonal mass is negligible relative to the trace
    val a = cov.map(_.clone())
    val vecs = jacobiEigen(a, totalVar)
    // eigenpairs sorted by descending eigenvalue, column index as the
    // deterministic tiebreak; sign pinned at the largest-|entry| coord
    val order = (0 until d).sortBy(j => (-a(j)(j), j))
    val kept = order.take(dOut)
    val components = kept.map { j =>
      val v = Array.tabulate(d)(i => vecs(i)(j))
      var big = 0
      var i = 1
      while (i < d) {
        if (math.abs(v(i)) > math.abs(v(big))) big = i
        i += 1
      }
      if (v(big) < 0.0) { i = 0; while (i < d) { v(i) = -v(i); i += 1 } }
      v
    }.toArray
    PcaModel(mean, components, kept.map(j => a(j)(j)).toArray, totalVar)
  }

  /** PCA-coarse two-stage retrieval: project corpus + queries onto the
    * trained `dOut`-dim basis (narrow no-shuffle pass, scans dOut/d of
    * the raw bytes — FAISS's "PCARx,..." index-factory prefix), GEMM
    * top-(k·expand) in the projected space, then exact full-dimension
    * rerank. vs [[prefixRerankTopK]]: the prefix keeps arbitrary
    * coordinates; PCA keeps the max-variance subspace, so at equal kept
    * width the coarse ranking is at least as faithful on any corpus with
    * correlated dimensions. An orthonormal projection contracts L2, so
    * at dOut = d the coarse order equals the exact order and the
    * composition IS exact kNN (spec-pinned).
    */
  def pcaRerankTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                    dOut: Int, expand: Int = 4,
                    knownCount: Long = -1L): DataFrame =
    pcaRerankTopK(vectors, queries, k,
      trainPca(vectors, dOut, knownCount = knownCount), expand)

  /** [[pcaRerankTopK]] with an already-trained basis — train once, reuse
    * across the retrieval and any model-level verdict columns.
    */
  def pcaRerankTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                    model: PcaModel, expand: Int): DataFrame =
    // one-shot lazy composition — serve-many deployments materialize
    // [[pcaAssign]] once and call [[pcaServeTopK]] per query batch:
    // re-running the corpus-side d→dOut rotation per search is index
    // build riding the serve path (n·d·dOut FLOPs per action — the
    // r14 IVF accounting bug, same fix)
    pcaServeTopK(model, pcaAssign(vectors, model, materialize = false),
      vectors, queries, k, expand)

  /** Index BUILD of the PCA/JL-rerank tiers, split from serve (the
    * [[ivfAssign]] accounting applied to the projection family, r15):
    * every vector is rotated ONCE onto the trained `dOut`-dim basis and
    * the result is the column a 100 TB deployment persists — the coarse
    * pass then scans dOut/d of the bytes with zero per-search FLOPs on
    * the corpus side. `materialize = true` (the serve-many shape)
    * localCheckpoints it.
    */
  def pcaAssign(vectors: DataFrame, model: PcaModel,
                materialize: Boolean = true): DataFrame = {
    val enc = Dedup.spread(vectors)
      .select(col("id"),
        pcaProject(col("vec"), model.mean, model.components).as("cvec"))
    if (materialize) enc.localCheckpoint(true) else enc
  }

  /** Query SERVE over a built projection index ([[pcaAssign]]): rotate
    * the nq queries (nq·d·dOut FLOPs — corpus-independent), GEMM
    * top-(k·expand) over the STORED coarse column, exact full-dimension
    * rerank of the shortlist against the fp32 `vectors`.
    */
  def pcaServeTopK(model: PcaModel, index: DataFrame, vectors: DataFrame,
                   queries: DataFrame, k: Int, expand: Int): DataFrame = {
    val qP = queries.select(col("qid"),
      pcaProject(col("qv"), model.mean, model.components).as("qv"))
    val shortlist = gemmTopK(index.select(col("id"), col("cvec").as("vec")),
        qP, k * expand)
      .select(col("qid"), col("label"))
    explodeHits(
      broadcast(shortlist).join(vectors, shortlist("label") === vectors("id"))
        .join(broadcast(queries), "qid")
        .select(col("qid"), col("label"), squaredL2(col("vec"), col("qv")).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** Deterministic Johnson-Lindenstrauss sparse sign matrix (Achlioptas
    * 2003): entries {+1, 0, −1} at p = (43/256, 170/256, 43/256), the
    * sign drawn from the first md5 byte of "jl:i:j" — so any engine
    * (the DuckDB oracle included) rebuilds the IDENTICAL matrix from
    * the formula alone. The byte-friendly 43/256 is slightly above the
    * cited construction's exact 1/6, so the scale carries the exact
    * compensation √(3/dOut · 256/258): per entry E[r²] =
    * 2·(43/256)·(3/dOut)·(256/258) = 1/dOut, making E[‖y‖²] = ‖x‖²
    * EXACTLY unbiased (the pure √(3/dOut) scale was ~0.78% high).
    * Compensating the scale rather than widening the hash keeps the
    * sign pattern — and every projected ordering built on it —
    * byte-identical to before. Rows are output components over input
    * dims, the [[graft.functions.PcaProject]] orientation.
    */
  def jlMatrix(dIn: Int, dOut: Int): Array[Array[Double]] = {
    val scale = math.sqrt(3.0 / dOut * (256.0 / 258.0))
    def sign(i: Int, j: Int): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val h = md.digest(s"jl:$i:$j".getBytes("UTF-8"))
        .take(1).map(b => f"${b & 0xff}%02x").mkString
      if (h < "2b") 1.0 else if (h >= "d5") -1.0 else 0.0
    }
    Array.tabulate(dOut)(j => Array.tabulate(dIn)(i => sign(i, j) * scale))
  }

  /** Training-free two-stage retrieval: JL-projected shortlist (k·expand
    * in dOut dims — reads dOut/d of the scan bytes, no training pass at
    * all) + exact fp32 rerank. The zero-training counterpart of
    * [[pcaRerankTopK]]: PCA needs a pass over the corpus and wins when
    * variance concentrates; JL needs NOTHING and its distortion bound is
    * distribution-free (the lemma), which is exactly the cold-start /
    * streaming-corpus niche.
    */
  def jlRerankTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                   dIn: Int, dOut: Int, expand: Int = 4): DataFrame =
    // the JL matrix is just an untrained "model" to the shortlist+rerank
    // machinery — reuse pcaRerankTopK's path verbatim (zero mean, no
    // spectrum) so the two compositions can never drift apart
    pcaRerankTopK(vectors, queries, k,
      PcaModel(Array.fill(dIn)(0.0), jlMatrix(dIn, dOut),
        explained = Array.empty, totalVar = 0.0), expand)

  /** Product-quantization ANN (PQ codes + ADC scan) — the memory-
    * compression scale path: vectors are encoded ONCE into `m` sub-
    * centroid indices (for d=64/m=8, a 32× reduction of the bytes a scan
    * must read vs fp32), and each query is scored against the codes via
    * asymmetric distance (Σⱼ ‖qⱼ − cent[codeⱼ]ⱼ‖², full-precision query,
    * quantized corpus). At 100 TB the codes column IS the index: the scan
    * reads m bytes per vector instead of 4d, and both encode and score are
    * narrow compiled projections with the codebook embedded in the
    * expression — no join, no shuffle beyond the bounded top-k.
    *
    * `centroidModulo` picks the deterministic codebook stand-in (every
    * modulo-th vector, the same device as [[ivfTopK]]) so the whole
    * operator — assignment ties included — is reproducible in the SQL
    * oracle; swap in k-means-trained sub-codebooks for production recall
    * (the mechanics are identical).
    *
    * Ranking uses the ADC score rounded to 1e-6: raw fp64 sums differ
    * between engines in the last ulp when equal-coded vectors are summed
    * in different orders, and the round makes the (score, label) total
    * order engine-independent.
    */
  /** The capped deterministic modulo codebook [[pqTopK]]/[[ivfPqTopK]]
    * use: the first 256 modulo picks (ids 0, mod, …, mod·255) — fixed
    * size is the real PQ design (2⁸ centroids per subspace, one code
    * byte) and keeps the assignment oracle linear in n. ci = id/mod
    * still equals the positional index on both engines.
    */
  def pqModuloCodebook(vectors: DataFrame, centroidModulo: Int): Seq[Array[Float]] =
    collectSmall(
        vectors.filter(col("id") % centroidModulo === 0 &&
          col("id") < lit(centroidModulo.toLong * 256))
          .select(col("id"), col("vec")),
        "PQ codebook")
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).toArray).toSeq

  /** Corpus quantization distortion of a PQ codebook: ONE row
    * `(sse)` = Σ_v e6⌊‖v − decode(encode(v))‖²⌉ as DECIMAL(38,0) —
    * the ADC distance of a vector against its OWN codes is exactly the
    * per-vector squared reconstruction error, so this is one narrow
    * compiled pass over the corpus (encode + self-ADC per row, an
    * integer witness per row, a decimal SUM): the 100 TB cost shape of
    * any full-scan aggregate, no joins, no shuffle beyond the final
    * combine. This is the quantity k-means training MINIMIZES — the
    * right cross-codebook invariant at every corpus shape, where a
    * recall-on-k-pinned-queries comparison can flip on corpora whose
    * query shell accidentally matches one codebook's sampling bias
    * (r18: the 100× replica's scale-shell structure did exactly that).
    */
  def pqCorpusSse(vectors: DataFrame, cents: Seq[Array[Float]], m: Int): DataFrame =
    Dedup.spread(vectors)
      .select(graft.functions.intWitness(
        pqAdcScore(pqEncode(col("vec"), cents, m), col("vec"), cents, m),
        1000000L).cast(DecimalType(38, 0)).as("e"))
      .agg(sum(col("e")).as("sse"))

  def pqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
             centroidModulo: Int, m: Int = 8): DataFrame = {
    // capped codebook (r17): see [[pqModuloCodebook]] — an unbounded
    // modulo codebook was a gate artifact that ALSO made the assignment
    // oracle quadratic in n (the 100× pq-family wall)
    val cents = pqModuloCodebook(vectors, centroidModulo)
    val codes = Dedup.spread(vectors)
      .select(col("id"), pqEncode(col("vec"), cents, m).as("codes"))
    explodeHits(
      codes.crossJoin(broadcast(queries))
        .select(col("qid"), col("id").as("label"),
          q6(pqAdcScore(col("codes"), col("qv"), cents, m)).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** Binary (1-bit) kNN: vectors and queries collapse to packed sign bits
    * (1 bit/dimension — 32× fewer scanned bytes than fp32, the extreme
    * end of the compression ladder after f16 and SQ8 and PQ), ranked by
    * Hamming distance with (distance, label) ties. Sign-bit Hamming
    * approximates angular distance (Charikar's sign-LSH); typical use is
    * a coarse shortlist feeding an exact rerank ([[rerankedTopK]] shape).
    * Integer-exact end to end — bit-identical in any engine.
    */
  def hammingTopK(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val v = Dedup.spread(vectors).select(col("id"), signBits(col("vec")).as("bits"))
    val q = queries.select(col("qid"), signBits(col("qv")).as("qbits"))
    explodeHits(
      v.crossJoin(broadcast(q))
        .select(col("qid"), col("id").as("label"),
          hammingDistance(col("bits"), col("qbits")).cast(DoubleType).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** Binary-coarse rerank: a Hamming shortlist of k·expand candidates per
    * query over the 1-bit column ([[hammingTopK]] — 32× fewer scanned
    * bytes), then an exact fp32 squared-L2 rerank of just those nq·k·expand
    * rows via a broadcast join — the [[rerankedTopK]] two-stage shape with
    * the cheapest possible coarse pass. Both stages are deterministic
    * ((hamming, label) then (dist, label) total orders), so the composite
    * reproduces exactly in SQL — unlike a recall-based gate, no verdict
    * column needed.
    */
  def hammingRerankTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                        expand: Int = 4): DataFrame = {
    val shortlist = hammingTopK(vectors, queries, k * expand)
      .select(col("qid"), col("label"))
    explodeHits(
      broadcast(shortlist).join(vectors, shortlist("label") === vectors("id"))
        .join(broadcast(queries), "qid")
        .select(col("qid"), col("label"), squaredL2(col("vec"), col("qv")).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** Maximal-marginal-relevance diversity re-ranking (Carbonell &
    * Goldstein, SIGIR 1998): from each query's top-`candN` cosine
    * candidates, greedily select k maximizing
    * λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s) — the standard
    * retrieval-diversification pass (RAG context assembly, dedup'd search
    * results). Plan shape: one kNN pass for candidates, one bounded
    * candidate×candidate cosine join (nq·candN² rows — candN is a
    * constant, never the corpus), then the inherently-sequential greedy
    * runs per-query inside `mapGroups` — distributed BY QUERY, each group
    * a few hundred rows. Relevances and pairwise sims are rounded to 1e-6
    * (identical doubles in every engine); the combined score is then exact
    * arithmetic on those — so the (score desc, id asc) selection order is
    * engine-independent and the whole operator reproduces in a DuckDB
    * recursive CTE.
    */
  def mmrTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              candN: Int = 20, lambda: Double = 0.5): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    // Candidate selection ranks the ROUNDED relevance (not the raw cosine):
    // the greedy below — and the oracle — operate on round-6 values, so the
    // cutoff at candN must too, or a raw near-tie (<1e-6 apart, equal after
    // rounding) picks a different candidate SET than (rel desc, id asc).
    // TopKAgg's smaller-label tie-break matches the oracle's ORDER BY id.
    // Zero-norm vectors have NaN cosine; TopKAgg only ranks NaN worst
    // WITHIN a full buffer — under candN entries a NaN candidate survives,
    // and the greedy's unconditional first-pick would then select it at
    // rank 1 (NaN comparisons block any later replacement). Filter before
    // the topK, mirroring [[topCosinePairs]]; the oracle filters likewise.
    val cand = explodeHits(
      Dedup.spread(vectors).crossJoin(broadcast(queries))
        .select(col("qid"), col("id").as("label"),
          q6(cosineSimilarity(col("vec"), col("qv"))).as("score"))
        .filter(!isnan(col("score")))
        .groupBy(col("qid"))
        .agg(graft.functions.topK(col("score"), col("label"), candN,
          ascending = false).as("hits")))
      .select(col("qid"), col("label").as("id"), col("score").as("rel"))
    // attach each candidate's vector: broadcast the (tiny) candidate set
    // against the (huge) corpus — never the reverse
    val withVec = broadcast(cand)
      .join(vectors.select(col("id"), col("vec")), "id")
      .select(col("qid"), col("id"), col("rel"), col("vec"))
      .localCheckpoint(true) // feeds both sides of the pair join
    val pairs = withVec.as("x").join(withVec.as("y"), "qid")
      .select(col("qid"), col("x.id").as("ia"), col("x.rel").as("rel"),
        col("y.id").as("ib"),
        q6(cosineSimilarity(col("x.vec"), col("y.vec"))).as("sim"))
      .as[(Long, Long, Double, Long, Double)]
    pairs.groupByKey(_._1).flatMapGroups { (qid, it) =>
      // index candidates 0..n−1 once (ids ascending, so index order = id
      // order and the ascending scan's first-wins IS the min-id tie-break);
      // rel and sim become array reads — no boxed tuple keys, no linear
      // `selected.contains` scans in the O(n²·k) inner loop
      val rows = it.toArray
      val ids = rows.map(_._2).distinct.sorted
      val n = ids.length
      val idx = new scala.collection.mutable.LongMap[Int](n * 2)
      var i = 0
      while (i < n) { idx(ids(i)) = i; i += 1 }
      val rel = new Array[Double](n)
      val sim = Array.ofDim[Double](n, n)
      rows.foreach { r =>
        val a = idx(r._2); rel(a) = r._3; sim(a)(idx(r._4)) = r._5
      }
      val kEff = math.min(k, n)
      val selected = new Array[Int](kEff)
      val taken = new Array[Boolean](n)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Double)]
      var nSel = 0
      while (nSel < kEff) {
        var best = -1
        var bestScore = 0.0
        var c = 0
        while (c < n) {
          if (!taken(c)) {
            // rel and sim are round6 values — identical doubles in every
            // engine — so the combined score needs NO further rounding:
            // λ·rel − (1−λ)·mx is deterministic arithmetic on identical
            // inputs (a second rounding would land exactly on half-ulp
            // boundaries at λ=0.5, where round-half conventions diverge)
            val score =
              if (nSel == 0) rel(c)
              else {
                var mx = Double.NegativeInfinity
                var s = 0
                while (s < nSel) {
                  val v = sim(c)(selected(s)); if (v > mx) mx = v; s += 1
                }
                lambda * rel(c) - (1 - lambda) * mx
              }
            if (best < 0 || score > bestScore) { best = c; bestScore = score }
          }
          c += 1
        }
        taken(best) = true
        selected(nSel) = best
        nSel += 1
        out += ((qid, nSel.toLong, ids(best), bestScore))
      }
      out.iterator
    }.toDF("qid", "rank", "id", "score")
  }

  /** IVFPQ composite: IVF coarse partitioning × PQ code compression — the
    * classic billion-scale index shape. Vectors are assigned to a coarse
    * cluster ([[ivfTopK]] mechanics: at 100 TB the table is
    * written partitioned by `cid`, so probing prunes partitions) AND
    * encoded to m PQ codes ([[pqTopK]] mechanics: the scan reads m bytes
    * per vector); a query probes its nProbe nearest coarse clusters and
    * ADC-scores only those clusters' codes. The two costs multiply:
    * nProbe/nClusters of the corpus scanned, at 32× fewer bytes each.
    *
    * This variant encodes RAW vectors, not per-cluster residuals (FAISS
    * IVFPQ subtracts the coarse centroid first — a recall refinement that
    * needs a per-row centroid lookup); with both codebooks deterministic
    * (every modulo-th vector) the full operator reproduces in the SQL
    * oracle. Scores round to 1e-6 before ranking, as in [[pqTopK]].
    */
  def ivfPqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                ivfModulo: Int, nProbe: Int,
                pqModulo: Int, m: Int = 8): DataFrame = {
    val coarse = collectSmall(
        vectors.filter(col("id") % ivfModulo === 0).select(col("id"), col("vec")),
        "IVFPQ coarse centroid table")
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .sortBy(_._1)
    // 256-capped codebook (see [[pqModuloCodebook]]) — fixed size is the
    // real PQ design and keeps the assignment oracle linear in n
    val pqCents = pqModuloCodebook(vectors, pqModulo)
    // one narrow pass builds the "index row": coarse cluster id + codes
    val indexed = Dedup.spread(vectors).select(
      col("id"),
      element_at(nearestCentroids(col("vec"), coarse, 1), 1).as("cid"),
      pqEncode(col("vec"), pqCents, m).as("codes"))
    val probes = queries.select(col("qid"), col("qv"),
      explode(nearestCentroids(col("qv"), coarse, nProbe)).as("cid"))
    explodeHits(
      probes.join(indexed, "cid")
        .select(col("qid"), col("id").as("label"),
          q6(pqAdcScore(col("codes"), col("qv"), pqCents, m)).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** Per-subspace k-means PQ codebook training (the production form of
    * the deterministic every-Nth-vector stand-in): m independent Lloyd
    * fits on the driver, one per d/m-dim subspace slice of a bounded
    * collected sample. Returned as `ncent` FULL-dim arrays where slice j
    * of entry ci is subspace j's centroid ci — [[PqEncode]]/[[PqAdcScore]]
    * only ever read the slice for the subspace they're scoring, so the
    * stacked layout plugs into the existing kernels unchanged. Training
    * input is whatever sample the caller passes (at 100 TB: a bounded
    * sample — codebook training is always on a sample, exactly as FAISS
    * trains in-process on ≤ ~100k vectors); running Lloyd on the driver
    * instead of m MLlib fits trades ~50 scheduler round-trips for
    * microseconds of compute AND makes the codebook partitioning- and
    * core-count-invariant (the sample is sorted before init).
    */
  def trainPqCodebook(vecs: DataFrame, m: Int, ncent: Int,
                      seed: Long = 42L): Seq[Array[Float]] = trainPqCodebookImpl(vecs, m, ncent, seed)

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the embedding space, then drop any vector whose cosine similarity to
    * an EARLIER-id member of the same cluster exceeds `tau` (the kept
    * member is the anchor — deterministic "keep the first" tie rule).
    * Clustering bounds the pair work: candidates are only in-cluster
    * pairs, never the corpus cross join, so with cluster count ∝ corpus
    * size the total pair volume stays linear. Centroids here are the
    * deterministic modulo subset ([[ivfTopK]]'s stand-in) so the whole
    * operator — assignment tie-breaks included — reproduces exactly in a
    * SQL oracle; swap in k-means centroids ([[ivfKmeansTopK]]) for the
    * production form.
    *
    * Input: (id, vec). Output: (id, cid, dropped, dup_of[-1 if kept]).
    */
  def semanticDedup(embeddings: DataFrame, centroidModulo: Int,
                    tau: Double): DataFrame = {
    val cents = collectSmall(
        embeddings.filter(col("id") % centroidModulo === 0)
          .select(col("id"), col("vec")),
        "semantic-dedup centroid table")
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
    val assigned = Dedup.spread(embeddings)
      .select(col("id"), col("vec"),
        element_at(nearestCentroids(col("vec"), cents, 1), 1).as("cid"))
    // in-cluster (i < j) pairs only — the join key IS the cluster id.
    // NaN cosines (zero-norm vectors) are filtered BEFORE the tau
    // predicate: Spark SQL's NaN-total-order would rank NaN above any
    // finite tau (unlike the streaming path's IEEE compare) — the same
    // zero-norm class topCosinePairs and mmrTopK filter.
    val dups = assigned.select(col("cid"), col("id").as("i"), col("vec").as("vi"))
      .join(assigned.select(col("cid"), col("id").as("j"), col("vec").as("vj")), "cid")
      .withColumn("cos", cosineSimilarity(col("vi"), col("vj")))
      .filter(col("i") < col("j") && !isnan(col("cos")) && col("cos") > tau)
      .groupBy(col("j")).agg(min(col("i")).as("dup_of"))
    assigned.select(col("id"), col("cid"))
      .join(dups.withColumnRenamed("j", "id"), Seq("id"), "left")
      .select(col("id"), col("cid"),
        col("dup_of").isNotNull.as("dropped"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
  }

  /** Contrastive hard-negative mining: for each query, the top-k most
    * cosine-similar vectors from OUTSIDE the query's own cluster — the
    * "similar surface, different semantic bucket" examples a contrastive
    * training run pairs against its positives (the cluster stands in for
    * the label). Same assignment mechanics as [[semanticDedup]] (modulo
    * centroids → SQL-exact); the anti-cluster predicate filters inside
    * the scan stage before the k-bounded aggregate, so the plan is the
    * broadcast-queries kNN plan plus one comparison.
    */
  def hardNegatives(vectors: DataFrame, queries: DataFrame, k: Int,
                    centroidModulo: Int): DataFrame = {
    val cents = collectSmall(
        vectors.filter(col("id") % centroidModulo === 0)
          .select(col("id"), col("vec")),
        "hard-negative centroid table")
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq.sortBy(_._1)
    val assigned = Dedup.spread(vectors)
      .select(col("id"), col("vec"),
        element_at(nearestCentroids(col("vec"), cents, 1), 1).as("cid"))
    val probes = queries.select(col("qid"), col("qv"),
      element_at(nearestCentroids(col("qv"), cents, 1), 1).as("qcid"))
    // NaN scores (zero-norm vectors) filtered before ranking, and the
    // cutoff ranks on the ROUNDED score (the mmrTopK rule) so a <1e-6
    // cross-engine tie can't pick a different top-k set than the oracle
    explodeHits(
      assigned.crossJoin(broadcast(probes))
        .filter(col("cid") =!= col("qcid"))
        .select(col("qid"), col("id").as("label"),
          q6(cosineSimilarity(col("vec"), col("qv"))).as("score"))
        .filter(!isnan(col("score")))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = false).as("hits")))
  }

  /** Deterministic driver-side Lloyd's k-means over an already-sorted
    * point set: seeded k-means++ init (D²-weighted, `java.util.Random`
    * over the sorted sample → byte-identical for the same point multiset
    * on every run and partitioning), argmin assignment with
    * (dist, center-index) tie order, empty clusters re-seeded from the
    * globally farthest point. Returns only non-empty centers (≤ k).
    */
  private def lloyd(points: Array[Array[Double]], k: Int,
                    iters: Int, seed: Long): Array[Array[Double]] = {
    val n = points.length
    require(n > 0, "k-means needs a non-empty training sample")
    val ds = points(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var t = 0
      while (t < ds) { val d = a(t) - b(t); acc += d * d; t += 1 }
      acc
    }
    val kEff = math.min(k, n)
    val rnd = new java.util.Random(seed)
    // k-means++ over the sorted sample: first center uniform, each next
    // D²-weighted — O(k·n·ds), driver-trivial at the bounded sample size
    val centers: Array[Array[Double]] = new Array(kEff)
    centers(0) = points(rnd.nextInt(n)).clone()
    val minD = new Array[Double](n)
    java.util.Arrays.fill(minD, Double.MaxValue)
    var ci = 1
    while (ci < kEff) {
      var total = 0.0; var i = 0
      while (i < n) {
        val d = d2(points(i), centers(ci - 1))
        if (d < minD(i)) minD(i) = d
        total += minD(i)
        i += 1
      }
      if (total <= 0.0) {
        // fewer distinct points than centers — fall back to strided picks
        centers(ci) = points((ci.toLong * n / kEff).toInt).clone()
      } else {
        var target = rnd.nextDouble() * total
        var pick = n - 1; i = 0
        var acc = 0.0
        while (i < n && pick == n - 1) {
          acc += minD(i)
          if (acc >= target) pick = i
          i += 1
        }
        centers(ci) = points(pick).clone()
      }
      ci += 1
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = Double.MaxValue; var bc = 0; var c = 0
        while (c < centers.length) {
          val d = d2(points(i), centers(c))
          if (d < best) { best = d; bc = c }
          c += 1
        }
        assign(i) = bc
        i += 1
      }
      val sums = Array.fill(centers.length)(new Array[Double](ds))
      val counts = new Array[Int](centers.length)
      i = 0
      while (i < n) {
        val c = assign(i); counts(c) += 1
        var t = 0
        while (t < ds) { sums(c)(t) += points(i)(t); t += 1 }
        i += 1
      }
      // stolen tracks re-seed picks within THIS iteration: two clusters
      // empty at once must steal DIFFERENT points, or they collapse into
      // duplicate centers and one stays empty forever
      val stolen = new java.util.HashSet[Integer]()
      var c = 0
      while (c < centers.length) {
        if (counts(c) > 0) {
          var t = 0
          while (t < ds) { centers(c)(t) = sums(c)(t) / counts(c); t += 1 }
        } else {
          // re-seed from the point farthest from its own center (ties →
          // lowest point index) — deterministic split of the worst cluster
          var far = -1; var farD = -1.0; var p = 0
          while (p < n) {
            if (!stolen.contains(p)) {
              val d = d2(points(p), centers(assign(p)))
              if (d > farD) { farD = d; far = p }
            }
            p += 1
          }
          if (far >= 0) {
            stolen.add(far)
            centers(c) = points(far).clone()
          }
        }
        c += 1
      }
      it += 1
    }
    // final assignment decides which centers survive (a center can end
    // empty when distinct points < k)
    val used = new Array[Boolean](centers.length)
    var i = 0
    while (i < n) {
      var best = Double.MaxValue; var bc = 0; var c = 0
      while (c < centers.length) {
        val d = d2(points(i), centers(c))
        if (d < best) { best = d; bc = c }
        c += 1
      }
      used(bc) = true
      i += 1
    }
    centers.indices.filter(used).map(centers).toArray
  }

  /** Deterministic codebook-training sample: keep ids whose Murmur3 hash
    * lands in the 1-in-`ceil(n / maxRows)` residue class, so training
    * stays bounded at ANY corpus size (FAISS trains on a capped sample
    * the same way) while remaining a pure function of the id SET —
    * partitioning- and core-count-invariant. Hashing (not `id % modulo`)
    * keeps the sample ~maxRows even when the id space is sparse or
    * offset: a modulo filter over ids {10⁹..10⁹+n} with a large modulo
    * can be empty. Below the cap this is the identity, so gate-scale
    * results are unchanged by the bound existing.
    */
  /** Public face of the bounded hash-sampled training set — the exact
    * sample [[pqKmeansTopK]]/[[trainOpq]] train on, for callers that
    * need to train the same codebook themselves (the distortion
    * invariants).
    */
  def trainSampleOf(vectors: DataFrame, maxRows: Long = 1L << 15,
                    knownCount: Long = -1L): DataFrame =
    trainSample(vectors, maxRows, knownCount)

  private def trainSample(vectors: DataFrame,
                          maxRows: Long = 1L << 15,
                          knownCount: Long = -1L): DataFrame = {
    val n = if (knownCount >= 0) knownCount else vectors.count()
    if (n <= maxRows) vectors
    else {
      val modulo = ((n + maxRows - 1) / maxRows).toInt
      vectors.filter(pmod(hash(col("id")), lit(modulo)) === 0)
    }
  }

  private def trainPqCodebookImpl(vecs: DataFrame, m: Int, ncent: Int,
                                  seed: Long): Seq[Array[Float]] = {
    // Codebook training is ALWAYS on a bounded sample at scale (FAISS
    // trains in-process on ≤ ~100k vectors regardless of index size), so
    // collect the limit-probed sample and run seeded Lloyd on the driver:
    // m×iters scheduler round-trips become pure compute, and sorting the
    // sample lexicographically first makes the codebook a function of the
    // sample SET alone — invariant to partitioning and core count (an
    // MLlib fit's random init samples by partition and is not). The
    // dimension comes from the collected sample itself — no separate
    // probe job.
    val sample: Array[Array[Float]] = collectSmall(
        vecs.select(col("v")), "PQ training sample")
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "PQ codebook training needs a non-empty sample")
    val d = sample(0).length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val ds = d / m
    java.util.Arrays.sort(sample, new java.util.Comparator[Array[Float]] {
      def compare(a: Array[Float], b: Array[Float]): Int = {
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n) {
          val c = java.lang.Float.compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        Integer.compare(a.length, b.length)
      }
    })
    val subCents: Seq[Array[Array[Float]]] = (0 until m).map { j =>
      val pts = sample.map { v =>
        val s = new Array[Double](ds)
        var t = 0
        while (t < ds) { s(t) = v(j * ds + t).toDouble; t += 1 }
        s
      }
      lloyd(pts, ncent, iters = 10, seed = seed + j).map(_.map(_.toFloat))
    }
    // a subspace can yield FEWER than ncent centers when it has fewer
    // distinct points — clamp the codebook to the smallest subspace's
    // count so the stacked entries are fully populated (codes index
    // entries uniformly)
    val effNcent = subCents.map(_.length).min
    (0 until effNcent).map { ci =>
      val full = new Array[Float](d)
      var j = 0
      while (j < m) {
        System.arraycopy(subCents(j)(ci), 0, full, j * ds, ds)
        j += 1
      }
      full
    }
  }

  /** PQ ANN with k-means-trained sub-codebooks — [[pqTopK]] mechanics
    * (m-byte codes, ADC scan) with [[trainPqCodebook]] codebooks instead
    * of the every-Nth-vector stand-in. k-means init isn't
    * SQL-reproducible → gated by a recall verdict vs exact kNN (the
    * `ann_ivf_kmeans` pattern), with the bound that trained codebooks
    * must beat the modulo codebook at equal m.
    */
  def pqKmeansTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                   ncent: Int, m: Int = 8, seed: Long = 42L,
                   knownCount: Long = -1L): DataFrame = {
    val cents = trainPqCodebook(
      trainSample(vectors, knownCount = knownCount).select(col("vec").as("v")),
      m, ncent, seed)
    val encoded = Dedup.spread(vectors)
      .select(col("id"), pqEncode(col("vec"), cents, m).as("codes"))
    explodeHits(
      encoded.crossJoin(broadcast(queries))
        .select(col("qid"), col("id").as("label"),
          q6(pqAdcScore(col("codes"), col("qv"), cents, m)).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** Trained OPQ model: mean + orthonormal rotation (rows = output
    * coordinates) + stacked full-dim PQ codebook IN THE ROTATED SPACE +
    * the per-iteration mean squared reconstruction error on the training
    * sample (`errTrace`). errTrace(0) is the PCA-init error — the "cheap
    * OPQ" baseline [[trainPca]]+PQ ships — so `errTrace.last ≤
    * errTrace.head` is the machine-checkable claim that the alternating
    * optimization actually optimized something.
    */
  case class OpqModel(mean: Array[Double], rotation: Array[Array[Double]],
                      codebook: Seq[Array[Float]], m: Int,
                      errTrace: Array[Double])

  /** Optimized Product Quantization (Ge et al. 2013, FAISS `OPQMatrix`),
    * non-parametric form: alternately (1) train/refine per-subspace
    * codebooks on the rotated sample, (2) re-encode, (3) solve the
    * orthogonal-Procrustes problem min_R ‖R·X − X̂‖_F (R = V·Uᵀ from the
    * SVD of X·X̂ᵀ) so the rotation adapts to what the quantizer can
    * represent — the step PCA+PQ lacks, and the reason OPQ wins when
    * variance is unevenly split across subspaces.
    *
    * Determinism contract (same as [[trainPca]]/[[trainPqCodebook]]):
    * bounded hash-sampled training set, sorted lexicographically before
    * any fp accumulation; PCA init; warm-started Lloyd across iterations
    * (k-means++ only on the first); Jacobi-based SVD with fixed sweep
    * order. Every step given the others is an exact (or Lloyd-monotone)
    * minimizer of the SAME objective, so errTrace is non-increasing by
    * construction — spec-pinned, and the property that makes the recall
    * verdict reproducible run-to-run.
    *
    * Training cost is corpus-independent (driver-side over ≤ 32k rows);
    * the returned model applies as a narrow no-shuffle projection
    * ([[graft.functions.PcaProject]] with the OPQ rotation) + the usual
    * m-byte PQ encode, so the 100 TB story is identical to [[pqTopK]].
    *
    * Default `iters = 20`: the measured recall grid (`tools/OpqRecall`
    * at 7c4064a, BASELINE.md) shows the objective still descending
    * steeply at 6 iterations (recall 0.275 vs 0.468 at 20 on the
    * axis-decay shape) — an undertrained OPQ can even sit below an
    * already-balanced identity rotation; by 20 iterations it clears both
    * raw-PQ and PCA+PQ on both measured corpus shapes.
    */
  def trainOpq(vectors: DataFrame, m: Int, ncent: Int, iters: Int = 20,
               seed: Long = 42L, knownCount: Long = -1L): OpqModel = {
    val sample: Array[Array[Float]] = collectSmall(
        trainSample(vectors, knownCount = knownCount).select(col("vec").as("v")),
        "OPQ training sample")
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "OPQ training needs a non-empty sample")
    val d = sample(0).length
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val ds = d / m
    java.util.Arrays.sort(sample, new java.util.Comparator[Array[Float]] {
      def compare(a: Array[Float], b: Array[Float]): Int = {
        val n = math.min(a.length, b.length)
        var i = 0
        while (i < n) {
          val c = java.lang.Float.compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        Integer.compare(a.length, b.length)
      }
    })
    // init: full-rank PCA (trains on the same deterministic sample set) —
    // iteration 0's codebook+error IS the PCA+PQ baseline
    val pca = trainPca(vectors, d, knownCount = knownCount)
    val mean = pca.mean
    var rot: Array[Array[Double]] = pca.components
    val x: Array[Array[Double]] = sample.map { v =>
      Array.tabulate(d)(j => v(j).toDouble - mean(j))
    }
    val n = x.length
    def rotate(r: Array[Array[Double]]): Array[Array[Double]] =
      x.map { v =>
        val y = new Array[Double](d)
        var i = 0
        while (i < d) {
          var acc = 0.0; var j = 0
          while (j < d) { acc += r(i)(j) * v(j); j += 1 }
          y(i) = acc; i += 1
        }
        y
      }
    def sub(y: Array[Array[Double]], j: Int): Array[Array[Double]] =
      y.map { v =>
        val s = new Array[Double](ds)
        var t = 0
        while (t < ds) { s(t) = v(j * ds + t); t += 1 }
        s
      }
    var centers: Array[Array[Array[Double]]] = null
    val errs = scala.collection.mutable.ArrayBuffer.empty[Double]
    var it = 0
    while (it < iters) {
      val y = rotate(rot)
      if (centers == null)
        centers = Array.tabulate(m)(j => lloyd(sub(y, j), ncent, iters = 10, seed = seed + j))
      else {
        var j = 0
        while (j < m) { lloydIterate(sub(y, j), centers(j), 2); j += 1 }
      }
      // encode: nearest sub-center (ties → lowest index, the pqEncode
      // order) → reconstruction x̂ and this iteration's objective value
      val xhat = y.map { v =>
        val r = new Array[Double](d)
        var j = 0
        while (j < m) {
          var best = Double.MaxValue; var bc = 0; var c = 0
          while (c < centers(j).length) {
            var acc = 0.0; var t = 0
            while (t < ds) {
              val dd = v(j * ds + t) - centers(j)(c)(t); acc += dd * dd; t += 1
            }
            if (acc < best) { best = acc; bc = c }
            c += 1
          }
          System.arraycopy(centers(j)(bc), 0, r, j * ds, ds)
          j += 1
        }
        r
      }
      var se = 0.0
      var i = 0
      while (i < n) {
        var t = 0
        while (t < d) { val dd = y(i)(t) - xhat(i)(t); se += dd * dd; t += 1 }
        i += 1
      }
      errs += se / math.max(1, n)
      // Procrustes: with M = Σ xᵢ·x̂ᵢᵀ and SVD M = UΣVᵀ, the exact
      // minimizer of ‖RX − X̂‖_F over orthogonal R is R = V·Uᵀ — which
      // is the unitary polar factor of Mᵀ (Mᵀ = VΣUᵀ = (VUᵀ)(UΣUᵀ)).
      // Computed by the Newton polar iteration (quadratic convergence,
      // orthogonal to machine precision — an eigen-based SVD leaves
      // ~1e-7 non-orthogonality here because MᵀM's spectrum spans many
      // orders). Singular M (needs a degenerate sample) → keep the
      // current rotation for this step.
      if (it < iters - 1) {
        val mMat = Array.ofDim[Double](d, d)
        i = 0
        while (i < n) {
          var p = 0
          while (p < d) {
            val xp = x(i)(p)
            if (xp != 0.0) {
              var q = 0
              while (q < d) { mMat(p)(q) += xp * xhat(i)(q); q += 1 }
            }
            p += 1
          }
          i += 1
        }
        val mT = Array.tabulate(d, d)((p, q) => mMat(q)(p))
        polarUnitary(mT).foreach(r => rot = r)
      }
      it += 1
    }
    val effNcent = centers.map(_.length).min
    val codebook = (0 until effNcent).map { ci =>
      val full = new Array[Float](d)
      var j = 0
      while (j < m) {
        var t = 0
        while (t < ds) { full(j * ds + t) = centers(j)(ci)(t).toFloat; t += 1 }
        j += 1
      }
      full
    }
    OpqModel(mean, rot, codebook, m, errs.toArray)
  }

  /** Unitary polar factor of a square matrix by the Newton iteration
    * X ← ½(X + X⁻ᵀ) (Higham 1986): converges quadratically to the
    * orthogonal factor of the polar decomposition for any nonsingular
    * input, and the limit is orthogonal to machine precision — the
    * property the OPQ rotation needs (an isometry that drifts 1e-7 per
    * iteration compounds). Deterministic: fixed Frobenius pre-scaling,
    * partial-pivot Gaussian inverse, fixed convergence threshold.
    * Returns None when a pivot collapses (singular input).
    */
  private def polarUnitary(aIn: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val d = aIn.length
    var frob = 0.0
    aIn.foreach(_.foreach(v => frob += v * v))
    frob = math.sqrt(frob)
    if (frob <= 0.0) return None
    var x = aIn.map(_.map(_ / frob))
    var itp = 0
    var delta = Double.MaxValue
    while (itp < 100 && delta > 1e-14) {
      val inv = invert(x) match {
        case Some(m) => m
        case None    => return None
      }
      val next = Array.tabulate(d, d)((p, q) => 0.5 * (x(p)(q) + inv(q)(p)))
      delta = 0.0
      var p = 0
      while (p < d) {
        var q = 0
        while (q < d) {
          val dd = math.abs(next(p)(q) - x(p)(q))
          if (dd > delta) delta = dd
          q += 1
        }
        p += 1
      }
      x = next
      itp += 1
    }
    Some(x)
  }

  /** Partial-pivot Gaussian inverse; None when a pivot falls below
    * 1e-12× the matrix scale (singular). Shared with
    * [[Curation.trainQualityFilter]]'s IRLS Newton step.
    */
  private[ops] def invert(aIn: Array[Array[Double]]): Option[Array[Array[Double]]] = {
    val d = aIn.length
    val a = aIn.map(_.clone())
    val inv = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var scaleM = 0.0
    aIn.foreach(_.foreach(v => scaleM = math.max(scaleM, math.abs(v))))
    val tol = 1e-12 * math.max(scaleM, 1e-300)
    var col = 0
    while (col < d) {
      var piv = col
      var r = col + 1
      while (r < d) {
        if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r
        r += 1
      }
      if (math.abs(a(piv)(col)) <= tol) return None
      if (piv != col) {
        val t = a(piv); a(piv) = a(col); a(col) = t
        val t2 = inv(piv); inv(piv) = inv(col); inv(col) = t2
      }
      val pv = a(col)(col)
      var j = 0
      while (j < d) { a(col)(j) /= pv; inv(col)(j) /= pv; j += 1 }
      r = 0
      while (r < d) {
        if (r != col) {
          val f = a(r)(col)
          if (f != 0.0) {
            j = 0
            while (j < d) {
              a(r)(j) -= f * a(col)(j); inv(r)(j) -= f * inv(col)(j); j += 1
            }
          }
        }
        r += 1
      }
      col += 1
    }
    Some(inv)
  }

  /** OPQ-ADC coarse shortlist (k·expand) + exact fp32 rerank — the
    * composition that recovers the ADC quantization-recall cap, with
    * the OPQ codebook as the coarse stage (cf.
    * [[ivfPqResidualRerankTopK]] for the residual-IVFPQ coarse stage).
    * Rerank cost is nq·k·expand exact distances over a broadcast
    * shortlist join — independent of corpus size.
    */
  def opqRerankTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                    model: OpqModel, expand: Int = 4): DataFrame = {
    val shortlist = opqTopK(vectors, queries, k * expand, model)
      .select(col("qid"), col("label"))
    explodeHits(
      vectors.join(broadcast(shortlist.withColumnRenamed("label", "id")), "id")
        .join(broadcast(queries), "qid")
        .select(col("qid"), col("id").as("label"),
          q6(squaredL2(col("vec"), col("qv"))).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** Persist a trained [[OpqModel]] as parquet (one row: mean, rotation
    * rows, stacked codebook entries, m, errTrace) — train once on the
    * bounded sample, reuse across every query batch and session; the
    * FAISS analog is writing the OPQMatrix + codebooks inside the index
    * file. Round-trip is exact: doubles and floats pass through parquet
    * bit-for-bit.
    */
  def saveOpq(model: OpqModel, path: String,
              spark: org.apache.spark.sql.SparkSession): Unit = {
    import spark.implicits._
    Seq((model.mean, model.rotation.map(_.toSeq).toSeq,
        model.codebook.map(_.toSeq), model.m, model.errTrace))
      .toDF("mean", "rotation", "codebook", "m", "err_trace")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted [[OpqModel]] — exact inverse of [[saveOpq]]. */
  def loadOpq(path: String,
              spark: org.apache.spark.sql.SparkSession): OpqModel = {
    val r = spark.read.parquet(path).head
    OpqModel(
      r.getSeq[Double](0).toArray,
      r.getSeq[scala.collection.Seq[Double]](1).map(_.toArray).toArray,
      r.getSeq[scala.collection.Seq[Float]](2).map(_.toArray).toSeq,
      r.getInt(3),
      r.getSeq[Double](4).toArray)
  }

  /** One warm-started Lloyd pass block: `iters` assignment/update rounds
    * on an EXISTING center array (mutated in place; empty clusters
    * re-seed deterministically from the farthest point, same rule as
    * [[lloyd]]). Used by [[trainOpq]] to carry codebooks across rotation
    * updates — re-initializing k-means++ each OPQ iteration would break
    * the monotone-objective property the spec pins.
    */
  private def lloydIterate(points: Array[Array[Double]],
                           centers: Array[Array[Double]], iters: Int): Unit = {
    val n = points.length
    if (n == 0 || centers.length == 0) return
    val ds = points(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var t = 0
      while (t < ds) { val d = a(t) - b(t); acc += d * d; t += 1 }
      acc
    }
    val assign = new Array[Int](n)
    var it = 0
    while (it < iters) {
      var i = 0
      while (i < n) {
        var best = Double.MaxValue; var bc = 0; var c = 0
        while (c < centers.length) {
          val d = d2(points(i), centers(c))
          if (d < best) { best = d; bc = c }
          c += 1
        }
        assign(i) = bc
        i += 1
      }
      val sums = Array.fill(centers.length)(new Array[Double](ds))
      val counts = new Array[Int](centers.length)
      i = 0
      while (i < n) {
        val c = assign(i); counts(c) += 1
        var t = 0
        while (t < ds) { sums(c)(t) += points(i)(t); t += 1 }
        i += 1
      }
      val stolen = new java.util.HashSet[Integer]()
      var c = 0
      while (c < centers.length) {
        if (counts(c) > 0) {
          var t = 0
          while (t < ds) { centers(c)(t) = sums(c)(t) / counts(c); t += 1 }
        } else {
          var far = -1; var farD = -1.0; var p = 0
          while (p < n) {
            if (!stolen.contains(p)) {
              val d = d2(points(p), centers(assign(p)))
              if (d > farD) { farD = d; far = p }
            }
            p += 1
          }
          if (far >= 0) {
            stolen.add(far)
            centers(c) = points(far).clone()
          }
        }
        c += 1
      }
      it += 1
    }
  }

  /** PQ ANN in the OPQ-rotated space: project corpus + queries through
    * the trained rotation (narrow no-shuffle pass), then the standard
    * m-byte encode + ADC scan — [[pqKmeansTopK]] mechanics with the
    * jointly-optimized rotation in front (FAISS index factory
    * `"OPQ8,PQ8"`). Rotation is an isometry, so distances in the rotated
    * space are the true distances; only the quantization differs.
    */
  def opqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              model: OpqModel): DataFrame = {
    val rotV = vectors.select(col("id"),
      graft.functions.pcaProject(col("vec"), model.mean, model.rotation).as("vec"))
    val rotQ = queries.select(col("qid"),
      graft.functions.pcaProject(col("qv"), model.mean, model.rotation).as("qv"))
    val encoded = Dedup.spread(rotV)
      .select(col("id"), pqEncode(col("vec"), model.codebook, model.m).as("codes"))
    explodeHits(
      encoded.crossJoin(broadcast(rotQ))
        .select(col("qid"), col("id").as("label"),
          q6(pqAdcScore(col("codes"), col("qv"), model.codebook, model.m)).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** OPQ × IVF × PQ — the full production factory string
    * (`"OPQ8,IVF…,PQ8"`): the trained OPQ rotation in front of the IVFPQ
    * composite, all in the ROTATED space (rotation is an isometry, so
    * coarse assignment, probing, and ADC scores are all faithful to true
    * distances). Coarse centroids are the deterministic modulo stand-in
    * over rotated vectors ([[ivfPqTopK]] mechanics — partition-prunable
    * by `cid` at scale); codes use the OPQ-TRAINED codebook, which is
    * the point of the composition: nProbe/nClusters of the corpus
    * scanned, at m bytes per vector, quantized by the
    * rotation-optimized codebook. Scores round to 1e-6 before ranking.
    */
  def ivfOpqTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                 ivfModulo: Int, nProbe: Int, model: OpqModel): DataFrame = {
    val rotV = vectors.select(col("id"),
      graft.functions.pcaProject(col("vec"), model.mean, model.rotation).as("vec"))
    val rotQ = queries.select(col("qid"),
      graft.functions.pcaProject(col("qv"), model.mean, model.rotation).as("qv"))
    val coarse = collectSmall(
        rotV.filter(col("id") % ivfModulo === 0).select(col("id"), col("vec")),
        "OPQ-IVFPQ coarse centroid table")
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .sortBy(_._1)
    val indexed = Dedup.spread(rotV).select(
      col("id"),
      element_at(nearestCentroids(col("vec"), coarse, 1), 1).as("cid"),
      pqEncode(col("vec"), model.codebook, model.m).as("codes"))
    val probes = rotQ.select(col("qid"), col("qv"),
      explode(nearestCentroids(col("qv"), coarse, nProbe)).as("cid"))
    explodeHits(
      probes.join(indexed, "cid")
        .select(col("qid"), col("id").as("label"),
          q6(pqAdcScore(col("codes"), col("qv"), model.codebook, model.m)).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** Residual-encoded IVFPQ — the FAISS IVFPQ formulation proper: PQ
    * codes the RESIDUAL v − centroid(cid), not the raw vector. Residual
    * energy is a fraction of vector energy (the coarse step already
    * explained most of it), so the same m-byte code budget quantizes much
    * finer → higher recall at identical storage. Search mirrors encode:
    * each probe ADC-scores against the query's residual to THAT probed
    * centroid — ‖(q−c) − reconstruct(codes)‖² ≈ ‖q−v‖² since both sides
    * subtract the same c.
    *
    * Training stays deterministic (codebook = residuals of every
    * pqModulo-th vector w.r.t. its own coarse centroid, computed on the
    * driver with the same (L2², cid) argmin as [[NearestCentroids]]), so
    * recall is reproducible run-to-run — but the operator is gated by a
    * recall VERDICT vs exact kNN (the `ann_ivf_kmeans` pattern) rather
    * than a score hash: residual scores have no closed SQL form a DuckDB
    * oracle could cheaply reproduce. Plan shape is identical to
    * [[ivfPqTopK]]: narrow encode projection, probe join on `cid`
    * (partition-prunable at scale), k-bounded agg.
    */
  /** Shared coarse-table + residual-codebook construction for the
    * residual-IVFPQ family ([[ivfPqResidualTopK]],
    * [[ivfPqResidualCorpusSse]]) — one definition so the search path and
    * the distortion invariant quantize through identical codebooks.
    */
  private def ivfPqResidualSetup(vectors: DataFrame, ivfModulo: Int,
                                 pqModulo: Int, m: Int, trainedNcent: Int,
                                 seed: Long, knownCount: Long)
      : (Seq[(Long, Array[Float])], Seq[Array[Float]]) = {
    val coarse = collectSmall(
        vectors.filter(col("id") % ivfModulo === 0).select(col("id"), col("vec")),
        "IVFPQ coarse centroid table")
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
      .sortBy(_._1)
    // driver-side nearest-coarse with the exact (L2², cid) order the
    // NearestCentroids expression uses — codebook and index agree on ties
    def nearestCoarse(v: Array[Float]): Array[Float] = {
      var best = Double.MaxValue; var bestC: Array[Float] = null
      coarse.foreach { case (_, c) =>
        var acc = 0.0; var j = 0
        val n = math.min(v.length, c.length)
        while (j < n) { val d = v(j).toDouble - c(j).toDouble; acc += d * d; j += 1 }
        if (acc < best) { best = acc; bestC = c } // coarse sorted by id → first-wins = min cid
      }
      bestC
    }
    // trainedNcent > 0 → k-means-trained residual sub-codebooks (the FAISS
    // form proper: residual distributions are compact, trained codebooks
    // exploit that); 0 → deterministic modulo-sampled residuals
    val residCents =
      if (trainedNcent > 0)
        // trainPqCodebook sorts its collected sample before Lloyd init, so
        // the codebook (and the recall verdict) is invariant to partitioning
        // and local parallelism by construction
        trainPqCodebook(
          trainSample(vectors, knownCount = knownCount).select(
            centroidResidual(col("vec"),
              element_at(nearestCentroids(col("vec"), coarse, 1), 1),
              coarse).as("v")),
          m, trainedNcent, seed)
      else collectSmall(
          // 256-capped like [[pqModuloCodebook]] (r18): fixed codebook
          // size is the PQ design; the uncapped pick was the last
          // corpus-proportional codebook in the family
          vectors.filter(col("id") % pqModulo === 0 &&
            col("id") < lit(pqModulo.toLong * 256))
            .select(col("id"), col("vec")),
          "IVFPQ residual codebook sample")
        .sortBy(_.getLong(0))
        .map { r =>
          val v = r.getSeq[Float](1).toArray
          val c = nearestCoarse(v)
          Array.tabulate(v.length)(j => v(j) - (if (j < c.length) c(j) else 0f))
        }.toSeq
    (coarse, residCents)
  }

  /** Corpus distortion of the residual-IVFPQ encoding, ONE row `(sse)`
    * as DECIMAL(38,0): v̂ = coarse(cid) + decode(codes), so
    * ‖v − v̂‖² = the residual's self-ADC — the [[pqCorpusSse]] quantity
    * for the residual form, computed with the identical coarse table and
    * residual codebook the search path uses. Same one-pass 100 TB shape.
    */
  def ivfPqResidualCorpusSse(vectors: DataFrame, ivfModulo: Int,
                             pqModulo: Int, m: Int = 8, trainedNcent: Int = 0,
                             seed: Long = 42L, knownCount: Long = -1L): DataFrame = {
    val (coarse, residCents) = ivfPqResidualSetup(
      vectors, ivfModulo, pqModulo, m, trainedNcent, seed, knownCount)
    Dedup.spread(vectors)
      .select(centroidResidual(col("vec"),
        element_at(nearestCentroids(col("vec"), coarse, 1), 1), coarse).as("r"))
      .select(intWitness(
        pqAdcScore(pqEncode(col("r"), residCents, m), col("r"), residCents, m),
        1000000L).cast(DecimalType(38, 0)).as("e"))
      .agg(sum(col("e")).as("sse"))
  }

  def ivfPqResidualTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                        ivfModulo: Int, nProbe: Int,
                        pqModulo: Int, m: Int = 8,
                        trainedNcent: Int = 0, seed: Long = 42L,
                        knownCount: Long = -1L): DataFrame = {
    val (coarse, residCents) = ivfPqResidualSetup(
      vectors, ivfModulo, pqModulo, m, trainedNcent, seed, knownCount)
    val indexed = Dedup.spread(vectors)
      .select(col("id"), col("vec"),
        element_at(nearestCentroids(col("vec"), coarse, 1), 1).as("cid"))
      .select(col("id"), col("cid"),
        pqEncode(centroidResidual(col("vec"), col("cid"), coarse), residCents, m)
          .as("codes"))
    val probes = queries.select(col("qid"), col("qv"),
      explode(nearestCentroids(col("qv"), coarse, nProbe)).as("cid"))
    explodeHits(
      probes.join(indexed, "cid")
        .select(col("qid"), col("id").as("label"),
          q6(pqAdcScore(col("codes"),
            centroidResidual(col("qv"), col("cid"), coarse), residCents, m))
            .as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** Residual-IVFPQ shortlist + exact fp32 rerank — the production ANN
    * composition the recall sweep motivates: ADC quantization caps the
    * PQ tier's recall regardless of probe budget, so retrieve k·expand
    * candidates at m bytes/vector and re-score just those against the
    * raw vectors. Any candidate that is in the true top-k and in the
    * shortlist ends in the reranked top-k (at most k−1 others can beat
    * it), so recall is ≥ the un-reranked tier by construction. Rerank
    * cost is nq·k·expand rows — independent of corpus size.
    */
  def ivfPqResidualRerankTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                              ivfModulo: Int, nProbe: Int, pqModulo: Int,
                              m: Int = 8, trainedNcent: Int = 0,
                              expand: Int = 5,
                              knownCount: Long = -1L): DataFrame = {
    val shortlist = ivfPqResidualTopK(vectors, queries, k * expand,
        ivfModulo, nProbe, pqModulo, m, trainedNcent, knownCount = knownCount)
      .select(col("qid"), col("label"))
    explodeHits(
      vectors.join(broadcast(shortlist.withColumnRenamed("label", "id")), "id")
        .join(broadcast(queries), "qid")
        .select(col("qid"), col("id").as("label"),
          q6(squaredL2(col("vec"), col("qv"))).as("score"))
        .groupBy(col("qid"))
        .agg(topK(col("score"), col("label"), k, ascending = true).as("hits")))
  }

  /** IVF with REAL k-means training (MLlib, seeded): the production
    * version of [[ivfTopK]]'s modulo-centroid stand-in. Same probe
    * mechanics — centroids ride inside the NearestCentroids expression, so
    * assignment and probing are narrow projections. Not SQL-reproducible
    * (k-means init is engine-specific) → recall is spec-pinned instead of
    * oracle-hashed.
    */
  def ivfKmeansTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                    nClusters: Int, nProbe: Int, seed: Long = 42L,
                    maxIter: Int = 20, initMode: String = "k-means||"): DataFrame =
    ivfKmeansTopK(vectors, queries, k,
      trainIvfKmeans(vectors, nClusters, seed, maxIter, initMode), nProbe)

  /** The k-means training half of [[ivfKmeansTopK]], split out (r13) so
    * index BUILD and query SERVE are separate costs — the production
    * shape (train once, serve many), and what let `tools/AnnPareto`
    * (at 7c4064a) time the scan path without re-training per timed rep.
    */
  def trainIvfKmeans(vectors: DataFrame, nClusters: Int, seed: Long = 42L,
                     maxIter: Int = 20,
                     initMode: String = "k-means||"): Seq[(Long, Array[Float])] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // materialize the features once — KMeans.fit iterates its input
    // maxIter times and would re-run the scan+conversion per iteration
    val feats = vectors.select(col("id"), array_to_vector(col("vec")).as("features"))
      .localCheckpoint(true)
    // k-means|| init + enough Lloyd iterations to converge: the r11
    // AnnPareto table (tool at 7c4064a) showed the cheap config (random
    // init, 5 iters) UNDER modulo-sampled centers at equal nProbe (0.594
    // vs 0.844 recall@10 at nProbe=2, 500 centers / 20k vecs) — random init at
    // high k leaves empty/collapsed cells whose queries then probe the
    // wrong partitions. Training runs once per index build; its job
    // count is not the scan path's problem.
    val model = new KMeans().setK(nClusters).setSeed(seed).setMaxIter(maxIter)
      .setInitMode(initMode)
      .setFeaturesCol("features").fit(feats)
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }.toSeq
  }

  /** [[ivfKmeansTopK]] over PRE-TRAINED centroids — training split out;
    * assignment still composes lazily (one-shot shape). A serve-many
    * deployment materializes [[ivfAssign]] with these centroids and
    * calls [[ivfServeTopK]] directly.
    */
  def ivfKmeansTopK(vectors: DataFrame, queries: DataFrame, k: Int,
                    cents: Seq[(Long, Array[Float])], nProbe: Int): DataFrame =
    ivfServeTopK(cents, ivfAssign(vectors, cents, materialize = false),
      queries, k, nProbe)

  /** Top-N most-similar pairs by cosine — the embedding-space
    * near-duplicate detector — via an EXACT reduction to self-kNN, not an
    * all-pairs join: if (i, j) is a global top-N pair then at most N−1
    * better pairs involve i, so j sits within i's top N+1 cosine
    * neighbors (self included). Running kNN with k = N+1+margin over the
    * corpus therefore provably yields a candidate superset of the true
    * top-N (the margin only absorbs boundary ties), and the candidate
    * count is n·k — linear in the corpus, never n².
    *
    * The kNN stage is [[gemmTopK]] (cosine epilogue), i.e. the same
    * batched-broadcast GEMM machinery as bulk retrieval — at 100 TB the
    * query side auto-batches and each batch is one scan-parallel job,
    * where an all-pairs `a.join(b, i < j)` would be a
    * BroadcastNestedLoopJoin that could never finish. A pair surfaces in
    * both endpoints' lists with bit-identical fp64 scores (dgemm term
    * order is symmetric), so the groupBy(i, j) dedup is exact.
    *
    * The final top-N is `orderBy(cos desc, i, j).limit(topN)` — a
    * TakeOrderedAndProject over the n·k candidate rows (per-partition
    * bounded top-N, driver merges topN·partitions rows), keeping i and j
    * as plain columns for the whole pipeline: ids of ANY long range are
    * supported (an earlier formulation packed pairs as i·2³¹+j, which
    * silently aliased once j ≥ 2³¹ — doc ids at 100 TB exceed that).
    *
    * Below `directLimit` vectors (≤ ~10⁶ candidate pairs) the self-kNN
    * machinery is skipped for a direct bounded-pairs plan — same rows,
    * same scores (the expression kernels match the GEMM fp64 term order
    * bit-for-bit), without the GEMM path's fixed multi-job latency.
    */
  def topCosinePairs(vectors: DataFrame, topN: Int, margin: Int = 12,
                     directLimit: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = vectors.count()
    val pairs =
      if (n <= directLimit) {
        val a = vectors.select(col("id").as("i"), col("vec").as("av"))
        val b = vectors.select(col("id").as("j"), col("vec").as("bv"))
        Dedup.spread(a).join(broadcast(b), col("i") < col("j"))
          .select(col("i"), col("j"),
            cosineSimilarity(col("av"), col("bv")).as("cos"))
      } else {
        val queries = vectors.select(col("id").as("qid"), col("vec").as("qv"))
        val hits = gemmTopK(vectors, queries, k = topN + 1 + margin, metric = "cosine")
        hits.filter(col("qid") =!= col("label"))
          .select(least(col("qid"), col("label")).as("i"),
            greatest(col("qid"), col("label")).as("j"), col("score"))
          .groupBy(col("i"), col("j")).agg(max(col("score")).as("cos"))
      }
    // Drop NaN pairs (zero-norm vectors) BEFORE ranking: Spark's total
    // order sorts NaN greater than every double, so a desc orderBy would
    // rank them first — while the kNN path's TopKAgg ranks NaN always
    // worst. Filtering makes both paths agree: zero-norm vectors have no
    // defined cosine and never form a top pair.
    // rn windows over ≤ topN already-limited rows — a single tiny partition
    pairs.filter(!isnan(col("cos")))
      .orderBy(col("cos").desc, col("i"), col("j")).limit(topN)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cos").desc, col("i"), col("j"))).cast(LongType))
      .select(col("rn"), col("i"), col("j"), q6(col("cos")).as("cos"))
  }
}
