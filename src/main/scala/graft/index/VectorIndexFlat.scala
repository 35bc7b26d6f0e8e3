package graft.index

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions._
import graft.operators.TopKBuffer

/** Metric of the flat index: squared L2 (min-k) or inner product (max-k).
  * Mirrors `faiss::MetricType` as used by the reference
  * (`/root/reference/include/faiss-metal/MetalIndexFlat.h:51-57`).
  */
sealed trait Metric {
  def ascending: Boolean; def sentinel: Double
  /** The fused kernel's metric code ([[graft.plans.Knn.scan]]). */
  def knn: Int
}
object Metric {
  case object L2 extends Metric {
    val ascending = true; val sentinel = Double.PositiveInfinity
    val knn = graft.plans.Knn.L2
  }
  case object InnerProduct extends Metric {
    val ascending = false; val sentinel = Double.NegativeInfinity
    val knn = graft.plans.Knn.InnerProduct
  }
}

/** Vector storage precision (`MetalIndexFlat.h:39-43`): fp32, IEEE half,
  * or bfloat16. Reduced-precision indexes store only the 16-bit bits
  * column (half the bytes at rest and in memory — the Spark analog of the
  * reference's bandwidth win) plus the fp32-accurate norm.
  *
  * `Int8` extends the family with SQ8 scalar quantization (per-vector
  * max-abs scale + one signed byte per element — the FAISS
  * `IndexScalarQuantizer(QT_8bit)` family, which the Metal reference does
  * not implement): 4× fewer stored bytes than fp32. Search paths consume
  * the codegen'd `DequantizeVectorInt8` projection inside the scan stage.
  */
sealed trait StorageType
object StorageType {
  case object Float32 extends StorageType
  case object Float16 extends StorageType
  case object BFloat16 extends StorageType
  case object Int8 extends StorageType
  case object Int4 extends StorageType
  case object Fp8 extends StorageType
}

/** Async search handle — the Spark analog of `MetalSearchToken`
  * (`/root/reference/include/faiss-metal/MetalIndexFlat.h:13-36`): the
  * search job runs on a separate thread; `result()` blocks and returns
  * rows identical to the synchronous path (the reference's async≡sync
  * contract, `tests/test_metal_flat.mm:341-344`).
  */
final class SearchToken private[index] (fut: Future[Array[Row]]) {
  def isReady: Boolean = fut.isCompleted
  def result(): Array[Row] = Await.result(fut, Duration.Inf)
}

/** Spark-native flat (brute-force, exact) vector index.
  *
  * Reference-parity surface for `MetalIndexFlat`
  * (`/root/reference/src/MetalIndexFlat.mm`): append-only `add`, `reset`,
  * `reconstruct`, sync + async `search` with the exact sentinel/clamp
  * semantics of `mm:313-400`:
  *   - `k <= 0` throws;
  *   - empty index → every slot (label −1, dist +Inf for L2 / −Inf for IP);
  *   - `k > ntotal` → clamp to ntotal, pad the tail with sentinels;
  *   - L2 distances are squared (no sqrt).
  *
  * Physical shape (designed for the 100 TB side being `vectors`):
  *   - Storage is a list of sealed segments, oldest first. Each is a
  *     cached frame with its id range, row count and partition count.
  *     An `add` seals only its own batch, so an append costs O(batch)
  *     and never re-caches old rows. When the newest
  *     [[VectorIndexFlat.mergeWidth]] segments are within
  *     [[VectorIndexFlat.mergeRatio]]× of each other in rows, one job
  *     merges them from their cached blocks (log-structured: O(log n)
  *     segments, each row copied O(log n) times).
  *   - `vectors` is the union of the segment frames. Every scan (both
  *     search paths, `searchPoint`, the `pointSearcher` snapshot) reads it
  *     coalesced to at most `defaultParallelism` partitions, so a scan is
  *     one wave of tasks however many segments there are; `reconstruct`
  *     scans only the segments whose id range holds the key.
  *   - Queries are broadcast; each vector partition computes distances and
  *     a k-bounded partial top-k map-side; only k-row buffers shuffle by
  *     qid. This is the same shape as the reference's fused distance+top-k
  *     kernel (`shaders/fused_l2_topk.metal` — partial selection per chunk,
  *     then merge) and never materializes the nq×nv distance matrix.
  *
  * Ordering is the deterministic total order (dist, id) — see SURVEY.md §5
  * for why the reference's tie order is not reproducible.
  */
final class VectorIndexFlat private (
    val spark: SparkSession,
    val d: Int,
    val metric: Metric,
    val storage: StorageType) {

  import VectorIndexFlat._

  private var segments = Vector.empty[Segment]
  private var cachedNtotal: Long = 0L
  // the union of the segment frames, and the same union narrowed to one
  // wave for scans; both rebuilt when `segments` changes
  private var view: DataFrame = emptyData(spark, storage)
  private var scan: DataFrame = view

  def ntotal: Long = cachedNtotal

  /** The backing DataFrame: (id, vec | vech, norm), the union of the
    * sealed segments.
    */
  def vectors: DataFrame = view

  private[graft] def segmentCount: Int = segments.length

  /** Append vectors in insertion order; ids are assigned 0-based
    * contiguously (ref `add`, `mm:185-311`). Norms are always computed
    * from the fp32 input even for reduced-precision storage (`mm:258-268`).
    * The dimension check runs on the driver, so the append is one Spark
    * job over the batch alone (two when it triggers a merge); an empty
    * append runs none.
    */
  def add(vecs: Seq[Array[Float]]): this.type = {
    require(vecs.forall(v => v != null && v.length == d),
      s"all vectors must have dimension $d")
    if (vecs.isEmpty) return this
    val base = cachedNtotal
    val rows = vecs.zipWithIndex.map { case (v, i) => Row(base + i, v) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, vecs.size / 4096)),
      rawSchema)
    appendDf(df, vecs.size.toLong)
  }

  /** Append an existing (id-less) DataFrame with a `vec: array<float>`
    * column; ids continue from the current ntotal in partition order.
    */
  def add(df: DataFrame): this.type = {
    // Two jobs, and the input is computed once: one pass over the cached
    // source counts each partition's rows and its null or wrong-dimension
    // vectors, bad input is rejected before the index changes, and sealing
    // the new segment then reads the cached blocks, numbering each
    // partition's rows from its offset.
    val src = df.select(col("vec")).rdd
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = d
      val parts = src.mapPartitions { it =>
        var rows = 0L; var bad = 0L
        it.foreach { r =>
          rows += 1
          if (r.isNullAt(0) || r.getSeq[Float](0).length != dim) bad += 1
        }
        Iterator.single((rows, bad))
      }.collect()
      val bad = parts.map(_._2).sum
      require(bad == 0L, s"all vectors must have dimension $d ($bad rows differ)")
      val offsets = parts.map(_._1).scanLeft(cachedNtotal)(_ + _)
      val n = offsets.last - cachedNtotal
      if (n == 0L) return this
      val withIds = src.mapPartitionsWithIndex { (p, it) =>
        var id = offsets(p)
        it.map { r => val row = Row(id, r.getSeq[Float](0).toArray); id += 1; row }
      }
      appendDf(spark.createDataFrame(withIds, rawSchema), n)
    } finally src.unpersist(blocking = false)
  }

  /** Callers have validated `raw`. Seals the batch alone as a new
    * segment (one job, one task per batch partition; old rows are never
    * re-cached), then merges while the merge rule holds (one more job per
    * merge).
    */
  private def appendDf(raw: DataFrame, n: Long): this.type = {
    segments :+= seal(prepare(raw), cachedNtotal, cachedNtotal + n - 1, n)
    cachedNtotal += n
    compact()
    this
  }

  /** Persist and materialize `df` as a segment in one job:
    * `toRdd.count()` builds the cached relation in one pass; a `count()`
    * aggregate would add two AQE jobs, a map job that scans every
    * partition again and a result job.
    */
  private def seal(df: DataFrame, lo: Long, hi: Long, rows: Long): Segment = {
    val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
    val rdd = cached.queryExecution.toRdd
    rdd.count()
    Segment(cached, lo, hi, rows, rdd.getNumPartitions)
  }

  /** Log-structured merge: while the newest `mergeWidth` segments are
    * within `mergeRatio`× of each other in rows, merge them into one. The
    * merge reads their cached blocks and runs one job, then drops them. A
    * merged segment holds at least twice the rows of any of its inputs, so
    * a row is copied O(log n) times.
    */
  private def compact(): Unit = {
    def due = segments.length >= mergeWidth && {
      val rows = segments.takeRight(mergeWidth).map(_.rows)
      rows.max <= mergeRatio * rows.min
    }
    while (due) {
      val (keep, run) = segments.splitAt(segments.length - mergeWidth)
      val width = math.min(run.map(_.parts).sum, cores)
      // `coalesce` gives the merged plan a non-Union root. `Dataset.union`
      // flattens a Union child into the enclosing union, so with a Union
      // root the cache manager would never match the merged relation
      // inside `vectors`, and every scan would recompute from the source.
      val merged = seal(run.map(_.df).reduce(_ union _).coalesce(width),
        run.map(_.lo).min, run.map(_.hi).max, run.map(_.rows).sum)
      run.foreach(_.df.unpersist())
      segments = keep :+ merged
    }
    rebuildView()
  }

  private def rebuildView(): Unit = {
    view = segments.map(_.df).reduceOption(_ union _).getOrElse(emptyData(spark, storage))
    scan = narrow(view, segments)
  }

  private def cores: Int = spark.sparkContext.defaultParallelism

  /** `df` (the union of `segs`) read in at most `defaultParallelism`
    * partitions: one wave of tasks.
    */
  private def narrow(df: DataFrame, segs: Seq[Segment]): DataFrame =
    if (segs.map(_.parts).sum > cores) df.coalesce(cores) else df

  /** norm from fp32, then (for reduced precision) quantize and DROP fp32. */
  private def prepare(raw: DataFrame): DataFrame = storage match {
    case StorageType.Float32 =>
      raw.select(col("id"), col("vec"), vectorNormSq(col("vec")).as("norm"))
    case StorageType.Float16 =>
      raw.select(col("id"), quantizeF16(col("vec")).as("vech"),
        vectorNormSq(col("vec")).as("norm"))
    case StorageType.BFloat16 =>
      raw.select(col("id"), quantizeBf16(col("vec")).as("vech"),
        vectorNormSq(col("vec")).as("norm"))
    case StorageType.Int8 =>
      raw.select(col("id"), quantizeInt8(col("vec")).as("q"),
          vectorNormSq(col("vec")).as("norm"))
        .select(col("id"), col("q.codes").as("vecb"),
          col("q.scale").as("scale"), col("norm"))
    case StorageType.Int4 =>
      // nibble-packed: ⌈d/2⌉ stored bytes — 8× fewer scanned bytes than
      // fp32; the element count is the index's fixed `d`, so only codes
      // and scale are persisted
      raw.select(col("id"), quantizeInt4(col("vec")).as("q"),
          vectorNormSq(col("vec")).as("norm"))
        .select(col("id"), col("q.codes").as("vecb"),
          col("q.scale").as("scale"), col("norm"))
    case StorageType.Fp8 =>
      // e4m3: one code byte per element, per-ELEMENT exponent — no
      // per-vector scale state to persist (unlike SQ8/SQ4)
      raw.select(col("id"), quantizeFp8(col("vec")).as("vecb"),
        vectorNormSq(col("vec")).as("norm"))
  }

  /** fp32 view of the stored vectors (dequantized when 16-bit). */
  private def decode(data: DataFrame): DataFrame = storage match {
    case StorageType.Float32  => data
    case StorageType.Float16  =>
      data.select(col("id"), dequantizeF16(col("vech")).as("vec"), col("norm"))
    case StorageType.BFloat16 =>
      data.select(col("id"), dequantizeBf16(col("vech")).as("vec"), col("norm"))
    case StorageType.Int8 =>
      data.select(col("id"),
        dequantizeInt8(col("vecb"), col("scale")).as("vec"), col("norm"))
    case StorageType.Int4 =>
      data.select(col("id"),
        dequantizeInt4(col("vecb"), col("scale"), lit(d)).as("vec"), col("norm"))
    case StorageType.Fp8 =>
      data.select(col("id"), dequantizeFp8(col("vecb")).as("vec"), col("norm"))
  }

  /** Drop everything (ref `reset`, `mm:492-506`). */
  def reset(): this.type = {
    segments.foreach(_.df.unpersist())
    segments = Vector.empty
    cachedNtotal = 0L
    rebuildView()
    this
  }

  /** Point lookup + dequantize (ref `reconstruct`, `mm:508-527`).
    * Bit-exact for fp32 storage. Scans only the segments whose id range
    * holds `key`, in one job of at most `defaultParallelism` tasks; a key
    * outside every range throws without running a job.
    */
  def reconstruct(key: Long): Array[Float] = {
    val hit = segments.filter(s => s.lo <= key && key <= s.hi)
    val rows =
      if (hit.isEmpty) Array.empty[Row]
      else decode(narrow(hit.map(_.df).reduce(_ union _), hit))
        .filter(col("id") === key).select("vec").collect()
    require(rows.nonEmpty, s"reconstruct: id $key not present (ntotal=$cachedNtotal)")
    rows.head.getSeq[Float](0).toArray
  }

  /** k-nearest-neighbor search.
    *
    * Physical path selection (the analog of the reference's fused-kernel
    * gate, `src/MetalDistance.mm:341-363`): a bounded probe collects the
    * query batch to the driver — at most `maxFusedStateRows / max(k, d)`
    * rows plus one — and [[VectorIndexFlat.useFusedPath]] decides. Every
    * batch within that budget takes the fused path: the batch is broadcast
    * and each vector partition runs distance + bounded top-k in one
    * primitive loop ([[graft.plans.KnnPartialExec]], four queries per row
    * load), shuffling only nq·k rows per partition and never
    * materializing a (pair) row per (q, v). Batches over the budget, tiny
    * indexes and `forceDeclarative` take the declarative cross-join +
    * aggregate plan, which Catalyst pipelines into one stage up to the
    * top-k shuffle.
    *
    * Both paths use the identical fp64 left-to-right distance loop and the
    * (dist, id) total order, so their results are bit-identical.
    *
    * A null or wrong-dimension `qvec` throws: the probed rows are checked
    * on the driver (`IllegalArgumentException`), and the declarative
    * scoring projection raises an error for any row the probe did not see.
    *
    * @param queries DataFrame with (qid: long, qvec: array<float> of length d)
    * @return (qid, rank, label, dist) — rank 0-based best-first, k rows per
    *         query, sentinel-padded; dist is squared L2 or inner product.
    */
  def search(queries: DataFrame, k: Int): DataFrame = search(queries, k, forceDeclarative = false)

  /** @param forceDeclarative bypass the fused gate and always use the
    *         cross-join + aggregate plan — the analog of the reference's
    *         `setForceMPS` escape hatch (`src/MetalIndexFlat.mm:546-548`);
    *         both paths must produce identical results (tested).
    */
  def search(queries: DataFrame, k: Int, forceDeclarative: Boolean): DataFrame = {
    require(k > 0, s"k must be > 0, got $k") // ref mm:321
    val q = queries.select(col("qid"), col("qvec"))
    if (cachedNtotal == 0L) {
      // ref mm:328-334: all slots sentinel-filled
      return q.select(
        col("qid"),
        posexplode(array_repeat(
          struct(lit(-1L).as("label"), lit(metric.sentinel).as("score")), k)))
        .select(col("qid"), col("pos").cast(IntegerType).as("rank"),
          col("col.label").as("label"),
          col("col.score").cast(FloatType).as("dist"))
    }
    val qRows =
      if (forceDeclarative) Array.empty[Row]
      else q.limit((maxFusedStateRows / math.max(k, d)).toInt + 1).collect()
    val bad = qRows.count(r => r.isNullAt(1) || r.getSeq[Float](1).length != d)
    require(bad == 0, s"query vectors must have dimension $d ($bad rows differ)")
    val scored =
      if (!forceDeclarative && useFusedPath(qRows.length, cachedNtotal, k, d))
        fusedPartials(qRows, k)
      else {
        val dist = metric match {
          case Metric.L2           => squaredL2(col("vec"), col("qvec"))
          case Metric.InnerProduct => dotProduct(col("vec"), col("qvec"))
        }
        // under ANSI `size(null)` is null, so a null qvec is tested apart
        val checked = when(col("qvec").isNull || size(col("qvec")) =!= d,
          raise_error(lit(s"query vectors must have dimension $d"))).otherwise(dist)
        decode(scan).crossJoin(broadcast(q))
          .select(col("qid"), col("id"), checked.as("score"))
      }
    scored
      .groupBy(col("qid"))
      .agg(topK(col("score"), col("id"), k, metric.ascending, padToK = true)
        .as("hits"))
      .select(col("qid"), posexplode(col("hits")))
      .select(col("qid"), col("pos").cast(IntegerType).as("rank"),
        col("col.label").as("label"),
        col("col.score").cast(FloatType).as("dist"))
  }

  /** Fused distance + per-partition bounded top-k (ref
    * `shaders/fused_l2_topk.metal`: each chunk warp-selects its partial
    * list, a final merge combines them — here the final merge is the
    * regular top-k aggregate over ≤ nq·k rows per partition). Planned
    * through the Catalyst-native [[graft.plans.KnnNode]] whole-operator,
    * which reads the vector column straight from the scan's `ArrayData`
    * (no per-row encoder copy).
    */
  private def fusedPartials(qRows: Array[Row], k: Int): DataFrame =
    fusedPartialsData(qRows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq, k)

  private def fusedPartialsData(qData: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    val (src, dec) = fusedSource
    graft.plans.Knn.partials(src, qData, k,
      ascending = metric.ascending,
      metric = metric.knn,
      decode = dec)
  }

  /** What the fused kernel ([[graft.plans.Knn.scan]]) reads: the (id, vec)
    * rows of the one-wave scan, and the decode code it reads them with.
    * Reduced-precision storage feeds the 16-bit column STRAIGHT into the
    * kernel, which decodes each row once into a reused fp64 scratch array
    * (ref simdgroup_gemm.metal f16/bf16 tiles) — the scan moves half the
    * bytes and no fp32 array is allocated per row, unlike the declarative
    * path's dequantize projection. SQ8/SQ4/fp8 ride the codegen'd
    * dequantize projection (the scale is per-row, so the kernel's
    * in-register 16-bit decode doesn't apply).
    */
  private def fusedSource: (DataFrame, Int) = storage match {
    case StorageType.Float32  => (scan.select(col("id"), col("vec")), 0)
    case StorageType.Float16  => (scan.select(col("id"), col("vech")), 1)
    case StorageType.BFloat16 => (scan.select(col("id"), col("vech")), 2)
    case StorageType.Int8 | StorageType.Int4 | StorageType.Fp8 =>
      (decode(scan).select(col("id"), col("vec")), 0)
  }

  /** Serving-style single-query search: ONE job, ONE stage, no shuffle.
    *
    * The batch `search` pays the full SQL stack per call — gate-probe job,
    * planning, partial top-k stage, a shuffle by qid, final aggregate —
    * a ~300 ms floor on this box regardless of data size. A point lookup
    * needs none of it: the fused partials (≤ k rows per partition,
    * straight off the cached scan) are collected and the final
    * block_select-style merge runs on the driver over ≤ partitions·k rows.
    * Semantics (sentinel padding, (dist, id) order, k>ntotal clamp) are
    * identical to `search` with a single query.
    *
    * @return (label, dist) best-first, length k, sentinel-padded.
    */
  def searchPoint(qvec: Array[Float], k: Int): Array[(Long, Double)] = {
    require(k > 0, s"k must be > 0, got $k")
    require(qvec != null && qvec.length == d, s"query must have dimension $d")
    if (cachedNtotal == 0L) return mergePartials(Iterator.empty, k, metric)
    val rows = fusedPartialsData(Seq((0L, qvec)), k).collect()
    mergePartials(rows.iterator.map(r => (r.getLong(1), r.getDouble(2))), k, metric)
  }

  /** Prepared serving handle — the lowest-latency point-search path.
    *
    * [[searchPoint]] still pays SQL planning + a tiny broadcast per call
    * (~150-250 ms on this box). A prepared searcher does that work ONCE:
    * it snapshots exactly the rows the fused path scans (the
    * `fusedSource` frame's `InternalRow`s, copied out of the scan, in the
    * scan's ≤ `defaultParallelism` partitions) in one job; each
    * subsequent call is one `runJob` of [[graft.plans.Knn.scan]] over the
    * snapshot with the 1-query vector riding in the task closure — no
    * planning, no broadcast, no shuffle, no SQL — and the driver merge
    * `searchPoint` uses. This is the Spark analog of the reference's
    * persistent command-queue serving loop (`src/MetalIndexFlat.mm:441-463`
    * reused per-call buffers).
    *
    * Reduced-precision indexes snapshot the RAW 16-bit `vech` shorts,
    * which the kernel decodes in-register, as on the fused scan. Because
    * both paths run the same kernel over the same rows, results equal
    * `searchPoint` exactly.
    *
    * The handle reflects the index contents AT PREPARE TIME (like a
    * trained/sealed serving snapshot); re-prepare after `add`/`reset`.
    *
    * Durability: the snapshot rides on `localCheckpoint`, which is
    * non-reliable BY DESIGN — if an executor holding cached blocks dies,
    * the truncated lineage cannot recompute them. The searcher detects
    * that failure and transparently re-prepares from the frame it was
    * prepared from (whose lineage is reliable, even after a merge or
    * `reset` drops the segments it read), so a lost executor costs one
    * re-snapshot, not a permanently broken handle.
    */
  def pointSearcher(k: Int): PointSearcher = {
    require(k > 0, s"k must be > 0, got $k")
    val (src, dec) = fusedSource // the snapshot's source, also for re-prepares
    new PointSearcher(() => src.queryExecution.toRdd.map(_.copy()), dec, d, k, metric)
  }

  /** Async search: identical plan on a background thread; results must be
    * (and are) identical to the sync path — concurrent tokens share no
    * mutable state (each gets its own immutable plan), the analog of the
    * reference's per-call buffers (`mm:441-463`).
    */
  def searchAsync(queries: DataFrame, k: Int)(
      implicit ec: ExecutionContext = ExecutionContext.global): SearchToken = {
    require(k > 0, s"k must be > 0, got $k")
    // the whole search (including the gate's query-batch collect, itself a
    // Spark job) runs on the background thread — the caller returns
    // immediately, like the reference's commit-without-wait
    new SearchToken(Future(search(queries, k).orderBy("qid", "rank").collect()))
  }

  /** Sink boundary — the analog of `index_metal_to_cpu` + persistence. */
  def toParquet(path: String): Unit =
    decode(view).write.mode("overwrite").parquet(path)
}

/** Sealed serving snapshot from [[VectorIndexFlat.pointSearcher]]: one
  * `runJob` of the fused kNN kernel per query over a snapshot of the rows
  * the fused scan reads. `close()` releases the cached blocks.
  *
  * The snapshot uses `localCheckpoint` (lineage truncated to the cached
  * blocks — ~140 ms/job of task-closure serialization saved). That cache
  * is non-reliable: a lost executor makes its blocks unrecoverable, which
  * Spark surfaces as a "Checkpoint block not found" failure. `search`
  * catches exactly that and re-prepares the snapshot from the frame it was
  * read from (reliable lineage), retrying the query once — long-lived
  * cluster serving degrades to one re-snapshot per executor loss instead
  * of failing forever.
  *
  * @param dec the decode code of the snapshot's vector column
  *        ([[graft.plans.Knn.scan]])
  */
final class PointSearcher private[index] (
    build: () => RDD[InternalRow],
    dec: Int, d: Int, k: Int, metric: Metric) {

  private def prepare(): RDD[InternalRow] = {
    val p = build()
    // localCheckpoint, not plain persist: it TRUNCATES the lineage to the
    // cached blocks. The snapshot descends from a SQL plan whose object
    // graph otherwise rides inside EVERY task closure — measured ~140 ms
    // of task-serialization per runJob on this box vs ~20 ms truncated.
    p.localCheckpoint()
    p.count() // materialize now so first search pays no scan
    p
  }

  // @volatile: written under this.synchronized during recovery but read
  // lock-free in run() — without it a concurrent searcher can see the
  // stale (lost-block) RDD and burn an extra failed job before healing.
  @volatile private[graft] var packed = prepare()
  @volatile private[this] var closed = false

  def search(qvec: Array[Float]): Array[(Long, Double)] = {
    if (closed) throw new IllegalStateException(
      "PointSearcher is closed — create a new searcher via pointSearcher()")
    try run(qvec)
    catch {
      case e: org.apache.spark.SparkException
          if e.getMessage != null && e.getMessage.contains("Checkpoint block") =>
        // non-reliable localCheckpoint blocks were lost (dead executor or
        // external unpersist) — rebuild the snapshot once and retry.
        // Synchronized so concurrent searchers racing into recovery
        // re-prepare ONCE instead of each building (and leaking) a
        // snapshot; the double-check skips the rebuild if another thread
        // already replaced the RDD this thread failed on.
        val failed = packed
        this.synchronized {
          if (closed) throw new IllegalStateException(
            "PointSearcher closed during recovery")
          if (packed eq failed) {
            packed.unpersist(blocking = false)
            packed = prepare()
          }
        }
        run(qvec)
    }
  }

  private def run(qvec: Array[Float]): Array[(Long, Double)] = {
    require(qvec != null && qvec.length == d, s"query must have dimension $d")
    val kk = k; val asc = metric.ascending; val m = metric.knn
    val dc = dec
    val q = Array(qvec) // task-closure copy: tiny, cheaper than a broadcast round
    val rdd = packed
    val partials = rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => {
      val b = graft.plans.Knn.scan(it, q, kk, asc, m, dc)(0)
      (b.labels.take(b.size), b.scores.take(b.size))
    })
    VectorIndexFlat.mergePartials(
      partials.iterator.flatMap { case (ls, ss) => ls.iterator.zip(ss.iterator) }, k, metric)
  }

  def close(): Unit = this.synchronized {
    closed = true
    packed.unpersist(blocking = false)
  }
}

object VectorIndexFlat {

  /** The fused path's one budget, 2²² slots. It bounds both what a fused
    * task holds per partition — nq·k top-k slots, beyond which the
    * bounded buffers dominate partition memory and the declarative plan's
    * streaming aggregate is the safer shape (the analog of the reference's
    * k ≤ 32 fused bound, `src/MetalDistance.mm:341-353`) — and the query
    * payload the driver collects and broadcasts, nq·d floats (≤ 16 MB).
    * A CPU partition loop has no threadgroup-memory limit, so unlike the
    * reference's nq ≤ 4 gate there is no separate cap on nq.
    */
  val maxFusedStateRows: Long = 1L << 22

  /** Below `minFusedNtotalFactor · k` vectors the fused pre-selection
    * cannot drop anything (every partition emits ≈ everything it scanned),
    * so the custom-strategy plan is pure overhead — mirror of the
    * reference's minimum-work gate (nq·nv ≥ 8M, `MetalDistance.mm:341-353`,
    * which likewise refuses to dispatch the fused kernel on tiny problems).
    */
  val minFusedNtotalFactor = 4L

  /** Cost-model choice of physical path from (nq, ntotal, k, d) — the
    * Spark analog of the reference's fused gate
    * (`src/MetalDistance.mm:341-353`: nq·nv ≥ 8M ∧ nq ≤ 4 ∧ k ≤ 32).
    * Fused when the top-k state (nq·k) and the query payload (nq·d) both
    * fit [[maxFusedStateRows]] and the index holds at least
    * `minFusedNtotalFactor · k` vectors. All operands are known exactly at
    * plan time (ntotal is index metadata, not an estimate). Both paths are
    * proven bit-identical, so the gate affects cost only.
    */
  private[graft] def useFusedPath(nq: Int, nv: Long, k: Int, d: Int): Boolean =
    nq.toLong * k <= maxFusedStateRows &&
      nq.toLong * d <= maxFusedStateRows &&
      nv >= minFusedNtotalFactor * k

  /** The merge rule: the newest `mergeWidth` segments merge into one
    * when their row counts are within `mergeRatio`× of each other.
    */
  val mergeWidth = 4
  val mergeRatio = 2L

  /** A sealed segment: a cached frame of `rows` prepared rows in `parts`
    * partitions, whose ids lie in [`lo`, `hi`].
    */
  private final case class Segment(df: DataFrame, lo: Long, hi: Long, rows: Long, parts: Int)

  /** The driver merge of per-partition top-k lists of (label, score):
    * the best k, best-first, sentinel-padded to length k. `searchPoint`
    * and `PointSearcher` both end in it.
    */
  private[index] def mergePartials(partials: Iterator[(Long, Double)], k: Int,
                                   metric: Metric): Array[(Long, Double)] = {
    val buf = new TopKBuffer(k, metric.ascending)
    partials.foreach { case (label, score) => buf.insert(score, label) }
    val out = buf.sortedIndices.map(i => (buf.labels(i), buf.scores(i)))
    out ++ Array.fill(k - out.length)((-1L, metric.sentinel))
  }

  private val rawSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def emptyData(spark: SparkSession, storage: StorageType): DataFrame = {
    val schema = storage match {
      case StorageType.Float32 => StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
        StructField("norm", DoubleType, nullable = false)))
      case StorageType.Int8 | StorageType.Int4 => StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vecb", ArrayType(ByteType, containsNull = false), nullable = false),
        StructField("scale", DoubleType, nullable = false),
        StructField("norm", DoubleType, nullable = false)))
      case StorageType.Fp8 => StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vecb", ArrayType(ByteType, containsNull = false), nullable = false),
        StructField("norm", DoubleType, nullable = false)))
      case _ => StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vech", ArrayType(ShortType, containsNull = false), nullable = false),
        StructField("norm", DoubleType, nullable = false)))
    }
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  def apply(spark: SparkSession, d: Int, metric: Metric = Metric.L2,
            storage: StorageType = StorageType.Float32): VectorIndexFlat =
    new VectorIndexFlat(spark, d, metric, storage)

  /** Source boundary — build from an existing (id, vec) DataFrame without
    * reassigning ids (the analog of `index_cpu_to_metal`,
    * `/root/reference/src/MetalIndexFlat.mm:552-565`).
    */
  def fromDataFrame(spark: SparkSession, df: DataFrame, d: Int,
                    metric: Metric = Metric.L2,
                    storage: StorageType = StorageType.Float32,
                    idCol: String = "id", vecCol: String = "vec"): VectorIndexFlat = {
    val idx = new VectorIndexFlat(spark, d, metric, storage)
    val raw = df.select(col(idCol).cast(LongType).as("id"),
      col(vecCol).as("vec"))
    // under ANSI `size(null)` is null, so a null vector is counted apart;
    // the id range rides on the same aggregate
    val counts = raw.agg(count(lit(1)),
      sum(when(col("vec").isNull || size(col("vec")) =!= d, 1).otherwise(0)),
      min(col("id")), max(col("id"))).head
    val n = counts.getLong(0)
    val badDims = if (counts.isNullAt(1)) 0L else counts.getLong(1) // null sum = empty df
    require(badDims == 0L, s"all vectors must have dimension $d")
    if (n > 0) {
      // all ids null: an empty range, no key routes here
      val (lo, hi) = if (counts.isNullAt(2)) (0L, -1L) else (counts.getLong(2), counts.getLong(3))
      // one segment, cached on first use
      val cached = idx.prepare(raw).persist(StorageLevel.MEMORY_AND_DISK)
      idx.segments = Vector(Segment(cached, lo, hi, n,
        cached.queryExecution.toRdd.getNumPartitions))
      idx.cachedNtotal = n
      idx.rebuildView()
    }
    idx
  }

  def fromParquet(spark: SparkSession, path: String, d: Int,
                  metric: Metric = Metric.L2,
                  storage: StorageType = StorageType.Float32): VectorIndexFlat =
    fromDataFrame(spark, spark.read.parquet(path), d, metric, storage)
}
