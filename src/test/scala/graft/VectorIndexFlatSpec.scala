package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.functions.{FloatBits, dotProduct, squaredL2, vectorNormSq}
import graft.index.{Metric, StorageType, VectorIndexFlat}

/** Differential tests vs the in-process scalar oracle — the role CPU FAISS
  * plays for the reference (`/root/reference/tests/test_metal_flat.mm`).
  * Case grid from FIXTURES.md §A. Because graft defines the (dist, id)
  * total order on BOTH sides, label sequences match exactly (stronger than
  * the reference's top-1-only assert).
  */
class VectorIndexFlatSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def runSearch(idx: VectorIndexFlat, qs: Array[Array[Float]], k: Int)
      : Map[Long, Seq[(Long, Double)]] =
    idx.search(Oracle.queriesDf(spark, qs), k)
      .orderBy("qid", "rank")
      .collect()
      .toSeq
      .groupBy(_.getLong(0))
      .map { case (qid, rows) =>
        qid -> rows.map(r => (r.getLong(2), r.getFloat(3).toDouble))
      }

  /** Spark jobs started while `run` runs, and the task count of each
    * stage that ran.
    */
  private def traceOf(run: => Any): (Int, Seq[Int]) = {
    val t = JobTrace(spark.sparkContext)(run)._2
    (t.jobs, t.stageTasks)
  }

  private def jobsOf(run: => Any): Int = traceOf(run)._1

  private def checkCase(nv: Int, nq: Int, d: Int, k: Int, ip: Boolean,
                        relTol: Double = 1e-5): Unit = {
    val vecs = Oracle.genVectors(nv, d)
    val qs = Oracle.genVectors(nq, d, seed = 4242)
    val metric = if (ip) Metric.InnerProduct else Metric.L2
    val idx = VectorIndexFlat(spark, d, metric)
    idx.add(vecs.toSeq)
    val got = runSearch(idx, qs, k)
    val want = Oracle.bruteForceKnn(vecs, qs, k, ip)
    for (qid <- 0 until nq) {
      val g = got(qid.toLong)
      val w = want(qid)
      assert(g.map(_._1) === w.map(_._1).toSeq, s"labels, qid=$qid")
      g.zip(w).foreach { case ((_, gd), (_, wd)) =>
        val denom = math.max(math.abs(wd), 1e-6)
        assert(math.abs(gd - wd) / denom <= relTol, s"dist qid=$qid: $gd vs $wd")
      }
    }
    idx.reset()
  }

  test("l2-32d (1000,10,32,5)") { checkCase(1000, 10, 32, 5, ip = false) }
  test("l2-128d (1000,10,128,10)") { checkCase(1000, 10, 128, 10, ip = false) }
  test("l2-768d (500,5,768,5)") { checkCase(500, 5, 768, 5, ip = false) }
  test("l2-1536d (500,5,1536,5)") { checkCase(500, 5, 1536, 5, ip = false) }
  test("ip-128d (1000,10,128,10)") { checkCase(1000, 10, 128, 10, ip = true, relTol = 1e-4) }
  test("edge-single (100,1,32,1)") { checkCase(100, 1, 32, 1, ip = false) }

  test("f16 storage: labels match oracle computed on dequantized vectors") {
    val d = 128
    val vecs = Oracle.genVectors(1000, d)
    val qs = Oracle.genVectors(10, d, seed = 4242)
    val deq = vecs.map(_.map(f => FloatBits.halfBitsToFloat(FloatBits.floatToHalfBits(f))))
    val idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.Float16)
    idx.add(vecs.toSeq)
    val got = runSearch(idx, qs, 10)
    val want = Oracle.bruteForceKnn(deq, qs, 10, innerProduct = false)
    for (qid <- 0 until 10) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq, s"qid=$qid")
    }
    // distances within 5e-2 rel of the fp32 oracle (ref tolerance for f16)
    val wantFp32 = Oracle.bruteForceKnn(vecs, qs, 10, innerProduct = false)
    for (qid <- 0 until 10) {
      got(qid.toLong).zip(wantFp32(qid)).foreach { case ((_, gd), (_, wd)) =>
        assert(math.abs(gd - wd) / math.max(math.abs(wd), 1e-6) <= 5e-2)
      }
    }
  }

  test("bf16 storage: labels match oracle computed on bf16-dequantized vectors") {
    val d = 64
    val vecs = Oracle.genVectors(500, d)
    val qs = Oracle.genVectors(5, d, seed = 4242)
    val deq = vecs.map(_.map(f => FloatBits.bf16BitsToFloat(FloatBits.floatToBf16Bits(f))))
    val idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.BFloat16)
    idx.add(vecs.toSeq)
    val got = runSearch(idx, qs, 5)
    val want = Oracle.bruteForceKnn(deq, qs, 5, innerProduct = false)
    for (qid <- 0 until 5) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq, s"qid=$qid")
    }
  }

  test("int8 (SQ8) storage: labels match oracle on dequantized vectors; error bounded; serving parity") {
    val d = 64
    val vecs = Oracle.genVectors(500, d)
    val qs = Oracle.genVectors(5, d, seed = 4242)
    // driver-side SQ8 reference: per-vector max-abs scale, round-half-up
    val deq = vecs.map { v =>
      val scale = v.map(x => math.abs(x.toDouble)).max / 127.0
      v.map(x => if (scale == 0.0) 0f
                 else (math.floor(x.toDouble / scale + 0.5) * scale).toFloat)
    }
    val idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.Int8)
    idx.add(vecs.toSeq)
    val got = runSearch(idx, qs, 5)
    val want = Oracle.bruteForceKnn(deq, qs, 5, innerProduct = false)
    for (qid <- 0 until 5) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq, s"qid=$qid")
    }
    // reconstruct error ≤ scale/2 + float-rounding slack per element
    val r7 = idx.reconstruct(7L)
    val scale7 = vecs(7).map(x => math.abs(x.toDouble)).max / 127.0
    r7.zip(vecs(7)).foreach { case (r, o) =>
      assert(math.abs(r - o) <= scale7 / 2 + 1e-6, s"err ${math.abs(r - o)} scale $scale7")
    }
    // prepared serving handle ≡ point path on the quantized index
    val q = qs.head
    val viaPoint = idx.searchPoint(q, 5)
    val searcher = idx.pointSearcher(5)
    // one kernel over the same rows: exactly equal
    assert(searcher.search(q) === viaPoint)
    searcher.close()
    idx.reset()
  }

  test("int4 (SQ4) storage: labels match oracle on dequantized vectors; odd d pad nibble; error bounded; serving parity") {
    val d = 33 // odd → the last stored byte carries a pad nibble
    val vecs = Oracle.genVectors(400, d)
    val qs = Oracle.genVectors(5, d, seed = 4242)
    // driver-side SQ4 reference: 15-level symmetric grid, round-half-up
    val deq = vecs.map { v =>
      val scale = v.map(x => math.abs(x.toDouble)).max / 7.0
      v.map(x => if (scale == 0.0) 0f
                 else (math.floor(x.toDouble / scale + 0.5) * scale).toFloat)
    }
    val idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.Int4)
    idx.add(vecs.toSeq)
    // stored payload really is nibble-packed: ⌈d/2⌉ bytes per row
    val storedBytes = idx.vectors.select(size(col("vecb"))).head.getInt(0)
    assert(storedBytes === (d + 1) / 2)
    val got = runSearch(idx, qs, 5)
    val want = Oracle.bruteForceKnn(deq, qs, 5, innerProduct = false)
    for (qid <- 0 until 5) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq, s"qid=$qid")
    }
    // reconstruct error ≤ scale/2 + float-rounding slack per element
    val r7 = idx.reconstruct(7L)
    val scale7 = vecs(7).map(x => math.abs(x.toDouble)).max / 7.0
    r7.zip(vecs(7)).foreach { case (r, o) =>
      assert(math.abs(r - o) <= scale7 / 2 + 1e-6, s"err ${math.abs(r - o)} scale $scale7")
    }
    // prepared serving handle ≡ point path on the quantized index
    val q = qs.head
    val viaPoint = idx.searchPoint(q, 5)
    val searcher = idx.pointSearcher(5)
    // one kernel over the same rows: exactly equal
    assert(searcher.search(q) === viaPoint)
    searcher.close()
    idx.reset()
  }

  test("fp8 (e4m3) storage: labels match oracle on roundtripped vectors; 1 byte/elem; error bounded; serving parity") {
    val d = 48
    val vecs = Oracle.genVectors(400, d)
    val qs = Oracle.genVectors(5, d, seed = 777)
    // driver-side reference: the REAL scalar codec defines the grid
    val deq = vecs.map(_.map(x => graft.functions.FloatBits.fp8E4m3ToFloat(
      graft.functions.FloatBits.floatToFp8E4m3Bits(x))))
    val idx = VectorIndexFlat(spark, d, Metric.L2, StorageType.Fp8)
    idx.add(vecs.toSeq)
    // stored payload is one code byte per element — no per-row scale
    val cols = idx.vectors.columns.toSeq
    assert(cols === Seq("id", "vecb", "norm"))
    assert(idx.vectors.select(size(col("vecb"))).head.getInt(0) === d)
    val got = runSearch(idx, qs, 5)
    val want = Oracle.bruteForceKnn(deq, qs, 5, innerProduct = false)
    for (qid <- 0 until 5) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq, s"qid=$qid")
    }
    // e4m3 relative error ≤ 2⁻⁴ for normals (3 mantissa bits); the
    // fixture range [-1, 1] stays far from the subnormal floor
    val r7 = idx.reconstruct(7L)
    r7.zip(vecs(7)).foreach { case (r, o) =>
      assert(math.abs(r - o) <= math.abs(o) / 16.0 + 1e-3,
        s"err ${math.abs(r - o)} at $o")
    }
    val q = qs.head
    val viaPoint = idx.searchPoint(q, 5)
    val searcher = idx.pointSearcher(5)
    // one kernel over the same rows: exactly equal
    assert(searcher.search(q) === viaPoint)
    searcher.close()
    idx.reset()
  }

  test("edge-empty-index: all sentinels") {
    for (metric <- Seq(Metric.L2, Metric.InnerProduct)) {
      val idx = VectorIndexFlat(spark, 32, metric)
      val rows = idx.search(Oracle.queriesDf(spark, Oracle.genVectors(1, 32)), 5)
        .orderBy("qid", "rank").collect()
      assert(rows.length === 5)
      val sentinel =
        if (metric == Metric.L2) Float.PositiveInfinity else Float.NegativeInfinity
      rows.foreach { r =>
        assert(r.getLong(2) === -1L)
        assert(r.getFloat(3) === sentinel)
      }
    }
  }

  test("edge-k-gt-ntotal (3,2,8,5): 3 real + 2 sentinel ranks") {
    val vecs = Oracle.genVectors(3, 8)
    val qs = Oracle.genVectors(2, 8, seed = 4242)
    val idx = VectorIndexFlat(spark, 8, Metric.L2)
    idx.add(vecs.toSeq)
    val got = runSearch(idx, qs, 5)
    val want = Oracle.bruteForceKnn(vecs, qs, 5, innerProduct = false)
    for (qid <- 0 until 2) {
      assert(got(qid.toLong).map(_._1) === want(qid).map(_._1).toSeq)
      assert(got(qid.toLong).drop(3).forall { case (l, dist) =>
        l == -1L && dist.isPosInfinity })
    }
  }

  test("edge-n0: zero queries → empty result") {
    val idx = VectorIndexFlat(spark, 32, Metric.L2)
    idx.add(Oracle.genVectors(10, 32).toSeq)
    assert(idx.search(Oracle.queriesDf(spark, Array.empty), 5).count() === 0)
  }

  test("k <= 0 throws") {
    val idx = VectorIndexFlat(spark, 8, Metric.L2)
    idx.add(Oracle.genVectors(5, 8).toSeq)
    intercept[IllegalArgumentException] {
      idx.search(Oracle.queriesDf(spark, Oracle.genVectors(1, 8)), 0)
    }
  }

  test("roundtrip: toParquet → fromParquet search identical (labels exact, dist ≤1e-5)") {
    val d = 128
    val vecs = Oracle.genVectors(500, d)
    val qs = Oracle.genVectors(10, d, seed = 4242)
    val idx = VectorIndexFlat(spark, d, Metric.L2)
    idx.add(vecs.toSeq)
    val dir = java.nio.file.Files.createTempDirectory("graft-rt").toString + "/idx"
    idx.toParquet(dir)
    val idx2 = VectorIndexFlat.fromParquet(spark, dir, d)
    assert(idx2.ntotal === 500)
    val a = runSearch(idx, qs, 5)
    val b = runSearch(idx2, qs, 5)
    for (qid <- 0 until 10) {
      assert(a(qid.toLong).map(_._1) === b(qid.toLong).map(_._1))
      a(qid.toLong).zip(b(qid.toLong)).foreach { case ((_, x), (_, y)) =>
        assert(math.abs(x - y) <= 1e-5)
      }
    }
  }

  test("reconstruct: fp32 bit-exact; f16 ≤ 2e-3 per element") {
    val vecs = Oracle.genVectors(10, 64)
    val idx = VectorIndexFlat(spark, 64, Metric.L2)
    idx.add(vecs.toSeq)
    assert(idx.reconstruct(3L).toSeq === vecs(3).toSeq) // bit-exact
    val f16 = VectorIndexFlat(spark, 64, Metric.L2, StorageType.Float16)
    f16.add(vecs.toSeq)
    f16.reconstruct(7L).zip(vecs(7)).foreach { case (r, o) =>
      assert(math.abs(r - o) <= 2e-3f)
    }
    val bf16 = VectorIndexFlat(spark, 64, Metric.L2, StorageType.BFloat16)
    bf16.add(vecs.toSeq)
    bf16.reconstruct(2L).zip(vecs(2)).foreach { case (r, o) =>
      assert(math.abs(r - o) <= math.max(math.abs(o) / 128f, 1e-4f))
    }
  }

  test("reset: ntotal 100 → 0 → 50, search works after re-add") {
    val idx = VectorIndexFlat(spark, 32, Metric.L2)
    idx.add(Oracle.genVectors(100, 32).toSeq)
    assert(idx.ntotal === 100)
    idx.reset()
    assert(idx.ntotal === 0)
    val vecs2 = Oracle.genVectors(50, 32, seed = 7)
    idx.add(vecs2.toSeq)
    assert(idx.ntotal === 50)
    val qs = Oracle.genVectors(2, 32, seed = 4242)
    val got = runSearch(idx, qs, 3)
    val want = Oracle.bruteForceKnn(vecs2, qs, 3, innerProduct = false)
    assert(got(0L).map(_._1) === want(0).map(_._1).toSeq)
  }

  test("incremental add: ids continue, results = single-shot index") {
    val d = 32
    val all = Oracle.genVectors(200, d)
    val qs = Oracle.genVectors(3, d, seed = 4242)
    val inc = VectorIndexFlat(spark, d, Metric.L2)
    inc.add(all.take(120).toSeq)
    inc.add(all.drop(120).toSeq)
    assert(inc.ntotal === 200)
    val got = runSearch(inc, qs, 5)
    val want = Oracle.bruteForceKnn(all, qs, 5, innerProduct = false)
    for (q <- 0 until 3) assert(got(q.toLong).map(_._1) === want(q).map(_._1).toSeq)
  }

  /** An id-less (vec: array<float>) frame in `slices` partitions. */
  private def vecFrame(vecs: Seq[Array[Float]], slices: Int) = {
    val schema = StructType(Seq(StructField("vec", ArrayType(FloatType))))
    spark.createDataFrame(spark.sparkContext.parallelize(vecs.map(Row(_)), slices), schema)
  }

  test("add(df) ≡ add(Seq): same ids and search rows on a non-empty index") {
    val d = 16
    val all = Oracle.genVectors(300, d)
    val qs = Oracle.queriesDf(spark, Oracle.genVectors(4, d, seed = 4242))
    val bySeq = VectorIndexFlat(spark, d, Metric.L2)
    val byDf = VectorIndexFlat(spark, d, Metric.L2)
    Seq(bySeq, byDf).foreach(_.add(all.take(100).toSeq))
    bySeq.add(all.drop(100).toSeq)
    val src = vecFrame(all.drop(100).toSeq, slices = 3)
    assert(src.rdd.getNumPartitions === 3)
    byDf.add(src)
    assert(byDf.ntotal === 300 && bySeq.ntotal === 300)
    def stored(idx: VectorIndexFlat) = idx.vectors.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(stored(byDf).toSeq === stored(bySeq).toSeq)
    assert(stored(byDf).map(_._1).toSeq === (0L until 300L))
    for (k <- Seq(1, 7)) {
      assert(byDf.search(qs, k).orderBy("qid", "rank").collect() ===
        bySeq.search(qs, k).orderBy("qid", "rank").collect())
    }
    bySeq.reset(); byDf.reset()
  }

  test("null vectors fail closed: fromDataFrame, add(df) and add(Seq) throw, index unchanged") {
    val d = 8
    val vecs = Oracle.genVectors(20, d)
    val qs = Oracle.queriesDf(spark, Oracle.genVectors(2, d, seed = 4242))
    val withNull: Seq[Array[Float]] = vecs.take(3).toSeq :+ null
    val keyed = vecFrame(withNull, slices = 2)
      .withColumn("id", monotonically_increasing_id())
    intercept[IllegalArgumentException] {
      VectorIndexFlat.fromDataFrame(spark, keyed, d)
    }
    val idx = VectorIndexFlat(spark, d, Metric.L2)
    idx.add(vecs.toSeq)
    val before = idx.search(qs, 5).orderBy("qid", "rank").collect()
    intercept[IllegalArgumentException] { idx.add(vecFrame(withNull, slices = 2)) }
    assert(idx.ntotal === 20)
    intercept[IllegalArgumentException] { idx.add(withNull) }
    assert(idx.ntotal === 20)
    // a wrong dimension is refused the same way
    intercept[IllegalArgumentException] {
      idx.add(vecFrame(Seq(Array.fill(d + 1)(0f)), slices = 1))
    }
    assert(idx.ntotal === 20)
    assert(idx.search(qs, 5).orderBy("qid", "rank").collect() === before)
    idx.reset()
  }

  test("add runs a pinned number of Spark jobs") {
    // Driver actions dominate a small append's cost, so each add shape's
    // job count is pinned on an index that already has several
    // partitions: add(Seq) is the union materialization alone, add(df)
    // one validation pass more, and an empty add runs nothing.
    val d = 16
    val vecs = Oracle.genVectors(400, d)
    for (storage <- Seq(StorageType.Float32, StorageType.Float16)) {
      val idx = VectorIndexFlat(spark, d, Metric.L2, storage)
      (0 until 4).foreach(b => idx.add(vecs.slice(b * 50, (b + 1) * 50).toSeq))
      assert(idx.vectors.rdd.getNumPartitions >= 4)
      assert(jobsOf(idx.add(vecs.slice(200, 250).toSeq)) === 1, s"$storage add(Seq)")
      val df = vecFrame(vecs.slice(250, 400).toSeq, slices = 3)
      val dfJobs = jobsOf(idx.add(df))
      assert(dfJobs <= 2, s"$storage add(df) ran $dfJobs jobs")
      assert(jobsOf(idx.add(Seq.empty[Array[Float]])) === 0, s"$storage empty add")
      assert(idx.ntotal === 400)
      assert(idx.reconstruct(399L).length === d)
      idx.reset()
    }
  }

  test("async ≡ sync, 3 concurrent tokens (ref async contract)") {
    val d = 64
    val idx = VectorIndexFlat(spark, d, Metric.L2)
    idx.add(Oracle.genVectors(500, d).toSeq)
    val qs = Oracle.queriesDf(spark, Oracle.genVectors(10, d, seed = 4242))
    val sync = idx.search(qs, 10).orderBy("qid", "rank").collect()
    val tokens = (1 to 3).map(_ => idx.searchAsync(qs, 10))
    tokens.foreach { t =>
      assert(t.result() === sync) // bit-exact, matching tests/test_metal_flat.mm:341-344
    }
  }

  test("physical paths agree EXACTLY: fused KnnPartialExec vs declarative cross-join+agg") {
    // the analog of the reference's forced-MPS vs default-path test
    // (tests/test_metal_flat.mm:270-307) — ours is bit-exact because both
    // paths share the same fp64 loop and total order. Every vector is
    // stored twice, so ties exercise the (dist, id) order; the batch
    // sizes cover the fused kernel's 4-query blocks, their remainders and
    // a batch over 1024.
    val d = 64
    val half = Oracle.genVectors(150, d)
    val vecs = (half ++ half).toSeq
    val allQs = Oracle.genVectors(1100, d, seed = 4242)
    for ((storage, metric) <- Seq(StorageType.Float32 -> Metric.L2,
           StorageType.Float32 -> Metric.InnerProduct,
           StorageType.Float16 -> Metric.InnerProduct,
           StorageType.BFloat16 -> Metric.L2)) {
      val idx = VectorIndexFlat(spark, d, metric, storage)
      idx.add(vecs)
      for (nq <- Seq(1, 3, 4, 5, 1100)) {
        val qs = Oracle.queriesDf(spark, allQs.take(nq))
        val fusedRes = idx.search(qs, 5)
        val fused = fusedRes.orderBy("qid", "rank").collect()
        assert(fusedRes.queryExecution.executedPlan.toString.contains("KnnPartial"),
          s"$storage $metric nq=$nq not fused")
        val declarative = idx.search(qs, 5, forceDeclarative = true)
          .orderBy("qid", "rank").collect()
        assert(fused.length === nq * 5)
        assert(fused === declarative, s"$storage $metric nq=$nq")
        if (nq == 1) {
          // the serving paths run the same kernel: labels equal the fused
          // rows, and their fp64 scores round to the batch dist
          val searcher = idx.pointSearcher(5)
          for (served <- Seq(idx.searchPoint(allQs(0), 5), searcher.search(allQs(0)))) {
            assert(served.map(_._1).toSeq === fused.map(_.getLong(2)).toSeq, s"$storage $metric labels")
            assert(served.map(_._2.toFloat).toSeq === fused.map(_.getFloat(3)).toSeq, s"$storage $metric dist")
          }
          searcher.close()
        }
      }
      idx.reset()
    }
  }

  test("cost-model gate: fused vs declarative chosen per (nq, ntotal, k) regime") {
    import graft.index.VectorIndexFlat.useFusedPath
    // serving regime: small batch over a big index → fused
    assert(useFusedPath(nq = 8, nv = 1000000L, k = 10, d = 128))
    // a large batch within the budget → fused
    assert(useFusedPath(nq = 2000, nv = 1000000L, k = 10, d = 128))
    // huge query batch: 40,000 × 128 = 5.1M floats, over the budget →
    // declarative (collect/broadcast bound)
    assert(!useFusedPath(nq = 40000, nv = 1000000L, k = 10, d = 128))
    // per-partition top-k state beyond budget → declarative
    assert(!useFusedPath(nq = 1024, nv = 1000000L, k = 8192, d = 128))
    // tiny index: pre-selection cannot drop anything → declarative
    assert(!useFusedPath(nq = 8, nv = 30L, k = 10, d = 128))
    // the physical plans actually chosen match the model
    val d = 16
    val qs = Oracle.queriesDf(spark, Oracle.genVectors(2, d, seed = 5))
    val big = VectorIndexFlat(spark, d)
    big.add(Oracle.genVectors(500, d).toSeq)
    val bigRes = big.search(qs, 5)
    bigRes.collect()
    assert(bigRes.queryExecution.executedPlan.toString.contains("KnnPartial"))
    val tiny = VectorIndexFlat(spark, d)
    tiny.add(Oracle.genVectors(10, d).toSeq)
    val tinyRes = tiny.search(qs, 5)
    tinyRes.collect()
    assert(!tinyRes.queryExecution.executedPlan.toString.contains("KnnPartial"))
    // and results are path-independent in every regime
    assert(tiny.search(qs, 5).orderBy("qid", "rank").collect() ===
      tiny.search(qs, 5, forceDeclarative = true).orderBy("qid", "rank").collect())
    big.reset(); tiny.reset()
  }

  test("bad query vectors fail closed: both search paths and searchPoint throw, index unchanged") {
    val d = 8
    val idx = VectorIndexFlat(spark, d, Metric.L2)
    idx.add(Oracle.genVectors(50, d).toSeq)
    val good = Oracle.genVectors(3, d, seed = 4242)
    val goodQs = Oracle.queriesDf(spark, good)
    val before = idx.search(goodQs, 5).orderBy("qid", "rank").collect()
    val schema = StructType(Seq(StructField("qid", LongType), StructField("qvec", ArrayType(FloatType))))
    def frame(qs: Seq[Array[Float]]) = spark.createDataFrame(java.util.Arrays.asList(
      qs.zipWithIndex.map { case (q, i) => Row(i.toLong, q) }: _*), schema)
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    for (bad <- Seq(Array.fill(d + 1)(0f), Array.fill(d - 1)(0f), null)) {
      val qs = frame(good.toSeq :+ bad)
      // the probe already holds the rows: refused on the driver
      intercept[IllegalArgumentException] { idx.search(qs, 5) }
      // the declarative plan probes nothing: its scoring projection raises
      val e = intercept[Exception] { idx.search(qs, 5, forceDeclarative = true).collect() }
      assert(messages(e).contains(s"query vectors must have dimension $d"), messages(e))
      intercept[IllegalArgumentException] { idx.searchPoint(bad, 5) }
      val searcher = idx.pointSearcher(5)
      try intercept[IllegalArgumentException] { searcher.search(bad) }
      finally searcher.close()
    }
    assert(idx.ntotal === 50)
    assert(idx.search(goodQs, 5).orderBy("qid", "rank").collect() === before)
    assert(idx.search(goodQs, 5, forceDeclarative = true).orderBy("qid", "rank").collect() === before)
    idx.reset()
  }

  test("batch search: nq = 1100 is fused and runs as many Spark jobs as nq = 16") {
    val d = 16
    val idx = VectorIndexFlat(spark, d, Metric.L2)
    val vecs = Oracle.genVectors(400, d)
    (0 until 4).foreach(b => idx.add(vecs.slice(b * 100, (b + 1) * 100).toSeq))
    assert(idx.vectors.rdd.getNumPartitions >= 4)
    val allQs = Oracle.genVectors(1100, d, seed = 4242)
    def searchJobs(nq: Int): (Int, String) = {
      var plan = ""
      val jobs = jobsOf {
        val res = idx.search(Oracle.queriesDf(spark, allQs.take(nq)), 10)
        assert(res.collect().length === nq * 10)
        plan = res.queryExecution.executedPlan.toString
      }
      (jobs, plan)
    }
    val (small, smallPlan) = searchJobs(16)
    val (large, largePlan) = searchJobs(1100)
    assert(smallPlan.contains("KnnPartial") && largePlan.contains("KnnPartial"), largePlan)
    assert(large === small, s"nq=1100 ran $large jobs, nq=16 ran $small")
    idx.reset()
  }

  test("100 adds: O(log n) segments, every scan hits the cache in one wave, results exact") {
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    object Plans extends AdaptiveSparkPlanHelper
    val d = 8
    val vecs = Oracle.genVectors(1000, d)
    val qs = Oracle.genVectors(5, d, seed = 4242)
    val cores = spark.sparkContext.defaultParallelism
    val idx = VectorIndexFlat(spark, d, Metric.L2)
    (0 until 100).foreach(b => idx.add(vecs.slice(b * 10, (b + 1) * 10).toSeq))
    assert(idx.ntotal === 1000)
    assert(idx.segmentCount <= 13, s"${idx.segmentCount} segments")
    val want = Oracle.bruteForceKnn(vecs, qs, 7, innerProduct = false)
    for (forceDeclarative <- Seq(false, true)) {
      val res = idx.search(Oracle.queriesDf(spark, qs), 7, forceDeclarative)
      val (_, tasks) = traceOf {
        val got = res.collect().groupBy(_.getLong(0))
        for (q <- qs.indices) assert(got(q.toLong).sortBy(_.getInt(1)).map(_.getLong(2)).toSeq ===
          want(q).map(_._1).toSeq, s"qid $q")
      }
      assert(tasks.nonEmpty && tasks.forall(_ <= cores), s"stage tasks $tasks")
      val plan: SparkPlan = res.queryExecution.executedPlan // the final plan, as run
      assert(plan.toString.contains("isFinalPlan=true"), plan.toString)
      val cached = Plans.collect(plan) { case s: InMemoryTableScanExec => s }
      assert(cached.size === idx.segmentCount, plan.toString)
      assert(Plans.collect(plan) { case s: RDDScanExec => s }.isEmpty, plan.toString)
    }
    // the snapshot is one job of one wave, and each request one job
    var searcher: graft.index.PointSearcher = null
    val (prepJobs, prepTasks) = traceOf { searcher = idx.pointSearcher(7) }
    assert(prepJobs === 1 && prepTasks.forall(_ <= cores), s"prepare: $prepJobs jobs, stage tasks $prepTasks")
    for (q <- qs.indices) {
      val (jobs, tasks) = traceOf {
        assert(searcher.search(qs(q)).map(_._1).toSeq === want(q).map(_._1).toSeq)
      }
      assert(jobs === 1 && tasks.forall(_ <= cores), s"serve: $jobs jobs, stage tasks $tasks")
    }
    searcher.close()
    idx.reset()
  }

  test("reconstruct scans only the segment holding the id: 1 job, one wave; absent ids run none") {
    val d = 8
    val vecs = Oracle.genVectors(160, d)
    val cores = spark.sparkContext.defaultParallelism
    val idx = VectorIndexFlat(spark, d, Metric.L2)
    (0 until 6).foreach(b => idx.add(vecs.slice(b * 20, (b + 1) * 20).toSeq))
    idx.add(vecFrame(vecs.drop(120).toSeq, slices = 2 * cores + 1))
    assert(idx.segmentCount > 1)
    for (id <- Seq(0L, 79L, 80L, 119L, 120L, 159L)) {
      var got: Array[Float] = null
      val (jobs, tasks) = traceOf { got = idx.reconstruct(id) }
      assert(got.toSeq === vecs(id.toInt).toSeq, s"id $id")
      assert(jobs === 1 && tasks.forall(_ <= cores), s"id $id: $jobs jobs, stage tasks $tasks")
    }
    for (id <- Seq(-1L, 160L, 10000L)) {
      val (jobs, _) = traceOf {
        val e = intercept[IllegalArgumentException] { idx.reconstruct(id) }
        assert(e.getMessage.contains(s"id $id not present (ntotal=160)"))
      }
      assert(jobs === 0, s"absent id $id ran $jobs jobs")
    }
    idx.reset()
    // a source frame's id range comes from its own ids
    val keyed = Oracle.queriesDf(spark, vecs.take(20)).select((col("qid") + 100).as("id"), col("qvec").as("vec"))
    val src = VectorIndexFlat.fromDataFrame(spark, keyed, d)
    assert(src.reconstruct(107L).toSeq === vecs(7).toSeq)
    assert(jobsOf(intercept[IllegalArgumentException] { src.reconstruct(7L) }) === 0)
    src.reset()
  }

  test("searchPoint ≡ search with one query; sentinel padding; empty index") {
    val d = 32
    val vecs = Oracle.genVectors(400, d)
    val q = Oracle.genVectors(1, d, seed = 77).head
    val idx = VectorIndexFlat(spark, d)
    idx.add(vecs.toSeq)
    val viaBatch = runSearch(idx, Array(q), 7)(0L)
    val point = idx.searchPoint(q, 7)
    assert(point.map(_._1).toSeq === viaBatch.map(_._1))
    point.zip(viaBatch).foreach { case ((_, pd), (_, bd)) =>
      assert(math.abs(pd - bd) <= 1e-5 * math.max(1.0, math.abs(bd)))
    }
    // k > ntotal pads with sentinels
    val small = VectorIndexFlat(spark, d)
    small.add(vecs.take(3).toSeq)
    val padded = small.searchPoint(q, 5)
    assert(padded.length === 5)
    assert(padded.drop(3).forall(p => p._1 == -1L && p._2.isPosInfinity))
    // empty index → all sentinels
    val empty = VectorIndexFlat(spark, d)
    assert(empty.searchPoint(q, 3).forall(p => p._1 == -1L && p._2.isPosInfinity))
    // prepared serving handle returns the same rows as the ad-hoc point path
    val searcher = idx.pointSearcher(7)
    assert(searcher.search(q) === point)
    searcher.close()
    idx.reset(); small.reset()
  }

  test("16-bit pointSearcher: packs raw shorts, equals batch search; lost blocks re-prepare") {
    val d = 48
    val vecs = Oracle.genVectors(400, d)
    val q = Oracle.genVectors(1, d, seed = 777).head
    for (storage <- Seq(StorageType.Float16, StorageType.BFloat16)) {
      val idx = VectorIndexFlat(spark, d, Metric.L2, storage)
      idx.add(vecs.toSeq)
      // searchPoint keeps the fp64 scores (batch `search` rounds its dist
      // column to fp32 on output), so it anchors an exact comparison
      val viaBatch = idx.searchPoint(q, 9)
      val searcher = idx.pointSearcher(9)
      assert(searcher.search(q) === viaBatch, s"$storage")
      // simulate executor loss: drop the non-reliable localCheckpoint
      // blocks out from under the handle — search must rebuild the
      // snapshot from the index lineage and still answer correctly
      searcher.packed.unpersist(blocking = true)
      val recovered = searcher.search(q)
      assert(recovered === viaBatch, s"$storage recovery")
      searcher.close()
      // a closed searcher must refuse, not silently re-prepare (which would
      // resurrect cached blocks the caller just released)
      intercept[IllegalStateException] { searcher.search(q) }
      idx.reset()
    }
  }

  test("a searcher keeps its prepare-time answer after merges, lost blocks and reset") {
    // the snapshot is read from 3 segments; the 4th add merges them away
    // (unpersisting what the snapshot was read from) and holds the query's
    // true nearest row, which the snapshot must never see
    val d = 16
    val vecs = Oracle.genVectors(200, d)
    val q = vecs(170)
    for (storage <- Seq(StorageType.Float32, StorageType.Float16)) {
      val idx = VectorIndexFlat(spark, d, Metric.L2, storage)
      (0 until 3).foreach(b => idx.add(vecs.slice(b * 50, (b + 1) * 50).toSeq))
      assert(idx.segmentCount === 3)
      val searcher = idx.pointSearcher(5)
      val prepared = searcher.search(q)
      assert(prepared === idx.searchPoint(q, 5), s"$storage")
      idx.add(vecs.slice(150, 200).toSeq)
      assert(idx.segmentCount === 1, s"$storage: the 4th add merges")
      assert(idx.searchPoint(q, 5).head._1 === 170L, s"$storage")
      assert(!prepared.exists(_._1 >= 150L), s"$storage")
      assert(searcher.search(q) === prepared, s"$storage after the merge")
      searcher.packed.unpersist(blocking = true)
      assert(searcher.search(q) === prepared, s"$storage after lost blocks")
      idx.reset()
      searcher.packed.unpersist(blocking = true)
      assert(searcher.search(q) === prepared, s"$storage after reset and lost blocks")
      searcher.close()
    }
  }

  test("dual-path: direct ‖q−v‖² vs decomposed ‖q‖²+‖v‖²−2⟨q,v⟩ agree ≤5e-2 rel") {
    val d = 64
    val vecs = Oracle.genVectors(50, d)
    val qs = Oracle.queriesDf(spark, Oracle.genVectors(5, d, seed = 4242))
    val idx = VectorIndexFlat(spark, d, Metric.L2)
    idx.add(vecs.toSeq)
    val joined = idx.vectors.crossJoin(broadcast(qs))
    val direct = joined.select(col("qid"), col("id"),
      squaredL2(col("vec"), col("qvec")).as("dist"))
    val decomposed = joined.select(col("qid"), col("id"),
      (col("norm") + vectorNormSq(col("qvec"))
        - lit(2.0) * dotProduct(col("vec"), col("qvec"))).as("dist"))
    val dm = direct.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    decomposed.collect().foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val dd = r.getDouble(2)
      assert(math.abs(dd - dm(key)) / math.max(math.abs(dm(key)), 1e-3) <= 5e-2,
        s"pair $key: decomposed=$dd direct=${dm(key)}")
    }
  }
}
