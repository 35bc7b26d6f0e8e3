package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Similarity

/** OPQ (Ge et al. 2013) — alternating rotation + codebook optimization.
  * Pins: orthonormal rotation, monotone non-increasing training
  * objective with strict improvement over the PCA+PQ init on data whose
  * variance is unevenly split across subspaces (the regime OPQ exists
  * for), isometry of the learned rotation, and retrieval quality at
  * least matching raw-space PQ at an identical code budget.
  */
class OpqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Deterministic anisotropic fixture: axis-aligned Gaussians with a
    * steeply decaying spectrum, mixed by a dense rotation (Householder)
    * so no coordinate subspace is aligned with the variance structure.
    * PCA re-sorts variance DESCENDING, which concentrates nearly all of
    * it in the first PQ subspace — exactly the imbalance OPQ's rotation
    * update repairs.
    */
  private def anisotropic(n: Int, d: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val sd = Array.tabulate(d)(j => math.pow(0.45, j).max(1e-3) * 10.0)
    // Householder reflector H = I − 2uuᵀ from a fixed unit vector
    val u = Array.tabulate(d)(j => math.sin(j * 2.39996 + 1.0))
    val un = math.sqrt(u.map(x => x * x).sum)
    for (j <- 0 until d) u(j) /= un
    Array.fill(n) {
      val z = Array.tabulate(d)(j => rnd.nextGaussian() * sd(j))
      val proj = (0 until d).map(j => u(j) * z(j)).sum
      Array.tabulate(d)(j => (z(j) - 2.0 * proj * u(j)).toFloat)
    }
  }

  test("trainOpq: orthonormal rotation, monotone objective, strict win over the PCA+PQ init on subspace-imbalanced data") {
    val spark2 = spark
    import spark2.implicits._
    val d = 16
    val vecs = anisotropic(600, d, seed = 11L)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val model = Similarity.trainOpq(vdf, m = 4, ncent = 8, iters = 6)
    // rotation is orthonormal: R·Rᵀ = I within 1e-9
    val r = model.rotation
    for (p <- 0 until d; q <- 0 until d) {
      val dot = (0 until d).map(j => r(p)(j) * r(q)(j)).sum
      val want = if (p == q) 1.0 else 0.0
      assert(math.abs(dot - want) <= 1e-9, s"R·Rᵀ[$p][$q] = $dot")
    }
    // the alternating optimization is monotone non-increasing (each step
    // exactly minimizes the shared objective; Lloyd is warm-started)
    model.errTrace.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-9, s"objective rose: $a -> $b (${model.errTrace.toSeq})")
    }
    // and strictly improves on the PCA-init (= PCA+PQ) error here: PCA
    // packs ~all variance into subspace 0, OPQ rebalances it
    assert(model.errTrace.last < model.errTrace.head * 0.98,
      s"no real improvement: ${model.errTrace.toSeq}")
  }

  test("ivfOpqTopK probing ALL clusters ≡ opqTopK (pure composition); degenerate corpora don't break training") {
    val spark2 = spark
    import spark2.implicits._
    val d = 16
    val vecs = anisotropic(300, d, seed = 31L)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = vecs.take(5).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("qid", "qv")
    val model = Similarity.trainOpq(vdf, m = 4, ncent = 8, iters = 3)
    // ivfModulo 30 → 10 coarse clusters; probing all 10 must remove the
    // pruning entirely and reproduce the flat OPQ ADC ranking bit-exact
    val full = Similarity.opqTopK(vdf, qdf, 10, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSet
    val probedAll = Similarity.ivfOpqTopK(vdf, qdf, 10, ivfModulo = 30,
        nProbe = 10, model)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSet
    assert(probedAll === full)
    // degenerate corpus: every vector identical → zero-centered sample is
    // all zeros, Procrustes M is singular → rotation kept, no crash,
    // objective identically 0
    val same = Array.fill(50)(Array.fill(8)(1.5f))
    val sdf = same.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val degModel = Similarity.trainOpq(sdf, m = 2, ncent = 4, iters = 3)
    assert(degModel.errTrace.forall(_ == 0.0))
    assert(degModel.rotation.length == 8)
    // persistence: save → load is bit-exact and the reloaded model
    // reproduces the SAME search results (the train-once production path)
    val path = java.nio.file.Files.createTempDirectory("graft-opq").toString + "/model"
    Similarity.saveOpq(model, path, spark2)
    val re = Similarity.loadOpq(path, spark2)
    assert(re.mean.toSeq === model.mean.toSeq)
    assert(re.rotation.map(_.toSeq).toSeq === model.rotation.map(_.toSeq).toSeq)
    assert(re.codebook.map(_.toSeq) === model.codebook.map(_.toSeq))
    assert(re.m === model.m && re.errTrace.toSeq === model.errTrace.toSeq)
    val again = Similarity.opqTopK(vdf, qdf, 10, re)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSet
    assert(again === full)
    // rerank degeneracy: a shortlist covering the WHOLE corpus makes the
    // two-stage composition exactly exact kNN (expand·k ≥ n)
    val exact = Similarity.bruteForceTopK(vdf, qdf, 10, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSet
    val reranked = Similarity.opqRerankTopK(vdf, qdf, 10, model, expand = 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSet
    assert(reranked === exact)
  }

  test("the learned rotation is an isometry; OPQ reconstruction beats raw-space PQ at equal budget on subspace-imbalanced data") {
    val spark2 = spark
    import spark2.implicits._
    val d = 16
    val m = 4; val ds = d / m; val ncent = 8
    // AXIS-ALIGNED decaying variances: raw subspace 0 holds ~all the
    // energy, raw subspace 3 ~none — the imbalance a fixed per-subspace
    // code budget cannot serve and OPQ's rotation exists to repair
    // (Ge 2013 §1). No mixing rotation here: mixing would balance the
    // raw coordinates and hand raw-PQ the win by construction.
    val rnd = new scala.util.Random(23L)
    val sd = Array.tabulate(d)(j => math.pow(0.45, j).max(1e-3) * 10.0)
    val vecs = Array.fill(600)(
      Array.tabulate(d)(j => (rnd.nextGaussian() * sd(j)).toFloat))
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = vecs.take(30).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("qid", "qv")
    val model = Similarity.trainOpq(vdf, m = m, ncent = ncent, iters = 6)
    // isometry: pairwise distances survive the rotation exactly (1e-6 rel)
    val r = model.rotation
    def rotv(v: Array[Float]): Array[Double] = {
      val c = Array.tabulate(d)(j => v(j).toDouble - model.mean(j))
      Array.tabulate(d)(i => (0 until d).map(j => r(i)(j) * c(j)).sum)
    }
    for (Seq(a, b) <- vecs.take(8).toSeq.combinations(2)) {
      val raw = a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
      val rot = rotv(a).zip(rotv(b)).map { case (x, y) => (x - y) * (x - y) }.sum
      assert(math.abs(raw - rot) <= 1e-6 * math.max(raw, 1.0), s"$raw vs $rot")
    }
    // reconstruction error (the quantity PQ retrieval quality tracks):
    // OPQ's optimized (rotation, codebook) pair must beat the raw-space
    // trained codebook at the identical (m, ncent) budget — computed
    // driver-side with the same nearest-sub-entry encode both sides
    def mse(points: Array[Array[Double]], cb: Seq[Array[Float]]): Double = {
      var se = 0.0
      points.foreach { v =>
        var j = 0
        while (j < m) {
          var best = Double.MaxValue; var c = 0
          while (c < cb.length) {
            var acc = 0.0; var t = 0
            while (t < ds) {
              val dd = v(j * ds + t) - cb(c)(j * ds + t); acc += dd * dd; t += 1
            }
            if (acc < best) best = acc
            c += 1
          }
          se += best; j += 1
        }
      }
      se / points.length
    }
    val rawCb = Similarity.trainPqCodebook(
      vdf.select(col("vec").as("v")), m, ncent)
    val rawErr = mse(vecs.map(_.map(_.toDouble)), rawCb)
    val opqErr = mse(vecs.map(v => rotv(v)), model.codebook)
    assert(opqErr < rawErr,
      s"OPQ reconstruction $opqErr not below raw-PQ $rawErr")
    // retrieval: the better reconstruction carries to retrieval — over
    // 30 queries (300 hit slots; 6 was noise-level) OPQ's exact-top-10
    // overlap beats raw-space PQ's at the identical budget STRICTLY
    // (measured 84 vs 54 — everything seeded, so the margin is stable)
    val exact = Similarity.bruteForceTopK(vdf, qdf, 10, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val opq = Similarity.opqTopK(vdf, qdf, 10, model)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val rawPq = Similarity.pqKmeansTopK(vdf, qdf, 10, ncent = ncent, m = m)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val opqHits = opq.intersect(exact).size
    val rawHits = rawPq.intersect(exact).size
    assert(opqHits > rawHits,
      s"OPQ overlap $opqHits not above raw-PQ overlap $rawHits")
    assert(opqHits >= 60, s"OPQ recall too low: $opqHits/300")
  }

  /** md5 of the raw IEEE bits of a model's numbers, in order. */
  private def bitsMd5(doubles: Iterable[Double], floats: Iterable[Float]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    doubles.foreach { x =>
      buf.clear(); buf.putLong(java.lang.Double.doubleToRawLongBits(x)); md.update(buf.array(), 0, 8)
    }
    floats.foreach { x =>
      buf.clear(); buf.putInt(java.lang.Float.floatToRawIntBits(x)); md.update(buf.array(), 0, 4)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("driver-side training is pinned bit for bit: PCA basis, k-means PQ codebook, OPQ rotation and codebook, residual-IVFPQ distortion") {
    val spark2 = spark
    import spark2.implicits._
    // every property spec above would pass on a codebook that moved by an
    // ulp; these pins fail on any change to the sample order, the Lloyd
    // rounds, the Jacobi sweep or the Procrustes step
    val vecs = anisotropic(400, 16, seed = 47L)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val pca = Similarity.trainPca(vdf, 6)
    val pq = Similarity.trainPqCodebook(vdf.select(col("vec").as("v")), m = 4, ncent = 8)
    val opq = Similarity.trainOpq(vdf, m = 4, ncent = 8, iters = 4)
    val got = Seq(
      "pca.components" -> bitsMd5(pca.components.flatten, Nil),
      "trainPqCodebook" -> bitsMd5(Nil, pq.flatten),
      "opq.rotation" -> bitsMd5(opq.rotation.flatten, Nil),
      "opq.codebook" -> bitsMd5(Nil, opq.codebook.flatten),
      "residual sse, modulo codebook" -> Similarity.ivfPqResidualCorpusSse(
        vdf, ivfModulo = 20, pqModulo = 3, m = 4).head.get(0).toString,
      "residual sse, trained codebook" -> Similarity.ivfPqResidualCorpusSse(
        vdf, ivfModulo = 20, pqModulo = 3, m = 4, trainedNcent = 8).head.get(0).toString)
    val want = Seq(
      "pca.components" -> "a018ec4df0c84ece71d4df1e5907caaa",
      "trainPqCodebook" -> "48d8d1fdcd1f6ced9768066a8f6cfdce",
      "opq.rotation" -> "8c2942a53fe3ac036a1c7b45c8c1f2c0",
      "opq.codebook" -> "2d3ca4962b10acf028e9eda256dd9d2d",
      "residual sse, modulo codebook" -> "520615284",
      "residual sse, trained codebook" -> "2211566850")
    assert(got === want)
  }
}
