package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis}

class OpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def docsDf(docs: Seq[(Long, String)]) = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map { case (i, t) => Row(i, t) }: _*), schema)
  }

  private val base = "the quick brown fox jumps over the lazy dog near the old stone bridge today"
  private val nearDup = "the quick brown fox jumps over the lazy dog near the old stone bridge tonight"
  private val unrelated = "completely different content about database engines and query optimization at scale"

  test("minhash LSH: near-dup pair surfaces, unrelated pair does not") {
    val docs = docsDf(Seq(0L -> base, 1L -> nearDup, 2L -> unrelated))
    val cand = Dedup.minhashCandidates(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(cand.exists { case (a, b, bands) => a == 0L && b == 1L && bands >= 1 })
    assert(!cand.exists { case (a, b, _) => b == 2L || a == 2L })
  }

  test("one-pass MinHashSignature kernel ≡ exploded groupBy-min formulation") {
    val docs = docsDf(Seq(0L -> base, 1L -> nearDup, 2L -> unrelated, 3L -> "too short"))
    import graft.functions.{minhashSignature, wordShingles}
    val onePass = docs
      .select(col("doc_id"), wordShingles(Dedup.tokens(col("text")), 3).as("sh"))
      .select(col("doc_id"), minhashSignature(col("sh"), 8).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +:
        (0 until 8).map(j => element_at(col("sig"), j + 1).as(s"h$j")): _*)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
    val exploded = Dedup.minhashSignatures(docs, 8)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
    assert(onePass == exploded)
    assert(!onePass.contains(3L)) // < 3 tokens → no shingles → absent in both
  }

  test("minhashDedup pipeline ≡ separate candidates + jaccardOnPairs") {
    val docs = docsDf(Seq(0L -> base, 1L -> nearDup, 2L -> unrelated))
    val full = Dedup.minhashDedup(docs)
      .select("doc_a", "doc_b", "shared_bands", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val split = Dedup.jaccardOnPairs(docs, Dedup.minhashCandidates(docs))
      .select("doc_a", "doc_b", "shared_bands", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(full == split)
  }

  test("simhashPairs 3-band LSH ≡ brute-force hamming ≤ 2 pairs") {
    val docs = docsDf(Seq(0L -> base, 1L -> nearDup, 2L -> unrelated,
      3L -> base, 4L -> (base + " extra"), 5L -> "one two three four five"))
    val sims = Dedup.simhash(docs, 63).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = (for {
      a <- sims.keys; b <- sims.keys if a < b
      h = java.lang.Long.bitCount(sims(a) ^ sims(b)) if h <= 2
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.simhashPairs(docs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == brute)
    assert(got.contains((0L, 3L, 0L))) // identical docs → hamming 0
  }

  test("connectedComponents: chain + triangle + singleton resolve to min-id clusters") {
    val spark2 = spark
    import spark2.implicits._
    // components: {0,1,2,3} (a path — tests multi-round propagation),
    // {10,11,12} (triangle), {20} (singleton)
    val nodes = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("doc_a", "doc_b")
    val expected = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L)
    // driver union-find fast path
    val fast = Dedup.connectedComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == expected)
    // distributed iterative path (gate forced off) must agree exactly
    val dist = Dedup.connectedComponents(nodes, edges, smallEdgeLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == expected)
  }

  test("connectedComponentsStar ≡ union-find on chain/triangle/singleton + random graph") {
    val spark2 = spark
    import spark2.implicits._
    val nodes = Seq(0L, 1L, 2L, 3L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("doc_a", "doc_b")
    val expected = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L)
    val star = Dedup.connectedComponentsStar(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == expected)
    // empty edge set → every node a singleton
    val none = Dedup.connectedComponentsStar(nodes,
        Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(none == expected.keys.map(k => k -> k).toMap)
    // random graph (63-bit-style ids, duplicate + reversed edges): star
    // labels must equal the driver union-find's exactly
    val rnd = new scala.util.Random(29)
    val ids = (0 until 1500).map(i => (i.toLong << 32) | (rnd.nextInt(1 << 30)).toLong)
    val edgeSeq = (0 until 900).map { _ =>
      (ids(rnd.nextInt(ids.length)), ids(rnd.nextInt(ids.length)))
    }.filter { case (a, b) => a != b }
    val nf = ids.toDF("doc_id")
    val ef = (edgeSeq ++ edgeSeq.take(50).map(_.swap)).toDF("doc_a", "doc_b")
    // truth arm: the public API's small-graph path (driver union-find)
    val want = Dedup.connectedComponents(nf, ef).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Dedup.connectedComponentsStar(nf, ef).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("connectedComponentsStar: a 50k-node PATH converges in O(log) rounds (min-label's cliff)") {
    val spark2 = spark
    import spark2.implicits._
    // diameter 50k: the min-label loop needs ~50k shuffle rounds here —
    // the documented high-diameter cliff this algorithm exists for.
    // maxRounds = 25 makes the convergence claim falsifiable: the
    // require inside the loop fails the test if star operations ever
    // stop halving heights. (Kiveris 2014 bound: O(log² n); measured
    // here well under 25 alternating rounds.)
    val n = 50000
    val nodes = (0 until n).map(_.toLong).toDF("doc_id")
    val edges = (0 until n - 1).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.connectedComponentsStar(nodes, edges, maxRounds = 25)
    // one component rooted at 0, all n nodes
    val agg = labels.agg(count(lit(1)), countDistinct(col("cluster_id")),
      min(col("cluster_id")), max(col("cluster_id"))).head()
    assert(agg.getLong(0) === n.toLong)
    assert(agg.getLong(1) === 1L)
    assert(agg.getLong(2) === 0L && agg.getLong(3) === 0L)
  }

  test("connectedComponents: distributed min-label loop ≡ union-find on a random graph") {
    val spark2 = spark
    import spark2.implicits._
    // 2000 nodes with sparse random edges (some long chains, many
    // components, ~40% singletons) — the distributed loop must converge to
    // exactly the driver union-find labels, including 63-bit-style ids
    val rnd = new scala.util.Random(23)
    val ids = (0 until 2000).map(i => (i.toLong << 32) | (rnd.nextInt(1 << 30)).toLong)
    val edgeSeq = (0 until 1200).map { _ =>
      val a = ids(rnd.nextInt(ids.length)); val b = ids(rnd.nextInt(ids.length))
      (math.min(a, b), math.max(a, b))
    }.filter { case (a, b) => a != b }
    val nodes = ids.toDF("doc_id")
    val edges = edgeSeq.toDF("doc_a", "doc_b")
    val fast = Dedup.connectedComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(nodes, edges, smallEdgeLimit = 0L).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist.size === ids.size)
    assert(dist == fast)
    // sanity: every label is the min id of its component
    dist.groupBy(_._2).foreach { case (root, members) =>
      assert(members.keys.min === root)
    }
  }

  test("k-means IVF: recall@10 ≥ 0.7 at nProbe=4/16 on seeded data") {
    val spark2 = spark
    import spark2.implicits._
    val vdf = Oracle.genVectors(2000, 16).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(8, 16, seed = 31L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val exact = graft.ops.Similarity.bruteForceTopK(vdf, qdf, 10, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = graft.ops.Similarity.ivfKmeansTopK(vdf, qdf, 10, nClusters = 16, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.7, s"recall=$recall")
  }

  test("batchedTopK (hash-batched GEMM) ≡ single-broadcast brute force") {
    val spark2 = spark
    import spark2.implicits._
    val vdf = Oracle.genVectors(800, 16).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(40, 16, seed = 55L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val exact = graft.ops.Similarity.bruteForceTopK(vdf, qdf, 7, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batched = graft.ops.Similarity.batchedTopK(vdf, qdf, 7, batches = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batched == exact)
  }

  test("GEMM-batched kNN ≡ expression-path brute force (labels and ranks)") {
    val spark2 = spark
    import spark2.implicits._
    // 2500 vectors across a small block size so several dgemm flushes and
    // partial-buffer merges happen
    val vdf = Oracle.genVectors(2500, 24).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(6, 24, seed = 99L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val exact = graft.ops.Similarity.bruteForceTopK(vdf, qdf, 10, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSet
    val gemm = graft.ops.Similarity.gemmTopK(vdf, qdf, 10, blockRows = 300)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSet
    assert(gemm == exact)
  }

  test("f16-coarse + fp32-rerank two-stage retrieval ≡ exact brute force") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Oracle.genVectors(300, 32)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(5, 32, seed = 7L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val exact = graft.ops.Similarity.bruteForceTopK(vdf, qdf, 10, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val reranked = graft.ops.Similarity.rerankedTopK(vdf, qdf, 10, expand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(reranked == exact)
  }

  test("projection/f16 index BUILD+SERVE split ≡ one-shot composition (pca, jl, prefix, f16)") {
    // r15: the coarse column is a stored index payload (the ivfAssign
    // accounting applied to the projection tiers) — serving from the
    // materialized index must be bit-identical to the lazy one-shot
    // composition, or the split changed semantics, not just accounting
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.Similarity
    val vdf = Oracle.genVectors(300, 32).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(5, 32, seed = 7L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet

    val model = Similarity.trainPca(vdf, 8)
    val pcaIdx = Similarity.pcaAssign(vdf, model)
    assert(rows(Similarity.pcaServeTopK(model, pcaIdx, vdf, qdf, 10, 4)) ===
      rows(Similarity.pcaRerankTopK(vdf, qdf, 10, model, 4)))

    val jl = Similarity.PcaModel(Array.fill(32)(0.0),
      Similarity.jlMatrix(32, 8), explained = Array.empty, totalVar = 0.0)
    val jlIdx = Similarity.pcaAssign(vdf, jl)
    assert(rows(Similarity.pcaServeTopK(jl, jlIdx, vdf, qdf, 10, 4)) ===
      rows(Similarity.jlRerankTopK(vdf, qdf, 10, 32, 8, 4)))

    val preIdx = Similarity.prefixAssign(vdf, 8)
    assert(rows(Similarity.prefixServeTopK(preIdx, vdf, qdf, 10, 8, 4)) ===
      rows(Similarity.prefixRerankTopK(vdf, qdf, 10, 8, 4)))

    val f16Idx = Similarity.f16Assign(vdf)
    assert(rows(Similarity.f16ServeTopK(f16Idx, vdf, qdf, 10, 4)) ===
      rows(Similarity.rerankedTopK(vdf, qdf, 10, 4)))
  }

  test("videoTemporalStats: cut/static verdicts == scalar recomputation; a constant-frame video is static") {
    import graft.ops.Multimodal
    // scalar recomputation over the real container for a few ids
    for (id <- Seq(0L, 4L, 8L)) {
      val frames = Multimodal.sampleFrames(Multimodal.makeVideo(id), stride = 1)
      var cuts = 0L; var static = true
      for (i <- 1 until frames.size) {
        val (_, w0, h0, sg0) = frames(i - 1)
        val (_, w1, h1, sg1) = frames(i)
        val diff = math.abs(sg1 * (w0.toLong * h0) - sg0 * (w1.toLong * h1))
        if (diff != 0L) static = false
        if (diff >= 8L * w0 * h0 * w1 * h1) cuts += 1
      }
      assert(frames.size === Multimodal.videoFrames(id))
      // engine path agrees (single-row frame)
      val spark2 = spark
      import spark2.implicits._
      val got = Multimodal.videoTemporalStats(
          Seq((id, Multimodal.makeVideo(id))).toDF("media_id", "payload"))
        .head()
      assert(got.getInt(1) === frames.size)
      assert(got.getLong(2) === cuts)
      assert(got.getBoolean(3) === static)
    }
    // hand-built container repeating ONE frame → zero cuts, static
    val png = Multimodal.makePng(7L)
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(0x47465631); out.writeInt(3)
    for (_ <- 0 until 3) { out.writeInt(png.length); out.write(png) }
    val spark2 = spark
    import spark2.implicits._
    val st = Multimodal.videoTemporalStats(
        Seq((7L, bos.toByteArray)).toDF("media_id", "payload"))
      .head()
    assert(st.getLong(2) === 0L && st.getBoolean(3))
  }

  test("imageQualityStats: real-PNG decode counters == closed-form recomputation; flat image flags") {
    import graft.ops.Multimodal
    for (id <- Seq(0L, 5L, 11L)) {
      val (w, h, sg, sg2, mn, mx) = Multimodal.decodePngQuality(Multimodal.makePng(id))
      assert(w === Multimodal.imgW(id) && h === Multimodal.imgH(id))
      val px = for (y <- 0 until h; x <- 0 until w) yield Multimodal.pixel(id, x, y)
      assert(sg === px.map(_.toLong).sum)
      assert(sg2 === px.map(g => g.toLong * g).sum)
      assert(mn === px.min && mx === px.max)
    }
    // a constant raster is flagged flat (and dark at g = 3): encode one
    // by hand through the same PNG path
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (y <- 0 until 8; x <- 0 until 8) img.getRaster.setSample(x, y, 0, 3)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val (w, h, sg, sg2, _, _) = Multimodal.decodePngQuality(bos.toByteArray)
    val n = w.toLong * h
    assert(n * sg2 - sg * sg === 0L) // is_flat
    assert(sg < 32L * n)             // is_dark
  }

  test("audioQualityStats: real-WAV decode counters == closed-form recomputation, all-integer") {
    import graft.ops.Multimodal
    for (id <- Seq(0L, 3L, 7L, 97L)) {
      val wav = Multimodal.makeWav(id)
      val (n, silent, clipped, energy, peak) =
        Multimodal.decodeWavQuality(wav, silenceThresh = 256, clipThresh = 2040)
      val want = (0 until Multimodal.audioN(id)).map(i => Multimodal.sample(id, i))
      assert(n === want.size.toLong)
      assert(silent === want.count(s => math.abs(s) < 256).toLong)
      assert(clipped === want.count(s => math.abs(s) >= 2040).toLong)
      assert(energy === want.map(s => s.toLong * s).sum)
      assert(peak === want.map(math.abs).max)
    }
    // the fixture actually exercises both rules (non-degenerate fractions)
    val (n0, s0, c0, _, _) = Multimodal.decodeWavQuality(
      Multimodal.makeWav(0L), 256, 2040)
    assert(s0 > 0 && s0 < n0 && c0 > 0 && c0 < n0)
  }

  test("sourceOverlap: hand-computed Jaccard/containment matrix; zero-overlap pair present; repartition-invariant") {
    val spark2 = spark
    import spark2.implicits._
    // 3-gram sets by construction:
    //   A: {a b c, b c d} (2)   B: {a b c, b c e} (2, shares 1 with A)
    //   C: {x y z} (1, disjoint from both)
    val docs = Seq(
      (1L, "A", "a b c d"),
      (2L, "B", "a b c"), (3L, "B", "b c e"),
      (4L, "C", "x y z")).toDF("doc_id", "source", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.ops.Dedup.sourceOverlap(d, n = 3)
        .orderBy("src_a", "src_b").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    val got = run(docs)
    def e6(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong
    val want = Seq(
      // A-B: inter 1, union 3, contain_a 1/2, contain_b 1/2
      ("A", "B", 2L, 2L, 1L, e6(1.0 / 3), e6(0.5), e6(0.5)),
      // zero-overlap pairs still emit a row (the full matrix)
      ("A", "C", 2L, 1L, 0L, 0L, 0L, 0L),
      ("B", "C", 2L, 1L, 0L, 0L, 0L, 0L))
    assert(got.toSeq === want)
    assert(run(docs.repartition(5)).toSeq === want)
  }

  test("SQ4 nibble packing: grid round-trip exact; odd dims; zero vector; error ≤ scale/2; ⌈d/2⌉ bytes") {
    val spark2 = spark
    import spark2.implicits._
    import graft.functions.{quantizeInt4, dequantizeInt4}
    def roundtrip(vs: Seq[(Long, Array[Float])]) =
      vs.toDF("id", "v")
        .select(col("id"), col("v"), quantizeInt4(col("v")).as("q"))
        .select(col("id"), col("v"), col("q.scale").as("scale"),
          size(col("q.codes")).as("nb"),
          dequantizeInt4(col("q.codes"), col("q.scale"), col("q.n")).as("r"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2),
          r.getInt(3), r.getSeq[Float](4).toArray))

    // integer grid with max|x| = 7 → scale = 1.0 → lossless round-trip,
    // including an ODD dimension count (pad nibble exercised)
    val grid = Seq(
      0L -> Array(7f, -7f, 0f, 3f, -5f),           // d=5 (odd)
      1L -> Array(1f, 2f, 3f, 4f, 5f, 6f, 7f, -1f) // d=8 (even)
    )
    roundtrip(grid).foreach { case (_, x, scale, nb, r) =>
      assert(scale == 1.0)
      assert(nb == (x.length + 1) / 2)
      assert(r.toSeq == x.toSeq, s"grid round-trip not exact: ${r.toSeq} vs ${x.toSeq}")
    }
    // all-zero vector: scale 0, decodes to zeros (no division blowup)
    val zero = roundtrip(Seq(2L -> Array(0f, 0f, 0f)))
    assert(zero.head._3 == 0.0 && zero.head._5.toSeq == Seq(0f, 0f, 0f))
    // random vectors: reconstruction error bounded by half the step size
    // (+ one float rounding), the defining property of the 15-level grid
    val rand = Oracle.genVectors(50, 33).zipWithIndex // odd d again
      .map { case (v, i) => (i.toLong, v) }.toSeq
    roundtrip(rand).foreach { case (_, x, scale, nb, r) =>
      assert(nb == 17)
      val maxErr = x.zip(r).map { case (a, b) => math.abs(a.toDouble - b.toDouble) }.max
      assert(maxErr <= scale / 2 + 1e-6, s"err $maxErr > scale/2 = ${scale / 2}")
    }
  }

  test("ivfSq8TopK: lossless on the int8 grid (≡ ivfTopK bit-exact); high recall + bounded score drift on random vectors") {
    val spark2 = spark
    import spark2.implicits._
    // (a) integer-grid corpus with max|x| = 127 exactly → scale = 1.0,
    // codes = the integers themselves, decode bit-exact → the SQ8 index
    // must reproduce the fp32 IVF index to the last bit (assignment,
    // probes, scores, tie-breaks)
    val grid = (0 until 200).map { i =>
      val v = Array.tabulate(16)(j => (((i * 31 + j * 17) % 255) - 127).toFloat)
      v(0) = if (i % 2 == 0) 127f else -127f
      (i.toLong, v)
    }
    val gdf = grid.toDF("id", "vec")
    val gq = grid.take(6).map { case (i, v) => (i, v) }.toDF("qid", "qv")
    val sq8 = Similarity.ivfSq8TopK(gdf, gq, k = 5, centroidModulo = 20, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val raw = Similarity.ivfTopK(gdf, gq, k = 5, centroidModulo = 20, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(sq8 == raw)

    // (b) random fp32 corpus: same raw-assignment inverted lists, so the
    // candidate sets match; quantization only perturbs scores — recall
    // vs the fp32 IVF ranking stays high and common-label score drift is
    // bounded by the SQ8 step size
    val vecs = Oracle.genVectors(300, 32)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(5, 32, seed = 7L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val s8 = Similarity.ivfSq8TopK(vdf, qdf, k = 10, centroidModulo = 30, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val r32 = Similarity.ivfTopK(vdf, qdf, k = 10, centroidModulo = 30, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val overlap = s8.keySet.intersect(r32.keySet)
    assert(overlap.size >= 40, s"recall@10 too low: ${overlap.size}/50")
    // per-element decode error ≤ scale/2 + float rounding; at d=32,
    // |x| ≤ 1 (scale ≤ 1/127) the squared-distance drift stays well
    // under 0.2 — generous 4× headroom on the analytic bound
    overlap.foreach { key =>
      assert(math.abs(s8(key) - r32(key)) <= 0.2,
        s"score drift at $key: ${s8(key)} vs ${r32(key)}")
    }
  }

  test("q_kendall_tau == O(n²) brute force over every pair on the sf0.001 corpus") {
    val r = SparkEntry.queries("q_kendall_tau")(spark, "/root/testdata/sf0.001").head
    val data = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_quantity", "l_discount").collect()
      .map(x => (x.getDouble(0), x.getDouble(1)))
    val n = data.length
    var c = 0L; var d = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val dx = java.lang.Double.compare(data(i)._1, data(j)._1)
        val dy = java.lang.Double.compare(data(i)._2, data(j)._2)
        if (dx != 0 && dy != 0) { if (dx == dy) c += 1 else d += 1 }
        j += 1
      }
      i += 1
    }
    val tx = data.groupBy(_._1).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    val ty = data.groupBy(_._2).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    val n0 = n.toLong * (n - 1) / 2
    assert(r.getLong(0) === n.toLong)
    assert(r.getLong(1) === c)
    assert(r.getLong(2) === d)
    // r16 float-free definition: s = isqrt((n0−tx)(n0−ty)) exactly via
    // BigInteger.sqrt, tau_e6 = floordiv(2a + s, 2s) with a = (C−D)·1e6
    // — the identical pure-integer computation both engines run; ALSO
    // assert it matches the r15 IEEE double tree (the isqrt
    // approximation is provably inside the boundary gap at this scale)
    val dq = (java.math.BigInteger.valueOf(n0 - tx))
      .multiply(java.math.BigInteger.valueOf(n0 - ty))
    val s = dq.sqrt()
    val a = java.math.BigInteger.valueOf(c - d)
      .multiply(java.math.BigInteger.valueOf(1000000L))
    val num = a.shiftLeft(1).add(s)
    val den = s.shiftLeft(1)
    val Array(qDiv, rem) = num.divideAndRemainder(den)
    val tauE6 = (if (rem.signum < 0) qDiv.subtract(java.math.BigInteger.ONE)
                 else qDiv).longValueExact
    assert(r.getLong(3) === tauE6)
    val tauDouble = (c.toDouble - d.toDouble) /
      math.sqrt((n0.toDouble - tx.toDouble) * (n0.toDouble - ty.toDouble))
    assert(math.floor(tauDouble * 1e6 + 0.5).toLong === tauE6,
      "isqrt definition diverged from the IEEE tree — boundary gap violated")
    // sanity: quantity and discount are independent in TPC-H generators
    assert(math.abs(tauE6) < 50000L)
  }

  test("q_moment_stats: exact decimal power sums when |l_quantity| is too large for int64") {
    // x⁴ = 10²⁰ > 2⁶³: the footer bound must route the sums onto the
    // decimal path, which must take its powers in DECIMAL(38,0)
    val dir = java.nio.file.Files.createTempDirectory("graft_moments").toString
    val rows = Seq("A" -> 100000.0, "A" -> 1.0, "A" -> 100000.0, "A" -> 7.0, "A" -> 2.0,
      "N" -> 3.0, "N" -> 4.0, "N" -> 5.0)
    val schema = StructType(Seq(StructField("l_returnflag", StringType),
      StructField("l_quantity", DoubleType)))
    spark.createDataFrame(java.util.Arrays.asList(rows.map { case (f, q) => Row(f, q) }: _*),
        schema).coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    assert(Tables.columnAbsMax(dir, "lineitem", "l_quantity") === Some(100000.0))
    val got = SparkEntry.queries("q_moment_stats")(spark, dir).collect()
      .map(r => r.getString(0) -> (1 to 5).map(r.getLong)).toMap
    // the query's double expression over the exact sums, op for op
    def e6(v: Double): Long =
      if (v.isNaN) Long.MinValue + 1 else math.floor(v * 1e6 + 0.5).toLong
    val want = rows.groupBy(_._1).map { case (f, g) =>
      val xs = g.map(t => BigInt(t._2.toLong))
      val n = xs.size.toDouble
      val Seq(s1, s2, s3, s4) = (1 to 4).map(k => xs.map(_.pow(k)).sum.toDouble)
      val mean = s1 / n
      val m2 = s2 / n - mean * mean
      val m3 = s3 / n - 3.0 * mean * (s2 / n) + 2.0 * mean * mean * mean
      val m4 = s4 / n - 4.0 * mean * (s3 / n) +
        6.0 * mean * mean * (s2 / n) - 3.0 * mean * mean * mean * mean
      f -> Seq(xs.size.toLong, e6(mean), e6(m2), e6(m3 / math.sqrt(m2 * m2 * m2)),
        e6(m4 / (m2 * m2) - 3.0))
    }
    assert(got === want)
  }

  test("q_kendall_parts witnesses == the brute-force pair/tie counts") {
    val r = SparkEntry.queries("q_kendall_parts")(spark, "/root/testdata/sf0.001").head
    val data = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_quantity", "l_discount").collect()
      .map(x => (x.getDouble(0), x.getDouble(1)))
    val n = data.length
    var c = 0L; var d = 0L
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val dx = java.lang.Double.compare(data(i)._1, data(j)._1)
        val dy = java.lang.Double.compare(data(i)._2, data(j)._2)
        if (dx != 0 && dy != 0) { if (dx == dy) c += 1 else d += 1 }
        j += 1
      }
      i += 1
    }
    val tx = data.groupBy(_._1).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    val ty = data.groupBy(_._2).values.map(g => g.length.toLong * (g.length - 1) / 2).sum
    // r17: the witnesses are emitted as BIGINT (the DECIMAL output
    // type was the pinned driver-red mechanism)
    assert(r.getLong(0) === n.toLong)
    assert(r.getLong(1) === c)
    assert(r.getLong(2) === d)
    assert(r.getLong(3) === tx)
    assert(r.getLong(4) === ty)
    assert(r.getLong(5) === n.toLong * (n - 1) / 2)
  }

  test("HLL sketches: union of partials ≡ direct sketch; partition-invariant; ±5%") {
    // the property that makes sketch cardinality 100 TB-native: per-
    // partition/per-group sketches merge losslessly (registers are
    // max-combined), so the union estimate equals sketching everything
    // at once, independent of partitioning and order
    val df = spark.range(100000)
      .select((col("id") % 37777).as("u"), (col("id") % 5).cast("string").as("g"))
    val direct = df.agg(hll_sketch_estimate(hll_sketch_agg(col("u"))))
      .head.getLong(0)
    val merged = df.groupBy("g").agg(hll_sketch_agg(col("u")).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk")))).head.getLong(0)
    assert(merged === direct)
    val repart = df.repartition(17)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("u")))).head.getLong(0)
    assert(repart === direct)
    assert(math.abs(direct - 37777L).toDouble <= 0.05 * 37777, s"est $direct")
    // the gate query end-to-end: every envelope verdict true
    val rows = SparkEntry.queries("q_hll_sketch")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 5)
    assert(rows.forall(r => r.getBoolean(2) && r.getBoolean(4)))
  }

  test("ivfAssign (materialized index) + ivfServeTopK ≡ the one-shot family, every payload") {
    val spark2 = spark
    import spark2.implicits._
    // build/serve accounting split (r14): persisting the cid-assigned
    // corpus and probing it must change NOTHING about results — same
    // candidates, scores, tie-breaks — for fp32, SQ8, SQ4, and the
    // k-means-trained centroid table
    val vecs = Oracle.genVectors(300, 32)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(5, 32, seed = 7L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val cents = Similarity.ivfModuloCents(vdf, 30)
    val idxFp = Similarity.ivfAssign(vdf, cents)
    assert(rows(Similarity.ivfServeTopK(cents, idxFp, qdf, 10, 3)) ===
      rows(Similarity.ivfTopK(vdf, qdf, 10, 30, 3)))
    val idx8 = Similarity.ivfAssign(vdf, cents, "sq8")
    assert(rows(Similarity.ivfServeTopK(cents, idx8, qdf, 10, 3, "sq8")) ===
      rows(Similarity.ivfSq8TopK(vdf, qdf, 10, 30, 3)))
    val idx4 = Similarity.ivfAssign(vdf, cents, "sq4")
    assert(rows(Similarity.ivfServeTopK(cents, idx4, qdf, 10, 3, "sq4")) ===
      rows(Similarity.ivfSq4TopK(vdf, qdf, 10, 30, 3)))
    val km = Similarity.trainIvfKmeans(vdf, 10)
    val idxKm = Similarity.ivfAssign(vdf, km)
    assert(rows(Similarity.ivfServeTopK(km, idxKm, qdf, 10, 3)) ===
      rows(Similarity.ivfKmeansTopK(vdf, qdf, 10, km, 3)))
    intercept[IllegalArgumentException](Similarity.ivfAssign(vdf, cents, "pq"))
    intercept[IllegalArgumentException](
      Similarity.ivfServeTopK(cents, idxFp, qdf, 10, 3, "pq"))
  }

  test("ivfAssign incremental add: unioned batches ≡ from-scratch build, every payload") {
    val spark2 = spark
    import spark2.implicits._
    // FAISS add() on IVF: batches assign against the FROZEN centroid
    // table and union into the index — per-row assignment against fixed
    // centroids makes arrival order irrelevant
    val vecs = Oracle.genVectors(300, 32)
    val all = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq
    val vdf = all.toDF("id", "vec")
    val qdf = Oracle.genVectors(5, 32, seed = 7L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val cents = Similarity.ivfModuloCents(vdf, 30)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    for (payload <- Seq("fp32", "sq8", "sq4")) {
      val batchA = all.filter(_._1 % 3 != 2).toDF("id", "vec")
      val batchB = all.filter(_._1 % 3 === 2).toDF("id", "vec")
      val incremental = Similarity.ivfAssign(batchA, cents, payload)
        .unionByName(Similarity.ivfAssign(batchB, cents, payload))
      val scratch = Similarity.ivfAssign(vdf, cents, payload)
      assert(rows(Similarity.ivfServeTopK(cents, incremental, qdf, 10, 3, payload)) ===
        rows(Similarity.ivfServeTopK(cents, scratch, qdf, 10, 3, payload)), payload)
    }
  }

  test("ivfRadiusSearch probing ALL clusters ≡ exact radiusSearch; fewer probes → subset") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Oracle.genVectors(300, 16)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(4, 16, seed = 9L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val radius = 3.5
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e6))).toSet
    val exact = asSet(Similarity.radiusSearch(vdf, qdf, radius))
    // centroidModulo 30 → 10 clusters; probing all 10 removes pruning
    val all = asSet(Similarity.ivfRadiusSearch(vdf, qdf, radius,
      centroidModulo = 30, nProbe = 10))
    assert(all === exact)
    assert(exact.nonEmpty)
    // fewer probes can only DROP matches (never invent or rescore one)
    val some = asSet(Similarity.ivfRadiusSearch(vdf, qdf, radius,
      centroidModulo = 30, nProbe = 2))
    assert(some.subsetOf(exact))
  }

  test("ivfSq4TopK: lossless on the int4 grid (≡ ivfTopK bit-exact); decent recall on random vectors") {
    val spark2 = spark
    import spark2.implicits._
    // integer grid with max|x| = 7 → scale = 1.0, codes exact through the
    // nibble pack → the SQ4 index ≡ the fp32 IVF index to the last bit
    val grid = (0 until 200).map { i =>
      val v = Array.tabulate(15)(j => (((i * 13 + j * 5) % 15) - 7).toFloat) // d=15: odd, pad nibble
      v(0) = if (i % 2 == 0) 7f else -7f
      (i.toLong, v)
    }
    val gdf = grid.toDF("id", "vec")
    val gq = grid.take(6).toDF("qid", "qv")
    val sq4 = Similarity.ivfSq4TopK(gdf, gq, k = 5, centroidModulo = 20, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val raw = Similarity.ivfTopK(gdf, gq, k = 5, centroidModulo = 20, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(sq4 == raw)
    // random fp32: same inverted lists, coarser grid than SQ8 → recall
    // still well above half against the fp32 IVF ranking
    val vecs = Oracle.genVectors(300, 32)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(5, 32, seed = 7L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val s4 = Similarity.ivfSq4TopK(vdf, qdf, k = 10, centroidModulo = 30, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val r32 = Similarity.ivfTopK(vdf, qdf, k = 10, centroidModulo = 30, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(s4.intersect(r32).size >= 30, s"recall ${s4.intersect(r32).size}/50")
  }

  test("containmentPairs: quote-inclusion pair found at C=1.0 where Jaccard misses it; contained_id is the smaller set") {
    // doc 1 = doc 0 fully embedded in ~4× unrelated framing text: every
    // informative shingle of doc 0 appears in doc 1 → containment 1.0,
    // but Jaccard ≈ |A|/|B| ≈ 0.25 — below any useful dedup threshold
    val framing = "surrounding article text with framing paragraphs " +
      "introduction context analysis commentary opinions elaboration " +
      "citations footnotes references appendix supplementary material " +
      "closing remarks editorial notes further reading acknowledgements"
    val docs = docsDf(Seq(
      0L -> base,
      1L -> (framing + " " + base + " " + framing.split(" ").reverse.mkString(" ")),
      2L -> unrelated))
    val pairs = Dedup.containmentPairs(docs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getLong(4)))
    assert(pairs.length == 1)
    val (a, b, c, contained) = pairs.head
    assert((a, b) == (0L, 1L))
    assert(c == 1.0) // every doc-0 shingle present in doc 1 — exact
    assert(contained == 0L) // the embedded (smaller-set) doc is the droppable one
    // the same pair is invisible to symmetric Jaccard at the same threshold
    val jac = Dedup.ngramJaccardPairs(docs, 0.5).collect()
    assert(jac.isEmpty)
    // sanity: containment never exceeds 1 and respects the threshold filter
    val all = Dedup.containmentPairs(docs, 0.0).collect()
      .map(r => r.getDouble(3))
    assert(all.forall(v => v > 0.0 && v <= 1.0))
  }

  test("df-capped shingle joins: hot boilerplate shingles dropped before the pair join") {
    // 100 docs share 7 boilerplate 3-grams (df=100) plus one unique shingle
    // each; with the cap the quadratic boilerplate pair block vanishes and
    // only the genuine near-dup pair remains
    val boiler = (10 until 110).map(i =>
      i.toLong -> s"boiler plate common phrase shared by all docs number unique$i")
    val docs = docsDf(Seq(0L -> base, 1L -> nearDup) ++ boiler)
    val capped = Dedup.ngramJaccardPairs(docs, 0.5, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((0L, 1L)))
    // contrast: uncapped, the boilerplate block pairs up quadratically
    val uncapped = Dedup.ngramJaccardPairs(docs, 0.5, maxDf = 1000000L).count()
    assert(uncapped > 1000L)
    // contamination: train-side grams above the cap cannot contaminate,
    // distinctive overlap still detected
    val train = docsDf(Seq(0L -> base) ++ boiler)
    val evalDf = docsDf(Seq(500L -> base,
      501L -> "boiler plate common phrase shared by all docs number other"))
    val cont = Dedup.contamination(train, evalDf, n = 3, maxDf = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cont(0L) > 0L)
    assert(boiler.forall { case (i, _) => cont(i) == 0L })
  }

  test("df-cap blacklist: combiner groupBy + broadcast anti-join, no occurrence window, 1e5-doc hot shingle") {
    // one boilerplate shingle shared by 100k docs (df = 1e5, 100× the cap)
    // plus one unique shingle per doc — the shape that made the old
    // count(*) OVER (PARTITION BY s) formulation buffer 1e5 rows on one task
    val sh = spark.range(100000).select(
      col("id").as("doc_id"), lit(2).as("n_sh"),
      explode(array(lit("the same boilerplate"), concat(lit("unique"), col("id")))).as("s"))
    val dropped = Dedup.dropHotShingles(sh, maxDf = 1000)
    val plan = dropped.queryExecution.sparkPlan.toString
    assert(!plan.contains("Window"), s"df cap must not window over occurrences:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected broadcast anti-join:\n$plan")
    assert(dropped.count() === 100000L) // every doc keeps exactly its unique shingle
    val capped = Dedup.capShingleDf(sh, maxDf = 1000)
      .agg(count(lit(1)), sum(col("n_sh")), countDistinct(col("s"))).head()
    assert(capped.getLong(0) === 100000L) // rows: one kept shingle per doc
    assert(capped.getLong(1) === 100000L) // n_sh recomputed over kept universe: 1 per doc
    assert(capped.getLong(2) === 100000L) // all kept shingles distinct
  }

  test("gemmTopK guards the driver collect: auto-batching, empty batches, zero queries") {
    val spark2 = spark
    import spark2.implicits._
    val vdf = Oracle.genVectors(600, 12).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(10, 12, seed = 77L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val exact = Similarity.bruteForceTopK(vdf, qdf, 5, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 10 queries over a 3-query cap → transparently hash-batched
    val guarded = Similarity.gemmTopK(vdf, qdf, 5, maxQueries = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(guarded === exact)
    // qids covering only residue 0 of 4 → empty batches skipped, not fatal
    val sparse = qdf.filter(col("qid") % 4 === 0)
    val got = Similarity.batchedTopK(vdf, sparse, 5, batches = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Similarity.bruteForceTopK(vdf, sparse, 5, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    // zero queries → empty result in the canonical shape, no throw
    val none = Similarity.gemmTopK(vdf, qdf.filter(col("qid") < 0), 5)
    assert(none.columns.toSeq === Seq("qid", "rank", "label", "score"))
    assert(none.count() === 0L)
  }

  test("topCosinePairs: self-kNN reduction ≡ all-pairs reference, no nested-loop join") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Oracle.genVectors(400, 16)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    // directLimit = 0 forces the self-kNN scale path (400 vectors would
    // otherwise take the small-input direct-pairs shortcut)
    val got = Similarity.topCosinePairs(vdf, 25, directLimit = 0L)
    val gotRows = got.orderBy("rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // collect first so the adaptive plan is final, then assert shape
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), "all-pairs join crept back in")
    assert(!plan.contains("CartesianProduct"), "all-pairs join crept back in")
    // the small-input shortcut must produce the identical ranking
    val direct = Similarity.topCosinePairs(vdf, 25).orderBy("rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(direct.toSeq === gotRows.toSeq)
    // driver-side all-pairs reference (same fp64 index-order accumulation)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var t = 0
      while (t < a.length) {
        dot += a(t).toDouble * b(t).toDouble
        na += a(t).toDouble * a(t).toDouble; nb += b(t).toDouble * b(t).toDouble
        t += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (for { i <- vecs.indices; j <- vecs.indices if i < j }
      yield (i.toLong, j.toLong, cos(vecs(i), vecs(j))))
      .sortBy { case (i, j, c) => (-c, i, j) }.take(25)
    assert(gotRows.length === 25)
    gotRows.zip(want).zipWithIndex.foreach { case (((rn, i, j, c), (wi, wj, wc)), idx) =>
      assert(rn === idx + 1L)
      assert((i, j) === ((wi, wj)), s"rank ${idx + 1}")
      assert(math.abs(c - wc) < 1e-6) // output cos is round(·, 6)
    }
  }

  test("PQ: codes+ADC match a driver-side reference ranking; recall vs exact is sane") {
    val spark2 = spark
    import spark2.implicits._
    val d = 32; val m = 4; val ds = d / m; val modulo = 20
    val vecs = Oracle.genVectors(300, d)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qs = Oracle.genVectors(5, d, seed = 3L)
    val qdf = qs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    // driver-side PQ reference: same codebook rule (every modulo-th id),
    // per-subspace argmin with (dist, index) ties, ADC = Σ sub-distances
    val cents = vecs.indices.filter(_ % modulo == 0).map(vecs).toArray
    def subDist(a: Array[Float], b: Array[Float], j: Int): Double = {
      var acc = 0.0; var t = j * ds
      while (t < (j + 1) * ds) {
        val dd = a(t).toDouble - b(t).toDouble; acc += dd * dd; t += 1
      }
      acc
    }
    def adc(q: Array[Float], v: Array[Float]): Double =
      (0 until m).map { j =>
        val code = cents.indices.minBy(ci => (subDist(v, cents(ci), j), ci))
        subDist(q, cents(code), j)
      }.sum
    val want = qs.zipWithIndex.flatMap { case (q, qi) =>
      vecs.zipWithIndex
        .map { case (v, vi) => (math.rint(adc(q, v) * 1e6) / 1e6, vi.toLong) }
        .sorted.take(10).zipWithIndex
        .map { case ((s, label), r) => (qi.toLong, (r + 1).toLong, label, s) }
    }.toSet
    val got = Similarity.pqTopK(vdf, qdf, 10, centroidModulo = modulo, m = m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
    // PQ is approximate by construction — sanity-bound its recall@10
    val exact = Similarity.bruteForceTopK(vdf, qdf, 10, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pqPairs = got.map { case (qid, _, label, _) => (qid, label) }
    val recall = (exact & pqPairs).size.toDouble / exact.size
    assert(recall >= 0.2, s"recall=$recall") // coarse stand-in codebook; ADC still filters
  }

  test("CentroidResidual: subtracts the looked-up centroid; unknown cid throws") {
    val spark2 = spark
    import spark2.implicits._
    val cents = Seq(10L -> Array(1f, 2f, 3f), 20L -> Array(-1f, 0f, 5f))
    val df = Seq((Array(4f, 4f, 4f), 10L), (Array(4f, 4f, 4f), 20L))
      .toDF("vec", "cid")
    val got = df.select(graft.functions.centroidResidual(col("vec"), col("cid"), cents))
      .collect().map(_.getSeq[Float](0).toArray)
    assert(got(0).toSeq === Seq(3f, 2f, 1f))
    assert(got(1).toSeq === Seq(5f, 4f, -1f))
    val bad = Seq((Array(1f, 1f, 1f), 99L)).toDF("vec", "cid")
      .select(graft.functions.centroidResidual(col("vec"), col("cid"), cents))
    intercept[Exception] { bad.collect() }
  }

  test("residual IVFPQ (deterministic codebook): scores ≡ driver residual-ADC reference") {
    val spark2 = spark
    import spark2.implicits._
    val d = 32; val m = 4; val ds = d / m
    val ivfModulo = 40; val nProbe = 3; val pqModulo = 20
    val vecs = Oracle.genVectors(300, d)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qs = Oracle.genVectors(5, d, seed = 3L)
    val qdf = qs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    def dist2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var t = 0
      while (t < a.length) { val dd = a(t).toDouble - b(t).toDouble; acc += dd * dd; t += 1 }
      acc
    }
    // driver reference of every pipeline stage, same tie rules
    val coarseIds = vecs.indices.filter(_ % ivfModulo == 0).map(_.toLong)
    val coarse = coarseIds.map(i => i -> vecs(i.toInt))
    def nearestCid(v: Array[Float]): Long =
      coarse.minBy { case (cid, c) => (dist2(v, c), cid) }._1
    def residual(v: Array[Float], cid: Long): Array[Float] = {
      val c = vecs(cid.toInt)
      Array.tabulate(d)(j => v(j) - c(j))
    }
    val residCents = vecs.indices.filter(_ % pqModulo == 0)
      .map(i => residual(vecs(i), nearestCid(vecs(i)))).toArray
    def subDist(a: Array[Float], b: Array[Float], j: Int): Double = {
      var acc = 0.0; var t = j * ds
      while (t < (j + 1) * ds) {
        val dd = a(t).toDouble - b(t).toDouble; acc += dd * dd; t += 1
      }
      acc
    }
    def encode(r: Array[Float]): Array[Int] =
      Array.tabulate(m)(j =>
        residCents.indices.minBy(ci => (subDist(r, residCents(ci), j), ci)))
    def adcResid(qr: Array[Float], codes: Array[Int]): Double =
      (0 until m).map(j => subDist(qr, residCents(codes(j)), j)).sum
    val got = Similarity.ivfPqResidualTopK(vdf, qdf, 10, ivfModulo, nProbe, pqModulo, m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).distinct.length === 5)
    got.groupBy(_._1).foreach { case (_, rows) => assert(rows.length === 10) }
    got.foreach { case (qid, _, label, score) =>
      val q = qs(qid.toInt); val v = vecs(label.toInt)
      val cid = nearestCid(v)
      // the scored row must come from a probed cluster of this query
      val probed = coarse.map { case (c, cv) => (dist2(q, cv), c) }
        .sorted.take(nProbe).map(_._2).toSet
      assert(probed.contains(cid), s"label $label cluster $cid not probed for $qid")
      val want = math.rint(adcResid(residual(q, cid), encode(residual(v, cid))) * 1e6) / 1e6
      assert(score === want, s"ADC mismatch for ($qid,$label): $score vs $want")
    }
  }

  test("residual-IVFPQ + exact rerank: recall >= un-reranked; full expand covers exact") {
    val spark2 = spark
    import spark2.implicits._
    val d = 16
    val vecs = Oracle.genVectors(400, d)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = vecs.take(4).zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val exact = Similarity.bruteForceTopK(vdf, qdf, 10, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Int =
      (df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet & exact).size
    val resid = recall(Similarity.ivfPqResidualTopK(vdf, qdf, 10, 50, 4, 20, 4,
      trainedNcent = 32))
    val rr = recall(Similarity.ivfPqResidualRerankTopK(vdf, qdf, 10, 50, 4, 20, 4,
      trainedNcent = 32, expand = 5))
    assert(rr >= resid, s"rerank recall $rr must be >= un-reranked $resid")
    // degeneracy: probe every cluster and expand past the corpus size →
    // the shortlist IS the corpus, so the rerank equals exact kNN labels
    val full = Similarity.ivfPqResidualRerankTopK(vdf, qdf, 10, 50, 8, 20, 4,
        trainedNcent = 0, expand = 40)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(full === exact)
  }

  test("trained PQ codebooks beat the modulo stand-in on clustered data; clamp holds") {
    val spark2 = spark
    import spark2.implicits._
    val d = 16; val nCenters = 12
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(nCenters)(Array.fill(d)(rnd.nextFloat() * 4f - 2f))
    val vecs = (0 until 600).map { i =>
      val c = centers(i % nCenters)
      Array.tabulate(d)(j => c(j) + (rnd.nextFloat() - 0.5f) * 0.3f)
    }
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = vecs.take(6).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val exact = Similarity.bruteForceTopK(vdf, qdf, 10, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val pairs = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (exact & pairs).size.toDouble / exact.size
    }
    val rTrained = recall(Similarity.pqKmeansTopK(vdf, qdf, 10, ncent = 24, m = 4))
    val rModulo = recall(Similarity.pqTopK(vdf, qdf, 10, centroidModulo = 25, m = 4))
    assert(rTrained > rModulo,
      s"trained codebook recall $rTrained must beat modulo $rModulo on clustered data")
    // clamp: requesting more centroids than distinct subspace points must
    // not crash — codebook shrinks to the feasible count, codes stay valid
    val tiny = vecs.take(5).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val cb = Similarity.trainPqCodebook(tiny.select(col("vec").as("v")), 4, 64)
    assert(cb.nonEmpty && cb.length <= 64)
    assert(cb.forall(_.length == d))
  }

  test("binary hamming kNN: matches driver-side sign-bit reference; self-distance 0") {
    val spark2 = spark
    import spark2.implicits._
    val d = 70 // crosses the 63-bit word boundary → 2 packed words
    val vecs = Oracle.genVectors(200, d)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qs = vecs.take(4)
    val qdf = qs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    def pack(v: Array[Float]): Array[Long] = {
      val w = new Array[Long]((v.length + 62) / 63)
      v.indices.foreach(i => if (v(i) > 0f) w(i / 63) |= 1L << (i % 63))
      w
    }
    def ham(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => java.lang.Long.bitCount(x ^ y).toLong }.sum
    val want = qs.zipWithIndex.flatMap { case (q, qi) =>
      vecs.zipWithIndex.map { case (v, vi) => (ham(pack(q), pack(v)), vi.toLong) }
        .sorted.take(10).zipWithIndex
        .map { case ((hd, label), r) => (qi.toLong, (r + 1).toLong, label, hd.toDouble) }
    }.toSet
    val got = Similarity.hammingTopK(vdf, qdf, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got === want)
    // queries ARE corpus members → rank 1 is self at hamming 0
    val firsts = Similarity.hammingTopK(vdf, qdf, 1)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(firsts.forall { case (qid, label, s) => label == qid && s == 0.0 })
  }

  test("hamming rerank: whole-corpus shortlist ≡ exact kNN; self found at rank 1 when pruned") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Oracle.genVectors(200, 24)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = vecs.take(4).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("qid", "qv")
    // expand wide enough that the shortlist IS the corpus → the rerank
    // must reproduce exact brute-force top-k bit-for-bit
    val full = Similarity.hammingRerankTopK(vdf, qdf, 10, expand = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = Similarity.bruteForceTopK(vdf, qdf, 10, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full === exact)
    // pruned shortlist: the query is a corpus member, hamming 0 to itself
    // → always shortlisted → rank 1 at distance 0 after the exact rerank
    val pruned = Similarity.hammingRerankTopK(vdf, qdf, 5, expand = 4)
      .filter(col("rank") === 1).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(pruned.forall { case (qid, label, s) => label == qid && s == 0.0 })
  }

  test("MMR re-ranking: matches driver greedy reference; demotes near-duplicate candidates") {
    val spark2 = spark
    import spark2.implicits._
    val d = 16
    // two relevant clusters: ids 0-2 are near-copies of direction a
    // (highest relevance), id 3 is direction b (slightly less relevant but
    // far from a); the rest are orthogonal-to-q noise. Plain top-3 is the
    // a-clique; MMR must jump to b at rank 2.
    val rnd = new scala.util.Random(7)
    def vec(first: Float, second: Float, jitterDim: Int = -1, j: Float = 0f) = {
      val v = new Array[Float](d)
      v(0) = first; v(1) = second
      if (jitterDim >= 0) v(jitterDim) = j
      v
    }
    val vecs: Seq[Array[Float]] =
      (0 to 2).map(i => vec(1f, 0.25f, 3 + i, 1e-3f * (i + 1))) ++
        Seq(vec(0.2f, 1f)) ++
        (4 until 60).map { _ =>
          val v = Array.fill(d)(rnd.nextFloat() * 0.2f - 0.1f); v(0) = 0f; v(1) = 0f; v
        }
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Seq((0L, vec(1f, 1f))).toDF("qid", "qv")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dd = 0.0; var na = 0.0; var nb = 0.0
      for (t <- a.indices) {
        dd += a(t).toDouble * b(t).toDouble
        na += a(t).toDouble * a(t).toDouble; nb += b(t).toDouble * b(t).toDouble
      }
      math.rint(dd / (math.sqrt(na) * math.sqrt(nb)) * 1e6) / 1e6
    }
    val qv = vec(1f, 1f)
    // driver greedy reference with the same round6-inputs / exact-combined rule
    val rel = vecs.indices.map(i => i.toLong -> cos(qv, vecs(i))).toMap
    val cand = rel.toSeq.sortBy { case (i, r) => (-r, i) }.take(20)
    var sel = List(cand.head._1)
    var want = List((0L, 1L, cand.head._1, cand.head._2))
    for (rank <- 2 to 5) {
      val best = cand.filterNot(c => sel.contains(c._1)).map { case (i, r) =>
        val mx = sel.map(s => cos(vecs(i.toInt), vecs(s.toInt))).max
        (0.5 * r - 0.5 * mx, i)
      }.maxBy { case (s, i) => (s, -i) }
      sel = sel :+ best._2
      want = want :+ ((0L, rank.toLong, best._2, best._1))
    }
    val got = Similarity.mmrTopK(vdf, qdf, 5, candN = 20)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toList
    assert(got === want)
    // diversity: plain cosine top-3 is the a-clique {0,1,2}; MMR takes one
    // a-member then jumps to the b-direction (id 3) at rank 2
    val plain = Similarity.bruteForceTopK(vdf, qdf, 3, "cosine")
      .collect().map(_.getLong(2)).toSet
    assert(plain === Set(0L, 1L, 2L))
    assert(Set(0L, 1L, 2L).contains(got.head._3))
    assert(got(1)._3 === 3L, s"rank 2 should diversify to id 3, got ${got(1)._3}")
  }

  test("chunkDocs: overlapping windows match a driver reference; short/boundary docs") {
    val docs = docsDf(Seq(
      0L -> (1 to 10).map(i => s"t$i").mkString(" "), // 10 tokens, w=4 s=3
      1L -> "a b c",                                  // shorter than one window
      2L -> (1 to 7).map(i => s"u$i").mkString(" "),  // last chunk exactly at end
      3L -> ""))                                      // empty text → [""] → one chunk
    val got = TextAnalysis.chunkDocs(docs, window = 4, stride = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def ref(id: Long, toks: Seq[String], w: Int, s: Int) = {
      val starts = 0 to ((toks.length - 1) / s)
      starts.map(c => (id, c.toLong, (c * s).toLong,
        toks.slice(c * s, c * s + w).length.toLong))
    }
    val want = (ref(0L, (1 to 10).map(i => s"t$i"), 4, 3) ++
      ref(1L, Seq("a", "b", "c"), 4, 3) ++
      ref(2L, (1 to 7).map(i => s"u$i"), 4, 3) ++
      Seq((3L, 0L, 0L, 1L))).toSet // split("") = [""] → one 1-token chunk
    assert(got === want)
    // every token is covered: union of [start, start+n_tok) spans 0..n
    val cov = got.filter(_._1 == 0L).toSeq.sortBy(_._2)
    assert(cov.head._3 == 0L && cov.map(c => c._3 + c._4).max == 10L)
  }

  test("centroid/codebook collects are guarded: oversize table fails fast, not driver-OOM") {
    val spark2 = spark
    import spark2.implicits._
    val vdf = Oracle.genVectors(50, 8).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(2, 8, seed = 1L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    // modulo 1 selects EVERY vector as a centroid — at corpus scale that
    // collect would OOM the driver; the guard must throw instead (maxRows
    // here is the default 2^17, so use a tiny corpus with a tiny cap via
    // the message check: the require fires only above the cap, so assert
    // the happy path stays intact and the guard path throws on a
    // deliberately oversized synthetic)
    val ok = Similarity.ivfTopK(vdf, qdf, 3, centroidModulo = 10, nProbe = 2)
    assert(ok.count() > 0)
    val big = spark.range(140000).select(col("id"),
      array(lit(1.0f), lit(2.0f)).as("vec"))
    val q2 = Seq((0L, Array(1.0f, 2.0f))).toDF("qid", "qv")
    // r17: pqTopK's codebook is structurally capped at 256 entries (the
    // real PQ design), so modulo 1 on a 140k corpus no longer OOMs the
    // collect — assert the cap holds instead, and exercise the oversize
    // guard through the IVF centroid collect, which is deliberately
    // uncapped (nlist ∝ n is that family's documented convention)
    assert(Similarity.pqTopK(big, q2, 1, centroidModulo = 1, m = 1).count() === 1)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(big, q2, 1, centroidModulo = 1, nProbe = 1)
    }
    assert(e.getMessage.contains("IVF centroid table"))
  }

  test("IVFPQ: probing ALL clusters degenerates to plain PQ; pruning keeps probed-cluster hits only") {
    val spark2 = spark
    import spark2.implicits._
    val d = 32; val m = 4; val pqModulo = 20; val ivfModulo = 30
    val vecs = Oracle.genVectors(300, d)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(5, d, seed = 3L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val nClusters = vecs.indices.count(_ % ivfModulo == 0)
    // probe everything → the coarse stage prunes nothing → ranking must be
    // EXACTLY pqTopK's (same codes, same ADC, same rounded total order)
    val all = Similarity.ivfPqTopK(vdf, qdf, 10, ivfModulo, nProbe = nClusters, pqModulo, m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val pq = Similarity.pqTopK(vdf, qdf, 10, pqModulo, m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(all === pq)
    // pruned probe: every hit's ADC score must exist in the unpruned
    // ranking with the same value (pruning only removes candidates)
    val pruned = Similarity.ivfPqTopK(vdf, qdf, 10, ivfModulo, nProbe = 2, pqModulo, m)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    val pqScores = Similarity.pqTopK(vdf, qdf, 300, pqModulo, m)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))).toSet
    assert(pruned.subsetOf(pqScores))
  }

  test("batchedTopK: structured qids hash-distribute; oversize residues re-split") {
    val spark2 = spark
    import spark2.implicits._
    val vdf = Oracle.genVectors(300, 10).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    // qids ALL multiples of the batch count — under raw-qid batching every
    // query landed in residue 0 and one collect held the whole set
    val qdf = Oracle.genVectors(12, 10, seed = 5L).zipWithIndex
      .map { case (v, i) => (i.toLong * 4, v) }.toSeq.toDF("qid", "qv")
    val want = Similarity.bruteForceTopK(vdf, qdf, 5, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val hashed = Similarity.batchedTopK(vdf, qdf, 5, batches = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(hashed === want)
    // maxQueries = 2 with 12 queries over 2 batches: every residue class
    // exceeds the cap and must recursively split (to depth ~2-3), never
    // collect more than the cap per class until the depth guard
    val resplit = Similarity.batchedTopK(vdf, qdf, 5, batches = 2, maxQueries = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(resplit === want)
  }

  test("GEMM cosine path: zero-norm vector (NaN score) ranks always-worst, both paths agree") {
    val spark2 = spark
    import spark2.implicits._
    val base = Oracle.genVectors(50, 6)
    // vector 7 is all-zero: cosine = 0/0 = NaN; it must never displace a
    // finite score from a top-k buffer, and with k > finite candidates it
    // fills trailing ranks exactly like the declarative TopKAgg path
    val vecs = base.zipWithIndex.map { case (v, i) =>
      (i.toLong, if (i == 7) Array.fill(6)(0.0f) else v) }
    val vdf = vecs.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(3, 6, seed = 9L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        val s = r.getDouble(3)
        (r.getLong(0), r.getLong(1), r.getLong(2), if (s != s) "NaN" else f"$s%.9f")
      }.toSet
    val declarative = canon(Similarity.bruteForceTopK(vdf, qdf, 50, "cosine"))
    val gemm = canon(Similarity.gemmTopK(vdf, qdf, 50, metric = "cosine"))
    assert(gemm === declarative)
    // the NaN row is present but ranked last for every query
    val ranks = Similarity.gemmTopK(vdf, qdf, 50, metric = "cosine")
      .filter(col("label") === 7).select("rank").collect().map(_.getLong(0))
    assert(ranks.length === 3 && ranks.forall(_ === 50L))
  }

  test("topCosinePairs: ids beyond 2^31 survive both paths (no packed-pair aliasing)") {
    val spark2 = spark
    import spark2.implicits._
    // the old i·2³¹+j packed key silently aliased once j ≥ 2³¹; 100 TB doc
    // ids exceed that, so pairs must round-trip as plain (i, j) columns
    val off = (1L << 33) + 5L
    val vecs = Oracle.genVectors(60, 8)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (off + i.toLong, v) }
      .toSeq.toDF("id", "vec")
    val small = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toSeq.toDF("id", "vec")
    for (limit <- Seq(0L, 1000L)) { // kNN scale path and direct shortcut
      val big = Similarity.topCosinePairs(vdf, 10, directLimit = limit)
        .orderBy("rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      val ref = Similarity.topCosinePairs(small, 10, directLimit = limit)
        .orderBy("rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      // same ranking, ids shifted by the offset, scores identical
      assert(big.toSeq === ref.toSeq.map { case (rn, i, j, c) => (rn, i + off, j + off, c) },
        s"directLimit=$limit")
    }
  }

  test("topCosinePairs: zero-norm vectors (NaN cosine) never rank; paths agree") {
    val spark2 = spark
    import spark2.implicits._
    // a zero vector makes cosine NaN; Spark's total order sorts NaN ABOVE
    // every double, so an unfiltered desc orderBy would rank it first in
    // the direct path — while the kNN path's TopKBuffer ranks NaN worst
    val vecs = Oracle.genVectors(30, 8)
    val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) } :+
      (99L, Array.fill(8)(0f))
    val vdf = rows.toSeq.toDF("id", "vec")
    for (limit <- Seq(0L, 1000L)) { // kNN scale path and direct shortcut
      val got = Similarity.topCosinePairs(vdf, 10, directLimit = limit)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
      assert(got.length === 10, s"directLimit=$limit")
      assert(got.forall { case (i, j, c) => i != 99L && j != 99L && !c.isNaN },
        s"zero-norm vector leaked into top pairs (directLimit=$limit): ${got.toSeq}")
    }
    // both paths produce the identical ranking on this corpus
    val a = Similarity.topCosinePairs(vdf, 10, directLimit = 0L).orderBy("rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val b = Similarity.topCosinePairs(vdf, 10, directLimit = 1000L).orderBy("rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(a.toSeq === b.toSeq)
  }

  test("mmrTopK: candidate cutoff ranks the ROUNDED relevance (oracle order)") {
    val spark2 = spark
    import spark2.implicits._
    // two docs whose raw cosines differ by <1e-6 (equal after round6): the
    // higher RAW score sits on the LARGER id, so a raw-ranked candN=1
    // cutoff picks id 7 while the oracle's (round6 desc, id asc) picks 3
    val d = 8
    def unit(x: Double): Array[Float] = {
      val v = new Array[Float](d)
      v(0) = x.toFloat; v(1) = math.sqrt(1.0 - x * x).toFloat; v
    }
    val q = new Array[Float](d); q(0) = 1f
    val vdf = Seq(
      (3L, unit(0.80000004)), // raw lower of the tied pair, smaller id
      (7L, unit(0.80000040)), // raw higher, larger id
      (9L, unit(0.30000000))  // clearly below — must never be a candidate
    ).toDF("id", "vec")
    val qdf = Seq((0L, q)).toDF("qid", "qv")
    val got = Similarity.mmrTopK(vdf, qdf, k = 1, candN = 1)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq((1L, 3L)),
      s"candidate cutoff must rank rounded rel with id tie-break, got ${got.toSeq}")
  }

  test("mmrTopK: zero-norm (NaN-relevance) vectors are never selected") {
    val spark2 = spark
    import spark2.implicits._
    // with candN > corpus size the topK buffer never fills, so without the
    // NaN filter the zero-norm candidate survives to the greedy — whose
    // unconditional first pick would take it at rank 1 and NaN comparisons
    // would then freeze the selection
    val vdf = Seq(
      (1L, Array(0f, 0f)),  // zero norm → NaN cosine
      (2L, Array(1f, 0f)),
      (3L, Array(0f, 1f))
    ).toDF("id", "vec")
    val qdf = Seq((0L, Array(1f, 1f))).toDF("qid", "qv")
    val got = Similarity.mmrTopK(vdf, qdf, k = 3, candN = 20)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === 2, s"only the 2 finite candidates selectable: ${got.toSeq}")
    assert(got.map(_._2).toSet === Set(2L, 3L))
    assert(got.forall(r => !r._3.isNaN), s"no NaN scores: ${got.toSeq}")
  }

  test("GEMM cosine/ip epilogues ≡ expression-path brute force") {
    val spark2 = spark
    import spark2.implicits._
    val vdf = Oracle.genVectors(700, 20).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(5, 20, seed = 13L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    for (m <- Seq("cosine", "ip")) {
      val exact = Similarity.bruteForceTopK(vdf, qdf, 9, m)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e9))).toSet
      val gemm = Similarity.gemmTopK(vdf, qdf, 9, blockRows = 256, metric = m)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e9))).toSet
      assert(gemm === exact, s"metric $m")
    }
  }

  test("GEMM over f16/bf16 storage ≡ expression path over dequantized vectors") {
    val spark2 = spark
    import spark2.implicits._
    import graft.functions.{quantizeF16, quantizeBf16, dequantizeF16, dequantizeBf16}
    val vdf = Oracle.genVectors(500, 16).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(6, 16, seed = 3L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    for ((st, qz, dq) <- Seq(
        ("f16", quantizeF16 _, dequantizeF16 _),
        ("bf16", quantizeBf16 _, dequantizeBf16 _))) {
      val quantized = vdf.select(col("id"), qz(col("vec")).as("vec"))
      val decoded = quantized.select(col("id"), dq(col("vec")).as("vec"))
      val viaExpr = Similarity.bruteForceTopK(decoded, qdf, 8, "l2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e6))).toSet
      val viaGemm = Similarity.gemmTopK(quantized, qdf, 8, storage = st)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          math.round(r.getDouble(3) * 1e6))).toSet
      assert(viaGemm === viaExpr, s"storage $st")
    }
  }

  test("fingerprintPairs rejects hammingMax beyond the 3-band exact-recall bound") {
    val docs = docsDf(Seq(0L -> base, 1L -> nearDup))
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, hammingMax = 3)
    }
  }

  test("jaccard verification on candidate pairs matches hand computation") {
    val docs = docsDf(Seq(0L -> base, 1L -> nearDup, 2L -> unrelated))
    val pairs = docsDf(Seq.empty).sparkSession.createDataFrame(
      java.util.Arrays.asList(Row(0L, 1L)),
      StructType(Seq(StructField("doc_a", LongType), StructField("doc_b", LongType))))
    val got = Dedup.jaccardOnPairs(docs, pairs).collect().head
    // 14 tokens → 12 shingles each; the docs differ in the last token →
    // exactly one shingle set element differs on each side... compute directly:
    def sh(t: String) = t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (a, b) = (sh(base), sh(nearDup))
    val expected = a.intersect(b).size.toDouble / a.union(b).size
    assert(got.getAs[Double]("jaccard") === expected)
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val docs = docsDf(Seq(0L -> base, 1L -> nearDup, 2L -> unrelated))
    val h = Dedup.simhash16(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0L), h(1L)) < ham(h(0L), h(2L)))
    assert(ham(h(0L), h(1L)) <= 4)
  }

  test("fingerprint is invariant to token order and repetition") {
    val docs = docsDf(Seq(
      0L -> "alpha beta gamma",
      1L -> "gamma alpha beta alpha",
      2L -> "alpha beta delta"))
    val fps = docs.select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(0L) === fps(1L))
    assert(fps(0L) !== fps(2L))
  }

  test("langId picks the dictionary with most distinct hits; und on none") {
    val docs = docsDf(Seq(
      0L -> "the cat and the dog of a house",
      1L -> "der hund und die katze ist nicht da",
      2L -> "xyzzy plugh qwerty"))
    val got = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) === "en")
    assert(got(1L) === "de")
    assert(got(2L) === "und")
  }

  test("bpe-ish token count splits on punctuation boundaries") {
    val docs = docsDf(Seq(0L -> "hello, world! it's 42."))
    val n = docs.select(TextAnalysis.bpeishTokenCount(col("text"))).head().getInt(0)
    assert(n === 5) // hello, world, it, s, 42 — empties filtered
  }

  test("redactPii scrubs emails/IPs/phones, leaves ordinary prose and near-misses alone") {
    val docs = docsDf(Seq(
      0L -> "write to jane.doe+spam@sub.example.co.uk today",
      1L -> "server at 192.168.0.1 and 10.0.255.17 responded",
      2L -> "call +1 555-010-1234 or 044 123 456 78 now",
      3L -> "version 1.2 of lib-3.4 costs 12.50 at example.com shop", // near-misses
      4L -> "mixed: a@b.io, 8.8.8.8, +49 171-555-0000, done"))
    val got = docs.select(col("doc_id"), TextAnalysis.redactPii(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) === "write to <EMAIL> today")
    assert(got(1L) === "server at <IP> and <IP> responded")
    assert(got(2L) === "call <PHONE> or <PHONE> now")
    // bare domains, decimal versions, prices: untouched (precision over recall)
    assert(got(3L) === "version 1.2 of lib-3.4 costs 12.50 at example.com shop")
    assert(got(4L) === "mixed: <EMAIL>, <IP>, <PHONE>, done")
  }

  test("ivf recall ≥ 0.9 on clustered data vs brute force") {
    val rnd = new scala.util.Random(42)
    val d = 16
    val centers = Array.fill(5)(Array.fill(d)(rnd.nextFloat() * 10 - 5))
    // random cluster assignment (must not correlate with the centroid
    // modulo, or the deterministic centroid sample covers only a slice)
    val vecs = (0 until 500).map { i =>
      val c = centers(rnd.nextInt(5))
      (i.toLong, c.map(x => x + rnd.nextFloat() * 0.5f - 0.25f))
    }
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))
    val vdf = spark.createDataFrame(
      java.util.Arrays.asList(vecs.map { case (i, v) => Row(i, v) }: _*), schema)
    val qdf = vdf.filter(col("id") < 5)
      .select(col("id").as("qid"), col("vec").as("qv"))
    val exact = Similarity.bruteForceTopK(vdf, qdf, 10).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val approx = Similarity.ivfTopK(vdf, qdf, 10, centroidModulo = 20, nProbe = 10)
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recall = exact.keys.toSeq.map { q =>
      approx(q).intersect(exact(q)).size.toDouble / exact(q).size
    }.sum / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("brute-force cosine agrees with normalized dot product") {
    val vecs = Oracle.genVectors(100, 8)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))
    val vdf = spark.createDataFrame(
      java.util.Arrays.asList(vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }: _*),
      schema)
    val qdf = vdf.filter(col("id") === 0).select(col("id").as("qid"), col("vec").as("qv"))
    val got = Similarity.bruteForceTopK(vdf, qdf, 5, metric = "cosine").collect()
    assert(got.head.getLong(2) === 0L) // self is most cosine-similar
    assert(math.abs(got.head.getDouble(3) - 1.0) < 1e-9)
  }

  test("mllib LSH knn: per-query recall verdicts all pass and are deterministic") {
    // the query now emits the driver-checkable (qid, recall_ok) verdict
    // rows (recall_ok = LSH keeps ≥ 7 of the true top-10 for that query)
    val got = SparkEntry.queries("ann_lsh_mllib")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq.sorted
    assert(got.map(_._1) === (0L until 8L))
    assert(got.forall(_._2), s"per-query recall bound violated: $got")
    // determinism: same seed → same verdicts
    val again = SparkEntry.queries("ann_lsh_mllib")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq.sorted
    assert(again === got)
  }

  test("WordShingles ≡ transform/array_distinct composition on random docs") {
    val rnd = new scala.util.Random(11)
    val vocab = Array("a", "bb", "ccc", "dd", "e", "ff", "g")
    val docs = docsDf((0 until 60).map { i =>
      val n = rnd.nextInt(12) // includes 0,1,2-token edge cases
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    })
    val staged = docs.select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
    val both = staged.select(col("doc_id"),
      graft.functions.wordShingles(col("w"), 3).as("fast"),
      Dedup.shingles3OfTokens(col("w")).as("ref"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](1) === r.getSeq[String](2), s"doc ${r.getLong(0)}")
    }
  }

  test("source formats: documents via json and csv round-trip to identical query results") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    docs.write.mode("overwrite").json(s"$dir/json")
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    val viaJson = spark.read.json(s"$dir/json")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").collect()
    val direct = docs
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id").collect()
    assert(viaJson === direct)
    val viaCsv = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$dir/csv")
    assert(viaCsv.count() === docs.count())
    assert(viaCsv.agg(sum(col("n_chars"))).head.getLong(0) ===
      docs.agg(sum(col("n_chars"))).head.getLong(0))
  }

  test("asofJoin attaches most recent right row at-or-before, ties included") {
    import org.apache.spark.sql.types._
    val ls = StructType(Seq(StructField("k", LongType), StructField("lts", LongType),
      StructField("lid", LongType)))
    val rs = StructType(Seq(StructField("k", LongType), StructField("rts", LongType),
      StructField("price", DoubleType)))
    val left = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 10L, 100L), Row(1L, 20L, 101L), Row(1L, 5L, 102L), Row(2L, 10L, 103L)), ls)
    val right = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 10L, 1.5), Row(1L, 15L, 2.5), Row(2L, 99L, 9.9)), rs)
    val got = graft.ops.AsofJoin.asofJoin(left, right, "k", "lts", "rts", Seq("price"))
      .collect().map(r => r.getLong(2) -> Option(r.get(3))).toMap
    assert(got(100L) === Some(1.5)) // tie at ts=10 included
    assert(got(101L) === Some(2.5)) // latest ≤ 20
    assert(got(102L) === None)      // nothing at or before 5
    assert(got(103L) === None)      // key 2's right row is later
    // right rows tying on (key, ts): result must be deterministic across
    // runs (ordered by carried values as final tiebreak → max wins)
    val right2 = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 10L, 1.5), Row(1L, 10L, 7.5)), rs)
    val picks = (1 to 3).map { _ =>
      graft.ops.AsofJoin.asofJoin(left.filter(col("lid") === 100L), right2,
        "k", "lts", "rts", Seq("price")).collect().head.getDouble(3)
    }
    assert(picks.distinct.size === 1)
    assert(picks.head === 7.5)
  }

  test("asofJoinNearest picks the nearer direction; equidistant and same-ts ties go backward") {
    import org.apache.spark.sql.types._
    val ls = StructType(Seq(StructField("k", LongType), StructField("lts", LongType),
      StructField("lid", LongType)))
    val rs = StructType(Seq(StructField("k", LongType), StructField("rts", LongType),
      StructField("price", DoubleType)))
    val left = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 10L, 100L), // prev at 8 (d=2) beats next at 15 (d=5)
      Row(1L, 14L, 101L), // next at 15 (d=1) beats prev at 8 (d=6)
      Row(1L, 3L, 102L),  // nothing before → next at 8
      Row(2L, 50L, 103L), // nothing after → prev at 40
      Row(3L, 10L, 104L), // equidistant 5 vs 15 → backward (5)
      Row(4L, 10L, 105L), // same-ts right row → Δ=0 backward win
      Row(5L, 10L, 106L)  // no right rows at all → null
    ), ls)
    val right = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 8L, 1.0), Row(1L, 15L, 2.0), Row(2L, 40L, 3.0),
      Row(3L, 5L, 4.0), Row(3L, 15L, 5.0), Row(4L, 10L, 6.0), Row(4L, 30L, 7.0)), rs)
    val got = graft.ops.AsofJoin.asofJoinNearest(left, right, "k", "lts", "rts", Seq("price"))
      .collect().map(r => r.getLong(2) -> (Option(r.get(3)), Option(r.get(4)))).toMap
    assert(got(100L) === (Some(8L), Some(1.0)))
    assert(got(101L) === (Some(15L), Some(2.0)))
    assert(got(102L) === (Some(8L), Some(1.0)))
    assert(got(103L) === (Some(40L), Some(3.0)))
    assert(got(104L) === (Some(5L), Some(4.0)))   // equidistant → earlier
    assert(got(105L) === (Some(10L), Some(6.0)))  // Δ=0 backward
    assert(got(106L) === (None, None))
  }

  test("repetition: topNgram kernel ≡ scalar reference, ties lex-min, short docs zero, no shuffle") {
    // scalar reference over deterministic pseudo-random token streams
    val rng = new scala.util.Random(42)
    val docs = (0L until 40L).map { i =>
      val toks = (0 until 3 + rng.nextInt(60)).map(_ => s"w${rng.nextInt(6)}")
      (i, toks.mkString(" "))
    }
    def ref(text: String, n: Int): (String, Int) = {
      val w = text.split(" ", -1)
      if (w.length < n) ("", 0)
      else {
        val counts = w.sliding(n).map(_.mkString(" ")).toSeq
          .groupBy(identity).map { case (g, o) => (g, o.size) }
        val best = counts.toSeq.minBy { case (g, c) => (-c, g) }
        best
      }
    }
    val got = graft.ops.TextAnalysis.repetition(docsDf(docs), Seq(2, 3))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getString(3), r.getDouble(4))).toMap
    docs.foreach { case (i, text) =>
      val (g2, c2) = ref(text, 2)
      val (g3, c3) = ref(text, 3)
      val (gotG2, gotF2, gotG3, gotF3) = got(i)
      assert(gotG2 === g2, s"doc $i 2-gram")
      assert(gotG3 === g3, s"doc $i 3-gram")
      def frac(c: Int, g: String) =
        if (c == 0) 0.0
        else BigDecimal(c.toDouble * g.length / text.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(gotF2 - frac(c2, g2)) < 1e-9, s"doc $i 2-frac")
      assert(math.abs(gotF3 - frac(c3, g3)) < 1e-9, s"doc $i 3-frac")
    }
    // tie order: "b a b a" has 2-grams {b a: 2? no — b a, a b, b a} → b a
    // wins by count; "a b a b" → a b (count 2) over b a (count 1)
    val tie = graft.ops.TextAnalysis.repetition(
      docsDf(Seq((0L, "a b a b"), (1L, "c c c c"), (2L, "x"))), Seq(2))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(tie(0L)._1 === "a b") // count 2 beats "b a" count 1
    // 3 (overlapping) occurrences × 3 chars / 7 chars — the standard
    // count×len formula deliberately counts overlaps, so a pathological
    // single-token loop scores > 1 (maximally repetitive)
    assert(tie(1L) === (("c c", 1.285714)))
    assert(tie(2L) === (("", 0.0))) // below n tokens
    // per-doc metric must stay narrow: no exchange anywhere in the plan
    val plan = graft.ops.TextAnalysis.repetition(docsDf(docs))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"repetition must not shuffle:\n$plan")
  }

  test("BPE: trained merges match hand-computed table; apply is exact") {
    // low:4, lower:1, lowest:1 — Sennrich's canonical example family.
    // Pair counts r1: (l,o)=6 (o,w)=6 (w,e)=2 rest 1 → tie to lex-least
    // (l,o); r2: (lo,w)=6; r3: (low,e)=2; r4: all pairs count 1 → stop.
    val docs = docsDf(Seq(
      (0L, "low low low lower"),
      (1L, "lowest low!")))
    val merges = TextAnalysis.trainBpe(docs, numMerges = 100)
    assert(merges === Seq(("l", "o"), ("lo", "w"), ("low", "e")))
    // training is a pure function of the histogram: partitioning-invariant
    assert(TextAnalysis.trainBpe(docs.repartition(7), numMerges = 100) === merges)
    // apply: pre-token boundaries hold, merges apply in training order
    val enc = docsDf(Seq((0L, "low lower lowest loow")))
      .select(graft.functions.bpeEncode(col("text"), merges))
      .head.getAs[scala.collection.Seq[String]](0)
    assert(enc === Seq("low", "lowe", "r", "lowe", "s", "t", "lo", "o", "w"))
    // overlap rule: "aaa" under (a,a) merges left-to-right → [aa, a]
    val m2 = TextAnalysis.trainBpe(docsDf(Seq((0L, "aaa aaa"))), 100)
    assert(m2 === Seq(("a", "a"), ("aa", "a")))
    val enc2 = docsDf(Seq((0L, "aaaa")))
      .select(graft.functions.bpeEncode(col("text"), m2))
      .head.getAs[scala.collection.Seq[String]](0)
    assert(enc2 === Seq("aa", "aa"))
  }

  test("BPE roundtrip + bounds + compression on the real corpus") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val merges = TextAnalysis.trainBpe(docs, numMerges = 80)
    assert(merges.nonEmpty)
    val rows = docs.select(col("doc_id"),
        graft.functions.bpeEncode(col("text"), merges).as("t"),
        TextAnalysis.pretokens(col("text")).as("p"))
      .select(
        (concat_ws("", col("t")) === concat_ws("", col("p"))).as("rt"),
        size(col("t")).cast(LongType).as("nb"),
        size(col("p")).cast(LongType).as("np"),
        length(concat_ws("", col("p"))).cast(LongType).as("nc"))
      .collect()
    assert(rows.forall(_.getBoolean(0)), "roundtrip must be exact on every doc")
    assert(rows.forall(r => r.getLong(1) >= r.getLong(2) && r.getLong(1) <= r.getLong(3)))
    // trained merges actually compress the corpus (strictly fewer tokens
    // than characters in total)
    assert(rows.map(_.getLong(1)).sum < rows.map(_.getLong(3)).sum)
  }

  test("ivfFilteredTopK: k fills from survivors, filtered labels never appear, honest under-fill") {
    val spark2 = spark
    import spark2.implicits._
    val vecs = Oracle.genVectors(800, 12)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(6, 12, seed = 91L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val got = Similarity.ivfFilteredTopK(vdf, qdf, k = 10,
        centroidModulo = 40, nProbe = 3, pred = col("id") % 3 =!= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // no filtered-out label can surface, and k fills per query
    assert(got.forall { case (_, _, label) => label % 3 != 0 })
    assert(got.groupBy(_._1).values.forall(_.length == 10))
    // reference: same probe/assignment semantics with the filter applied
    // INSIDE, computed via the unfiltered path over a pre-filtered
    // candidate set per probe — equivalent because assignment of each
    // surviving vector is unchanged (centroids come from the full corpus)
    val probedAll = Similarity.ivfTopK(vdf, qdf, k = 800,
        centroidModulo = 40, nProbe = 3)
      .filter(col("label") % 3 =!= 0)
      .withColumn("rank2", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("score"), col("label"))))
      .filter(col("rank2") <= 10)
      .collect().map(r => (r.getLong(0), r.getInt(4).toLong, r.getLong(2))).toSet
    // (k=800 = corpus size → the unfiltered probe list is complete, so
    // post-filtering IT is exact here and must equal the in-scan filter)
    assert(got.map { case (q, r, l) => (q, r, l) }.toSet === probedAll)
    // a near-everything filter under-fills honestly instead of padding
    val sparse = Similarity.ivfFilteredTopK(vdf, qdf, k = 10,
        centroidModulo = 40, nProbe = 1, pred = col("id") % 97 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(sparse.forall(_._2 % 97 == 0))
    assert(sparse.groupBy(_._1).values.forall(_.size <= 10))
  }

  test("bloomPrunedJoin ≡ plain join; the filter prunes at the scan, long and string keys") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.BloomJoin
    // 100k fact rows, 500 dim keys covering 1% of the fact key space
    val big = spark.range(100000)
      .select((col("id") % 50000).as("k"), col("id").as("payload"))
    val small = spark.range(500).select((col("id") * 100).as("k"))
    val plain = big.join(small, "k")
    val pruned = BloomJoin.bloomPrunedJoin(big, small, "k")
    assert(pruned.count() === plain.count())
    assert(pruned.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(pruned).count() === 0L)
    // the membership test actually discards the non-matching bulk before
    // the join: survivors ≈ matches + fpp·misses, far below the full scan
    val bytes = BloomJoin.buildFilter(small, "k")
    val survivors = big.filter(graft.functions.bloomMightContain(col("k"), bytes)).count()
    val trueMatches = plain.count()
    assert(survivors < 100000 / 10,
      s"bloom must prune ~99% of the scan, kept $survivors")
    assert(survivors >= trueMatches, "bloom can never drop a true match")
    // string keys go through the same path
    val bigS = big.select(concat(lit("k"), col("k")).as("k"), col("payload"))
    val smallS = small.select(concat(lit("k"), col("k")).as("k"))
    val plainS = bigS.join(smallS, "k")
    val prunedS = BloomJoin.bloomPrunedJoin(bigS, smallS, "k")
    assert(prunedS.count() === plainS.count())
    assert(prunedS.exceptAll(plainS).count() === 0L)
  }

  test("asofJoinBucketed ≡ asofJoin (dual-plan, several widths, hot key)") {
    import org.apache.spark.sql.types._
    // hot-key fixture: key 1 carries nearly all rows (the skew the
    // bucketed variant exists for), key 2 checks cross-key isolation;
    // timestamps include negatives (floor-div bucketing, not truncation)
    val ls = StructType(Seq(StructField("k", LongType), StructField("lts", LongType),
      StructField("lid", LongType)))
    val rs = StructType(Seq(StructField("k", LongType), StructField("rts", LongType),
      StructField("price", DoubleType)))
    val lRows = (0 until 200).map(i => Row(1L, (i * 7L) - 350L, i.toLong)) ++
      Seq(Row(2L, 10L, 900L), Row(2L, -10L, 901L))
    val rRows = (0 until 60).map(i => Row(1L, (i * 23L) - 340L, i * 1.25)) ++
      Seq(Row(1L, 10L, 5.0), Row(1L, 10L, 6.0), Row(2L, 0L, 9.9))
    val left = spark.createDataFrame(java.util.Arrays.asList(lRows: _*), ls)
    val right = spark.createDataFrame(java.util.Arrays.asList(rRows: _*), rs)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("lid").collect().map(r =>
        (r.getLong(2), Option(r.get(3)))).toSeq
    val plain = canon(graft.ops.AsofJoin.asofJoin(
      left, right, "k", "lts", "rts", Seq("price")))
    // widths spanning sub-gap, mid, and everything-in-one-bucket
    for (w <- Seq(1L, 13L, 100L, 1000000L)) {
      val bucketed = canon(graft.ops.AsofJoin.asofJoinBucketed(
        left, right, "k", "lts", "rts", Seq("price"), bucketWidth = w))
      assert(bucketed === plain, s"bucketWidth=$w diverged from window plan")
    }
  }

  test("asofJoinNearestBucketed ≡ asofJoinNearest (dual-plan, several widths, hot key)") {
    import org.apache.spark.sql.types._
    val ls = StructType(Seq(StructField("k", LongType), StructField("lts", LongType),
      StructField("lid", LongType)))
    val rs = StructType(Seq(StructField("k", LongType), StructField("rts", LongType),
      StructField("price", DoubleType)))
    // key 1 is hot (200 left rows, 62 right incl. same-ts ties); key 2 has
    // only-before and only-after edges; negative timestamps exercise the
    // floor-toward-minus-infinity bucketing
    val lRows = (0 until 200).map(i => Row(1L, (i * 7L) - 350L, i.toLong)) ++
      Seq(Row(2L, 10L, 900L), Row(2L, -10L, 901L), Row(3L, 5L, 902L))
    val rRows = (0 until 60).map(i => Row(1L, (i * 23L) - 340L, i * 1.25)) ++
      Seq(Row(1L, 10L, 5.0), Row(1L, 10L, 6.0), Row(2L, 0L, 9.9))
    val left = spark.createDataFrame(java.util.Arrays.asList(lRows: _*), ls)
    val right = spark.createDataFrame(java.util.Arrays.asList(rRows: _*), rs)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("lid").collect().map(r =>
        (r.getLong(2), Option(r.get(3)), Option(r.get(4)))).toSeq
    val plain = canon(graft.ops.AsofJoin.asofJoinNearest(
      left, right, "k", "lts", "rts", Seq("price")))
    // key 3 has no right rows at all → nearest must be null
    assert(plain.find(_._1 == 902L).get._2 === None)
    for (w <- Seq(1L, 13L, 100L, 1000000L)) {
      val bucketed = canon(graft.ops.AsofJoin.asofJoinNearestBucketed(
        left, right, "k", "lts", "rts", Seq("price"), bucketWidth = w))
      assert(bucketed === plain, s"bucketWidth=$w diverged from window plan")
    }
  }

  test("bucketed as-of joins stay exact for |ts| above 2^53 (nanosecond epochs)") {
    import org.apache.spark.sql.types._
    // regression for the floorDiv double-division hazard: Spark's `/` on
    // longs rounds through double, and above 2^53 the quotient can land
    // one bucket off — here timestamps sit at a ns-epoch magnitude
    // (~1.7e18) where doubles step by 256, with rows straddling a bucket
    // boundary by ±1 ns so one mis-bucket flips the join result
    val base = 1700000000000000000L // > 2^60
    val w = 3600L * 1000000000L     // 1-hour-of-ns buckets
    val boundary = (base / w + 1L) * w
    val ls = StructType(Seq(StructField("k", LongType), StructField("lts", LongType),
      StructField("lid", LongType)))
    val rs = StructType(Seq(StructField("k", LongType), StructField("rts", LongType),
      StructField("price", DoubleType)))
    val lRows = Seq(
      Row(1L, boundary - 1L, 0L), Row(1L, boundary, 1L), Row(1L, boundary + 1L, 2L),
      Row(1L, boundary + w - 1L, 3L), Row(1L, boundary + w, 4L))
    val rRows = Seq(
      Row(1L, boundary - 2L, 10.0), Row(1L, boundary, 20.0),
      Row(1L, boundary + w, 30.0))
    val left = spark.createDataFrame(java.util.Arrays.asList(lRows: _*), ls)
    val right = spark.createDataFrame(java.util.Arrays.asList(rRows: _*), rs)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("lid").collect().map(r => (r.getLong(2), Option(r.get(3)))).toSeq
    val plain = canon(graft.ops.AsofJoin.asofJoin(
      left, right, "k", "lts", "rts", Seq("price")))
    assert(plain === Seq(0L -> Some(10.0), 1L -> Some(20.0), 2L -> Some(20.0),
      3L -> Some(20.0), 4L -> Some(30.0)))
    val bucketed = canon(graft.ops.AsofJoin.asofJoinBucketed(
      left, right, "k", "lts", "rts", Seq("price"), bucketWidth = w))
    assert(bucketed === plain, "bucketed diverged at ns-epoch magnitude")
    val nearest = canon(graft.ops.AsofJoin.asofJoinNearestBucketed(
        left, right, "k", "lts", "rts", Seq("price"), bucketWidth = w)
      .select(col("k"), col("lts"), col("lid"), col("asof_price")))
    val nearestPlain = canon(graft.ops.AsofJoin.asofJoinNearest(
        left, right, "k", "lts", "rts", Seq("price"))
      .select(col("k"), col("lts"), col("lid"), col("asof_price")))
    assert(nearest === nearestPlain, "nearest-bucketed diverged at ns-epoch magnitude")
  }

  test("multimodal: batched feature extraction preserves rows, bytes, determinism") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val media = Multimodal.mediaFromDocuments(docs)
    val f1 = Multimodal.extractFeatures(media, dim = 8, batchSize = 64)
      .orderBy("media_id").collect()
    assert(f1.length === docs.count())
    // n_bytes == utf-8 length of text
    val lens = docs.select(col("doc_id"), length(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    f1.take(20).foreach { r =>
      assert(r.getLong(1) >= lens(r.getLong(0))) // utf-8 bytes >= chars
      assert(r.getAs[scala.collection.Seq[Float]]("features").length === 8)
    }
    // deterministic across runs and batch sizes
    val f2 = Multimodal.extractFeatures(media, dim = 8, batchSize = 7)
      .orderBy("media_id").collect()
    assert(f1.map(_.getAs[scala.collection.Seq[Float]]("features")).toSeq ===
      f2.map(_.getAs[scala.collection.Seq[Float]]("features")).toSeq)
  }

  test("multimodal: PNG codec roundtrip is bit-exact against the generator formula") {
    for (id <- Seq(0L, 1L, 7L, 123456789L, 3000000042L)) {
      val (w, h, sum, tl) = Multimodal.decodeImageStats(Multimodal.makePng(id))
      assert(w === Multimodal.imgW(id) && h === Multimodal.imgH(id))
      var eSum = 0L; var eTl = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val g = Multimodal.pixel(id, x, y)
        eSum += g; if (x < w / 2 && y < h / 2) eTl += g
      }
      assert(sum === eSum, s"id=$id gray sum"); assert(tl === eTl, s"id=$id tl sum")
    }
  }

  test("multimodal: dHash matches the closed-form scalar reference; phashDedup groups duplicates, keep = min id") {
    val spark2 = spark
    import spark2.implicits._
    // scalar reference computed straight from the generator formula —
    // the same arithmetic the SQL oracle runs (no codec)
    def refPhash(p: Long, gw: Int = 9, gh: Int = 7): Long = {
      val (w, h) = (Multimodal.imgW(p), Multimodal.imgH(p))
      var bits = 0L
      for (gy <- 0 until gh; gx <- 0 until gw - 1) {
        val sy = gy * h / gh
        val a = Multimodal.pixel(p, gx * w / gw, sy)
        val b = Multimodal.pixel(p, (gx + 1) * w / gw, sy)
        if (b > a) bits |= 1L << (gy * (gw - 1) + gx)
      }
      bits
    }
    for (p <- Seq(0L, 1L, 7L, 42L, 96L, 123456789L)) {
      assert(Multimodal.phash(Multimodal.makePng(p)) === refPhash(p), s"pattern $p")
    }
    // dedup over a corpus with pattern = id % 3: three duplicate groups
    val ids = (0L until 12L).toDF("media_id")
    val out = Multimodal.phashDedup(Multimodal.dupImageMedia(ids, patMod = 3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length === 12)
    // identical patterns → identical hash, group size 4, keeper = min id
    val byHash = out.groupBy(_._2)
    assert(byHash.size === 3)
    byHash.values.foreach { g =>
      assert(g.length === 4 && g.forall(_._3 == 4L))
      val keepers = g.filter(_._4).map(_._1)
      assert(keepers.toSeq === Seq(g.map(_._1).min))
    }
  }

  test("multimodal: JPEG lossy roundtrip — exact dims, calibrated error envelope with headroom") {
    // measure the ACTUAL error envelope of the quality-0.95 writer over
    // the adversarial mod-wrap pattern, so the verdict bounds in
    // Multimodal are calibrated numbers with headroom, not guesses
    var worstMean = 0.0; var worstMax = 0
    for (id <- Seq(0L, 1L, 2L, 3L, 4L, 5L, 7L, 123456789L, 3000000042L)) {
      val jpeg = Multimodal.makeJpeg(id)
      // real JPEG container: SOI marker
      assert((jpeg(0) & 0xFF) === 0xFF && (jpeg(1) & 0xFF) === 0xD8)
      val (w, h, meanErr, maxErr) = Multimodal.jpegDecodeCompare(id, jpeg)
      assert(w === Multimodal.imgW(id) && h === Multimodal.imgH(id),
        s"id=$id dims survive lossy compression exactly")
      worstMean = math.max(worstMean, meanErr)
      worstMax = math.max(worstMax, maxErr)
    }
    // the committed bounds must hold with >= 25% headroom so codec-version
    // jitter can't silently flip the verdicts
    assert(worstMean <= Multimodal.JpegMeanAbsErrBound * 0.8,
      s"measured worst meanAbsErr $worstMean vs bound ${Multimodal.JpegMeanAbsErrBound}")
    assert(worstMax <= Multimodal.JpegMaxAbsErrBound * 0.8,
      s"measured worst maxAbsErr $worstMax vs bound ${Multimodal.JpegMaxAbsErrBound}")
    // and the decode is actually lossy-but-close: a broken decode path
    // (e.g. misread band order) would blow the mean far past 8 levels
    assert(worstMean > 0.0, "JPEG at q=0.95 on the wrap pattern is not lossless")
    // DataFrame pipeline: every verdict true over a real id set
    val ids = spark.range(0, 40).select(col("id").as("media_id"))
    val rows = Multimodal.jpegDecodeStats(Multimodal.jpegMedia(ids), batchSize = 16)
      .collect()
    assert(rows.length === 40)
    assert(rows.forall(r => r.getBoolean(3) && r.getBoolean(4)))
  }

  test("multimodal: WAV codec roundtrip recovers every PCM sample and the header rate") {
    for (id <- Seq(0L, 3L, 999L, 3000000042L)) {
      val (n, rate, sumAbs) = Multimodal.decodeWavStats(Multimodal.makeWav(id))
      assert(n === Multimodal.audioN(id).toLong)
      assert(rate === Multimodal.AudioRate.toInt)
      val expected = (0 until n.toInt).map(i => math.abs(Multimodal.sample(id, i)).toLong).sum
      assert(sumAbs === expected, s"id=$id")
    }
  }

  test("multimodal: frame sampling picks every stride-th frame, each decoded exactly") {
    for (id <- Seq(0L, 1L, 2L, 77L)) {
      val nf = Multimodal.videoFrames(id)
      val got = Multimodal.sampleFrames(Multimodal.makeVideo(id), stride = 2)
      assert(got.map(_._1) === (0 until nf).filter(_ % 2 == 0))
      got.foreach { case (f, w, h, sum) =>
        val fid = id * 1000 + f
        assert(w === Multimodal.imgW(fid) && h === Multimodal.imgH(fid))
        val eSum = (for (y <- 0 until h; x <- 0 until w)
          yield Multimodal.pixel(fid, x, y).toLong).sum
        assert(sum === eSum, s"id=$id f=$f")
      }
    }
  }

  test("multimodal: DataFrame codec pipeline carries real payloads and matches local decode") {
    import spark.implicits._
    val ids = spark.range(0, 50).select(col("id").as("media_id"))
    val media = Multimodal.imageMedia(ids)
    // the payload column holds genuine PNG containers (magic bytes)
    val sig = media.orderBy("media_id").limit(3).collect()
      .map(_.getAs[Array[Byte]]("payload").take(4).toSeq)
    assert(sig.forall(_ === Seq[Byte](0x89.toByte, 0x50, 0x4E, 0x47)))
    val rows = Multimodal.imageDecodeStats(media, batchSize = 16)
      .orderBy("media_id").collect()
    assert(rows.length === 50)
    rows.foreach { r =>
      val id = r.getLong(0)
      val (w, h, sum, tl) = Multimodal.decodeImageStats(Multimodal.makePng(id))
      assert(r.getInt(1) === w && r.getInt(2) === h)
      assert(r.getDouble(3) === sum.toDouble / (w.toLong * h))
      assert(r.getDouble(4) === tl.toDouble / ((w / 2).toLong * (h / 2)))
    }
    // audio path: header-driven format, exact mean
    val arow = Multimodal.audioDecodeStats(Multimodal.audioMedia(ids.limit(5)))
      .orderBy("media_id").collect()
    assert(arow.map(_.getLong(1)).toSeq === (0L until 5L).map(Multimodal.audioN(_).toLong))
    assert(arow.forall(_.getInt(2) === 8000))
  }

  test("WordShingles distinct=false keeps every positional occurrence in order") {
    import graft.functions.wordShingles
    val df = docsDf(Seq(0L -> "a b a b", 1L -> "x"))
      .select(col("doc_id"),
        wordShingles(Dedup.tokens(col("text")), 2, distinct = false).as("pos"),
        wordShingles(Dedup.tokens(col("text")), 2).as("dist"))
      .orderBy("doc_id").collect()
    assert(df(0).getSeq[String](1) === Seq("a b", "b a", "a b"))
    assert(df(0).getSeq[String](2) === Seq("a b", "b a"))
    assert(df(1).getSeq[String](1) === Seq.empty)
  }

  test("duplicatedSpans: positional counts, short docs, df threshold") {
    val docs = docsDf(Seq(
      0L -> "a b c d",         // spans: "a b c", "b c d"
      1L -> "x a b c",         // spans: "x a b", "a b c"
      2L -> "z z",             // < 3 tokens → 0 spans
      3L -> "a b c a b c a"))  // "a b c" twice positionally
    val got = Dedup.duplicatedSpans(docs, n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // only "a b c" appears in ≥ 2 distinct docs; dup_frac_e6 is the
    // pure-integer 6-dp witness, dup_frac the derived feature double
    assert(got.toSeq === Seq(
      (0L, 2L, 1L, 500000L, 0.5), (1L, 2L, 1L, 500000L, 0.5),
      (2L, 0L, 0L, 0L, 0.0), (3L, 5L, 2L, 400000L, 0.4)))
  }

  /** Scalar ExactSubstr oracle: all stride-1 L-char windows, corpus-wide
    * occurrence counts, duplicated positions merged into maximal spans
    * at gaps > L — the definitional computation substringSpans
    * distributes.
    */
  private def scalarSubstringSpans(ds: Seq[(Long, String)], L: Int)
      : Map[Long, (Long, Long, Long, Long)] = {
    val wins = for ((id, t) <- ds; p <- 0 to t.length - L)
      yield (id, p.toLong, t.substring(p, p + L))
    val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
    val byDoc = wins.filter(w => counts(w._3) >= 2).groupBy(_._1)
    ds.map { case (id, _) =>
      val ps = byDoc.getOrElse(id, Seq.empty).map(_._2).sorted
      if (ps.isEmpty) id -> ((0L, 0L, 0L, 0L))
      else {
        val spans = ps.tail.foldLeft(List(List(ps.head))) { (acc, p) =>
          if (p - acc.head.head > L) List(p) :: acc else (p :: acc.head) :: acc.tail
        }.map(_.reverse).reverse
        val lens = spans.map(s => s.last - s.head + L)
        id -> ((ps.size.toLong, spans.size.toLong, lens.sum, lens.max))
      }
    }.toMap
  }

  test("substringSpans == scalar ExactSubstr oracle: spans merge, gaps split, short docs zero") {
    val L = 5
    val hand = Seq(
      0L -> "abcdefghij",              // shared run with doc 1
      1L -> "XXabcdefghijYYYYYYYYYYqqabcde", // same run embedded + a 2nd dup span
      2L -> "abc",                     // shorter than L → zero counts
      3L -> "qqqqqqqqqq",              // self-repetition within ONE doc counts
      4L -> "zzzzz123456789zzzzz")     // two dup positions, gap > L → 2 spans... within-doc
    val got = Dedup.substringSpans(docsDf(hand), minLen = L)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val want = scalarSubstringSpans(hand, L)
    assert(got === want)
    assert(got(2L) === ((0L, 0L, 0L, 0L)), "short doc must surface with zeros")
    assert(got(3L)._2 === 1L, "self-repeat run merges into ONE maximal span")
    assert(got(4L)._2 === 2L, "gap > L splits into two spans")

    // randomized corpus over a tiny alphabet — dense cross-doc collisions
    val rnd = new scala.util.Random(41)
    val docs = (0L until 10L).map { id =>
      id -> (0 until 15 + rnd.nextInt(16)).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
    }
    val got2 = Dedup.substringSpans(docsDf(docs), minLen = L)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got2 === scalarSubstringSpans(docs, L))
  }

  test("hardNegatives: top cosine OUTSIDE the query's cluster, matches driver reference") {
    val spark2 = spark
    import spark2.implicits._
    val d = 16
    val vecs = Oracle.genVectors(300, d)
    val vdf = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qs = vecs.take(3)
    val qdf = qs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val modulo = 50
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.indices.map(j => { val x = a(j).toDouble - b(j).toDouble; x * x }).sum
    val cents = vecs.indices.filter(_ % modulo == 0).map(i => i.toLong -> vecs(i))
    def cid(v: Array[Float]): Long = cents.minBy { case (c, cv) => (d2(v, cv), c) }._1
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.map(j => a(j).toDouble * b(j).toDouble).sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val got = graft.ops.Similarity.hardNegatives(vdf, qdf, k = 5, centroidModulo = modulo)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    qs.zipWithIndex.foreach { case (q, qi) =>
      val qc = cid(q)
      val want = vecs.zipWithIndex
        .filter { case (v, _) => cid(v) != qc }
        .map { case (v, i) => (i.toLong, cos(v, q)) }
        .sortBy { case (i, s) => (-s, i) }.take(5)
      val mine = got.filter(_._1 == qi.toLong).sortBy(_._2)
      assert(mine.map(_._3).toSeq === want.map(_._1), s"labels for query $qi")
      // every mined negative must be from a different cluster than the query
      mine.foreach { case (_, _, label, _) => assert(cid(vecs(label.toInt)) != qc) }
    }
  }

  test("winnowedFingerprints matches the driver MOSS-selection reference") {
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ref(text: String): (Long, Long) = {
      val w = text.split(" ", -1)
      val grams = (0 to w.length - 5).map(i => w.slice(i, i + 5).mkString(" "))
      val comb = grams.zipWithIndex.map { case (g, i) =>
        md5hex(g).take(16) + "%010d".format(i + 1)
      }
      val nw = math.max(grams.length - 3, 0)
      val sel = (0 until nw).map(i => comb.slice(i, i + 4).min).distinct
      (nw.toLong, sel.length.toLong)
    }
    val docs = Seq(
      0L -> "a b c d e f g h i j k l",
      1L -> "a b c d e f g h i j k l", // identical doc → identical profile
      2L -> "one two three four",      // < n tokens → no grams, no windows
      3L -> "p q r s t u v w")         // exactly one window
    val got = Dedup.winnowedFingerprints(docsDf(docs), n = 5, window = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    docs.foreach { case (id, text) =>
      val (nw, nfp) = ref(text)
      val (gid, gnw, gnfp, gd) = got(id.toInt)
      assert(gid === id && gnw === nw && gnfp === nfp, s"doc $id")
      // pure-integer 6-dp half-up witness of nfp/nw
      val wantD = if (nw > 0) (2L * nfp * 1000000L + nw) / (2L * nw) else 0L
      assert(gd === wantD, s"density for doc $id")
    }
    assert(got(0)._2 === 5L && got(0)._3 === got(1)._3) // identical docs agree
    assert(got(2) === ((2L, 0L, 0L, 0L)))
    assert(got(3)._2 === 1L && got(3)._3 === 1L)
  }

  test("semanticDedup and hardNegatives: zero-norm vectors are inert (NaN-safe)") {
    val spark2 = spark
    import spark2.implicits._
    def v(x: Double, y: Double, z: Double) = Array(x.toFloat, y.toFloat, z.toFloat)
    // id 1 is all-zero: cosine to anything is NaN. Spark SQL's
    // NaN-total-order would rank NaN above any tau — the filtered
    // predicate must keep the zero vector AND every other member
    // (regression for the round-6 review finding).
    val rows = Seq(0L -> v(1, 0, 0), 1L -> v(0, 0, 0), 2L -> v(0.6, 0.8, 0),
      3L -> v(1, 0.01, 0))
    val sd = graft.ops.Similarity.semanticDedup(rows.toDF("id", "vec"),
        centroidModulo = 100, tau = 0.9)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getLong(3)))
    assert(sd.toSeq === Seq((0L, false, -1L), (1L, false, -1L),
      (2L, false, -1L), (3L, true, 0L)))
    // streaming path must agree byte-for-byte on the same corpus
    implicit val sqlCtx = spark.sqlContext
    val stream = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Array[Float])]
    val in = stream.toDF().select(col("_1").as("id"), col("_2").as("vec"))
    val cents = Seq(0L -> v(1, 0, 0))
    val flags = graft.streaming.StreamingOps.streamingSemanticDedup(in, cents, tau = 0.9)
    val q = flags.toDF().writeStream.format("memory").queryName("semnan")
      .outputMode("append").start()
    stream.addData(rows)
    q.processAllAvailable(); q.stop()
    val st = spark.table("semnan").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getBoolean(2), r.getLong(3)))
    assert(st.toSeq === sd.toSeq)
    // hardNegatives: the zero vector must never appear in results (its
    // cosine is NaN), and no returned score may be NaN
    val qdf = Seq(0L -> v(1, 0, 0)).toDF("qid", "qv")
    // ids 0,1,2,3 + 100 so modulo 100 yields two clusters
    val vdf = (rows :+ (100L -> v(0, 1, 0))).toDF("id", "vec")
    val hn = graft.ops.Similarity.hardNegatives(vdf, qdf, k = 10, centroidModulo = 100)
      .collect().map(r => (r.getLong(2), r.getDouble(3)))
    assert(hn.nonEmpty)
    assert(!hn.exists(_._1 == 1L), "zero-norm vector must not be mined")
    assert(hn.forall(p => !p._2.isNaN))
  }

  test("semanticDedup: drops only in-cluster near-dups, keeps earliest anchor") {
    val spark2 = spark
    import spark2.implicits._
    def v(x: Double, y: Double, z: Double) = Array(x.toFloat, y.toFloat, z.toFloat)
    // centroids = id % 40 == 0 → ids 0 and 40. Cross-cluster pair
    // (50, 51) has cosine ≈ 0.9987 but lands in different clusters and
    // must survive — SemDeDup's pair work is cluster-bounded by design.
    val rows = Seq(
      0L  -> v(1, 0, 0),      // centroid A (kept)
      1L  -> v(1, 0.01, 0),   // dup of 0
      2L  -> v(0.6, 0, 0.8),  // cluster A, cos 0.6 → kept
      3L  -> v(1, 0.011, 0),  // dup of BOTH 0 and 1 → anchor min(0,1) = 0
      40L -> v(0, 1, 0),      // centroid B (kept)
      41L -> v(0.01, 1, 0),   // dup of 40
      43L -> v(0, 0.6, -0.8), // cluster B, cos 0.6 → kept
      50L -> v(0.72, 0.69, 0), // cluster A ┐ cross-cluster near-identical
      51L -> v(0.69, 0.72, 0)) // cluster B ┘ pair — both kept
    val got = Similarity.semanticDedup(rows.toDF("id", "vec"),
        centroidModulo = 40, tau = 0.9)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (0L, 0L, false, -1L), (1L, 0L, true, 0L), (2L, 0L, false, -1L),
      (3L, 0L, true, 0L), (40L, 40L, false, -1L), (41L, 40L, true, 40L),
      (43L, 40L, false, -1L), (50L, 0L, false, -1L), (51L, 40L, false, -1L)))
  }

  test("maxSimTopK: per-token best match summed, ties to smaller label, zero-norm inert") {
    val spark2 = spark
    import spark2.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // doc 0: unit x + unit y; doc 1: unit x only (plus a zero vector
    // that must be ignored); tokens: x-axis and y-axis
    val docs = Seq(
      (0, v(1, 0)), (0, v(0, 1)),
      (1, v(1, 0)), (1, v(0, 0))).toDF("label", "vec")
    val toks = Seq((0L, v(1, 0)), (1L, v(0, 1))).toDF("tid", "qv")
    val got = Similarity.maxSimTopK(docs, toks, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // doc 0: max cos vs token x = 1, vs token y = 1 → 2.0
    // doc 1: token x → 1; token y has NO finite match except cos 0 from
    // the x vector (zero vector is NaN-filtered) → 1.0 + 0.0
    assert(got.toSeq === Seq((1L, 0, 2.0), (2L, 1, 1.0)))
    // tie: two docs with identical vector sets → smaller label first
    val tied = Seq((7, v(1, 0)), (3, v(1, 0))).toDF("label", "vec")
    val gotTie = Similarity.maxSimTopK(tied, toks.filter(col("tid") === 0L), 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(gotTie.toSeq === Seq((1L, 3), (2L, 7)))
  }

  test("prefixFilterPairs: exact ≡ all-pairs on a boilerplate-heavy corpus; tau boundary included") {
    // 100 boilerplate docs (pairwise near-dups — the quadratic-OUTPUT
    // case) + one genuine near-dup pair: the prefix filter must find
    // exactly what the uncapped all-pairs join finds
    val boiler = (10 until 110).map(i =>
      i.toLong -> s"boiler plate common phrase shared by all docs number unique$i")
    val docs = docsDf(Seq(0L -> base, 1L -> nearDup) ++ boiler)
    val got = Dedup.prefixFilterPairs(docs, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Dedup.ngramJaccardPairs(docs, 0.5, maxDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
    assert(got((0L, 1L, got.find(t => t._1 == 0L && t._2 == 1L).get._3)))
    assert(got.size > 1000) // the boilerplate block IS quadratic output
    // J exactly tau is included: sh(A)={abc,bcd,cde}, sh(B)={abc,bcd,cdx}
    // → 2/4 = 0.5
    val edge = Dedup.prefixFilterPairs(
        docsDf(Seq(0L -> "a b c d e", 1L -> "a b c d x")), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(edge.toSeq === Seq((0L, 1L, 0.5)))
    // a candidate that fails verification (shares a shingle, J = 1/5) is
    // rejected by the exact-Jaccard stage, not silently emitted
    assert(Dedup.prefixFilterPairs(
      docsDf(Seq(0L -> "a b c d e", 1L -> "a b c x y")), 0.5).count() === 0L)
  }

  test("sortedNeighborhoodPairs: window semantics — adjacent dups found, out-of-window dups missed") {
    // A/B: near-dups sharing their first 24 chars → adjacent in the
    // sort, must be found. C/Z: J = 5/7 ≥ 0.7 but their keys differ at
    // char 1 with 6 distractor keys between → Δrank > w, must be
    // MISSED (the defining SNM recall boundary).
    val docs = docsDf(Seq(
      0L -> "alpha beta gamma delta epsilon zeta eta theta",
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota",
      2L -> "m apple banana cherry date egg fig grape",
      9L -> "z apple banana cherry date egg fig grape") ++
      (3L to 8L).map(i => i -> s"n$i uniq$i only$i words$i here$i now$i go$i yes$i"))
    val got = Dedup.sortedNeighborhoodPairs(docs, w = 5, tau = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 1L)))

    // with a window wide enough to span the distractors, C/Z IS found —
    // and the result equals the brute-force within-window truth
    val wide = Dedup.sortedNeighborhoodPairs(docs, w = 10, tau = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide === Set((0L, 1L), (2L, 9L)))
  }

  test("prefixFilterPairs thresholds: fp64-safe for ALL tau (PPJoin correctness condition)") {
    // The operator's exactness rests on two ceil() thresholds never
    // exceeding the minimal overlap of any pair that passes the final
    // fp filter `jaccard >= tau`. Computed naively in fp64 that fails:
    // at tau = 9.0/11, na = 77, ceil(tau*77) = 64, yet a pair with
    // n_inter = 63 has fp jaccard 63.0/77.0 == tau and must be emitted.
    // The shipped thresholds subtract 1e-9 before ceil; this property
    // sweeps tau = p/q grids and sizes and asserts the condition holds.
    assert(math.ceil((9.0 / 11) * 77) == 64.0) // the naive form DOES overshoot
    for (tden <- 2 to 40; tnum <- 1 until tden; na <- Seq(5, 11, 63, 77, 143, 500)) {
      val tau = tnum.toDouble / tden
      val nb = na // worst case for the positional filter is symmetric
      // minimal o whose fp jaccard passes the final filter
      val oMin = (1 to na).find(o => o.toDouble / (na + nb - o) >= tau)
      oMin.foreach { o =>
        val prefixReq = math.ceil(tau * na - 1e-9) // shipped prefix threshold
        assert(prefixReq <= o,
          s"prefix threshold $prefixReq > minimal passing overlap $o at tau=$tnum/$tden na=$na")
        val posReq = math.ceil(tau / (1.0 + tau) * (na + nb) - 1e-9)
        assert(posReq <= o,
          s"positional threshold $posReq > minimal passing overlap $o at tau=$tnum/$tden na=$na")
      }
    }
  }

  test("incrementalMinhash: batch flagged vs store only, no old-text rescan shape, keep-best ties") {
    // store: doc 0 (base) + doc 1 (unrelated); batch: 10 = near-dup of 0,
    // 11 = fresh content, 12 = EXACT copy of base (jaccard 1.0 vs 0)
    val store = Dedup.minhashStore(docsDf(Seq(0L -> base, 1L -> unrelated)))
    val batch = docsDf(Seq(10L -> nearDup, 11L ->
      "entirely novel sentence with tokens appearing nowhere else in any stored document here",
      12L -> base))
    val got = Dedup.incrementalMinhash(batch, store)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.map(t => (t._1, t._2)).toSeq === Seq((10L, 0L), (12L, 0L)))
    assert(got(1)._3 === 1000000L) // exact copy
    assert(got(0)._3 > 800000L && got(0)._3 < 1000000L)
    // batch-internal near-dups (10 vs 12) must NOT be flagged here —
    // incremental dedup is vs the store; in-batch dedup is minhashDedup
    assert(!got.exists(t => t._2 >= 10L))
    // keep-best tie: two identical stored docs -> the smaller stored id
    val store2 = Dedup.minhashStore(docsDf(Seq(5L -> base, 3L -> base)))
    val best = Dedup.incrementalMinhash(docsDf(Seq(20L -> base)), store2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(best.toSeq === Seq((20L, 3L, 1000000L)))
  }

  test("PCA basis: orthonormal, descending spectrum, mass invariant, partition-invariant, kernel ≡ matvec") {
    val spark2 = spark
    import spark2.implicits._
    val vdf = Oracle.genVectors(400, 24).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val m = Similarity.trainPca(vdf, 6)
    val d = m.mean.length
    assert(d == 24 && m.components.length == 6)
    // rows are unit-norm and mutually orthogonal
    for (i <- m.components.indices; j <- i until m.components.length) {
      val dot = m.components(i).zip(m.components(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"gram($i,$j)=$dot")
    }
    // spectrum descending, non-negative, and the top-6 mass dominates
    // the uniform floor 6/24 of the trace (exact property of a correct
    // eigensolve + sort; fails on ascending order or a broken sweep)
    assert(m.explained.sameElements(m.explained.sortBy(-_)))
    assert(m.explained.forall(_ >= -1e-12))
    assert(m.explained.sum >= m.totalVar * 6.0 / 24.0 - 1e-9)
    assert(m.explained.sum <= m.totalVar + 1e-9)
    // the trained basis is a pure function of the vector SET
    val m7 = Similarity.trainPca(vdf.repartition(7), 6)
    assert(m.mean.sameElements(m7.mean))
    assert(m.components.zip(m7.components).forall { case (a, b) => a.sameElements(b) })
    // the compiled PcaProject kernel matches a driver-side matvec exactly
    val one = vdf.filter(col("id") === 123L)
    val proj = one.select(graft.functions.pcaProject(col("vec"), m.mean, m.components))
      .collect()(0).getSeq[Float](0)
    val raw = one.collect()(0).getSeq[Float](1)
    val want = m.components.map { row =>
      row.indices.map(t => row(t) * (raw(t).toDouble - m.mean(t))).sum.toFloat
    }
    assert(proj.toArray.sameElements(want))
  }

  test("PCA full-rank rerank ≡ exact brute force (orthonormal rotation is an isometry)") {
    val spark2 = spark
    import spark2.implicits._
    val vdf = Oracle.genVectors(300, 16).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("id", "vec")
    val qdf = Oracle.genVectors(5, 16, seed = 7L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toSeq.toDF("qid", "qv")
    val exact = Similarity.bruteForceTopK(vdf, qdf, 10, "l2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSet
    // dOut = d keeps the whole rotated space: coarse order ≈ exact order
    // (fp32 projection rounding only), and the full-precision rerank
    // restores exact scores — the composition must equal brute force
    val full = Similarity.pcaRerankTopK(vdf, qdf, 10, dOut = 16, expand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 1e6))).toSet
    assert(full == exact)
    // reduced-rank: verdict-style sanity — every query still finds at
    // least one true neighbor through a quarter-width coarse pass
    val reduced = Similarity.pcaRerankTopK(vdf, qdf, 10, dOut = 4, expand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exactPairs = exact.map(t => (t._1, t._3))
    val overlap = (0 until 5).map(q =>
      reduced.count(p => p._1 == q && exactPairs((p._1, p._2))))
    assert(overlap.forall(_ >= 1), s"per-query overlap: $overlap")
  }

  test("JL sparse sign projection: norm ratios concentrate near 1 (the lemma's distortion)") {
    // the q_jl_project construction: md5-derived {±1, 0} entries at
    // p = 43/256 each sign, scaled √(3/dOut · 256/258) so E[‖y‖²] =
    // ‖x‖² exactly; ratios should sit tightly around 1 for 64→16
    val dIn = 64; val dOut = 16
    val mat = Similarity.jlMatrix(dIn, dOut)
    // deterministic matrix sanity: roughly 1/6 of entries each sign
    val nz = mat.flatten.count(_ != 0.0)
    assert(nz > dIn * dOut / 6 && nz < dIn * dOut / 2, s"nonzeros: $nz")
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val y = graft.functions.pcaProject(col("embedding"), Array.fill(dIn)(0.0), mat)
    val ratios = emb.select(
      sqrt(graft.functions.vectorNormSq(y) /
        graft.functions.vectorNormSq(col("embedding"))).as("r"))
      .collect().map(_.getDouble(0))
    val mean = ratios.sum / ratios.length
    assert(math.abs(mean - 1.0) < 0.15, s"mean ratio $mean")
    // JL for d_out=16: distortion mostly within ±60%; no collapse/blowup
    assert(ratios.forall(r => r > 0.2 && r < 2.5), s"extremes: ${ratios.min} ${ratios.max}")
  }

  test("jlRerankTopK with a corpus-covering shortlist == exact brute force") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val vectors = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val n = vectors.count().toInt
    // expand so k·expand ≥ corpus: the shortlist is everything, so the
    // exact rerank must reproduce brute force bit for bit
    val got = Similarity.jlRerankTopK(vectors, queries, k = 10,
        dIn = 64, dOut = 16, expand = n / 10 + 1)
      .select("qid", "rank", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Similarity.bruteForceTopK(vectors, queries, 10, "l2")
      .select("qid", "rank", "label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want)
  }
}
