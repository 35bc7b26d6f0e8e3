package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Curation

class CurationSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: Seq[(Long, String, String)]): DataFrame =
    rows.toDF("doc_id", "source", "text")

  // 3 sources with very different sizes: A=60, B=30, C=10
  private def skewedCorpus: DataFrame = docs(
    (0L until 60L).map(i => (i, "A", s"a $i")) ++
    (60L until 90L).map(i => (i, "B", s"b $i")) ++
    (90L until 100L).map(i => (i, "C", s"c $i")))

  test("trainQualityFilter: learns a separable rule (monotone loss), scores match, deterministic under repartitioning") {
    import graft.ops.Curation
    // synthetic labeled features with a known linear rule: label = 1 iff
    // f0 + 2·f1 > 3 (deterministic grid, comfortably separable)
    val rows = (0 until 200).map { i =>
      val f0 = (i % 20).toDouble / 4.0
      val f1 = (i / 20).toDouble / 3.0
      (i.toLong, Array(f0, f1), if (f0 + 2 * f1 > 3.0) 1.0 else 0.0)
    }
    val df = rows.toDF("doc_id", "f", "label")
    val model = Curation.trainQualityFilter(df)
    // Newton descent actually descends, by a lot on separable data
    assert(model.lossTrace.last < model.lossTrace.head / 10,
      s"loss ${model.lossTrace.head} -> ${model.lossTrace.last}")
    // train accuracy ≥ 0.98 (ridge keeps weights finite; the boundary
    // can shave at most a sliver of the grid)
    val scored = Curation.scoreQualityModel(df.select(col("doc_id"), col("f")), model)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val correct = rows.count { case (id, _, y) => (scored(id) >= 0.5) == (y >= 0.5) }
    assert(correct >= 196, s"train accuracy $correct/200")
    // determinism: a different partitioning must give IDENTICAL weights
    // (the sorted-sample contract every trained model here carries)
    val model2 = Curation.trainQualityFilter(df.repartition(7))
    assert(model.weights.toSeq === model2.weights.toSeq)
    // degenerate: single-class labels converge without blowup (ridge)
    val oneClass = rows.map { case (id, f, _) => (id, f, 1.0) }.toDF("doc_id", "f", "label")
    val m1 = Curation.trainQualityFilter(oneClass, iters = 5)
    assert(m1.weights.forall(w => !w.isNaN && !w.isInfinite))
  }

  test("mixtureSample: α<1 upweights small sources, rates capped at 1") {
    val kept = Curation.mixtureSample(skewedCorpus, alpha = 0.5, targetTotal = 50)
    val rates = kept.select($"source", $"rate_e6").distinct()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // α-power: keep-rate ∝ n^(α−1) — strictly increasing as n shrinks
    assert(rates("A") < rates("B") && rates("B") < rates("C"),
      s"expected small-source upweighting, got $rates")
    assert(rates.values.forall(r => r > 0L && r <= 1000000L))
    // the realized sample is in the target's neighborhood (hash thresholds
    // are per-doc Bernoulli at the exact rate; 100 docs → loose band)
    val n = kept.count()
    assert(n > 20 && n < 80, s"sample size $n wildly off target 50")
  }

  test("mixtureSample: targetTotal ≥ corpus keeps everything at rate 1") {
    val kept = Curation.mixtureSample(skewedCorpus, alpha = 0.7, targetTotal = 1000)
    assert(kept.count() === 100)
    assert(kept.select($"rate_e6").distinct().collect().map(_.getLong(0)).toSeq === Seq(1000000L))
  }

  test("mixtureSample: deterministic under repartitioning") {
    val a = Curation.mixtureSample(skewedCorpus.repartition(7), alpha = 0.5, targetTotal = 50)
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val b = Curation.mixtureSample(skewedCorpus.coalesce(1), alpha = 0.5, targetTotal = 50)
      .select($"doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b)
  }

  test("domainCap ≡ the window row_number formulation, bit-exact") {
    import org.apache.spark.sql.expressions.Window
    val d = skewedCorpus
    val capped = Curation.domainCap(d, cap = 7)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val h = substring(md5(concat(lit("cap:"), $"doc_id".cast("string"))), 1, 12)
    val w = Window.partitionBy($"source").orderBy(h, $"doc_id")
    val window = d.withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 7).select($"source", $"rank", $"doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(capped === window)
  }

  test("domainCap: a 95%-hot domain still emits exactly cap rows for it") {
    val hot = docs(
      (0L until 950L).map(i => (i, "hot", "x")) ++
      (950L until 1000L).map(i => (i, "cold", "y")))
    val out = Curation.domainCap(hot, cap = 5)
      .groupBy($"source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("hot" -> 5L, "cold" -> 5L))
  }

  test("weightedSample ≡ the global-sort formulation, bit-exact") {
    val d = skewedCorpus
    val w = length($"text").cast("double")
    val got = graft.ops.Curation.weightedSample(d, k = 15, weight = w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    // reference: compute the same A-ES key and take ORDER BY key DESC LIMIT k
    val h = conv(substring(md5(concat(lit("ws:"), $"doc_id".cast("string"))), 1, 12), 16, 10)
      .cast("long").cast("double")
    val key = log((h + lit(0.5)) / lit(math.pow(2.0, 48))) / w
    val ref = d.filter(w > 0.0)
      .select($"doc_id", w.as("w"), key.as("k"))
      .orderBy(desc("k"), $"doc_id").limit(15)
      .collect().zipWithIndex
      .map { case (r, i) => (i + 1L, r.getLong(0), r.getDouble(1)) }.sorted.toSeq
    assert(got === ref)
  }

  test("weightedSample: a dominant weight is always selected; w<=0 never") {
    val d = docs(
      Seq((0L, "s", "x" * 5000)) ++            // w = 5000
      (1L until 50L).map(i => (i, "s", "x")) ++ // w = 1
      Seq((50L, "s", "")))                      // w = 0 → excluded
    val ids = graft.ops.Curation.weightedSample(d, k = 5, weight = length($"text").cast("double"))
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(0L), "the 5000x-weight doc must be in a 5-of-50 sample")
    assert(!ids.contains(50L), "zero-weight rows have no sampling mass")
  }

  test("weightedSample: deterministic under repartitioning") {
    val d = skewedCorpus
    val w = length($"text").cast("double")
    val a = graft.ops.Curation.weightedSample(d.repartition(7), 10, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val b = graft.ops.Curation.weightedSample(d.coalesce(1), 10, w)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(a === b)
  }

  test("tokenLines: chunking arithmetic incl. trailing partial line") {
    val got = docs(Seq((1L, "s", "a b c d e f g")))
      .select(Curation.tokenLines($"text", 3).as("lines"))
      .collect().head.getSeq[String](0)
    assert(got === Seq("a b c", "d e f", "g"))
  }

  test("dupLineStats: hand-computed repetition counts") {
    // lines(3): "a b c" | "a b c" | "d" → dup chars = 2 lines × 5 chars
    val out = Curation.dupLineStats(
        docs(Seq((1L, "s", "a b c a b c d"))), lineTokens = 3)
      .collect().head
    assert((out.getLong(1), out.getLong(2), out.getLong(3)) === ((3L, 11L, 10L)))
  }

  test("lineDfFilter: a line shared by every doc is dropped everywhere") {
    val boiler = "the same nav bar text here" // 6 tokens → >1 line at 3
    val d = docs((0L until 20L).map(i => (i, "s", s"$boiler unique token $i")))
    val out = Curation.lineDfFilter(d, maxDf = 5, lineTokens = 3)
    // lines per doc: "the same nav", "bar text here", "unique token <i>"
    // — the first two appear in all 20 docs (df=20 > 5), the last is
    // unique (df=1 ≤ 5)
    val rows = out.collect()
    assert(rows.length === 20)
    assert(rows.forall(_.getLong(1) === 3L), "3 lines per doc")
    assert(rows.forall(_.getLong(2) === 1L), "only the unique line survives")
  }

  test("lineDfFilter: deterministic under repartitioning") {
    val d = skewedCorpus
    val a = Curation.lineDfFilter(d.repartition(5), maxDf = 3, lineTokens = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    val b = Curation.lineDfFilter(d.coalesce(1), maxDf = 3, lineTokens = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(a === b)
  }

  // ---- farthest-point sampling ----

  private def fpsDf(vs: Seq[(Long, Array[Float])]) =
    vs.map { case (i, v) => (i, v.toSeq) }.toDF("id", "vec")

  test("farthestPointSample on a line: seed = min id, then greedy argmax with id ties") {
    val pts = Seq(0L -> Array(0f), 1L -> Array(1f), 2L -> Array(9f),
      3L -> Array(10f), 4L -> Array(5f))
    val got = Curation.farthestPointSample(fpsDf(pts), k = 4)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    // picks: 0 (seed, +inf), 10 (d²=100), 5 (d²=25), then 1 vs 9 both
    // d²=1 → smaller id (1) wins
    assert(got === Seq((1, 0L, Double.PositiveInfinity), (2, 3L, 100.0),
      (3, 4L, 25.0), (4, 1L, 1.0)))
  }

  test("farthestPointSample == scalar greedy k-center on random vectors") {
    val vecs = Oracle.genVectors(40, 6, seed = 99L)
    val pts = vecs.zipWithIndex.map { case (v, i) => i.toLong -> v }.toSeq
    def d2(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
      acc
    }
    val md = scala.collection.mutable.Map(pts.map(_._1 -> Double.PositiveInfinity): _*)
    val want = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    for (r <- 1 to 6) {
      val (id, best) = md.toSeq.maxBy { case (i, m) => (m, -i) }
      want += ((r, id, best))
      md.remove(id)
      val c = vecs(id.toInt)
      md.keys.foreach { i => md(i) = math.min(md(i), d2(vecs(i.toInt), c)) }
    }
    val got = Curation.farthestPointSample(fpsDf(pts), k = 6)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got === want.toSeq)
  }

  test("prototypicalityPrune: brute-force agreement, integer keep rule, invariance") {
    import graft.ops.Curation
    // deterministic corpus: 3 modulo-10 centroids (ids 0, 10, 20) with
    // points scattered around distinct directions; one zero vector
    val vecs: Seq[(Long, Array[Float])] = (0L until 30L).map { i =>
      val base = (i / 10).toInt
      val dir = Array.fill(4)(0f); dir(base) = 1f
      val jitter = Array.tabulate(4)(j => ((i * 7 + j * 3) % 11).toFloat / 23f)
      (i, Array.tabulate(4)(j => dir(j) * 5f + jitter(j)))
    } :+ (31L, Array(0f, 0f, 0f, 0f)) // NOT a multiple of 10: must join a
                                      // real cluster, not centroid itself
    val df = vecs.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    val got = Curation.prototypicalityPrune(df, centroidModulo = 10,
        keepNum = 1, keepDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).sortBy(_._1)

    // brute-force oracle in plain Scala (same quantization convention)
    val cents = vecs.filter(_._1 % 10 == 0).sortBy(_._1)
    def d2(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val assigned = vecs.map { case (id, v) =>
      val cid = cents.minBy { case (c, cv) => (d2(v, cv), c) }._1
      val cv = cents.find(_._1 == cid).get._2
      val co = cos(v, cv)
      val e6 = if (co.isNaN) -1000001L else math.floor(co * 1e6 + 0.5).toLong
      (id, cid, e6)
    }
    val want = assigned.groupBy(_._2).toSeq.flatMap { case (_, members) =>
      val ranked = members.sortBy(m => (m._3, m._1)).zipWithIndex
      val sz = members.size
      ranked.map { case ((id, cid, e6), i) =>
        (id, cid, e6, (i + 1).toLong, (i + 1) * 2 <= sz) }
    }.sortBy(_._1)
    assert(got.toSeq === want)

    // the zero vector gets the sentinel and is kept first in its cluster
    val zeroRow = got.find(_._1 == 31L).get
    assert(zeroRow._3 === -1000001L && zeroRow._4 === 1L && zeroRow._5)
    // keep counts are exactly floor(sz/2) per cluster
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.count(_._5) === rows.size / 2)
    }
    // deterministic under repartitioning
    val again = Curation.prototypicalityPrune(df.repartition(7),
        centroidModulo = 10, keepNum = 1, keepDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).sortBy(_._1)
    assert(again.toSeq === got.toSeq)
  }

  test("dsirWeights: long-split and decimal per-doc log-ratio sums agree bit-for-bit") {
    // r19 allocation-free rollup: below longSumTokenCap the per-doc
    // Σ m·lr_e12 sums as two primitive-long digit sums (lr split
    // base-2³¹ on the model) and reconstructs in decimal; above, the
    // original DECIMAL(38,0) multiply+sum runs. Forcing the decimal
    // path (cap 0) against the default must give IDENTICAL rows —
    // the split telescopes, per-doc integers cannot move. Mixed-lang
    // corpus with repeated tokens exercises m > 1 and negative lr.
    val rows = (0L until 120L).map { i =>
      val lang = if (i % 3 == 0) "en" else "de"
      val text = s"tok${i % 7} tok${i % 7} shared word$i other ${i % 11}"
      (i, lang, text)
    }
    val df = rows.toDF("doc_id", "lang", "text")
    def run(cap: Long) =
      Curation.dsirWeights(df, targetLang = "en", buckets = 64,
          longSumTokenCap = cap)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    assert(run(Long.MaxValue) === run(0L))
  }

  test("dsirWeights on an empty corpus returns an empty frame") {
    // the token-count gate reads a NULL sum on an empty corpus; it must
    // take the long path instead of throwing
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    val got = Curation.dsirWeights(empty, targetLang = "en", buckets = 64)
    assert(got.columns.toSeq === Seq("doc_id", "n_tokens", "mean_lr_e6", "weight_e6"))
    assert(got.collect().isEmpty)
  }

  test("farthestPointSample rejects k beyond the corpus or bounds") {
    intercept[IllegalArgumentException] {
      Curation.farthestPointSample(fpsDf(Seq(1L -> Array(1f))), k = 0)
    }
    intercept[IllegalArgumentException] {
      // corpus of 1 cannot yield 3 picks
      Curation.farthestPointSample(fpsDf(Seq(1L -> Array(1f))), k = 3).collect()
    }
  }
}
