package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Scan

/** Distributed prefix-sum (Scan.prefixSum): dual-planned against the
  * window cumsum it replaces, including the case the window CANNOT
  * handle without a straggler — one group holding ~all rows — and the
  * global (no-group) scan, which the window runs on a single task.
  */
class ScanSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def fixture(rows: Seq[(String, Long, Long)]) = {
    val schema = StructType(Seq(
      StructField("g", StringType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (g, i, v) => Row(g, i, v) }: _*), schema)
  }

  private def windowCum(df: org.apache.spark.sql.DataFrame, grouped: Boolean) = {
    val w = (if (grouped) Window.partitionBy(col("g")) else Window.partitionBy())
      .orderBy(col("id")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum", sum(col("v")).over(w))
  }

  private def collectCum(df: org.apache.spark.sql.DataFrame) =
    df.select("g", "id", "v", "cum").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("prefixSum ≡ window cumsum on a multi-group fixture, any partitioning") {
    val rows = for (g <- Seq("a", "b", "c"); i <- 0 until 500)
      yield (g, i.toLong, ((i * 7 + g.hashCode) % 13).toLong)
    val df = fixture(rows)
    val want = collectCum(windowCum(df, grouped = true))
    assert(collectCum(Scan.prefixSum(df, Seq("g"), Seq("id"), "v")) === want)
    // invariant to input partitioning and to the scan's own partition count
    assert(collectCum(Scan.prefixSum(df.repartition(17), Seq("g"), Seq("id"), "v")) === want)
    assert(collectCum(Scan.prefixSum(df, Seq("g"), Seq("id"), "v", numParts = 3)) === want)
  }

  test("prefixSum: one group with 200k rows — the hot case — stays multi-partition and exact") {
    val spark2 = spark
    import spark2.implicits._
    val df = spark.range(200000)
      .select(lit("hot").as("g"), col("id"), (col("id") % 101).as("v"))
    val got = Scan.prefixSum(df, Seq("g"), Seq("id"), "v", numParts = 16)
    // the scan's second pass runs on the range partitions — the hot group
    // provably occupies many tasks, where the window would use ONE
    val partSizes = got.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(partSizes.count(_ > 0) >= 8,
      s"hot group must spread over partitions, got ${partSizes.count(_ > 0)}")
    assert(partSizes.max < 200000, "no single partition may hold the whole group")
    // exactness at the boundaries: spot-check closed form cum(id) =
    // sum_{j<=id} (j % 101) without materializing the window on one task
    val check = got.filter(col("id").isin(0L, 1L, 12499L, 12500L, 99999L, 199999L))
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    def closed(n: Long): Long = {
      val full = (n + 1) / 101; val rem = (n + 1) % 101
      full * (100 * 101 / 2) + rem * (rem - 1) / 2
    }
    check.foreach { case (id, cum) => assert(cum === closed(id), s"id=$id") }
  }

  test("prefixSum: global scan (no group) ≡ single-task window, plus empty input") {
    val rows = (0 until 1000).map(i => ("x", i.toLong, (i % 7).toLong))
    val df = fixture(rows)
    val want = collectCum(windowCum(df, grouped = false))
    assert(collectCum(Scan.prefixSum(df, Seq.empty, Seq("id"), "v")) === want)
    assert(Scan.prefixSum(fixture(Seq.empty), Seq("g"), Seq("id"), "v").count() === 0L)
  }

  test("prefixSum: pathological group counts route to the window fallback, bit-identical") {
    // 5000 distinct groups against a 100-entry driver budget: the r16 form
    // require-threw here; the r18 form falls back to the plain window
    // cumsum (already skew-safe in the many-small-groups regime — exact
    // long addition, so bit-identical to the scan path)
    val df = spark.range(5000).select(col("id").as("g"), col("id"), lit(1L).as("v"))
      .withColumn("g", col("g").cast(StringType))
    val want = collectCum(windowCum(df, grouped = true))
    assert(collectCum(
      Scan.prefixSum(df, Seq("g"), Seq("id"), "v", maxDriverEntries = 100)) === want)
  }

  test("prefixSum: one skewed over-quota partition with small global G falls back, unchanged") {
    // r17 ADVICE: the per-partition quota (max/P) can trip on a skewed
    // range layout even when the GLOBAL entry count fits — one huge group
    // spanning most partitions plus tiny groups packed beside its tail.
    // Global entries ≈ P + 2 ≤ maxDriverEntries, but the tail partition
    // holds 3 slices > quota (8/4 = 2). Must not throw; results identical.
    val rows = (0 until 4000).map(i => ("a", i.toLong, ((i * 3) % 7).toLong)) ++
      (0 until 10).map(i => ("y", 4000L + i, 1L)) ++
      (0 until 10).map(i => ("z", 4100L + i, 2L))
    val df = fixture(rows)
    val want = collectCum(windowCum(df, grouped = true))
    assert(collectCum(Scan.prefixSum(df, Seq("g"), Seq("id"), "v",
      numParts = 4, maxDriverEntries = 8)) === want)
  }

  test("packSequences ≡ the window q_pack_sequences formulation on the gate corpus") {
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
    val viaScan = Scan.packSequences(docs, seqLen = 2048)
      .select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val viaWindow = docs
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ", -1)).cast(LongType).as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr("(cum - n_tokens) div 2048").as("pack_id"),
        ((col("cum") - col("n_tokens")) % 2048).as("pack_offset"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(viaScan === viaWindow)
  }

  // ---- clampedScan: the clamp-affine monoid scan ----

  private def seqClamped(rows: Seq[(String, Long, Long)], lo: Long, hi: Long,
                         seed: Long): Map[(String, Long), Long] = {
    rows.groupBy(_._1).flatMap { case (g, rs) =>
      var y = seed
      rs.sortBy(_._2).map { case (_, id, d) =>
        y = math.max(lo, math.min(hi, y + d)); ((g, id), y)
      }
    }
  }

  private def collectLevel(df: org.apache.spark.sql.DataFrame) =
    df.select("g", "id", "level").collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap

  test("clampedScan ≡ the sequential recurrence, bit-exact, any partitioning") {
    // deltas swing hard enough that BOTH clamps engage repeatedly
    val rows = for (g <- Seq("a", "b", "c"); i <- 0 until 800)
      yield (g, i.toLong, (((i * 31 + g.hashCode) % 25) - 12).toLong)
    val df = fixture(rows)
    val want = seqClamped(rows, lo = 0L, hi = 20L, seed = 0L)
    assert(collectLevel(Scan.clampedScan(df, Seq("g"), Seq("id"), "v", 0L, 20L)) === want)
    assert(collectLevel(Scan.clampedScan(df.repartition(13), Seq("g"), Seq("id"), "v", 0L, 20L)) === want)
    assert(collectLevel(Scan.clampedScan(df, Seq("g"), Seq("id"), "v", 0L, 20L, numParts = 7)) === want)
  }

  test("clampedScan many-small-groups fallback ≡ the scan path bit-exact") {
    // r16: past maxDriverEntries the scan falls back to a per-group
    // sequential replay (hash shuffle on the group, state reset at each
    // boundary) — force the fallback with a tiny cap and pin equality
    val rows = for (g <- (0 until 50).map("g" + _); i <- 0 until 20)
      yield (g, i.toLong, (((i * 31 + g.hashCode) % 25) - 12).toLong)
    val df = fixture(rows)
    val want = seqClamped(rows, lo = 0L, hi = 20L, seed = 0L)
    val got = collectLevel(
      Scan.clampedScan(df, Seq("g"), Seq("id"), "v", 0L, 20L,
        maxDriverEntries = 8)) // 50 groups × partitions ≫ 8 → fallback
    assert(got === want)
  }

  test("clampedScan: hot group spans many partitions and still matches the sequential pass") {
    val spark2 = spark
    import spark2.implicits._
    val df = spark.range(200000)
      .select(lit("hot").as("g"), col("id"), ((col("id") % 9L) - 4L).as("v"))
    val got = Scan.clampedScan(df, Seq("g"), Seq("id"), "v", 0L, 50L, numParts = 16)
    val partSizes = got.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(partSizes.count(_ > 0) >= 8, s"hot group collapsed: ${partSizes.toSeq}")
    var y = 0L
    val want = (0L until 200000L).map { i =>
      y = math.max(0L, math.min(50L, y + (i % 9L) - 4L)); (i, y)
    }.toMap
    val gotMap = got.select("id", "level").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotMap === want)
  }

  test("clampedScan: out-of-range seed clamps at the first step; lo > hi rejected") {
    val rows = Seq(("g", 0L, 0L), ("g", 1L, -3L))
    val got = collectLevel(
      Scan.clampedScan(fixture(rows), Seq("g"), Seq("id"), "v", 0L, 500L, seed = 1000L))
    assert(got === Map(("g", 0L) -> 500L, ("g", 1L) -> 497L))
    intercept[IllegalArgumentException] {
      Scan.clampedScan(fixture(rows), Seq("g"), Seq("id"), "v", 5L, 4L)
    }
  }

  // ---- exactQuantiles: selection by histogram refinement ----

  test("exactQuantiles == sorted order statistic (ceil(q·n) rank), incl. duplicates & negatives") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(11L)
    val data = Array.fill(20000)((rnd.nextGaussian() * 1e6).toLong) ++
      Array.fill(500)(42L) // a heavy tie block
    val df = spark.createDataset(data.toIndexedSeq).toDF("v")
    val sorted = data.sorted
    val qs = Seq(0.01, 0.25, 0.5, 0.9, 0.99, 1.0)
    val got = graft.ops.Scan.exactQuantiles(df, "v", qs)
    qs.zip(got).foreach { case (q, g) =>
      val want = sorted(math.max(1, math.ceil(q * data.length).toInt) - 1)
      assert(g === want, s"q=$q")
    }
    // tiny bucket count forces many refinement passes — same answers
    val got4 = graft.ops.Scan.exactQuantiles(df, "v", qs, buckets = 4)
    assert(got4 === got)
    // single element, and q so small the rank clamps to 1
    val one = spark.createDataset(Seq(7L)).toDF("v")
    assert(graft.ops.Scan.exactQuantiles(one, "v", Seq(0.5, 1.0)) === Seq(7L, 7L))
    assert(graft.ops.Scan.exactQuantiles(df, "v", Seq(1e-9)) === Seq(sorted.head))
  }

  test("exactQuantilesByGroup == per-group sorted order stats, divergent q ranges") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(23L)
    val data = Seq("a", "b", "c").flatMap { g =>
      // different distributions per group so the q ranges split unevenly
      val base = g.hashCode.toLong % 1000
      Array.fill(8000)((g, base + (rnd.nextGaussian() * (100 + base.abs)).toLong))
    }
    val df = spark.createDataset(data.toIndexedSeq).toDF("g", "v")
    val qs = Seq(0.1, 0.5, 0.9, 0.99)
    val got = graft.ops.Scan.exactQuantilesByGroup(df, "g", "v", qs, buckets = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    data.groupBy(_._1).foreach { case (g, rows) =>
      val sorted = rows.map(_._2).sorted
      qs.foreach { q =>
        val want = sorted(math.max(1, math.ceil(q * sorted.length).toInt) - 1)
        assert(got((g, q)) === want, s"g=$g q=$q")
      }
    }
    // guard fires on pathological group counts
    val wide = spark.range(5000).select(col("id").cast(StringType).as("g"), col("id").as("v"))
    val e = intercept[IllegalArgumentException] {
      graft.ops.Scan.exactQuantilesByGroup(wide, "g", "v", Seq(0.5), maxGroups = 100)
    }
    assert(e.getMessage.contains("driver state"))
  }

  test("DoubleBits: order-preserving bijection incl. -0.0, denormals, ±extremes") {
    import graft.functions.DoubleBits
    val vals = Seq(Double.MinValue, -1e300, -123.456, -1e-310, -0.0, 0.0,
      Double.MinPositiveValue, 1e-310, 42.0, 1e300, Double.MaxValue,
      Double.NegativeInfinity, Double.PositiveInfinity)
    // self-inverse, bit-exact
    vals.foreach { v =>
      val rt = DoubleBits.fromSortable(DoubleBits.toSortable(v))
      assert(java.lang.Double.doubleToLongBits(rt) ===
        java.lang.Double.doubleToLongBits(v), s"round trip $v")
    }
    // Long ordering of the image == numeric ordering of the doubles
    val sorted = vals.sortBy(identity)
    assert(vals.map(DoubleBits.toSortable).sorted.map(DoubleBits.fromSortable)
      === sorted, "sortable-long order must equal double order")
    // and -0.0 maps strictly below +0.0 (total order, like Double.compare)
    assert(DoubleBits.toSortable(-0.0) < DoubleBits.toSortable(0.0))
  }

  test("exactQuantilesByGroupDouble == per-group sorted order stats over doubles") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(31L)
    val data = Seq("x", "y").flatMap { g =>
      Array.fill(6000)((g, rnd.nextGaussian() * (if (g == "x") 1e4 else 1e-3)))
    } ++ Seq(("x", 0.0), ("x", -0.0)) // the signed-zero boundary
    val df = spark.createDataset(data.toIndexedSeq).toDF("g", "v")
    val qs = Seq(0.05, 0.5, 0.95)
    val got = graft.ops.Scan.exactQuantilesByGroupDouble(df, "g", "v", qs, buckets = 16)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    data.groupBy(_._1).foreach { case (g, rows) =>
      val sorted = rows.map(_._2).sortBy(graft.functions.DoubleBits.toSortable)
      qs.foreach { q =>
        val want = sorted(math.max(1, math.ceil(q * sorted.length).toInt) - 1)
        assert(java.lang.Double.doubleToLongBits(got((g, q))) ===
          java.lang.Double.doubleToLongBits(want), s"g=$g q=$q")
      }
    }
  }

  test("weighted exactQuantilesByGroup == brute-force weighted order stats") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(47L)
    val data = Seq("a", "b").flatMap { g =>
      Array.fill(3000)((g, rnd.nextInt(2000).toLong - 1000L, rnd.nextInt(9).toLong + 1L))
    }
    val df = spark.createDataset(data.toIndexedSeq).toDF("g", "v", "wt")
    val qs = Seq(0.25, 0.5, 0.75, 1.0)
    val got = graft.ops.Scan.exactQuantilesByGroup(df, "g", "v", qs, buckets = 16,
        weightCol = Some("wt"))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    data.groupBy(_._1).foreach { case (g, rows) =>
      // brute force: expand each row to `wt` copies, take ceil(q·W)-th
      val expanded = rows.flatMap { case (_, v, wt) => Seq.fill(wt.toInt)(v) }.sorted
      qs.foreach { q =>
        val want = expanded(math.max(1, math.ceil(q * expanded.length).toInt) - 1)
        assert(got((g, q)) === want, s"g=$g q=$q")
      }
    }
    // unit weights ≡ the unweighted form, bit-for-bit
    val unit = df.withColumn("one", lit(1L))
    val a = graft.ops.Scan.exactQuantilesByGroup(unit, "g", "v", qs, buckets = 16,
      weightCol = Some("one")).collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    val b = graft.ops.Scan.exactQuantilesByGroup(df, "g", "v", qs, buckets = 16)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    assert(a === b)
  }

  test("avgRank2 ≡ 2× the window midrank (tie-aware), grouped and global, nulls excluded") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(61L)
    // heavy ties (values drawn from 40 levels) + a null sprinkle
    val data = (0 until 5000).map { i =>
      val g = if (i % 3 == 0) "a" else "b"
      val v: java.lang.Double =
        if (i % 97 == 0) null else rnd.nextInt(40).toDouble / 7.0
      (i.toLong, g, v)
    }
    val df = spark.createDataset(data.toIndexedSeq).toDF("id", "g", "v")
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
    val wt = Window.partitionBy(col("g"), col("v"))
    // midrank = rank + (ties−1)/2 ⇒ 2·midrank = 2·rank + ties − 1
    val want = df.filter(col("v").isNotNull)
      .withColumn("r2", lit(2L) * rank().over(w) + count(lit(1)).over(wt) - lit(1L))
      .select("id", "r2").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = Scan.avgRank2(df, "v", Seq("g")).select("id", "r2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want) // null rows dropped on both sides
    // global form (no group): same contract
    val wg = Window.partitionBy().orderBy(col("v"))
    val wgt = Window.partitionBy(col("v"))
    val wantG = df.filter(col("v").isNotNull)
      .withColumn("r2", lit(2L) * rank().over(wg) + count(lit(1)).over(wgt) - lit(1L))
      .select("id", "r2").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotG = Scan.avgRank2(df, "v").select("id", "r2")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotG === wantG)
    // midrank invariant: per group, Σ2r = n(n+1)
    val n = want.size
    assert(wantG.values.sum === n.toLong * (n + 1))
  }

  test("avgRank2Pair ≡ two avgRank2 calls on no-null data, bit-exact, strictly fewer jobs") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(67L)
    // heavy ties on both columns (the Spearman input shape)
    val data = (0 until 6000).map { i =>
      val g = if (i % 3 == 0) "a" else "b"
      (i.toLong, g, rnd.nextInt(50).toDouble, rnd.nextInt(30).toDouble / 3.0)
    }
    val df = spark.createDataset(data.toIndexedSeq).toDF("id", "g", "x", "y")

    def composed(): Map[Long, (Long, Long)] =
      Scan.avgRank2(Scan.avgRank2(df, "x", Seq("g"), "r2x"), "y", Seq("g"), "r2y")
        .select("id", "r2x", "r2y").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def fused(): Map[Long, (Long, Long)] =
      Scan.avgRank2Pair(df, "x", "y", Seq("g"))
        .select("id", "r2x", "r2y").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

    val (want, tComposed) = JobTrace(spark.sparkContext)(composed())
    val (got, tFused) = JobTrace(spark.sparkContext)(fused())
    assert(got === want)
    // one prefixSum round instead of two: strictly fewer jobs
    assert(tFused.jobs < tComposed.jobs, s"fused=${tFused.jobs} composed=${tComposed.jobs}")
  }

  test("avgRank2Pair ranks each column over its OWN non-null rows (the oracle's fx/fy semantics)") {
    val spark2 = spark
    import spark2.implicits._
    // x-nulls must NOT perturb y's midranks: the chained-avgRank2
    // composition ranks y on the x-filtered frame (the r14 ADVICE
    // divergence); the pair form matches the independent-CTE oracle
    val data: Seq[(Long, java.lang.Double, java.lang.Double)] = Seq(
      (1L, 10.0, 5.0), (2L, null, 1.0), (3L, 20.0, 5.0),
      (4L, 10.0, null), (5L, 30.0, 2.0))
    val df = spark.createDataset(data).toDF("id", "x", "y")
    val got = Scan.avgRank2Pair(df, "x", "y")
      .select("id", "r2x", "r2y").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // only both-non-null rows survive: ids 1, 3, 5
    assert(got.keySet === Set(1L, 3L, 5L))
    // x ranks over {10, 10, 20, 30} (id 2's null x dropped, id 4's x KEPT):
    // 2r(10) = 3, 2r(20) = 6, 2r(30) = 8
    assert(got(1L)._1 === 3L)
    assert(got(3L)._1 === 6L)
    assert(got(5L)._1 === 8L)
    // y ranks over {5, 1, 5, 2} (id 4's null y dropped, id 2's y KEPT):
    // 2r(1) = 2, 2r(2) = 4, 2r(5) = 7
    assert(got(1L)._2 === 7L)
    assert(got(3L)._2 === 7L)
    assert(got(5L)._2 === 4L)
  }

  test("madByGroup ≡ the two-call quantile composition, bit-exact, one fewer Spark job") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(53L)
    val data = Seq("p", "q").flatMap { g =>
      // gaussian bulk + a heavy tail + negatives + signed zeros — the
      // shapes MAD exists for and the sortable-bits boundary cases
      Array.fill(4001)((g, rnd.nextGaussian() * 100.0 + (if (g == "p") -50.0 else 0.0))) ++
        Array.fill(40)((g, rnd.nextGaussian() * 1e5))
    } ++ Seq(("p", 0.0), ("p", -0.0)) ++
      Seq.fill(7)(("const", 42.0)) ++ Seq(("solo", -3.25))
    val df = spark.createDataset(data.toIndexedSeq).toDF("g", "v")

    def composed(): Map[String, (Double, Double)] = {
      val med = Scan.exactQuantilesByGroupDouble(df, "g", "v", Seq(0.5))
        .select(col("g"), col("value").as("med"))
      val dev = df.join(broadcast(med), "g")
        .select(col("g"), abs(col("v") - col("med")).as("ad"))
      val mad = Scan.exactQuantilesByGroupDouble(dev, "g", "ad", Seq(0.5))
        .select(col("g"), col("value").as("mad"))
      med.join(mad, "g").collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    }
    def fused(): Map[String, (Double, Double)] =
      Scan.madByGroup(df, "g", "v").collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap

    val (want, tComposed) = JobTrace(spark.sparkContext)(composed())
    val (got, tFused) = JobTrace(spark.sparkContext)(fused())
    assert(got.keySet === want.keySet)
    want.foreach { case (g, (m, d)) =>
      assert(java.lang.Double.doubleToLongBits(got(g)._1) ===
        java.lang.Double.doubleToLongBits(m), s"med g=$g")
      assert(java.lang.Double.doubleToLongBits(got(g)._2) ===
        java.lang.Double.doubleToLongBits(d), s"mad g=$g")
    }
    // sanity against scala brute force (odd-sized groups: median is a
    // data point, so the fused round-2 range [0, max dev] is EXACTLY the
    // composed round's [min dev, max dev] and pass counts match)
    data.groupBy(_._1).foreach { case (g, rows) =>
      val vs = rows.map(_._2).sortBy(graft.functions.DoubleBits.toSortable)
      val m = vs(math.max(1, math.ceil(0.5 * vs.length).toInt) - 1)
      val ads = vs.map(x => math.abs(x - m)).sortBy(graft.functions.DoubleBits.toSortable)
      val d = ads(math.max(1, math.ceil(0.5 * ads.length).toInt) - 1)
      assert(got(g) === ((m, d)), s"brute force g=$g")
    }
    // the fusion's point: the second stats-collect (an aggregate + its
    // shuffle) is derived, not executed — strictly fewer jobs
    assert(tFused.jobs < tComposed.jobs, s"fused=${tFused.jobs} composed=${tComposed.jobs}")
    // guard fires before collecting a groups-sized array, same as the family
    val wide = spark.range(6000).select(col("id").cast("string").as("g"),
      col("id").cast("double").as("v"))
    val e = intercept[IllegalArgumentException] {
      Scan.madByGroup(wide, "g", "v")
    }
    assert(e.getMessage.contains("4096"))
  }

  test("weighted quantiles reject zero/negative weights loudly") {
    val spark2 = spark
    import spark2.implicits._
    val df = spark.createDataset(Seq(("a", 1L, 1L), ("a", 2L, 0L)))
      .toDF("g", "v", "wt")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Scan.exactQuantilesByGroup(df, "g", "v", Seq(0.5),
        weightCol = Some("wt")).collect()
    }
    assert(e.getMessage.contains("strictly positive"))
  }

  test("quantile queries carry NO exact Percentile aggregate in any executed plan") {
    // Spark's exact `percentile` buffers each group's full value list in
    // one aggregation buffer — the 100 TB cliff exactQuantilesByGroup
    // exists to avoid. Contract for query authors: `percentile` only on
    // provably-small value domains; near-unique domains go through
    // Scan.exactQuantilesByGroup[Double]. This watches EVERY plan the
    // three rewritten queries execute (the refinement runs internal
    // jobs), not just the returned DataFrame's.
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.expressions.exists(_.collectFirst { case p: Percentile => p }.isDefined) ||
            qe.analyzed.collectFirst {
              case pl if pl.expressions.exists(_.collectFirst { case p: Percentile => p }.isDefined) => pl
            }.isDefined)
          seen.add(funcName + ": " + qe.analyzed.toString.take(200))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Seq("q_percentiles", "q_winsorize", "text_entropy",
          "q_weighted_median", "q_mad_outliers").foreach { name =>
        val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
        assert(df.collect().nonEmpty, s"$name returned no rows")
        assert(df.queryExecution.analyzed.collectFirst {
          case pl if pl.expressions.exists(_.collectFirst { case p: Percentile => p }.isDefined) => pl
        }.isEmpty, s"$name: returned plan contains exact Percentile")
      }
      org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
      assert(seen.isEmpty, s"exact Percentile executed: ${seen.toArray.mkString("; ")}")
    } finally spark.listenerManager.unregister(listener)
  }

  // ---- lagScan: distributed previous-value carry ----

  test("lagScan ≡ window lag, incl. nulls on group firsts and a hot key") {
    val rows = for (g <- Seq("a", "b"); i <- 0 until 600)
      yield (g, i.toLong, (i * 13 + g.hashCode).toLong)
    val df = fixture(rows)
    val w = Window.partitionBy(col("g")).orderBy(col("id"))
    val want = df.withColumn("prev", lag(col("v"), 1).over(w))
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    val got = Scan.lagScan(df.repartition(11), Seq("g"), Seq("id"), "v", "prev", numParts = 7)
      .collect().map(r => ((r.getString(0), r.getLong(1)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(got === want)
    // hot single group stays spread over partitions
    val spark2 = spark
    import spark2.implicits._
    val hot = spark.range(100000).select(lit("h").as("g"), col("id"), (col("id") * 3).as("v"))
    val res = Scan.lagScan(hot, Seq("g"), Seq("id"), "v", "prev", numParts = 16)
    val sizes = res.rdd.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(sizes.count(_ > 0) >= 8)
    val m = res.select("id", "prev").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(m(0L) === -1L)
    (1L until 100000L by 9999L).foreach(i => assert(m(i) === (i - 1) * 3))
  }

  test("timeDecayedSum ≡ the sequential gap-decay recurrence within 1e-9 relative") {
    val schema = StructType(Seq(
      StructField("g", StringType, nullable = false),
      StructField("ts", LongType, nullable = false),
      StructField("x", DoubleType, nullable = false)))
    val rnd = new scala.util.Random(7L)
    val rows = (for (g <- Seq("u1", "u2"); i <- 0 until 3000) yield {
      (g, i.toLong * 60000000L + rnd.nextInt(50000000), 1.0 + (i % 5))
    }).sortBy(t => (t._1, t._2))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (g, t, x) => Row(g, t, x) }: _*), schema)
    val hl = 3600L * 1000000L
    val got = Scan.timeDecayedSum(df, Seq("g"), Seq("ts"), "ts", "x", hl, numParts = 8)
      .select("g", "ts", "decayed").collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    rows.groupBy(_._1).foreach { case (_, rs) =>
      var y = 0.0; var prevTs = Long.MinValue
      rs.sortBy(_._2).foreach { case (g, t, x) =>
        y = if (prevTs == Long.MinValue) x
            else math.pow(0.5, (t - prevTs).toDouble / hl) * y + x
        prevTs = t
        val d = math.abs(got((g, t)) - y) / math.max(1.0, math.abs(y))
        assert(d <= 1e-9, s"ts=$t got=${got((g, t))} want=$y")
      }
    }
  }

  // ---- affineScan / ewma: the float linear-recurrence scan ----

  test("ewma ≡ the sequential pandas-adjust recurrence within 1e-9 relative, incl. hot key") {
    val spark2 = spark
    import spark2.implicits._
    val n = 50000
    val df = spark.range(n).select(
      (col("id") % 3).cast(StringType).as("g"), col("id"),
      ((col("id") * 17 % 101)).cast(DoubleType).as("x"))
    val got = Scan.ewma(df, Seq("g"), Seq("id"), "x", alpha = 0.25, numParts = 16)
      .select("g", "id", "ewma").collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    // sequential reference
    val byG = (0L until n.toLong).map(i => ((i % 3).toString, i, (i * 17 % 101).toDouble))
      .groupBy(_._1)
    byG.foreach { case (_, rs) =>
      var num = 0.0; var den = 0.0
      rs.sortBy(_._2).foreach { case (g, id, x) =>
        num = x + 0.75 * num; den = 1.0 + 0.75 * den
        val want = num / den
        val d = math.abs(got((g, id)) - want) / math.max(1.0, math.abs(want))
        assert(d <= 1e-9, s"id=$id got=${got((g, id))} want=$want")
      }
    }
  }

  test("affineScan: varying m per row (regime-switching decay) matches the sequential fold") {
    val schema = StructType(Seq(
      StructField("g", StringType, nullable = false),
      StructField("id", LongType, nullable = false),
      StructField("m", DoubleType, nullable = false),
      StructField("b", DoubleType, nullable = false)))
    val rows = (0 until 4000).map { i =>
      (if (i % 2 == 0) "p" else "q", i.toLong, 0.5 + 0.4 * ((i % 7) / 10.0), (i % 13).toDouble)
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (g, i, m, b) => Row(g, i, m, b) }: _*), schema)
    val got = Scan.affineScan(df, Seq("g"), Seq("id"), Seq(("m", "b", "y")), numParts = 8)
      .select("g", "id", "y").collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    rows.groupBy(_._1).foreach { case (_, rs) =>
      var y = 0.0
      rs.sortBy(_._2).foreach { case (g, id, m, b) =>
        y = m * y + b
        assert(math.abs(got((g, id)) - y) / math.max(1.0, math.abs(y)) <= 1e-9, s"id=$id")
      }
    }
  }
}
