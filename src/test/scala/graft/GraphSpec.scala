package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Dedup, Graph, Skyline}

/** Graph analytics (PageRank), fuzzy edit-distance join, and the 2-D
  * skyline — each checked against an in-process scalar oracle (the
  * brute-force definitional computation the distributed plan replaces).
  */
class GraphSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def df(schema: StructType, rows: Seq[Row]) =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private val edgeSchema = StructType(Seq(
    StructField("src", LongType, nullable = false),
    StructField("dst", LongType, nullable = false)))
  private val nodeSchema = StructType(Seq(
    StructField("id", LongType, nullable = false)))

  /** Scalar PageRank with the SAME decimal quantization contract. */
  private def scalarPageRank(nodes: Seq[Long], edges: Seq[(Long, Long)],
                             iters: Int, damping: Double): Map[Long, Double] = {
    val odeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> 1.0).toMap
    for (_ <- 1 to iters) {
      val sums = scala.collection.mutable.Map.empty[Long, BigDecimal]
      for ((u, v) <- edges) {
        val c = BigDecimal(r(u) / odeg(u))
          .setScale(14, BigDecimal.RoundingMode.HALF_UP)
        sums(v) = sums.getOrElse(v, BigDecimal(0)) + c
      }
      r = nodes.map { v =>
        v -> ((1.0 - damping) + damping * sums.getOrElse(v, BigDecimal(0)).toDouble)
      }.toMap
    }
    r
  }

  test("pageRank matches the scalar decimal-quantized oracle on a hand graph") {
    // 1 -> 2 -> 3 -> 1 cycle, 4 -> 1 feeder, 5 isolated
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 1L))
    val got = Graph.pageRank(
        df(nodeSchema, nodes.map(Row(_))),
        df(edgeSchema, edges.map { case (a, b) => Row(a, b) }),
        iters = 7)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = scalarPageRank(nodes, edges, iters = 7, damping = 0.85)
    assert(got.keySet === nodes.toSet)
    for (v <- nodes)
      assert(math.abs(got(v) - want(v)) < 1e-12, s"node $v: ${got(v)} vs ${want(v)}")
    // isolated node settles at 1 - d
    assert(math.abs(got(5L) - 0.15) < 1e-12)
  }

  test("pageRank conserves total mass on a graph with no dangling nodes") {
    val nodes = (1L to 50L).toSeq
    val rnd = new scala.util.Random(7)
    // every node gets at least one out-edge → no dangling mass leak
    val edges = nodes.flatMap { u =>
      (0 until 1 + rnd.nextInt(4)).map { _ =>
        var v = 1L + rnd.nextInt(50); if (v == u) v = 1L + (u % 50); (u, v)
      }
    }.distinct.filter { case (a, b) => a != b }
    val got = Graph.pageRank(
        df(nodeSchema, nodes.map(Row(_))),
        df(edgeSchema, edges.map { case (a, b) => Row(a, b) }),
        iters = 5)
      .agg(sum(col("r"))).head.getDouble(0)
    assert(math.abs(got - 50.0) < 1e-6, s"mass $got")
  }

  test("pagerank family long-split and decimal contribution sums agree bit-for-bit") {
    // The r18 allocation-free aggregation: under SplitSumNodeCap the
    // witnessed contributions sum as three primitive longs and
    // reconstruct per group; above it they sum directly in
    // DECIMAL(38,0). The two regimes must be the SAME integer — pinned
    // here by forcing the decimal path (cap 0) against the default on
    // graphs with multi-edge fan-in and isolated nodes.
    val nodes = (1L to 60L).toSeq
    val rnd = new scala.util.Random(13)
    val edges = nodes.flatMap { u =>
      (0 until 1 + rnd.nextInt(5)).map { _ =>
        var v = 1L + rnd.nextInt(60); if (v == u) v = 1L + (u % 60); (u, v)
      }
    }.distinct.filter { case (a, b) => a != b }
    val n = df(nodeSchema, nodes.map(Row(_)))
    val e = df(edgeSchema, edges.map { case (a, b) => Row(a, b) })
    val seeds = df(nodeSchema, Seq(Row(3L), Row(17L)))
    val prA = Graph.pageRank(n, e, iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val prB = Graph.pageRank(n, e, iters = 5, splitSumNodeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(prA === prB)
    val ppA = Graph.pageRankSeeded(n, e, seeds, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ppB = Graph.pageRankSeeded(n, e, seeds, iters = 4, splitSumNodeCap = 0L)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppA === ppB)
    val hA = Graph.hits(n, e, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val hB = Graph.hits(n, e, iters = 3, splitSumNodeCap = 0L)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(hA === hB)
  }

  test("witnessSplit3 components telescope to decimalWitness on extremes and sentinels") {
    // Range note: witness values needing > 17 significant digits
    // (r/odeg beyond ~1e3, i.e. f > ~1e17) are where Spark's
    // double→decimal cast (Double.toString shortest-repr) and the exact
    // binary telescope can differ — both engine-defined, neither
    // reachable by gate-validated data (rank mass keeps r/odeg far
    // below that). The pinned range covers everything the operators
    // produce, ±, fractional inputs, and all three sentinels.
    import org.apache.spark.sql.types.{DoubleType, StructField => SF}
    val vals = Seq(0.0, 1.0, -1.0, 0.123456789012345, 92.2337203685,
      9.3e-4, 1.0e0, 2.5, -2.5, 7.77, 10.0, 99.999999, 500.0, -123.456,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)
    val sch = StructType(Seq(SF("x", DoubleType, nullable = false)))
    val d = df(sch, vals.map(Row(_)))
    val (h, m, l) = graft.functions.witnessSplit3(col("x"), 1e14)
    val dec = graft.functions.decimalWitness(col("x"), 1e14)
    val rows = d.select(
        (h.cast(DecimalType(38, 0)) * lit(4611686018427387904L) +
          m.cast(DecimalType(38, 0)) * lit(2147483648L) +
          l.cast(DecimalType(38, 0))).as("recon"),
        dec.as("direct"))
      .collect()
    for (r <- rows)
      assert(r.getDecimal(0) === r.getDecimal(1), s"mismatch: $r")
  }

  test("pagerank family above BroadcastNodeCap plans NO broadcast hint, same results") {
    // The 100 TB contract: the rank vector and degree table are |V| rows;
    // above the measured-count cap neither may be HINTED broadcast (a
    // billion-node vector is a multi-GB broadcast per iteration). This
    // watches EVERY plan the iterations execute (each round's eager
    // localCheckpoint passes through the listener), not just the returned
    // DataFrame's, and pins bit-identity with the broadcast path.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BROADCAST, ResolvedHint}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val nodes = (1L to 40L).toSeq
    val edges = nodes.flatMap(u => Seq((u, u % 40 + 1), (u, (u + 11) % 40 + 1)))
      .filter { case (a, b) => a != b }
    val n = df(nodeSchema, nodes.map(Row(_)))
    val e = df(edgeSchema, edges.map { case (a, b) => Row(a, b) })
    val seeds = df(nodeSchema, Seq(Row(1L), Row(2L)))

    // a broadcast of a GROUP-LESS aggregate (a 1-row scalar, e.g. the
    // hits max normalizer) is scale-independent — the blessed TPC-H
    // Q15/Q11 crossJoin pattern — and stays allowed above the cap; the
    // contract this spec pins is that no |V|-row frame is hinted
    def scalarAgg(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p match {
        case a: Aggregate => a.groupingExpressions.isEmpty
        case u: org.apache.spark.sql.catalyst.plans.logical.UnaryNode => scalarAgg(u.child)
        case _ => false
      }
    def hinted(qe: QueryExecution): Boolean = qe.analyzed.collectFirst {
      case h: ResolvedHint
        if h.hints.strategy.contains(BROADCAST) && !scalarAgg(h.child) => h
    }.isDefined

    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (hinted(qe)) seen.add(funcName)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }

    // default path (tiny |V| → broadcast hints): reference results
    val prWant = Graph.pageRank(n, e, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pprWant = Graph.pageRankSeeded(n, e, seeds, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val hitsWant = Graph.hits(n, e, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val lpWant = Graph.labelPropagation(n, e, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    spark.listenerManager.register(listener)
    try {
      val prGot = Graph.pageRank(n, e, iters = 4, broadcastNodeCap = 0L)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val pprGot = Graph.pageRankSeeded(n, e, seeds, iters = 4, broadcastNodeCap = 0L)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val hitsGot = Graph.hits(n, e, iters = 3, broadcastNodeCap = 0L)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      val lpGot = Graph.labelPropagation(n, e, iters = 3, broadcastNodeCap = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
      assert(seen.isEmpty,
        s"broadcast hint planned above the cap in: ${seen.toArray.mkString(", ")}")
      assert(prGot === prWant)
      assert(pprGot === pprWant)
      assert(hitsGot === hitsWant)
      assert(lpGot === lpWant)

      // positive control: the same listener DOES see the hint on the
      // default small-graph path, so an all-green run can't be a
      // listener that never fired
      Graph.pageRank(n, e, iters = 1).collect()
      org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
      assert(!seen.isEmpty, "listener never observed the broadcast hint on the default path")
    } finally spark.listenerManager.unregister(listener)
  }

  /** Scalar HITS with the same decimal quantization + max normalization. */
  private def scalarHits(nodes: Seq[Long], edges: Seq[(Long, Long)],
                         iters: Int): Map[Long, (Double, Double)] = {
    def q(d: Double) = BigDecimal(d).setScale(14, BigDecimal.RoundingMode.HALF_UP)
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = nodes.map(_ -> 0.0).toMap
    for (_ <- 1 to iters) {
      val aRaw = nodes.map { v =>
        v -> edges.filter(_._2 == v).map(e => q(hub(e._1))).sum.toDouble
      }.toMap
      val aMax = aRaw.values.max
      auth = aRaw.view.mapValues(_ / (if (aMax > 0) aMax else 1.0)).toMap
      val hRaw = nodes.map { u =>
        u -> edges.filter(_._1 == u).map(e => q(auth(e._2))).sum.toDouble
      }.toMap
      val hMax = hRaw.values.max
      hub = hRaw.view.mapValues(_ / (if (hMax > 0) hMax else 1.0)).toMap
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  test("hits matches the scalar oracle on a hand bipartite graph") {
    // customers 1..3 → suppliers 11..12; 3 also → 13 (exclusive)
    val nodes = Seq(1L, 2L, 3L, 11L, 12L, 13L)
    val edges = Seq((1L, 11L), (1L, 12L), (2L, 11L), (3L, 12L), (3L, 13L))
    val got = Graph.hits(
        df(nodeSchema, nodes.map(Row(_))),
        df(edgeSchema, edges.map { case (a, b) => Row(a, b) }),
        iters = 4)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val want = scalarHits(nodes, edges, iters = 4)
    for (v <- nodes) {
      assert(math.abs(got(v)._1 - want(v)._1) < 1e-12, s"hub $v")
      assert(math.abs(got(v)._2 - want(v)._2) < 1e-12, s"auth $v")
    }
    // structure: sources have auth 0, sinks have hub 0, max-norm hits 1.0
    assert(got(1L)._2 === 0.0 && got(11L)._1 === 0.0)
    assert(got.values.map(_._1).max === 1.0 && got.values.map(_._2).max === 1.0)
  }

  test("pageRankSeeded confines mass to the seeds' reachable set") {
    // two disjoint cycles; seeds only in the first
    val nodes = (1L to 6L).toSeq
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L), (6L, 4L))
    val got = Graph.pageRankSeeded(
        df(nodeSchema, nodes.map(Row(_))),
        df(edgeSchema, edges.map { case (a, b) => Row(a, b) }),
        df(nodeSchema, Seq(Row(1L))), iters = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(4L) === 0.0 && got(5L) === 0.0 && got(6L) === 0.0,
      "unreachable component must hold zero mass")
    assert(got(1L) == got.values.max, "seed holds the most mass")
    assert(Seq(1L, 2L, 3L).forall(got(_) > 0.0))
  }

  // ---- fuzzy edit-distance join ----

  private val custSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType, nullable = false)))

  private def scalarLev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("fuzzyPairsEdit1 == brute-force levenshtein ≤ 1 (sub, ins, del, exact, miss)") {
    val names = Seq(
      1L -> "alpha", 2L -> "alpha",   // exact dup (dist 0)
      3L -> "alphb",                  // substitution of 1
      4L -> "alpha7",                 // insertion vs 1
      5L -> "alph",                   // deletion vs 1
      6L -> "alXYa",                  // dist 2 from 1 — must NOT appear
      7L -> "omega", 8L -> "omeg4")   // separate block, dist 1
    val got = Dedup.fuzzyPairsEdit1(
        df(custSchema, names.map { case (i, n) => Row(i, n) }), "id", "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = (for {
      (ia, na) <- names; (ib, nb) <- names if ia < ib
      d = scalarLev(na, nb) if d <= 1
    } yield (ia, ib, d.toLong)).toSet
    assert(got === want)
    assert(got.contains((1L, 4L, 1L)) && got.contains((1L, 5L, 1L)),
      "insertion and deletion neighbors must be found, not just substitutions")
    assert(!got.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("fuzzyPairsEdit1 candidate volume is blocked, not all-pairs") {
    // 200 distinct far-apart keys: zero candidate pairs survive blocking
    val names = (1L to 200L).map(i => i -> f"k${i}%03d-${"x" * (i % 5).toInt}${i * 7919}")
    val got = Dedup.fuzzyPairsEdit1(
      df(custSchema, names.map { case (i, n) => Row(i, n) }), "id", "name")
    // correctness side: equals brute force (which finds a few true pairs or none)
    val want = (for {
      (ia, na) <- names; (ib, nb) <- names if ia < ib
      d = scalarLev(na, nb) if d <= 1
    } yield (ia, ib, d.toLong)).toSet
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet === want)
  }

  // ---- skyline ----

  private val ptSchema = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))

  test("skyline2d == brute-force dominance filter, incl. ties and duplicates") {
    val rnd = new scala.util.Random(11)
    // small coordinate grid → many ties on each axis + exact duplicates
    val pts = Seq.fill(300)((rnd.nextInt(12).toDouble, rnd.nextInt(12).toDouble))
    val got = Skyline.skyline2d(
        df(ptSchema, pts.map { case (x, y) => Row(x, y) }), "x", "y")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    val distinct = pts.distinct
    val want = distinct.filter { case (x, y) =>
      !distinct.exists { case (a, b) =>
        a <= x && b <= y && (a < x || b < y)
      }
    }.toSet
    assert(got === want)
  }

  test("skyline2d on a strictly decreasing staircase keeps every point") {
    val pts = (0 until 20).map(i => (i.toDouble, (19 - i).toDouble))
    val got = Skyline.skyline2d(
        df(ptSchema, pts.map { case (x, y) => Row(x, y) }), "x", "y")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    assert(got === pts.toSet)
  }

  // ---- label-propagation communities ----

  private def lpa(edges: Seq[(Long, Long)], iters: Int) = {
    val both = edges ++ edges.map(_.swap)
    Graph.labelPropagation(
        df(nodeSchema, both.map(_._1).distinct.map(Row(_))),
        df(edgeSchema, both.map { case (a, b) => Row(a, b) }), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** The exact update rule scalar-side: most frequent in-neighbor label,
    * ties to the smallest, keep own when isolated. */
  private def scalarLpa(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val both = (edges ++ edges.map(_.swap)).distinct
    val inN = both.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var lbl = both.map(_._1).distinct.map(v => v -> v).toMap
    for (_ <- 1 to iters) {
      lbl = lbl.map { case (v, old) =>
        inN.get(v) match {
          case None | Some(Nil) => v -> old
          case Some(ns) =>
            val freq = ns.map(lbl).groupBy(identity).view.mapValues(_.size)
            v -> freq.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
    }
    lbl
  }

  test("labelPropagation: two disjoint triangles converge to min-id communities") {
    val tris = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L))
    val got = lpa(tris, 4)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("labelPropagation ties resolve to the smallest label") {
    // node 5's neighbors are 2 and 3 (one vote each) → takes label 2
    val got = lpa(Seq((2L, 5L), (3L, 5L)), 1)
    assert(got(5L) === 2L)
  }

  test("labelPropagation == scalar rule on a random graph at every iteration count") {
    val rnd = new scala.util.Random(83L)
    val edges = (for {
      a <- 0L until 20L; b <- (a + 1) until 20L if rnd.nextDouble() < 0.12
    } yield (a, b)).toSeq
    for (iters <- Seq(1, 3, 5))
      assert(lpa(edges, iters) === scalarLpa(edges, iters), s"iters=$iters")
  }

  // ---- multi-source BFS ----

  private def bfs(edges: Seq[(Long, Long)], seeds: Seq[Long], maxHops: Int) =
    Graph.bfsHops(
        df(edgeSchema, edges.map { case (a, b) => Row(a, b) }),
        df(nodeSchema, seeds.map(Row(_))), maxHops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("bfsHops on a line graph: exact hop distances, horizon respected") {
    val got = bfs(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), Seq(1L), 2)
    assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("bfsHops takes the MINIMUM distance over multiple paths and seeds") {
    // 1→2→3→4 and a shortcut 1→4; seeds {1, 10} with 10→3
    val got = bfs(Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L), (10L, 3L)),
      Seq(1L, 10L), 3)
    assert(got === Map(1L -> 0L, 10L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 1L))
  }

  test("bfsHops == scalar BFS on a random directed graph") {
    val rnd = new scala.util.Random(29L)
    val n = 30
    val edges = (for {
      a <- 0L until n; b <- 0L until n
      if a != b && rnd.nextDouble() < 0.08
    } yield (a, b)).toSeq
    val seeds = Seq(0L, 7L)
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // scalar reference BFS
    val want = scala.collection.mutable.Map(seeds.map(_ -> 0L): _*)
    var frontier = seeds.toSet
    for (h <- 1L to 4L) {
      frontier = frontier.flatMap(v => adj.getOrElse(v, Seq.empty))
        .filterNot(want.contains)
      frontier.foreach(v => want(v) = h)
    }
    assert(bfs(edges, seeds, 4) === want.toMap)
  }

  // ---- triangle counting / clustering coefficient ----

  private val undSchema = StructType(Seq(
    StructField("u", LongType, nullable = false),
    StructField("v", LongType, nullable = false)))

  private def triStats(edges: Seq[(Long, Long)]) =
    Graph.triangleStats(df(undSchema, edges.map { case (a, b) => Row(a, b) }))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

  test("triangleStats on K4: every node deg 3, tri 3, cc 1.0") {
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val got = triStats(k4)
    assert(got.keySet === Set(1L, 2L, 3L, 4L))
    got.values.foreach { case (deg, tri, cc) =>
      assert(deg === 3L && tri === 3L && cc === 1.0)
    }
  }

  test("triangleStats on a path graph emits no rows") {
    assert(triStats(Seq((1L, 2L), (2L, 3L), (3L, 4L))).isEmpty)
  }

  test("triangleStats == brute-force per-node triangle count on a random graph") {
    val rnd = new scala.util.Random(71L)
    val n = 24
    val edges = (for {
      a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < 0.25
    } yield (a, b)).toSeq
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = (0L until n).flatMap { v =>
      val nb = adj.getOrElse(v, Set.empty).toSeq.sorted
      val t = (for {
        i <- nb.indices; j <- (i + 1) until nb.length
        if adj(nb(i)).contains(nb(j))
      } yield 1).size
      if (t > 0) Some(v -> ((nb.size.toLong, t.toLong,
        2.0 * t / (nb.size.toLong * (nb.size - 1L))))) else None
    }.toMap
    assert(triStats(edges) === want)
  }

  // ---- JaroWinkler expression + scored linkage ----

  private def jwScalar(a: String, b: String): Double = {
    val df1 = spark.createDataFrame(
      java.util.Arrays.asList(Row(a, b)),
      StructType(Seq(StructField("a", StringType), StructField("b", StringType))))
    df1.select(graft.functions.jaroWinkler(col("a"), col("b"))).head().getDouble(0)
  }

  test("jaroWinkler: textbook values, the empty edge, and symmetry") {
    // Winkler's canonical examples
    assert(math.abs(jwScalar("MARTHA", "MARHTA") - 0.9611111111111111) < 1e-12)
    assert(math.abs(jwScalar("DWAYNE", "DUANE") - 0.84) < 1e-12)
    assert(math.abs(jwScalar("DIXON", "DICKSONX") - 0.8133333333333332) < 1e-12)
    assert(jwScalar("abc", "abc") === 1.0)
    // DuckDB-pinned: empty input (even both) scores 0.0, not 1.0
    assert(jwScalar("", "") === 0.0)
    assert(jwScalar("abc", "") === 0.0)
    assert(jwScalar("abc", "xyz") === 0.0) // no matches
    assert(jwScalar("MARHTA", "MARTHA") === jwScalar("MARTHA", "MARHTA"))
  }

  test("linkPairsJaroWinkler: prefix-weighted — early typo scores below tail typo") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType, nullable = false)))
    val rows = Seq(
      Row(1L, "Customer#001234"), Row(2L, "Xustomer#001234"), // first-char typo
      Row(3L, "Customer#001235"),                             // last-char typo
      Row(4L, "totally-different"))
    val got = graft.ops.Dedup.linkPairsJaroWinkler(df(schema, rows), "id", "name")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet === Set((1L, 2L), (1L, 3L))) // (2,3) is edit distance 2
    got.values.foreach { case (dist, _) => assert(dist <= 1L) }
    // (1,3) differs at the tail → higher JW than (1,2), which differs at char 0
    assert(got((1L, 3L))._2 > got((1L, 2L))._2)
  }

  // ---- kCore: iterative peeling ----

  private def kCoreMap(edges: Seq[(Long, Long)], k: Int, maxRounds: Int = 50) =
    Graph.kCore(df(undSchema, edges.map { case (a, b) => Row(a, b) }), k, maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Scalar synchronous peeling — the definitional fixpoint. */
  private def scalarKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var active = adj.keySet
    var changed = true
    while (changed) {
      val next = active.filter(v => adj(v).count(active) >= k)
      changed = next != active
      active = next
    }
    active.map(v => v -> adj(v).count(active).toLong).toMap
  }

  test("kCore: clique survives peeling, attached chain unravels") {
    // K4 on 1..4 plus a tail 4-5-6-7
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toSeq
    val edges = k4 ++ Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val got2 = kCoreMap(edges, k = 2)
    assert(got2.keySet === Set(1L, 2L, 3L, 4L)) // chain peels at k=2
    assert(got2.values.toSet === Set(3L))       // in-core degree = clique degree
    assert(kCoreMap(edges, k = 3).keySet === Set(1L, 2L, 3L, 4L))
    assert(kCoreMap(edges, k = 4) === Map.empty) // K4 has max degree 3
  }

  test("kCore: cascade — removing one node's support unravels a whole chain") {
    // cycle 1-2-3-4-1 (2-core) plus a pendant path hanging off it
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (4L, 5L), (5L, 6L), (6L, 7L), (7L, 8L))
    val got = kCoreMap(edges, k = 2)
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("kCore == scalar peeling on a random graph, several k") {
    val rnd = new scala.util.Random(137L)
    val edges = (for {
      a <- 0L until 40L; b <- (a + 1) until 40L if rnd.nextDouble() < 0.12
    } yield (a, b)).toSeq
    for (k <- Seq(2, 3, 4, 5))
      assert(kCoreMap(edges, k) === scalarKCore(edges, k), s"k=$k")
  }

  // ---- coreness: H-index fixpoint ----

  /** Scalar peeling coreness — the definitional value the H-iteration
    * must converge to.
    */
  private def scalarCoreness(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = collection.mutable.Map.empty[Long, collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, collection.mutable.Set.empty) += a
    }
    val deg = collection.mutable.Map(adj.view.mapValues(_.size.toLong).toSeq: _*)
    val core = collection.mutable.Map.empty[Long, Long]
    var cur = 0L
    while (deg.nonEmpty) {
      val (v, d) = deg.minBy { case (n, dd) => (dd, n) }
      cur = math.max(cur, d)
      core(v) = cur
      deg.remove(v)
      adj(v).foreach { u => if (deg.contains(u)) deg(u) -= 1 }
      adj.values.foreach(_.remove(v))
    }
    core.toMap
  }

  test("coreness == peeling coreness on hand and random graphs; consistent with kCore") {
    // K4 + tail: clique coreness 3, tail coreness 1
    val k4 = (for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)).toSeq
    val edges = k4 ++ Seq((4L, 5L), (5L, 6L))
    val got = Graph.coreness(df(undSchema, edges.map { case (a, b) => Row(a, b) }))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L, 5L -> 1L, 6L -> 1L))

    val rnd = new scala.util.Random(83L)
    val rndEdges = (for {
      a <- 0L until 36L; b <- (a + 1) until 36L if rnd.nextDouble() < 0.15
    } yield (a, b)).toSeq
    val gotR = Graph.coreness(df(undSchema, rndEdges.map { case (a, b) => Row(a, b) }))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotR === scalarCoreness(rndEdges))
    // cross-op consistency: the k-core member set == {v : coreness ≥ k}
    for (k <- Seq(2, 3)) {
      assert(kCoreMap(rndEdges, k).keySet === gotR.filter(_._2 >= k).keySet, s"k=$k")
    }
  }

  // ---- kTruss: edge-support peeling ----

  private def kTrussMap(edges: Seq[(Long, Long)], k: Int, maxRounds: Int = 50) =
    Graph.kTruss(df(undSchema, edges.map { case (a, b) => Row(a, b) }), k, maxRounds)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  private def scalarKTruss(edges: Seq[(Long, Long)], k: Int): Map[(Long, Long), Long] = {
    var es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    var sup = Map.empty[(Long, Long), Long]
    var changed = true
    while (changed) {
      val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      sup = es.map { case (u, v) => (u, v) -> (adj(u) & adj(v)).size.toLong }.toMap
      val next = es.filter(e => sup(e) >= k - 2)
      changed = next != es
      es = next
    }
    es.map(e => e -> sup(e)).toMap
  }

  test("kTruss: K5 with a pendant triangle — truss keeps the clique, cuts the bridge") {
    val k5 = (for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)).toSeq
    // pendant triangle 5-6-7 hanging off node 5: each of its edges has
    // 1 common neighbor → dies at k=4 even though node 5 is high-degree
    val edges = k5 ++ Seq((5L, 6L), (5L, 7L), (6L, 7L))
    val got = kTrussMap(edges, k = 4)
    assert(got.keySet === k5.toSet)
    got.values.foreach(s => assert(s === 3L)) // every K5 edge: 3 common neighbors
    // at k=3 the pendant triangle survives too (support 1 ≥ 1)
    assert(kTrussMap(edges, k = 3).keySet === edges.toSet)
  }

  test("kTruss == scalar support peeling on a random graph, several k") {
    val rnd = new scala.util.Random(29L)
    val edges = (for {
      a <- 0L until 30L; b <- (a + 1) until 30L if rnd.nextDouble() < 0.25
    } yield (a, b)).toSeq
    for (k <- Seq(3, 4, 5))
      assert(kTrussMap(edges, k) === scalarKTruss(edges, k), s"k=$k")
  }

  /** Scalar synchronous peel, counting DROP rounds (the distributed
    * loop runs dropRounds + 1: the final round observes zero drops).
    */
  private def scalarKTrussRounds(edges: Seq[(Long, Long)], k: Int): Int = {
    var es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    var rounds = 0
    var changed = true
    while (changed) {
      val adj = es.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val next = es.filter { case (u, v) => (adj(u) & adj(v)).size >= k - 2 }
      changed = next != es
      if (changed) rounds += 1
      es = next
    }
    rounds
  }

  /** Triangular lattice of side m: every edge borders ≤ 2 triangles, so
    * at k=4 (threshold 2) only interior edges survive a round and the
    * lattice peels one boundary layer per round — a genuinely deep
    * cascade, unlike a clique (1 round) or a strip (2).
    */
  private def triLattice(m: Int): Seq[(Long, Long)] = {
    def id(i: Long, j: Long) = i * (m + 1) + j
    (for {
      i <- 0L to m; j <- 0L to m - i
      e <- Seq(
        if (i + 1 + j <= m) Some((id(i, j), id(i + 1, j))) else None,
        if (i + j + 1 <= m) Some((id(i, j), id(i, j + 1))) else None,
        if (i + 1 + j <= m) Some((id(i + 1, j), id(i, j + 1))) else None).flatten
    } yield e).distinct
  }

  test("kTruss: decremental peel ≡ synchronous peel on a deep-peeling lattice (≥3 rounds)") {
    val edges = triLattice(8)
    val dropRounds = scalarKTrussRounds(edges, k = 4)
    assert(dropRounds >= 3, s"lattice too shallow: $dropRounds drop rounds")
    // value equivalence at the fixpoint
    assert(kTrussMap(edges, k = 4) === scalarKTruss(edges, k = 4))
    // SCHEDULE equivalence: the decremental loop converges in exactly
    // dropRounds + 1 rounds (one more than the scalar drop count, to
    // observe the empty drop set) and fails loudly one round short —
    // proof the incremental supports reproduce the synchronous peel
    // round for round, not just at the fixpoint
    assert(kTrussMap(edges, k = 4, maxRounds = dropRounds + 1) === scalarKTruss(edges, k = 4))
    val e = intercept[IllegalArgumentException] {
      kTrussMap(edges, k = 4, maxRounds = dropRounds)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("kTruss: two edges of a triangle drop in one round, the third loses exactly one support") {
    // K4 on {1,2,4,5} (every edge support 2) plus node 3 on edge (1,2):
    // at k=4, (1,3) and (2,3) have support 1 and drop in round 1 — both
    // witness the dead triangle 1-2-3, which must take exactly one
    // support from the surviving (1,2): 3 → 2, so it stays in the truss
    val k4 = for { a <- Seq(1L, 2L, 4L, 5L); b <- Seq(1L, 2L, 4L, 5L) if a < b } yield (a, b)
    val edges = k4 ++ Seq((1L, 3L), (2L, 3L))
    assert(scalarKTrussRounds(edges, k = 4) === 1)
    val got = kTrussMap(edges, k = 4, maxRounds = 2)
    assert(got === scalarKTruss(edges, k = 4))
    assert(got.keySet === k4.toSet)
    assert(got((1L, 2L)) === 2L)
  }

  test("kTruss, kCore and bfsHops: empty and triangle-free inputs return empty and finish") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val signaler: Signaler = ThreadSignaler
    // every round's convergence count is observed on its checkpoint; an
    // empty frame must still report 0 instead of leaving the probe waiting
    TimeLimits.failAfter(120.seconds) {
      assert(kTrussMap(Seq.empty, k = 3) === Map.empty)
      assert(kTrussMap(Seq.empty, k = 3, maxRounds = 1) === Map.empty)
      val star = (2L to 6L).map(v => (1L, v))
      assert(kTrussMap(star, k = 3) === Map.empty)
      assert(kTrussMap(star, k = 3, maxRounds = 2) === Map.empty)
      assert(kCoreMap(Seq.empty, k = 2) === Map.empty)
      assert(kCoreMap(star, k = 2) === Map.empty)
      assert(bfs(Seq.empty, Seq(1L), 3) === Map(1L -> 0L))
      assert(bfs(Seq((1L, 2L)), Seq.empty, 3) === Map.empty)
    }
  }

  test("coreness: hub-safe — 10⁶-degree star hub, window runs over the histogram not the adjacency") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    // plan shape: the H-index window's input must be the (node, value)
    // histogram AGGREGATE — per-node partitions bounded by distinct
    // values, never raw degree — so a hub cannot become one sorting task
    val und = df(undSchema, Seq(Row(0L, 1L), Row(0L, 2L)))
      .select(col("u"), col("v"))
    val adj = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
    val c = adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("c"))
    val round = graft.ops.Graph.hIndexRound(adj, c, nV = 3L)
    val win = round.queryExecution.optimizedPlan.collectFirst { case w: LWindow => w }
    assert(win.nonEmpty, "H-index round lost its window")
    assert(win.get.child.collectFirst { case a: Aggregate => a }.nonEmpty,
      "window input must be the histogram aggregate, not raw adjacency")
    // end-to-end: a 10⁶-leaf star — the hub's per-round histogram is ONE
    // row (all capped neighbor values equal), so this completes in
    // seconds; the old per-node rank window would sort 10⁶ rows in one
    // task. Coreness of a star is 1 everywhere.
    val spark2 = spark
    val star = spark2.range(1L, 1000001L)
      .select(lit(0L).as("u"), col("id").as("v"))
    val res = graft.ops.Graph.coreness(star)
    import org.apache.spark.sql.functions.{min => smin, max => smax}
    val Row(lo: Long, hi: Long, n: Long) =
      res.agg(smin(col("coreness")), smax(col("coreness")), count(lit(1))).head()
    assert(lo === 1L && hi === 1L && n === 1000001L)
  }

  test("kCore: maxRounds too small fails loudly instead of returning a non-fixpoint") {
    // long path: k=2 peels one node from each end per round
    val path = (1L until 20L).map(i => (i, i + 1))
    val e = intercept[IllegalArgumentException] { kCoreMap(path, k = 2, maxRounds = 2) }
    assert(e.getMessage.contains("converge"))
    assert(kCoreMap(path, k = 2) === Map.empty) // a path has no 2-core
  }

  test("graph fixpoints run a pinned number of Spark jobs and driver actions") {
    // Driver actions are the fixpoints' dominant cost at small scale, so
    // each operator's counts on a fixed graph (build + collect) are
    // pinned: a refactor must not add one, and a change that removes one
    // lowers the pin. A driver action is one SQL execution (a count, a
    // collect, an eager checkpoint); its jobs include AQE's query stages.
    def countsOf(run: => Any): (Int, Int) = {
      val t = JobTrace(spark.sparkContext)(run)._2
      (t.executions, t.jobs)
    }
    val nodes = (1L to 40L).toSeq
    val edges = nodes.flatMap(u => Seq((u, u % 40 + 1), (u, (u + 11) % 40 + 1)))
      .filter { case (a, b) => a != b }
    val n = df(nodeSchema, nodes.map(Row(_)))
    val e = df(edgeSchema, edges.map { case (a, b) => Row(a, b) })
    val seeds = df(nodeSchema, Seq(Row(1L), Row(2L)))
    val lattice = df(undSchema, triLattice(8).map { case (a, b) => Row(a, b) })

    // (driver actions, jobs)
    assert(countsOf(Graph.pageRank(n, e, iters = 4).collect()) === ((9, 24)))
    assert(countsOf(Graph.pageRankSeeded(n, e, seeds, iters = 4).collect()) === ((9, 26)))
    assert(countsOf(Graph.hits(n, e, iters = 3).collect()) === ((10, 40)))
    // one action per peel round / hop: setup, one checkpoint-plus-probe
    // per round, and the collect
    assert(countsOf(Graph.kCore(lattice, k = 4).collect()) === ((12, 30)))
    assert(countsOf(Graph.bfsHops(e, seeds, maxHops = 3).collect()) === ((6, 16)))
    // kTruss: e0, ori, the initial settle, one settle per drop round (6)
    // and the collect. Its job total is not deterministic: how many
    // query-stage jobs AQE submits for a peel round depends on which of
    // the round's concurrent stages finishes first (51-55 jobs over 16
    // repeated runs of the same code, every job succeeding), so only its
    // driver actions are exact and the total gets headroom above that
    // range.
    val (trussActions, trussJobs) = countsOf(Graph.kTruss(lattice, k = 4).collect())
    assert(trussActions === 10)
    assert(trussJobs <= 60, s"kTruss ran $trussJobs jobs")
  }
}
