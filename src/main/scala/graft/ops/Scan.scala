package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed prefix sum (parallel scan) — the scale-safe form of
  * `sum(...).over(Window.partitionBy(g).orderBy(o))`.
  *
  * Spark's window operator puts ONE group's entire ordered history on one
  * task: a global cumulative sum is a single-task stage, and a grouped one
  * stalls on its hottest group (one language ≈ half a pretraining corpus).
  * The classic fix is the two-pass scan (Blelloch 1990, "Prefix Sums and
  * Their Applications", CMU-CS-90-190 — the textbook parallel-scan
  * decomposition):
  *
  *   1. range-partition by (group, order) and sort within partitions —
  *      ONE shuffle, the same one the window formulation pays;
  *   2. pass 1 (narrow): per-partition, per-group partial sums — at most
  *      (#groups crossing a boundary + #partitions) rows, collected;
  *   3. driver: exclusive running offset per (partition, group) — O(P+G)
  *      work on P partitions and G groups;
  *   4. pass 2 (narrow): re-scan the SAME partitions, local running sum
  *      seeded with the broadcast offset.
  *
  * Each pass is embarrassingly parallel; no partition ever holds more
  * than its range share regardless of group skew. The partitioned frame
  * is eagerly localCheckpointed so both passes provably see identical
  * partition boundaries (range partitioning re-sampled between passes
  * could silently misalign the offsets).
  *
  * Driver state is O(P + G): right for few-or-moderate group counts with
  * possibly-huge groups (the hot case windows can't handle). For HUGE
  * group counts with small groups, the plain window is already safe
  * (per-key history is bounded) and cheaper — `require`-guarded here
  * rather than silently collecting millions of offsets.
  *
  * Reference semantics: faiss-metal's partial/merge selection
  * (MetalSelect.mm:55 — per-threadgroup partials merged to a final
  * result) applies the same decompose-offset-recombine shape to top-k;
  * this is the additive-scan analog for ordered analytics (sequence
  * packing, running totals).
  */
object Scan {

  /** Append `cumCol` = inclusive prefix sum of `valueCol` over rows
    * ordered by `orderCols` within each `groupCols` group (whole frame if
    * empty). `orderCols` must be a per-group total order (e.g. a unique
    * id) for the result to be well-defined — the same contract as any
    * deterministic window cumsum.
    */
  def prefixSum(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                valueCol: String, cumCol: String = "cum",
                numParts: Int = 0, maxDriverEntries: Int = 1 << 20): DataFrame = {
    require(orderCols.nonEmpty, "prefixSum needs at least one order column")
    val spark = df.sparkSession
    // r19 (opt): default width from INPUT SIZE (1 MiB per range
    // partition), not a flat defaultParallelism. The two RDD passes pay a
    // per-task Row-conversion + closure-deser fixed cost (~100 ms/task
    // measured at local[32]), so 32 near-empty range partitions of an
    // MB-scale frame cost more than they buy. Partition count does not
    // change results (the offsets pass makes the cumsum
    // boundary-independent), only task sizing.
    val p = if (numParts > 0) numParts else Dedup.sizedWidth(df, 1L << 20)
    val keyCols = (groupCols ++ orderCols).map(col)
    // one shuffle; eager checkpoint pins partition boundaries for BOTH passes
    val sorted = df.repartitionByRange(p, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .localCheckpoint(true)
    val schema = sorted.schema
    val gIdx = groupCols.map(schema.fieldIndex).toArray
    val vIdx = schema.fieldIndex(valueCol)
    require(schema(vIdx).dataType == LongType,
      s"prefixSum sums LongType, got ${schema(vIdx).dataType} for $valueCol")
    def key(r: Row): Seq[Any] = gIdx.toSeq.map(r.get)

    // pass 1: per-(partition, group) totals, in first-seen (= sorted)
    // order. Per-partition quota (max/P) bounds the collect itself —
    // a partition over quota ships a null sentinel, so the driver
    // rejects the many-small-groups regime WITHOUT first materializing
    // it (r16 ADVICE: the old form OOMed on the collect before the
    // check could fire).
    val quota = math.max(1L,
      maxDriverEntries.toLong / math.max(1, sorted.rdd.getNumPartitions)).toInt
    val partSums: Array[(Int, Seq[(Seq[Any], Long)])] =
      sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        val sums = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Long]
        var over = false
        it.foreach { r =>
          if (!over) {
            val k = key(r); sums.update(k, sums.getOrElse(k, 0L) + r.getLong(vIdx))
            if (sums.size > quota) { over = true; sums.clear() }
          }
        }
        Iterator.single((pid, if (over) null else sums.toSeq))
      }.collect()
    val overQuota = partSums.exists(_._2 == null)
    val nEntries =
      if (overQuota) Int.MaxValue else partSums.iterator.map(_._2.size).sum
    if (nEntries > maxDriverEntries) {
      // many-small-groups regime (r17 ADVICE: a skewed range partition can
      // trip the per-partition quota even when the global total fits) —
      // either way the per-group history is short enough that the plain
      // window cumsum is already skew-safe. Long addition is exact, so the
      // window result is bit-identical to the two-pass scan. Quota overflow
      // implies > quota distinct groups in one partition, which is
      // impossible with no group columns (one global group), so the
      // partitioned window below is never a single-task whole-frame sort.
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(orderCols.map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      return df.withColumn(cumCol, sum(col(valueCol)).over(w))
    }

    // driver: exclusive offsets — running total per group across pids asc
    val running = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
    val offsets: Map[(Int, Seq[Any]), Long] =
      partSums.sortBy(_._1).iterator.flatMap { case (pid, sums) =>
        sums.map { case (k, s) =>
          val off = running.getOrElse(k, 0L)
          running.update(k, off + s)
          ((pid, k), off)
        }
      }.toMap
    val bcast = spark.sparkContext.broadcast(offsets)

    // pass 2: local running sum seeded with this partition's group offsets
    val outSchema = StructType(schema.fields :+ StructField(cumCol, LongType, nullable = false))
    val out = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val local = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
      it.map { r =>
        val k = key(r)
        val cum = local.getOrElse(k, bcast.value.getOrElse((pid, k), 0L)) + r.getLong(vIdx)
        local.update(k, cum)
        Row.fromSeq(r.toSeq :+ cum)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Sequence packing on the scan: concat-and-chop each group's token
    * stream (doc order) into fixed `seqLen`-token training sequences —
    * per doc its pack id and offset within the pack. Identical output to
    * the window formulation (`q_pack_sequences`), safe when one group is
    * half the corpus.
    */
  def packSequences(docs: DataFrame, seqLen: Int, groupCols: Seq[String] = Seq("lang")): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val counted = docs.select((groupCols :+ "doc_id").map(col) :+
      size(split(col("text"), " ", -1)).cast(LongType).as("n_tokens"): _*)
    prefixSum(counted, groupCols, Seq("doc_id"), "n_tokens")
      .select(col("doc_id") +: groupCols.map(col) :+ col("n_tokens") :+
        expr(s"(cum - n_tokens) div $seqLen").as("pack_id") :+
        ((col("cum") - col("n_tokens")) % seqLen).as("pack_offset"): _*)
  }

  // saturating add keeps the clamp-map bounds representable without long
  // overflow when a bound is already at a sentinel extreme
  private def satAdd(a: Long, b: Long): Long = {
    val s = a + b
    if (((a ^ s) & (b ^ s)) < 0) { if (a > 0) Long.MaxValue else Long.MinValue } else s
  }
  private def clampL(x: Long, lo: Long, hi: Long): Long = math.max(lo, math.min(hi, x))

  /** Clamped running accumulator — the skew-safe, EXACT form of
    *
    *   y_i = max(lo, min(hi, y_{i-1} + delta_i)),  y_0 = seed
    *
    * (token-bucket / quota accounting, inventory with a floor of zero and
    * a warehouse-capacity ceiling, bounded credit balances). A window
    * formulation cannot express this at all — the clamp makes each step
    * depend on the clamped PREVIOUS value, not on any prefix aggregate —
    * so the naive implementation is a per-group sequential pass, which at
    * 100 TB stalls on the hottest key.
    *
    * Scale shape: the recurrence lives in the "clamp-affine" monoid —
    * maps f(y) = clamp(y + b, l, h) are closed under composition:
    *
    *   (g ∘ f)(y) = clamp(y + bf + bg, clamp(lf + bg, lg, hg),
    *                                   clamp(hf + bg, lg, hg))
    *
    * (clamp(clamp(x,a,b),c,d) = clamp(x, clamp(a,c,d), clamp(b,c,d)) for
    * a ≤ b, c ≤ d — clamp is monotone). So the same two-pass Blelloch
    * decomposition as [[prefixSum]] applies: pass 1 folds each
    * (partition, group) slice into ONE composed map, the driver threads
    * the seed through the per-partition maps in order (O(P·G) exact long
    * arithmetic — bit-identical to the sequential recurrence), pass 2
    * replays each partition sequentially from its exact entry value.
    * Unlike the float scans there is NO cross-partition rounding: integer
    * clamp-affine composition is exact, so the distributed result equals
    * the single-threaded one bit for bit.
    *
    * `deltaCol` must be LongType; appends `outCol` = y_i.
    */
  def clampedScan(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                  deltaCol: String, lo: Long, hi: Long, seed: Long = 0L,
                  outCol: String = "level",
                  numParts: Int = 0, maxDriverEntries: Int = 1 << 20): DataFrame = {
    require(orderCols.nonEmpty, "clampedScan needs at least one order column")
    require(lo <= hi, s"clampedScan needs lo <= hi, got [$lo, $hi]")
    val spark = df.sparkSession
    val p = if (numParts > 0) numParts else spark.sparkContext.defaultParallelism
    val keyCols = (groupCols ++ orderCols).map(col)
    val sorted = df.repartitionByRange(p, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .localCheckpoint(true)
    val schema = sorted.schema
    val gIdx = groupCols.map(schema.fieldIndex).toArray
    val dIdx = schema.fieldIndex(deltaCol)
    require(schema(dIdx).dataType == LongType,
      s"clampedScan accumulates LongType, got ${schema(dIdx).dataType} for $deltaCol")
    def key(r: Row): Seq[Any] = gIdx.toSeq.map(r.get)

    // pass 1: fold each (partition, group) slice into one composed clamp
    // map. The driver-memory bound is enforced INSIDE the job (r16
    // ADVICE): each partition gets an entry quota (max/P), and one that
    // exceeds it ships a null sentinel instead of its map — so the
    // collect itself can never OOM the driver at the next 10× tier (the
    // r16 form decided the fallback only AFTER collecting every slice).
    // Range partitioning on (group, order) keeps groups contiguous, so
    // per-partition distinct groups ≈ G/P and the quota triggers at the
    // same order of G as the old total check; a skewed partition may
    // route to the (bit-identical) fallback a little early, which costs
    // one plan swap, not correctness.
    val quota = math.max(1L,
      maxDriverEntries.toLong / math.max(1, sorted.rdd.getNumPartitions)).toInt
    val partMaps: Array[(Int, Seq[(Seq[Any], (Long, Long, Long))])] =
      sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        val maps = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], (Long, Long, Long)]
        var over = false
        it.foreach { r =>
          if (!over) {
            val k = key(r); val d = r.getLong(dIdx)
            val (b0, l0, h0) = maps.getOrElse(k, (0L, Long.MinValue, Long.MaxValue))
            // compose the row's map g(y)=clamp(y+d, lo, hi) after (b0,l0,h0)
            maps.update(k, (satAdd(b0, d),
              clampL(satAdd(l0, d), lo, hi), clampL(satAdd(h0, d), lo, hi)))
            if (maps.size > quota) { over = true; maps.clear() }
          }
        }
        Iterator.single((pid, if (over) null else maps.toSeq))
      }.collect()
    val overQuota = partMaps.exists(_._2 == null)
    val nEntries =
      if (overQuota) Int.MaxValue
      else partMaps.iterator.map(_._2.size).sum
    if (nEntries > maxDriverEntries && groupCols.nonEmpty) {
      // many-small-groups regime (r16: hit for real at the 100× replica —
      // 2M part groups): the Blelloch split exists for FEW huge groups;
      // with this many groups the per-key history is tiny and a plain
      // per-group sequential replay is already skew-safe. One hash
      // shuffle on the group key, groups sorted within partitions,
      // state reset at each group boundary — exact integer arithmetic,
      // so the result is bit-identical to the scan path (same clamp
      // recurrence, no cross-partition seam to seed).
      val byGroup = df.repartition(p, groupCols.map(col): _*)
        .sortWithinPartitions(keyCols: _*)
      val fbSchema = StructType(schema.fields :+
        StructField(outCol, LongType, nullable = false))
      val fbOut = byGroup.rdd.mapPartitions { it =>
        var curKey: Seq[Any] = null
        var y = seed
        it.map { r =>
          val k = key(r)
          if (k != curKey) { curKey = k; y = seed }
          y = clampL(satAdd(y, r.getLong(dIdx)), lo, hi)
          Row.fromSeq(r.toSeq :+ y)
        }
      }
      return spark.createDataFrame(fbOut, fbSchema)
    }
    require(nEntries <= maxDriverEntries,
      s"clampedScan driver state $nEntries > $maxDriverEntries slices " +
        "with no group columns to fall back on")

    // driver: thread the seed through per-partition maps in pid order;
    // entry(pid, g) = exact value of y entering that partition's slice
    val runningVal = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
    val entries: Map[(Int, Seq[Any]), Long] =
      partMaps.sortBy(_._1).iterator.flatMap { case (pid, maps) =>
        maps.map { case (k, (b, l, h)) =>
          val in = runningVal.getOrElse(k, seed)
          runningVal.update(k, clampL(satAdd(in, b), l, h))
          ((pid, k), in)
        }
      }.toMap
    val bcast = spark.sparkContext.broadcast(entries)

    // pass 2: replay each partition sequentially from its exact entry value
    val outSchema = StructType(schema.fields :+ StructField(outCol, LongType, nullable = false))
    val out = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val local = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
      it.map { r =>
        val k = key(r)
        val prev = local.getOrElse(k, bcast.value.getOrElse((pid, k), seed))
        val y = clampL(satAdd(prev, r.getLong(dIdx)), lo, hi)
        local.update(k, y)
        Row.fromSeq(r.toSeq :+ y)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Distributed affine-recurrence scan — y_i = m_i·y_{i-1} + b_i over
    * DoubleType coefficient columns, the general linear-recurrence form
    * of [[prefixSum]] (Blelloch 1990 §1.4: first-order recurrences are
    * scans over the affine-map monoid (m, b), composed as
    * (g ∘ f) = (mg·mf, mg·bf + bg)).
    *
    * Same two-pass shape: one range shuffle, per-partition map folding,
    * O(P·G) driver threading, sequential replay. Float caveat, stated
    * honestly: affine composition over doubles is associative only up to
    * rounding, so cross-partition seeds can differ from the pure
    * sequential recurrence in the last ~2 ulps per partition boundary —
    * the spec pins ≤ 1e-9 relative. Each (m, b, out) triple in `terms`
    * scans its own recurrence in the same passes (EWMA needs two:
    * numerator and normalizer).
    */
  def affineScan(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                 terms: Seq[(String, String, String)],
                 numParts: Int = 0, maxDriverEntries: Int = 1 << 20): DataFrame = {
    require(orderCols.nonEmpty, "affineScan needs at least one order column")
    require(terms.nonEmpty, "affineScan needs at least one (m, b, out) term")
    val spark = df.sparkSession
    val p = if (numParts > 0) numParts else spark.sparkContext.defaultParallelism
    val keyCols = (groupCols ++ orderCols).map(col)
    val sorted = df.repartitionByRange(p, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .localCheckpoint(true)
    val schema = sorted.schema
    val gIdx = groupCols.map(schema.fieldIndex).toArray
    val mIdx = terms.map { case (m, _, _) => schema.fieldIndex(m) }.toArray
    val bIdx = terms.map { case (_, b, _) => schema.fieldIndex(b) }.toArray
    (mIdx ++ bIdx).foreach { i =>
      require(schema(i).dataType == DoubleType,
        s"affineScan coefficients must be DoubleType, got ${schema(i).dataType} for ${schema(i).name}")
    }
    val nT = terms.size
    def key(r: Row): Seq[Any] = gIdx.toSeq.map(r.get)

    // pass 1: fold each (partition, group) slice into composed (M, B) per term
    val partMaps: Array[(Int, Seq[(Seq[Any], Array[Double])])] =
      sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        val maps = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Array[Double]]
        it.foreach { r =>
          val k = key(r)
          val acc = maps.getOrElseUpdate(k, Array.tabulate(2 * nT)(i => if (i % 2 == 0) 1.0 else 0.0))
          var t = 0
          while (t < nT) {
            val mg = r.getDouble(mIdx(t)); val bg = r.getDouble(bIdx(t))
            val mf = acc(2 * t); val bf = acc(2 * t + 1)
            acc(2 * t) = mg * mf; acc(2 * t + 1) = mg * bf + bg
            t += 1
          }
        }
        Iterator.single((pid, maps.toSeq))
      }.collect()
    val nEntries = partMaps.iterator.map(_._2.size).sum
    require(nEntries <= maxDriverEntries,
      s"affineScan driver state $nEntries > $maxDriverEntries slices — with this many " +
        "small groups a per-group sequential mapGroups pass is already skew-safe")

    val runningVal = scala.collection.mutable.HashMap.empty[Seq[Any], Array[Double]]
    val entries: Map[(Int, Seq[Any]), Array[Double]] =
      partMaps.sortBy(_._1).iterator.flatMap { case (pid, maps) =>
        maps.map { case (k, mb) =>
          val in = runningVal.getOrElse(k, Array.fill(nT)(0.0))
          val nxt = Array.tabulate(nT)(t => mb(2 * t) * in(t) + mb(2 * t + 1))
          runningVal.update(k, nxt)
          ((pid, k), in)
        }
      }.toMap
    val bcast = spark.sparkContext.broadcast(entries)

    val outSchema = StructType(schema.fields ++
      terms.map { case (_, _, o) => StructField(o, DoubleType, nullable = false) })
    val out = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val local = scala.collection.mutable.HashMap.empty[Seq[Any], Array[Double]]
      it.map { r =>
        val k = key(r)
        val prev = local.getOrElse(k,
          bcast.value.get((pid, k)).map(_.clone()).getOrElse(Array.fill(nT)(0.0)))
        val y = Array.tabulate(nT)(t => r.getDouble(mIdx(t)) * prev(t) + r.getDouble(bIdx(t)))
        local.update(k, y)
        Row.fromSeq(r.toSeq ++ y)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** EXACT order statistics at any scale without a sort and without
    * per-task value collection: iterative histogram refinement. Spark's
    * exact `percentile` collects every group's values into one
    * aggregation buffer (OOM-or-straggler at 100 TB); `percentile_approx`
    * is bounded but approximate. This takes the third corner — exact AND
    * bounded: each pass histograms the surviving value range into
    * `buckets` equi-width bins (one combiner-friendly aggregation,
    * driver state = `buckets` counts), descends into the bin holding the
    * target rank, and repeats — log_buckets(range) passes total (3 for a
    * 32-bit domain at 1024 bins), the classic selection-by-refinement
    * algorithm (Munro & Paterson 1980's multipass selection idea).
    *
    * Rank convention: quantile q → the ceil(q·n)-th smallest value
    * (1-based) — identical to DuckDB's `quantile_disc`, so results are
    * oracle-comparable. `valueCol` must be LongType.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
                     buckets: Int = 1024): Seq[Long] = {
    // one constant group: all qs batch into a single histogram pass per
    // refinement level instead of an independent loop per quantile
    val g = df.select(lit(0L).as("__g"), col(valueCol))
    val res = exactQuantilesByGroup(g, "__g", valueCol, qs, buckets)
      .collect().map(r => r.getDouble(1) -> r.getLong(2)).toMap
    require(res.nonEmpty, "exactQuantiles on empty input")
    qs.map(res)
  }

  /** Per-group [[exactQuantiles]] — one histogram refinement loop PER
    * GROUP but with every pass batched into a single aggregation over
    * all still-unresolved groups (driver state = `buckets` counts ×
    * groups). Exact per-group order statistics where
    * `percentile(...)` would buffer each group's full value list on
    * one task; right for few-or-moderate group counts with huge
    * groups, the same contract as [[prefixSum]]. Returns
    * (group, quantile, value) rows.
    *
    * `weightCol` (optional, LongType, strictly positive — enforced):
    * WEIGHTED exact quantiles — the returned value is the smallest v
    * whose cumulative weight reaches ceil(q·W) (W = the group's total
    * weight), i.e. the weighted generalization of the ceil(q·n)-th
    * smallest. Every histogram pass accumulates weight sums instead of
    * row counts; cost and driver state are identical to the unweighted
    * form. Integer weights keep every rank exact (the curation uses —
    * token counts, repeat multiplicities — are integral by nature).
    */
  def exactQuantilesByGroup(df: DataFrame, groupCol: String, valueCol: String,
                            qs: Seq[Double], buckets: Int = 1024,
                            maxGroups: Int = 4096,
                            weightCol: Option[String] = None): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    require(buckets >= 2, s"need >= 2 buckets for refinement progress, got $buckets")
    val schema = df.schema
    require(schema(schema.fieldIndex(valueCol)).dataType == LongType,
      s"exactQuantilesByGroup needs LongType, got ${schema(schema.fieldIndex(valueCol)).dataType}")
    weightCol.foreach { w =>
      require(schema(schema.fieldIndex(w)).dataType == LongType,
        s"weightCol must be LongType, got ${schema(schema.fieldIndex(w)).dataType}")
    }
    val spark = df.sparkSession
    // nulls are EXCLUDED, matching SQL quantile semantics — without
    // this filter a null would inflate count(1)-derived ranks while
    // min/max ignore it and the histogram pass would read it as 0L,
    // silently shifting every quantile of the group
    val wExpr = weightCol.map(col).getOrElse(lit(1L))
    val vals = df.filter(col(valueCol).isNotNull &&
        weightCol.map(w => col(w).isNotNull).getOrElse(lit(true)))
      .select(col(groupCol).as("g"), col(valueCol).as("v"), wExpr.as("w"))
      .localCheckpoint(true)
    // limit the collect itself, not just the post-hoc check: on a
    // high-cardinality group column the driver must fail with guidance
    // BEFORE holding a groups-sized array
    val stats = vals.groupBy("g")
      .agg(sum(col("w")).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"),
        min(col("w")).as("wmin"))
      .limit(maxGroups + 1)
      .collect()
    require(stats.length <= maxGroups,
      s"exactQuantilesByGroup driver state > $maxGroups groups — with this " +
        "many groups the per-group value lists are small and plain percentile is already safe")
    require(stats.forall(r => r.getLong(4) > 0L),
      "exactQuantilesByGroup weights must be strictly positive (zero-weight " +
        "rows are semantically absent — filter them; negative weights have no rank meaning)")
    val out = refineRanks(vals,
      stats.toSeq.map(r => (r.get(0), r.getLong(1), r.getLong(2), r.getLong(3))),
      qs, buckets).map { case ((g, q), v) => Row(g, q, v) }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(
        schema(schema.fieldIndex(groupCol)).copy(name = "g"),
        StructField("q", DoubleType, nullable = false),
        StructField("value", LongType, nullable = false))))
  }

  /** The histogram-refinement core of [[exactQuantilesByGroup]],
    * factored out so compositions that already KNOW a valid per-group
    * (total weight, lo, hi) — e.g. [[madByGroup]]'s second round, whose
    * bounds derive from the first — skip the stats-collect pass.
    * `vals` columns are positional (g, v: Long, w: Long); `stats` rows
    * are (g, totalWeight, lo, hi) where [lo, hi] need only CONTAIN the
    * group's values (the selected rank value is exact regardless — a
    * loose bound costs at most one extra pass). Returns the selected
    * Long value per (group, q).
    */
  private def refineRanks(vals: DataFrame, stats: Seq[(Any, Long, Long, Long)],
                          qs: Seq[Double], buckets: Int): Seq[((Any, Double), Long)] = {
    val spark = vals.sparkSession
    // ALL range arithmetic below is UNSIGNED (divideUnsigned /
    // compareUnsigned on wrapped differences): for signed-ordered
    // values hi − lo is the true span mod 2⁶⁴, so even a full-domain
    // range (e.g. the sortable-bits image of mixed-sign doubles, or
    // hash keys spanning the whole Long line) refines correctly —
    // no non-wrapping precondition on the inputs
    def widthU(lo: Long, hi: Long): Long =
      java.lang.Long.divideUnsigned(hi - lo, buckets.toLong) + 1L
    // state per (group, q): [k within current range, lo, hi]
    val state = scala.collection.mutable.LinkedHashMap.empty[(Any, Double), Array[Long]]
    stats.foreach { case (g, n, lo, hi) =>
      qs.foreach { q =>
        state.update((g, q), Array(math.max(1L, math.ceil(q * n).toLong), lo, hi))
      }
    }
    while (state.values.exists(s => s(1) < s(2))) {
      // ONE pass: histogram every open (group, q) range together — each
      // range gets its OWN bucket grid (after the first pass the qs of
      // one group diverge, so a shared group grid would straddle a q's
      // range edge and mis-count its rank offset)
      val open = state.filter { case (_, s) => s(1) < s(2) }.toSeq
      val ranges: Map[Any, Seq[(Double, Long, Long, Long)]] =
        open.groupBy(_._1._1).map { case (g, entries) =>
          (g, entries.map { case ((_, q), s) =>
            (q, s(1), s(2), widthU(s(1), s(2)))
          })
        }
      val bcast = spark.sparkContext.broadcast(ranges)
      import org.apache.spark.sql.Row
      val histRows = vals.rdd.mapPartitions { it =>
        val counts = scala.collection.mutable.HashMap.empty[(Any, Double, Long), Long]
        it.foreach { r =>
          val g = r.get(0)
          bcast.value.get(g).foreach { entries =>
            val v = r.getLong(1)
            val wt = r.getLong(2) // 1L when unweighted
            entries.foreach { case (q, lo, hi, w) =>
              if (v >= lo && v <= hi) {
                val k = (g, q, java.lang.Long.divideUnsigned(v - lo, w))
                counts.update(k, counts.getOrElse(k, 0L) + wt)
              }
            }
          }
        }
        counts.iterator.map { case ((g, q, b), c) => Row(g, q, b, c) }
      }
      // combine partials IN the cluster (reduceByKey) so what lands on
      // the driver is exactly ≤ buckets × open entries — without this
      // the transient collect is O(partitions × open × buckets), which
      // breaks the documented driver-state bound at high partition
      // counts even though the merged map stays small
      val merged = scala.collection.mutable.HashMap.empty[(Any, Double, Long), Long]
      histRows
        .map(r => ((r.get(0), r.getDouble(1), r.getLong(2)), r.getLong(3)))
        .reduceByKey(_ + _)
        .collect().foreach { case (k, c) => merged.update(k, c) }
      open.foreach { case ((g, q), s) =>
        val lo = s(1)
        val w = widthU(lo, s(2))
        var k = s(0); var cum = 0L; var chosen = -1L; var below = 0L
        var b = 0L
        val hiOff = s(2) - lo // unsigned span
        val bMax = java.lang.Long.divideUnsigned(hiOff, w)
        while (b <= bMax && chosen < 0) {
          val c = merged.getOrElse((g, q, b), 0L)
          if (cum + c >= k) { chosen = b; below = cum }
          cum += c
          b += 1
        }
        assert(chosen >= 0, s"rank $k not found for group $g in [${s(1)}, ${s(2)}]")
        s(0) = k - below
        // descend into the chosen bucket — offsets from lo stay unsigned;
        // the bucket's top edge clamps to the range's hi (the +w−1 edge
        // can pass hi, and for the last bucket of a full-span range can
        // even wrap 2⁶⁴ — both cases clamp)
        val base = chosen * w // ≤ hiOff (chosen ≤ hiOff/w), so no wrap
        var newOff = base + (w - 1L)
        if (java.lang.Long.compareUnsigned(newOff, base) < 0 ||
            java.lang.Long.compareUnsigned(newOff, hiOff) > 0) newOff = hiOff
        s(1) = lo + base
        s(2) = lo + newOff
        if (w == 1L) s(2) = s(1)
      }
    }
    state.toSeq.map { case ((g, q), s) => ((g, q), s(1)) }
  }

  /** [[exactQuantilesByGroup]] over a DOUBLE column: values pass
    * through the order-preserving sortable-bits bijection
    * ([[graft.functions.DoubleBits]]) into Long space, the bounded
    * histogram refinement selects exactly there, and the groups×qs
    * result maps back — the returned quantile is an ACTUAL data value,
    * bit-identical to DuckDB `quantile_disc` over the same doubles
    * (same ceil(q·n) rank convention). This is the scale-safe
    * replacement for Spark's exact `percentile` on near-unique double
    * domains (prices, entropies, scores), whose per-group value buffer
    * is the OOM-or-straggler documented on [[exactQuantilesByGroup]].
    *
    * Constraint: no NaNs (deterministic here — NaN sorts above +Inf —
    * but engines disagree on NaN rank, so oracle comparisons would
    * drift). NULLs are excluded by the underlying refinement (SQL
    * quantile semantics). The refinement's range math is unsigned, so
    * the full sortable image (mixed signs, ±Inf) refines correctly.
    * Returns (g, q, value: double).
    */
  def exactQuantilesByGroupDouble(df: DataFrame, groupCol: String, valueCol: String,
                                  qs: Seq[Double], buckets: Int = 1024,
                                  maxGroups: Int = 4096,
                                  weightCol: Option[String] = None): DataFrame = {
    val schema = df.schema
    require(schema(schema.fieldIndex(valueCol)).dataType == DoubleType,
      s"exactQuantilesByGroupDouble needs DoubleType, got ${schema(schema.fieldIndex(valueCol)).dataType}")
    val mapped = df.select(col(groupCol) +:
      graft.functions.doubleSortableBits(col(valueCol)).as("__sb") +:
      weightCol.map(col).toSeq: _*)
    val res = exactQuantilesByGroup(mapped, groupCol, "__sb", qs, buckets,
      maxGroups, weightCol)
    // groups×qs rows — driver-side inverse map keeps the group's type
    val out = res.collect().toSeq.map { r =>
      Row(r.get(0), r.getDouble(1),
        graft.functions.DoubleBits.fromSortable(r.getLong(2)))
    }
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(
        schema(schema.fieldIndex(groupCol)).copy(name = "g"),
        StructField("q", DoubleType, nullable = false),
        StructField("value", DoubleType, nullable = false))))
  }

  /** Per-group (median, MAD) in ONE stats-collect — the fused form of
    * two [[exactQuantilesByGroupDouble]] calls (Hampel 1974 robust
    * scale). Composing the public API pays a per-group
    * sum/min/max collect TWICE; here the second round's bounds DERIVE
    * from the first:
    *
    *   - the deviation count equals the value count (same non-null rows);
    *   - lo = 0.0 (|x − med| ≥ 0; the refinement only needs a
    *     containing range — the selected rank value is exact either way);
    *   - hi = max(max(x) − med, med − min(x)), EXACT because |x − med|
    *     over observed x is maximized at a group extreme, computed with
    *     the same IEEE subtraction the deviation column performs.
    *
    * So round 2 skips straight to the histogram passes: one fewer
    * aggregate+collect per composition, identical selected values (the
    * r13 verdict's refinement-wall unification). Same bounded-memory /
    * no-`Percentile` contract as the quantile family; NaNs excluded by
    * the same constraint documented there. Returns (g, med, mad).
    */
  def madByGroup(df: DataFrame, groupCol: String, valueCol: String,
                 buckets: Int = 1024, maxGroups: Int = 4096): DataFrame = {
    val schema = df.schema
    require(schema(schema.fieldIndex(valueCol)).dataType == DoubleType,
      s"madByGroup needs DoubleType, got ${schema(schema.fieldIndex(valueCol)).dataType}")
    val spark = df.sparkSession
    import graft.functions.DoubleBits
    // keep the double alongside its sortable image: the stats/refine
    // passes read bits, the deviation column reads the double — one
    // checkpointed frame serves both
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).as("vd"),
        graft.functions.doubleSortableBits(col(valueCol)).as("v"), lit(1L).as("w"))
      .localCheckpoint(true)
    val stats = base.groupBy("g")
      .agg(count(lit(1)).as("n"), min(col("v")).as("lo"), max(col("v")).as("hi"))
      .limit(maxGroups + 1)
      .collect()
    require(stats.length <= maxGroups,
      s"madByGroup driver state > $maxGroups groups — with this many groups " +
        "the per-group value lists are small and plain percentile is already safe")
    val st = stats.toSeq.map(r => (r.get(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val med: Map[Any, Double] = refineRanks(base.select("g", "v", "w"), st, Seq(0.5), buckets)
      .map { case ((g, _), bits) => g -> DoubleBits.fromSortable(bits) }.toMap
    val gField = schema(schema.fieldIndex(groupCol)).copy(name = "g")
    val medDf = spark.createDataFrame(
      java.util.Arrays.asList(med.toSeq.map { case (g, m) => Row(g, m) }: _*),
      StructType(Seq(gField, StructField("med", DoubleType, nullable = false))))
    val dev = base.join(broadcast(medDf), "g")
      .select(col("g"), graft.functions.doubleSortableBits(
        abs(col("vd") - col("med"))).as("v"), col("w"))
      .localCheckpoint(true)
    val adStats = st.map { case (g, n, lo, hi) =>
      val m = med(g)
      val hiD = math.max(DoubleBits.fromSortable(hi) - m, m - DoubleBits.fromSortable(lo))
      (g, n, DoubleBits.toSortable(0.0), DoubleBits.toSortable(hiD))
    }
    val mad: Map[Any, Double] = refineRanks(dev, adStats, Seq(0.5), buckets)
      .map { case ((g, _), bits) => g -> DoubleBits.fromSortable(bits) }.toMap
    val out = med.toSeq.map { case (g, m) => Row(g, m, mad(g)) }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(gField,
        StructField("med", DoubleType, nullable = false),
        StructField("mad", DoubleType, nullable = false))))
  }

  /** Appends `outCol` = 2× the AVERAGE RANK (midrank) of `valueCol`
    * within its group — the tie convention of Spearman's ρ and the
    * Mann-Whitney U / AUC estimator. Doubled so it stays INTEGRAL
    * (midranks are half-integers): downstream moments sum exactly in
    * DECIMAL(38,0) / HUGEINT on both engines, and ρ / AUC are scale
    * invariant, so the 2× cancels.
    *
    * Shape: rank r(v) = (#strictly smaller) + (ties + 1)/2 needs only
    * the value-frequency table — `groupBy(value)` (one linear shuffle)
    * then the distributed [[prefixSum]] over it (cum inclusive ⇒
    * 2r = 2·cum − cnt + 1), joined back on the value (second linear
    * shuffle). NO global-order window: `rank().over(orderBy(v))` puts
    * the whole corpus on one task, the exact cliff this exists to
    * avoid; prefixSum's driver state is O(partitions + groups).
    *
    * NULL values are EXCLUDED (rows dropped, SQL rank semantics — an
    * equality join on a null key would drop them silently anyway; done
    * here explicitly).
    */
  def avgRank2(df: DataFrame, valueCol: String, groupCols: Seq[String] = Seq.empty,
               outCol: String = "r2"): DataFrame = {
    val keep = df.filter(col(valueCol).isNotNull)
    val keyCols = groupCols :+ valueCol
    val freq = keep.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__cnt"))
    val ranked = prefixSum(freq, groupCols, Seq(valueCol), "__cnt", "__cum")
    val r2 = ranked.select(keyCols.map(col) :+
      (lit(2L) * col("__cum") - col("__cnt") + lit(1L)).as(outCol): _*)
    keep.join(r2, keyCols)
  }

  /** [[avgRank2]] for TWO value columns in ONE shuffle + prefix-sum
    * round (the madByGroup-style pass fusion, r15): both columns'
    * value-frequency tables ride a single tall (g, which, v) frame —
    * one linear shuffle to frequencies, one [[prefixSum]] keyed on
    * (groupCols, which) — instead of two full rounds, halving the rank
    * machinery's shuffle count for the paired-statistic consumers
    * (Spearman's ρ needs midranks of BOTH variables).
    *
    * Each column is ranked over its OWN non-null rows of the
    * UNFILTERED input — x-nulls do not perturb y's midranks (two
    * chained [[avgRank2]] calls would rank y on the x-filtered frame;
    * the standard engines rank each variable independently). The
    * output keeps only rows where BOTH are non-null — the pairs a
    * paired statistic can use. Both columns must share a
    * union-compatible type (numeric widening is fine: ranks depend
    * only on per-column order/equality, which widening preserves).
    */
  def avgRank2Pair(df: DataFrame, xCol: String, yCol: String,
                   groupCols: Seq[String] = Seq.empty,
                   outX: String = "r2x", outY: String = "r2y"): DataFrame = {
    val gs = groupCols.map(col)
    val tall = df.filter(col(xCol).isNotNull)
      .select(gs :+ lit(0).as("__which") :+ col(xCol).as("__v"): _*)
      .unionByName(df.filter(col(yCol).isNotNull)
        .select(gs :+ lit(1).as("__which") :+ col(yCol).as("__v"): _*))
    val keyCols = groupCols :+ "__which" :+ "__v"
    val freq = tall.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("__cnt"))
    val ranked = prefixSum(freq, groupCols :+ "__which", Seq("__v"), "__cnt", "__cum")
    val r2 = ranked.select(keyCols.map(col) :+
      (lit(2L) * col("__cum") - col("__cnt") + lit(1L)).as("__r2"): _*)
    val rx = r2.filter(col("__which") === 0)
      .select(gs :+ col("__v").as(xCol) :+ col("__r2").as(outX): _*)
    val ry = r2.filter(col("__which") === 1)
      .select(gs :+ col("__v").as(yCol) :+ col("__r2").as(outY): _*)
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .join(rx, groupCols :+ xCol)
      .join(ry, groupCols :+ yCol)
  }

  /** Distributed lag-1 carry — `lag(col).over(window)` without putting
    * any group's full history on one task: pass 1 records each
    * (partition, group) slice's LAST value, the driver threads them in
    * partition order into per-slice entry values, pass 2 replays the
    * shift locally. First row of each group gets null, exactly like the
    * window lag. `lagCol` must be LongType; appends nullable `outCol`.
    */
  def lagScan(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
              lagCol: String, outCol: String,
              numParts: Int = 0, maxDriverEntries: Int = 1 << 20): DataFrame = {
    require(orderCols.nonEmpty, "lagScan needs at least one order column")
    val spark = df.sparkSession
    val p = if (numParts > 0) numParts else spark.sparkContext.defaultParallelism
    val keyCols = (groupCols ++ orderCols).map(col)
    val sorted = df.repartitionByRange(p, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .localCheckpoint(true)
    val schema = sorted.schema
    val gIdx = groupCols.map(schema.fieldIndex).toArray
    val lIdx = schema.fieldIndex(lagCol)
    require(schema(lIdx).dataType == LongType,
      s"lagScan carries LongType, got ${schema(lIdx).dataType} for $lagCol")
    def key(r: Row): Seq[Any] = gIdx.toSeq.map(r.get)

    val partLast: Array[(Int, Seq[(Seq[Any], Long)])] =
      sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        val last = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], Long]
        it.foreach { r => last.update(key(r), r.getLong(lIdx)) }
        Iterator.single((pid, last.toSeq))
      }.collect()
    val nEntries = partLast.iterator.map(_._2.size).sum
    require(nEntries <= maxDriverEntries,
      s"lagScan driver state $nEntries > $maxDriverEntries slices — with this many small " +
        "groups the plain window lag is already skew-safe")
    val running = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
    val entries: Map[(Int, Seq[Any]), Long] =
      partLast.sortBy(_._1).iterator.flatMap { case (pid, lasts) =>
        lasts.map { case (k, v) =>
          val e = running.get(k)
          running.update(k, v)
          e.map(x => ((pid, k), x))
        }.collect { case Some(kv) => kv }
      }.toMap
    val bcast = spark.sparkContext.broadcast(entries)

    val outSchema = StructType(schema.fields :+ StructField(outCol, LongType, nullable = true))
    val out = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val local = scala.collection.mutable.HashMap.empty[Seq[Any], Long]
      it.map { r =>
        val k = key(r)
        val prev: Any = local.get(k).orElse(bcast.value.get((pid, k))).orNull
        local.update(k, r.getLong(lIdx))
        Row.fromSeq(r.toSeq :+ prev)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Time-decayed activity counter — the CTR-feature staple:
    *
    *   y_i = x_i + 0.5^((t_i − t_{i−1}) / halfLife) · y_{i−1}
    *
    * (each event adds its value; everything accumulated so far decays
    * by the REAL time gap, not a row count). Composed from the two
    * scans: [[lagScan]] carries the previous timestamp without a
    * key-partitioned window, then [[affineScan]] runs the recurrence
    * with per-row decay m_i — skew-safe end to end, no task ever holds
    * a full key history. First event of a key starts at y = x.
    */
  def timeDecayedSum(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                     tsCol: String, valueCol: String, halfLifeUs: Long,
                     outCol: String = "decayed", numParts: Int = 0,
                     maxDriverEntries: Int = 1 << 20): DataFrame = {
    require(halfLifeUs > 0, s"halfLifeUs must be positive, got $halfLifeUs")
    require(orderCols.nonEmpty, "timeDecayedSum needs at least one order column")
    val spark = df.sparkSession
    val p = if (numParts > 0) numParts else spark.sparkContext.defaultParallelism
    val keyCols = (groupCols ++ orderCols).map(col)
    // ONE range shuffle + sort for the whole operator (the lag carry and
    // the recurrence share it, instead of lagScan + affineScan each
    // paying their own): a slice's composed affine map factors as
    // y_out = M'·m₁·y_in + B where m₁ — the only term needing the
    // PREVIOUS slice's last timestamp — multiplies the y_in path alone
    // (no b_j is ever scaled by m₁), so pass 1 computes
    // (M' = Π_{i≥2} m_i, B = fold of x through the in-slice decays,
    // t_first, t_last) locally and the driver supplies m₁ when
    // threading entry values in partition order.
    val sorted = df.repartitionByRange(p, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
      .localCheckpoint(true)
    val schema = sorted.schema
    val gIdx = groupCols.map(schema.fieldIndex).toArray
    val tIdx = schema.fieldIndex(tsCol)
    require(schema(tIdx).dataType == LongType,
      s"timeDecayedSum needs a LongType timestamp, got ${schema(tIdx).dataType} for $tsCol")
    val vIdx = schema.fieldIndex(valueCol)
    require(schema(vIdx).dataType == DoubleType,
      s"timeDecayedSum needs a DoubleType value, got ${schema(vIdx).dataType} for $valueCol")
    val hl = halfLifeUs.toDouble
    def key(r: Row): Seq[Any] = gIdx.toSeq.map(r.get)

    // pass 1: per (partition, group) — (M', B, tFirst, tLast)
    val partMaps: Array[(Int, Seq[(Seq[Any], (Double, Double, Long, Long))])] =
      sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        val maps = scala.collection.mutable.LinkedHashMap.empty[Seq[Any], (Double, Double, Long, Long)]
        it.foreach { r =>
          val k = key(r); val t = r.getLong(tIdx); val x = r.getDouble(vIdx)
          maps.get(k) match {
            case None => maps.update(k, (1.0, x, t, t))
            case Some((mAcc, bAcc, tF, tL)) =>
              val m = math.pow(0.5, (t - tL).toDouble / hl)
              maps.update(k, (mAcc * m, m * bAcc + x, tF, t))
          }
        }
        Iterator.single((pid, maps.toSeq))
      }.collect()
    val nEntries = partMaps.iterator.map(_._2.size).sum
    require(nEntries <= maxDriverEntries,
      s"timeDecayedSum driver state $nEntries > $maxDriverEntries slices — with this many " +
        "small groups a per-group sequential mapGroups pass is already skew-safe")

    // driver: thread (y, lastTs) through the per-slice maps in pid order
    val running = scala.collection.mutable.HashMap.empty[Seq[Any], (Double, Long)]
    val entries: Map[(Int, Seq[Any]), (Double, Long)] =
      partMaps.sortBy(_._1).iterator.flatMap { case (pid, maps) =>
        maps.map { case (k, (mPrime, b, tFirst, tLast)) =>
          val in = running.get(k)
          val yOut = in match {
            case None => b // group starts here: first event's y = x
            case Some((y, lastTs)) =>
              val m1 = math.pow(0.5, (tFirst - lastTs).toDouble / hl)
              mPrime * (m1 * y) + b
          }
          running.update(k, (yOut, tLast))
          in.map(e => ((pid, k), e))
        }.collect { case Some(kv) => kv }
      }.toMap
    val bcast = spark.sparkContext.broadcast(entries)

    // pass 2: replay each slice from its entry (y, lastTs)
    val outSchema = StructType(schema.fields :+ StructField(outCol, DoubleType, nullable = false))
    val out = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val local = scala.collection.mutable.HashMap.empty[Seq[Any], (Double, Long)]
      it.map { r =>
        val k = key(r); val t = r.getLong(tIdx); val x = r.getDouble(vIdx)
        val y = local.get(k).orElse(bcast.value.get((pid, k))) match {
          case None => x
          case Some((yPrev, lastTs)) =>
            math.pow(0.5, (t - lastTs).toDouble / hl) * yPrev + x
        }
        local.update(k, (y, t))
        Row.fromSeq(r.toSeq :+ y)
      }
    }
    spark.createDataFrame(out, outSchema)
  }

  /** Exponentially-weighted moving average with normalized weights
    * (pandas `ewm(alpha).mean()` with `adjust=True`):
    *
    *   y_i = Σ_{j≤i} (1−α)^{i−j} x_j  /  Σ_{j≤i} (1−α)^{i−j}
    *
    * computed as the ratio of two zero-initialized affine recurrences
    * (numerator n_i = x_i + (1−α)·n_{i−1}, normalizer d_i = 1 + (1−α)·
    * d_{i−1}) scanned together in one [[affineScan]] pass — skew-safe
    * where `avg().over(window)` with exponential weights is impossible
    * and a per-key sequential pass stalls on the hottest key.
    */
  def ewma(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
           valueCol: String, alpha: Double, outCol: String = "ewma",
           numParts: Int = 0): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    val m = lit(1.0 - alpha)
    val withCoef = df
      .withColumn("__m", m).withColumn("__bn", col(valueCol).cast(DoubleType))
      .withColumn("__bd", lit(1.0))
    affineScan(withCoef, groupCols, orderCols,
      Seq(("__m", "__bn", "__num"), ("__m", "__bd", "__den")), numParts)
      .withColumn(outCol, col("__num") / col("__den"))
      .drop("__m", "__bn", "__bd", "__num", "__den")
  }

  /** Holt double-exponential smoothing (level + linear trend, Holt
    * 1957) per group:
    *
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}      (l_1 = x_1, b_1 = 0)
    *
    * the short-horizon forecaster dashboards run on daily series —
    * [[ewma]] tracks the level only; Holt also carries the slope, so
    * forecast(h) = l + h·b.
    *
    * The COUPLED (l, b) recurrence is a 2×2 matrix scan — not two
    * independent affine terms — and it is NOT decomposed here: each
    * group runs sequentially in one task, which is the honest
    * 100 TB shape because the intended series are CALENDAR-BOUNDED
    * (daily/hourly keys: a few thousand rows per group no matter how
    * many petabytes aggregate into them — the bounded-frame window
    * class). The only corpus-scale pass is the upstream aggregation
    * that built the series. `maxGroupRows` makes the boundedness
    * assumption explicit instead of silently OOMing on a misuse.
    *
    * Both engines evaluate the identical IEEE expression tree per step
    * (α/β enter as double literals; the DuckDB mirror is a recursive
    * CTE over the same row_number order), so level/trend are
    * bit-reproducible — quantize emissions through the e6 floor
    * witness, not ROUND.
    */
  def holtLinear(df: DataFrame, groupCols: Seq[String], orderCols: Seq[String],
                 valueCol: String, alpha: Double, beta: Double,
                 maxGroupRows: Int = 1 << 20): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"beta must be in [0, 1], got $beta")
    require(orderCols.nonEmpty, "holtLinear needs at least one order column")
    val spark = df.sparkSession
    val schema = df.schema
    val gIdx = groupCols.map(schema.fieldIndex).toArray
    val oIdx = orderCols.map(schema.fieldIndex).toArray
    val vIdx = schema.fieldIndex(valueCol)
    require(schema(vIdx).dataType == DoubleType,
      s"holtLinear value must be DoubleType, got ${schema(vIdx).dataType}")
    val outSchema = StructType(schema.fields ++ Seq(
      StructField("level", DoubleType, nullable = false),
      StructField("trend", DoubleType, nullable = false)))
    val a = alpha; val b1 = beta
    val out = df.rdd
      .groupBy(r => gIdx.toSeq.map(r.get))
      .flatMap { case (_, rows) =>
        val seq = rows.toArray
        require(seq.length <= maxGroupRows,
          s"holtLinear group of ${seq.length} rows exceeds maxGroupRows=" +
            s"$maxGroupRows — this scan is for calendar-bounded series")
        java.util.Arrays.sort(seq, new java.util.Comparator[Row] {
          def compare(x: Row, y: Row): Int = {
            var i = 0
            while (i < oIdx.length) {
              val c = x.get(oIdx(i)).asInstanceOf[Comparable[Any]]
                .compareTo(y.get(oIdx(i)))
              if (c != 0) return c
              i += 1
            }
            0
          }
        })
        var l = 0.0; var b = 0.0
        seq.iterator.zipWithIndex.map { case (r, i) =>
          val x = r.getDouble(vIdx)
          if (i == 0) { l = x; b = 0.0 }
          else {
            val lNew = a * x + (1.0 - a) * (l + b)
            b = b1 * (lNew - l) + (1.0 - b1) * b
            l = lNew
          }
          Row.fromSeq(r.toSeq ++ Seq(l, b))
        }
      }
    spark.createDataFrame(out, outSchema)
  }
}
