package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed graph analytics for corpus curation.
  *
  * Web-scale pretraining pipelines weight and filter documents by graph
  * signals — PageRank over the link graph is the canonical page-quality
  * prior (Page et al. 1999, "The PageRank Citation Ranking"; CommonCrawl
  * curation pipelines rank hosts the same way). The operators here are
  * the Spark-native forms of those computations: edges stay distributed,
  * the rank vector (|V| rows, orders of magnitude smaller than |E|) is
  * broadcast into each iteration's join so the only shuffle per iteration
  * is the contribution aggregation on `dst`.
  *
  * Exactness contract: an iterative double-precision computation is only
  * oracle-able if the floating-point reduction order cannot influence the
  * result. Each iteration therefore quantizes per-edge contributions
  * through the e14 FLOOR witness `floor(x·1e14 + ½)` (pure mirrored IEEE
  * ops — a double→DECIMAL cast is engine-defined HALF_UP rounding, r17)
  * and sums the exact integers in DECIMAL(38,0), then applies the
  * damping update with mirrored scalar IEEE ops. Both engines perform
  * the identical sequence, so ranks agree bit-for-bit at every
  * iteration — the `simhashBitSql` / `zorderSqlExpr` shared-arithmetic
  * pattern extended to fixpoint iteration ([[pageRankSql]] generates the
  * unrolled oracle from the same constants).
  *
  * Reference: faiss-metal has no graph surface; this extends the engine
  * along the LLM-pipeline axis (corpus quality priors), reusing its
  * broadcast-small-side and decimal-exact-aggregate idioms.
  */
object Graph {

  /** Row-count cap for broadcasting an O(|V|)-row frame (rank/score
    * vectors, degree tables, k-truss frontiers) into a per-iteration
    * join. Measured-count gate: below the cap the broadcast join saves
    * the |E|-side shuffle; above it the frame would blow the broadcast
    * cap / driver heap (|V| ~ 10⁹ at the 100 TB design point is a
    * multi-GB broadcast PER ITERATION), so the join falls back to a
    * shuffle — identical semantics, hashes unchanged. 4M rows ≈ tens of
    * MB serialized for (id, double) rows, comfortably under Spark's 8 GB
    * broadcast-table hard limit and typical driver heaps.
    */
  val BroadcastNodeCap = 4000000L

  /** Node-count cap for the allocation-free long-split contribution
    * sums ([[graft.functions.witnessSplit3]]): with |V| ≤ 2³¹ every
    * per-group component sum is provably inside int64 for the e14
    * witness (in-degree ≤ |V| < 2³¹ bounds the lo/mid sums at
    * |V|·2³¹ < 2⁶²; rank mass conservation bounds Σr ≤ |V|, so
    * hi ≤ 1e14·(|V|+1)/2⁶² < 2¹⁶ and Σhi < 2⁴⁷). Above the cap the
    * operators fall back to the direct DECIMAL(38,0) sum.
    *
    * Scope of the identical-results claim (r19, ADVICE): the two
    * regimes produce the same integers for witness values below 2⁵³
    * (r/odeg ≲ 90 at the e14 scale) — beyond that the split reproduces
    * the double's exact binary integer while the decimal cast follows
    * Double.toString's shortest round-trip repr, two engine-defined
    * readings of the same double (see witnessSplit3's docstring).
    * Gate-validated graphs keep r/odeg orders of magnitude below the
    * boundary (rank mass ≤ |V| and hubs have high odeg), so the cap is
    * a pure performance knob THERE; a hub-heavy graph pushing witnesses
    * past 2⁵³ would make it value-affecting, which is why the cap
    * routes on node count rather than silently mixing regimes per row.
    */
  val SplitSumNodeCap = 1L << 31

  private val Dec38 = DecimalType(38, 0)

  /** The witnessed per-source contribution columns for one iteration:
    * long-split triple (allocation-free sums) under [[SplitSumNodeCap]],
    * single DECIMAL(38,0) column above it.
    */
  private def contribCols(c: Column, split: Boolean): Seq[Column] =
    if (split) {
      val (h, m, l) = graft.functions.witnessSplit3(c, 1e14)
      Seq(h.as("ch"), m.as("cm"), l.as("cl"))
    } else Seq(graft.functions.decimalWitness(c, 1e14).as("c"))

  /** Per-destination exact contribution sum `s` (DECIMAL(38,0)) from an
    * edge×contribution join — component long sums reconstructed per
    * GROUP in the split regime, direct decimal sum otherwise. The two
    * regimes produce the identical integer (the split telescopes).
    */
  private def contribSums(joined: DataFrame, dstCol: String,
                          split: Boolean): DataFrame =
    if (split)
      joined.groupBy(col(dstCol).as("id"))
        .agg(sum(col("ch")).as("sh"), sum(col("cm")).as("sm"),
          sum(col("cl")).as("sl"))
        .select(col("id"),
          (col("sh").cast(Dec38) * lit(4611686018427387904L) +
            col("sm").cast(Dec38) * lit(2147483648L) +
            col("sl").cast(Dec38)).as("s"))
    else
      joined.groupBy(col(dstCol).as("id")).agg(sum(col("c")).as("s"))

  /** Eager localCheckpoint for frames that the iteration loops RE-SCAN
    * every round (edge lists, oriented edges, symmetric adjacencies).
    *
    * Measured r18 (sf0.1, local[32]): repartitioning these frames UP to
    * defaultParallelism before checkpointing — so each iteration runs 32
    * tasks instead of the 1-2 AQE coalesces to — REGRESSED the graph
    * family ~2× under the bench protocol. Per-task fixed cost on this
    * box is hundreds of ms at 32 concurrent small tasks (lock/JIT/GC
    * amplification: iteration stages went from 2.4 s cpu on 2 tasks to
    * 15-50 s cpu on 32), so for MB-scale per-iteration frames AQE's
    * byte-based coalescing is the right call and the lever that actually
    * pays is per-row and per-job cost (witness-per-source, lazy
    * checkpoints, in-plan normalizers — see the operators). At real
    * scale the frames are big and AQE keeps them wide; nothing to fix
    * there either.
    */
  private[graft] def checkpointScaled(df: DataFrame): DataFrame =
    df.localCheckpoint(true)

  /** The measured broadcast gate every loop here shares: hint `df` (an
    * O(|V|)-row vector or a peel frontier) broadcast when its counted
    * row count `rows` is within `cap`, else leave it to a shuffle join —
    * identical semantics either way, only the join strategy changes.
    */
  private def bcastIf(df: DataFrame, rows: Long,
                      cap: Long = BroadcastNodeCap): DataFrame =
    if (rows <= cap) broadcast(df) else df

  /** Co-occurrence edge list: directed edges `(src, dst)` between items
    * sharing a basket, both directions, deduplicated. Self-join on the
    * basket key — bounded fanout per basket (a TPC-H order holds ≤ 7
    * lineitems), so the pair explosion is a small constant per basket
    * and never quadratic in |items|.
    */
  def coOccurrenceEdges(items: DataFrame, basketCol: String,
                        itemCol: String): DataFrame = {
    // r18 (opt): basket-local pair expansion via collect_set + double
    // explode instead of the distinct+self-join — ONE exchange (the
    // per-basket set aggregation) replaces the old three (two distinct
    // aggregations + the join's broadcast build of the full distinct
    // frame), and the |basket|² expansion runs as two Generate nodes
    // over in-memory arrays. Identical output set: collect_set dedups
    // within the basket exactly as the old per-side distinct did, and
    // the trailing distinct dedups across baskets (array order cannot
    // leak — the output passes through a set). Measured sf0.1: 4.2 s →
    // 3.2 s warm, 6.7 s → 4.0 s cold. Per-basket arrays stay bounded by
    // the basket size (≤ 7 lineitems per order here), never corpus
    // size, so the 100 TB shape is unchanged.
    //
    // r19 (opt): both exchanges here are CPU-DENSE per shuffled byte
    // (collect_set build + |basket|² Generate fanout on one side, the
    // distinct over the fanned-out pairs on the other), so AQE's
    // byte-based coalescing ran the basket aggregation on ONE task
    // (3.0 s cpu) and the distinct on two (2.2 s) at local[32]
    // (QueryProfile, q_pagerank). Pin both to an input-size-derived
    // width (2 MiB of plan-stats bytes per task, core-capped — the
    // spread/prefixSum discipline): explicit numPartitions is respected
    // by AQE, hash(basket) / hash(src,dst) satisfy the downstream
    // aggregation/distinct clustering, so the implicit exchanges are
    // widened, not duplicated. Corpus-scale inputs justify full
    // parallelism and the pin is a no-op. (256 KiB/task resolved to 32
    // partitions at sf0.1 and regressed 2x — 32 concurrent tiny tasks
    // amplify per-task run time ~10x on this box, the r18 finding —
    // and, worse, the distinct's width becomes the checkpointed edge
    // list's width, so every ITERATION inherited the 32-way contention.
    // 2 MiB keeps the quanta big enough that the pin only ever widens
    // genuinely serial stages.)
    //
    // r19 (ADVICE): drop NULL basket keys before grouping — the pre-r18
    // equi-join formulation never matched null baskets (null ≠ null in
    // a join), but groupBy puts all null-key rows in ONE group, which
    // would have made null-basket items co-occur. Unreachable on TPC-H
    // (basket keys are NOT NULL); the filter restores the join
    // semantics for nullable inputs instead of claiming identity.
    val n = Dedup.sizedWidth(items, 2L << 20)
    items.filter(col(basketCol).isNotNull)
      .repartition(n, col(basketCol))
      .groupBy(col(basketCol).as("__b"))
      .agg(collect_set(col(itemCol)).as("__is"))
      .select(explode(col("__is")).as("src"), col("__is"))
      .select(col("src"), explode(col("__is")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst")
      .repartition(n, col("src"), col("dst"))
      .distinct()
  }

  /** Fixed-iteration damped PageRank on `edges` over node set `nodes`
    * (one column `id`). Unnormalized classic form (init rank 1.0):
    *
    *   r'(v) = (1 - d) + d * Σ_{u→v} q(r(u) / odeg(u))
    *
    * where `q` is the e14 floor witness, so the sum is exact integer
    * arithmetic — reduction-order-independent, hence oracle-able.
    * Isolated nodes (no in-edges) settle at `1 - d`.
    *
    * Scale shape: `edges` + out-degrees are localCheckpointed once and
    * reused by every iteration; the rank vector is |V| rows and is
    * broadcast into the edge join (map-side, no shuffle on |E|), leaving
    * ONE shuffle per iteration — the `groupBy(dst)` partial-aggregated
    * contribution sum. At 100 TB of edges the per-iteration cost is a
    * single combiner-friendly aggregation. BOTH O(|V|)-row frames (the
    * rank vector and the out-degree table) are broadcast only when the
    * measured node count is under [[BroadcastNodeCap]] — the count is
    * free (it materializes the node checkpoint anyway) — so a
    * billion-node graph falls back to shuffle joins automatically
    * without changing results; `broadcastNodeCap = 0` forces the
    * shuffle path regardless.
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
               damping: Double = 0.85,
               broadcastNodeCap: Long = BroadcastNodeCap,
               splitSumNodeCap: Long = SplitSumNodeCap): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    val n = nodes.select(col("id")).distinct().localCheckpoint(true)
    pageRankLoop(n, edges, lit(1.0), lit(1.0 - damping), iters, damping,
      broadcastNodeCap, splitSumNodeCap)
  }

  /** The damped iteration shared by [[pageRank]] and [[pageRankSeeded]]:
    *
    *   r₀ = init;  r'(v) = teleport + d · Σ_{u→v} q(r(u) / odeg(u))
    *
    * over the checkpointed node frame `n` (column `id`, plus whatever
    * `init`/`teleport` read). The two forms differ only in those two
    * columns, so both run the identical per-iteration plan.
    */
  private def pageRankLoop(n: DataFrame, edges: DataFrame, init: Column,
                           teleport: Column, iters: Int, damping: Double,
                           broadcastNodeCap: Long,
                           splitSumNodeCap: Long): DataFrame = {
    val e = checkpointScaled(edges.select(col("src"), col("dst")))
    val deg = e.groupBy("src").agg(count(lit(1)).as("odeg")).localCheckpoint(true)
    val nV = n.count()
    val split = nV <= splitSumNodeCap

    var ranks = n.select(col("id"), init.as("r"))
    for (_ <- 1 to iters) {
      // e14 FLOOR-witness quantization (r17): CAST(double AS DECIMAL)
      // rounds HALF_UP on the double's decimal expansion in Spark but
      // scale-and-rints in DuckDB — ONE contribution at a 14-dp boundary
      // flipped a rank's 9-dp repr at the 100x replica (q_ppr_seeded,
      // 2/2M rows). floor(x·1e14 + ½) is pure mirrored IEEE; the exact
      // integer sum rides DECIMAL(38,0) (in-degree · 1e14 overflows
      // int64 past ~92k contributions). decimalWitness (r18) keeps the
      // floor itself in double space too: a hub with rank/odeg > ~92k
      // would saturate functions.floor's LONG where DuckDB's HUGEINT
      // floor does not.
      //
      // r18 (opt): the witnessed contribution q(r/odeg) is a pure
      // per-SOURCE value, so it is computed once per node on the
      // |V|-row rank×degree join and the |E|-row side only probes the
      // result — the division + witness no longer run per edge, and the
      // per-iteration edge join carries ONE small side instead of two.
      // Identical addends ⇒ identical exact integer sums ⇒ identical
      // ranks (the oracle keeps the per-edge formulation; the witness
      // value per src is the same either way). Under [[SplitSumNodeCap]]
      // the per-edge aggregation sums three primitive longs instead of
      // a DECIMAL(38,0) (allocation-free — see witnessSplit3).
      val perSrc = bcastIf(
        ranks.join(deg, ranks("id") === deg("src"))
          .select(col("src") +: contribCols(col("r") / col("odeg"), split): _*),
        nV, broadcastNodeCap)
      // r19 (opt): sums is ≤ |V| rows — hint the broadcast under the
      // same measured gate instead of leaving AQE to discover it at
      // runtime (one fewer materialized query stage per iteration)
      val sums = bcastIf(contribSums(e.join(perSrc, Seq("src")), "dst", split),
        nV, broadcastNodeCap)
      // LAZY checkpoint: the next iteration's broadcast collect (or the
      // caller's first action on the last iteration) materializes the
      // frame — one job per iteration instead of two
      ranks = n.join(sums, Seq("id"), "left")
        .select(col("id"),
          (teleport +
            lit(damping) * (coalesce(col("s"), lit(0).cast(DecimalType(38, 0)))
              .cast(DoubleType) / lit(1e14))).as("r"))
        .localCheckpoint(false)
    }
    ranks
  }

  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative Sources in
    * a Hyperlinked Environment") on a directed graph — the natural
    * quality pair for BIPARTITE corpora (here: customers ↔ suppliers;
    * on the web: pages ↔ hosts): a good hub points at good authorities
    * and vice versa.
    *
    *   a'(v) = Σ_{u→v} q(h(u));  h'(u) = Σ_{u→v} q(a'(v));
    *   then both sides normalize by their max.
    *
    * Same exactness contract as [[pageRank]]: contributions quantize
    * through the e14 floor witness (exact associative sums), and the
    * normalizer is MAX
    * — order-independent by construction — so the fixpoint is
    * reproducible across engines and [[hitsSql]] can unroll the oracle.
    * Max-normalization (not L2) keeps the arithmetic exact-comparable;
    * the ranking it induces is identical.
    *
    * Scale shape: per half-iteration ONE combiner aggregation over the
    * edge list with the small score vector broadcast in, plus a
    * broadcast scalar max — the [[pageRank]] cost class exactly,
    * including the measured-|V| broadcast gate ([[BroadcastNodeCap]]):
    * score vectors above the cap join by shuffle instead.
    * Returns (id, hub, auth) over all nodes (either side's absentees
    * score 0).
    */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int,
           broadcastNodeCap: Long = BroadcastNodeCap,
           splitSumNodeCap: Long = SplitSumNodeCap): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    val e = checkpointScaled(edges.select(col("src"), col("dst")).distinct())
    val n = nodes.select(col("id")).distinct().localCheckpoint(true)
    val nV = n.count()
    val split = nV <= splitSumNodeCap

    // One half-iteration: column `in` of `scores` flows along the edges
    // from their `from` end, sums per `to` end and max-normalizes into
    // column `out` (auth: src → dst; hub: dst → src).
    //
    // e14 FLOOR witness — see pageRank (r17); decimalWitness keeps the
    // floor saturation-free (r18), though h/a ≤ 1 bounds these anyway.
    // r18 (opt): witness computed once per NODE on the |V|-row score
    // frame; the |E|-row join only probes the result (same addends,
    // same exact sums — see pageRank). The sums are ≤ |V| rows, so they
    // broadcast under the same measured gate.
    //
    // r18 (opt): the max normalizer stays IN the plan as a broadcast
    // 1-row aggregate instead of a driver `.head` probe — same two IEEE
    // ops (max, divide; the >0 guard rides a when()), but each
    // half-iteration is ONE job whose materializer is the next
    // broadcast collect, instead of a head job + checkpoint job +
    // collect job. The raw subtree is referenced twice (max + the
    // division) and its aggregation exchange is reused.
    def half(scores: DataFrame, in: String, from: String, to: String,
             out: String): DataFrame = {
      val side = bcastIf(scores.select(col("id") +: contribCols(col(in), split): _*),
        nV, broadcastNodeCap)
      val sums = bcastIf(contribSums(e.join(side, e(from) === side("id")), to, split),
        nV, broadcastNodeCap)
      val raw = n.join(sums, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("s").cast(DoubleType) / lit(1e14), lit(0.0)).as(out))
      val mx = raw.agg(max(col(out)).as("__mx"))
      raw.crossJoin(broadcast(mx))
        .select(col("id"),
          (col(out) / when(col("__mx") > 0.0, col("__mx")).otherwise(lit(1.0))).as(out))
        .localCheckpoint(false)
    }

    var hub = n.withColumn("h", lit(1.0))
    var auth = n.withColumn("a", lit(0.0))
    for (_ <- 1 to iters) {
      auth = half(hub, "h", "src", "dst", "a")
      hub = half(auth, "a", "dst", "src", "h")
    }
    hub.join(auth, Seq("id"))
  }

  /** [[hits]] unrolled as engine-portable SQL from the same constants. */
  def hitsSql(nodesSql: String, edgesSql: String, iters: Int): String = {
    require(iters >= 1 && iters <= 50)
    val sb = new StringBuilder
    sb.append(s"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),\n")
    sb.append(s"n AS ($nodesSql),\n")
    sb.append("h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS h FROM n)")
    for (i <- 1 to iters) {
      sb.append(s""",
as$i AS MATERIALIZED (SELECT e.dst AS id,
           SUM(CAST(FLOOR(h.h * 100000000000000.0 + 0.5) AS HUGEINT)) AS s
         FROM e JOIN h${i - 1} h ON e.src = h.id GROUP BY e.dst),
ar$i AS MATERIALIZED (SELECT n.id,
           COALESCE(CAST(as$i.s AS DOUBLE) / 100000000000000.0,
             CAST(0.0 AS DOUBLE)) AS a
         FROM n LEFT JOIN as$i ON n.id = as$i.id),
a$i AS MATERIALIZED (SELECT id, a / (CASE WHEN (SELECT MAX(a) FROM ar$i) > 0
          THEN (SELECT MAX(a) FROM ar$i) ELSE 1.0 END) AS a FROM ar$i),
hs$i AS MATERIALIZED (SELECT e.src AS id,
           SUM(CAST(FLOOR(a.a * 100000000000000.0 + 0.5) AS HUGEINT)) AS s
         FROM e JOIN a$i a ON e.dst = a.id GROUP BY e.src),
hr$i AS MATERIALIZED (SELECT n.id,
           COALESCE(CAST(hs$i.s AS DOUBLE) / 100000000000000.0,
             CAST(0.0 AS DOUBLE)) AS h
         FROM n LEFT JOIN hs$i ON n.id = hs$i.id),
h$i AS MATERIALIZED (SELECT id, h / (CASE WHEN (SELECT MAX(h) FROM hr$i) > 0
          THEN (SELECT MAX(h) FROM hr$i) ELSE 1.0 END) AS h FROM hr$i)""")
    }
    sb.append(s"\nSELECT h.id, h.h AS hub, a.a AS auth FROM h$iters h JOIN a$iters a ON h.id = a.id")
    sb.toString
  }

  /** Personalized (seeded) PageRank — teleport mass lands only on the
    * seed set instead of uniformly (Haveliwala 2002, "Topic-Sensitive
    * PageRank"): relevance-to-the-seeds rather than global centrality,
    * the "expand from a trusted core" primitive of curation (seed
    * domains → related quality documents).
    *
    *   r'(v) = (1 - d)·[v ∈ S] + d · Σ_{u→v} q(r(u) / odeg(u)),
    *   init r = [v ∈ S]
    *
    * Same floor-witness exactness contract and per-iteration cost as
    * [[pageRank]]; the seed indicator rides as a 0/1 column on the
    * broadcast node vector.
    */
  def pageRankSeeded(nodes: DataFrame, edges: DataFrame, seeds: DataFrame,
                     iters: Int, damping: Double = 0.85,
                     broadcastNodeCap: Long = BroadcastNodeCap,
                     splitSumNodeCap: Long = SplitSumNodeCap): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    val n = nodes.select(col("id")).distinct()
      .join(seeds.select(col("id")).distinct().withColumn("__s", lit(1.0)),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__s"), lit(0.0)).as("seed"))
      .localCheckpoint(true)
    pageRankLoop(n, edges, col("seed"), lit(1.0 - damping) * col("seed"),
      iters, damping, broadcastNodeCap, splitSumNodeCap)
  }

  /** [[pageRankSeeded]] unrolled as engine-portable SQL. `seedsSql`
    * yields a column (id) ⊆ nodes.
    */
  def pageRankSeededSql(nodesSql: String, edgesSql: String, seedsSql: String,
                        iters: Int, damping: Double = 0.85): String = {
    require(iters >= 1 && iters <= 50)
    val base = 1.0 - damping
    val sb = new StringBuilder
    sb.append(s"WITH e AS MATERIALIZED ($edgesSql),\n")
    sb.append(s"n0 AS ($nodesSql),\n")
    sb.append(s"sd AS (SELECT DISTINCT id FROM ($seedsSql)),\n")
    sb.append("n AS (SELECT n0.id, CASE WHEN sd.id IS NULL THEN CAST(0.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS seed\n")
    sb.append("     FROM n0 LEFT JOIN sd ON n0.id = sd.id),\n")
    sb.append("deg AS MATERIALIZED (SELECT src, COUNT(*) AS odeg FROM e GROUP BY src),\n")
    sb.append("r0 AS (SELECT id, seed AS r FROM n)")
    for (i <- 1 to iters) {
      sb.append(s""",
s$i AS MATERIALIZED (SELECT e.dst AS id,
          SUM(CAST(FLOOR(r.r / deg.odeg * 100000000000000.0 + 0.5) AS HUGEINT)) AS s
        FROM e JOIN r${i - 1} r ON e.src = r.id JOIN deg ON deg.src = e.src
        GROUP BY e.dst),
r$i AS MATERIALIZED (SELECT n.id,
          CAST($base AS DOUBLE) * n.seed + CAST($damping AS DOUBLE) *
            (CAST(COALESCE(s$i.s, 0) AS DOUBLE) / 100000000000000.0) AS r
        FROM n LEFT JOIN s$i ON n.id = s$i.id)""")
    }
    sb.append(s"\nSELECT id, r FROM r$iters")
    sb.toString
  }

  /** The identical computation as engine-portable SQL — unrolled CTE per
    * iteration, generated from the same constants so the oracle cannot
    * drift from the operator. `edgesSql` must yield columns (src, dst),
    * `nodesSql` a column (id).
    */
  def pageRankSql(nodesSql: String, edgesSql: String, iters: Int,
                  damping: Double = 0.85): String = {
    require(iters >= 1 && iters <= 50)
    val base = 1.0 - damping
    val sb = new StringBuilder
    sb.append(s"WITH e AS MATERIALIZED ($edgesSql),\n")
    sb.append(s"n AS ($nodesSql),\n")
    sb.append("deg AS MATERIALIZED (SELECT src, COUNT(*) AS odeg FROM e GROUP BY src),\n")
    sb.append("r0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS r FROM n)")
    for (i <- 1 to iters) {
      sb.append(s""",
s$i AS MATERIALIZED (SELECT e.dst AS id,
          SUM(CAST(FLOOR(r.r / deg.odeg * 100000000000000.0 + 0.5) AS HUGEINT)) AS s
        FROM e JOIN r${i - 1} r ON e.src = r.id JOIN deg ON deg.src = e.src
        GROUP BY e.dst),
r$i AS MATERIALIZED (SELECT n.id,
          CAST($base AS DOUBLE) + CAST($damping AS DOUBLE) *
            (CAST(COALESCE(s$i.s, 0) AS DOUBLE) / 100000000000000.0) AS r
        FROM n LEFT JOIN s$i ON n.id = s$i.id)""")
    }
    sb.append(s"\nSELECT id, r FROM r$iters")
    sb.toString
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007, "Near linear time algorithm to detect community structures
    * in large-scale networks"): every node adopts the most frequent
    * label among its in-neighbors each iteration (ties → smallest
    * label; isolated nodes keep their label), labels initialized to the
    * node id, run a FIXED `iters` rounds. Pure integer arithmetic —
    * the argmax over (count desc, label asc) is a total order — so the
    * fixpoint is exactly reproducible and [[labelPropagationSql]]
    * unrolls an identical oracle; no decimal quantization needed.
    *
    * Scale shape per iteration: label vector broadcast into the edge
    * join (the [[pageRank]] play), ONE combiner aggregation on
    * (dst, label), then a per-node argmax as `max(struct(c, −label))`
    * — an aggregation, NOT a window, so a hub with 10⁸ neighbors is a
    * combiner-friendly group, never a single-task sort partition.
    * The O(|V|)-row label frame is broadcast only when the measured
    * node count is under `broadcastNodeCap` (the [[pageRank]] gate,
    * counted once off the checkpointed frame) — a billion-node graph
    * falls back to shuffle joins automatically with identical results.
    *
    * Pass edges in BOTH directions for undirected community semantics.
    * Returns (id, lbl).
    */
  def labelPropagation(nodes: DataFrame, edges: DataFrame, iters: Int,
                       broadcastNodeCap: Long = BroadcastNodeCap): DataFrame = {
    require(iters >= 1 && iters <= 50, s"iters must be in [1, 50], got $iters")
    val e = checkpointScaled(edges.select(col("src"), col("dst")).distinct())
    var lbl = nodes.select(col("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint(true)
    val nV = lbl.count()
    // r19 (opt): ONE exchange per round instead of two — hash(dst)
    // satisfies the clustering of BOTH per-round aggregations (the
    // (dst, lbl) count and the per-dst argmax), so an explicit
    // repartition on dst lets them share a single shuffle where the
    // planner otherwise exchanges on (dst, lbl) and then again on dst.
    // Width = the edge checkpoint's own (input-size-derived) width.
    // Trade-off, documented: the shared exchange ships the raw
    // (dst, lbl) join output instead of map-side-partial (dst, lbl)
    // counts — early rounds carry near-distinct labels per neighbor, so
    // partial aggregation reduced almost nothing anyway.
    val eParts = math.max(1, e.rdd.getNumPartitions)
    for (_ <- 1 to iters) {
      val lSide = bcastIf(lbl, nV, broadcastNodeCap)
      val counts = e.join(lSide, e("src") === lSide("id"))
        .select(col("dst"), col("lbl"))
        .repartition(eParts, col("dst"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
      // argmax by (c desc, lbl asc) — negating the label makes one
      // max(struct) carry both orders (node ids are non-negative, so
      // the negation cannot overflow)
      val upd = counts
        .select(col("dst"), struct(col("c"), (lit(0L) - col("lbl")).as("nl")).as("m"))
        .groupBy(col("dst")).agg(max(col("m")).as("m"))
        .select(col("dst").as("id"), (lit(0L) - col("m.nl")).as("new_lbl"))
      // LAZY: the next iteration's broadcast collect (or the caller's
      // first action) materializes — one job per iteration, not two.
      // upd is ≤ |V| rows → same broadcast gate as the label vector
      // (stats-less checkpointed frames otherwise SMJ, r18)
      lbl = lbl.join(bcastIf(upd, nV, broadcastNodeCap), Seq("id"), "left")
        .select(col("id"), coalesce(col("new_lbl"), col("lbl")).as("lbl"))
        .localCheckpoint(false)
    }
    lbl
  }

  /** [[labelPropagation]] unrolled as engine-portable SQL from the same
    * constants. `edgesSql` must yield (src, dst), `nodesSql` (id).
    */
  def labelPropagationSql(nodesSql: String, edgesSql: String,
                          iters: Int): String = {
    require(iters >= 1 && iters <= 50)
    val sb = new StringBuilder
    sb.append(s"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),\n")
    sb.append(s"l0 AS (SELECT DISTINCT id, id AS lbl FROM ($nodesSql))")
    for (i <- 1 to iters) {
      sb.append(s""",
c$i AS MATERIALIZED (SELECT e.dst AS id, l.lbl AS lbl, COUNT(*) AS c
        FROM e JOIN l${i - 1} l ON e.src = l.id GROUP BY e.dst, l.lbl),
u$i AS MATERIALIZED (SELECT id, lbl FROM (
        SELECT id, lbl, row_number() OVER (PARTITION BY id
          ORDER BY c DESC, lbl) AS rn FROM c$i) WHERE rn = 1),
l$i AS MATERIALIZED (SELECT l.id, COALESCE(u.lbl, l.lbl) AS lbl
        FROM l${i - 1} l LEFT JOIN u$i u ON u.id = l.id)""")
    }
    sb.append(s"\nSELECT id, lbl FROM l$iters")
    sb.toString
  }

  /** Multi-source BFS: minimum hop distance from the `seeds` set along
    * directed `edges`, bounded at `maxHops` (frontier-expansion BFS —
    * the Pregel iteration pattern expressed as unrolled DataFrame ops;
    * the bounded-hop form is the practical one at corpus scale: k-hop
    * neighborhoods around trusted seed domains, influence radii).
    *
    * Integer arithmetic only, so the fixpoint is trivially exact and
    * [[bfsHopsSql]] unrolls the identical oracle. Scale shape per hop:
    * one join of the CURRENT FRONTIER (newly discovered nodes only —
    * not the full visited set) against the edge list, a distinct, and
    * an anti-join against the visited set; the frontier is usually far
    * smaller than |V| and broadcastable, the edge list never moves.
    * Visited/frontier are localCheckpointed per hop to cut the
    * re-execution chain (the iterative-plan lesson from [[pageRank]]).
    *
    * Returns (id, d) for every node within `maxHops` of a seed.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 20,
      s"maxHops must be in [1, 20], got $maxHops")
    val e = checkpointScaled(edges.select(col("src"), col("dst")).distinct())
    var dist = seeds.select(col("id")).distinct()
      .withColumn("d", lit(0L)).localCheckpoint(true)
    // r18 (opt): the frontier and visited-set joins are broadcast-gated
    // on MEASURED counts (the [[BroadcastNodeCap]] discipline) — the
    // checkpointed frames carry no size statistics, so without the hint
    // the planner shuffled the full EDGE LIST by src on every hop to
    // sort-merge-join a few-thousand-row frontier. Counts ride on the
    // frames the hop materializes anyway; above the cap the joins fall
    // back to shuffles with identical semantics.
    var nDist = dist.count()
    var frontier = dist.select(col("id"))
    var nFrontier = nDist
    for (h <- 1 to maxHops) {
      val next = e.join(bcastIf(frontier, nFrontier), e("src") === frontier("id"))
        .select(col("dst").as("id")).distinct()
        .join(bcastIf(dist.select(col("id")), nDist), Seq("id"), "left_anti")
        .withColumn("d", lit(h.toLong))
        .localCheckpoint(true)
      nFrontier = next.count()
      nDist += nFrontier
      // lazy: the next hop's frontier-expansion checkpoint (or the
      // caller's first action, on the last hop) materializes the union —
      // halves the per-hop job count
      dist = dist.unionAll(next).localCheckpoint(false)
      frontier = next.select(col("id"))
    }
    dist
  }

  /** [[bfsHops]] unrolled as engine-portable SQL from the same
    * constants. `edgesSql` must yield (src, dst), `seedsSql` (id).
    */
  def bfsHopsSql(edgesSql: String, seedsSql: String, maxHops: Int): String = {
    require(maxHops >= 1 && maxHops <= 20)
    val sb = new StringBuilder
    sb.append(s"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ($edgesSql)),\n")
    sb.append(s"d0 AS (SELECT DISTINCT id, CAST(0 AS BIGINT) AS d FROM ($seedsSql)),\n")
    sb.append("f0 AS (SELECT id FROM d0)")
    for (h <- 1 to maxHops) {
      sb.append(s""",
x$h AS MATERIALIZED (SELECT DISTINCT e.dst AS id
        FROM e JOIN f${h - 1} f ON e.src = f.id
        WHERE e.dst NOT IN (SELECT id FROM d${h - 1})),
d$h AS MATERIALIZED (SELECT id, d FROM d${h - 1}
        UNION ALL SELECT id, CAST($h AS BIGINT) AS d FROM x$h),
f$h AS (SELECT id FROM x$h)""")
    }
    sb.append(s"\nSELECT id, d FROM d$maxHops")
    sb.toString
  }

  /** Exact triangle count + local clustering coefficient per node
    * (Watts & Strogatz 1998) via the degree-ordered edge orientation
    * (Chiba & Nishizeki 1985; the standard MapReduce/Spark formulation,
    * Suri & Vassilvitskii 2011 "Counting Triangles and the Curse of the
    * Last Reducer").
    *
    * `und`: canonical undirected edges (u, v) with u < v, distinct.
    * Orienting every edge from its lower-(degree, id) endpoint to the
    * higher one makes the wedge join's fan-out per node O(√|E|) instead
    * of O(max-degree) — the hub that would explode a naive wedge join
    * contributes only edges TOWARD it, not a quadratic wedge set. Each
    * triangle is counted exactly once (the orientation is acyclic: it
    * follows a total order).
    *
    * Scale shape: `ori` is computed once and localCheckpointed (three
    * consumers — both wedge sides and the closing-edge probe; the
    * PPJoin double-recompute lesson, Dedup.scala:203). Two shuffle
    * joins sized by the wedge count Σ outdeg², which the orientation
    * bounds, then one combiner-friendly per-node aggregation.
    *
    * Returns (node, deg, tri, cc) for nodes on ≥ 1 triangle, where
    * cc = 2·tri / (deg·(deg−1)) — both engines evaluate the identical
    * two IEEE ops (long multiply, double divide), so the column is
    * hash-comparable.
    */
  def triangleStats(und: DataFrame): DataFrame = {
    val e = und.select(col("u"), col("v")).distinct().localCheckpoint(true)
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val du = deg.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg.select(col("node").as("v"), col("deg").as("dv"))
    val lower = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    val ori = e.join(du, "u").join(dv, "v")
      .select(when(lower, col("u")).otherwise(col("v")).as("x"),
        when(lower, col("v")).otherwise(col("u")).as("y"))
      .localCheckpoint(true)
    val wedge = ori.select(col("x").as("a"), col("y").as("b"))
      .join(ori.select(col("x").as("b"), col("y").as("c")), "b")
    val tri = wedge.join(ori.select(col("x").as("a"), col("y").as("c")),
      Seq("a", "c"))
    val triPerNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("tri"))
    triPerNode.join(deg, "node")
      .select(col("node"), col("deg"), col("tri"),
        ((lit(2.0) * col("tri")) / (col("deg") * (col("deg") - lit(1L))))
          .as("cc"))
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k
    * (Seidman 1983, "Network structure and minimum degree"). On a
    * near-duplicate pair graph this separates DENSE duplicate communities
    * (clique-like replica groups, which survive peeling) from incidental
    * chains of borderline matches (which unravel) — a sharper curation
    * signal than connected components, whose giant component fuses both.
    *
    * Algorithm: synchronous iterative peeling — drop all nodes of
    * current in-core degree < k each round until fixpoint. The active
    * set shrinks monotonically, so equal consecutive sizes IS the
    * fixpoint; converges in at most |V| rounds, and in practice a
    * handful (core-collapse cascades are shallow on clique-heavy
    * graphs).
    *
    * Scale shape: each round is two semi-joins of the (checkpointed)
    * edge list against the active node set plus one combiner-friendly
    * `groupBy(src).count()` — the same one-shuffle-per-iteration
    * discipline as [[pageRank]]; no per-node adjacency is ever
    * materialized on one task. The active set is |V| rows, distributed.
    *
    * `und`: undirected edges (u, v). Returns (node, core_deg) for the
    * k-core members, core_deg = degree within the core.
    */
  def kCore(und: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"kCore needs k >= 1, got $k")
    val adj = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var active = adj.select(col("src").as("node")).distinct().localCheckpoint(true)
    var nActive = active.count()
    var rounds = 0
    var deg: DataFrame = null
    var converged = false
    while (!converged && rounds < maxRounds) {
      rounds += 1
      // LAZY checkpoint + count-as-materializer: the convergence probe
      // is the one action of the round, computing + caching `deg` and
      // counting the survivors in a single job (eager checkpoints paid
      // a second job per round — pure fixed overhead on short rounds).
      // r18 (opt): the |V|-row active set is broadcast-gated on its
      // MEASURED count (already paid by the convergence probe) — the
      // checkpointed frame carries no size stats, so without the hint
      // both semi-joins shuffled the full edge list every round.
      deg = adj
        .join(bcastIf(active.select(col("node").as("src")), nActive), Seq("src"), "left_semi")
        .join(bcastIf(active.select(col("node").as("dst")), nActive), Seq("dst"), "left_semi")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
        .localCheckpoint(false)
      val next = deg.filter(col("core_deg") >= k).select("node")
      val n = next.count()
      converged = n == nActive // monotone shrink: equal size = equal set
      active = next
      nActive = n
    }
    require(converged, s"kCore did not converge in $maxRounds rounds")
    // at fixpoint the last `deg` was computed over exactly the core set
    deg.filter(col("core_deg") >= k).select(col("node"), col("core_deg"))
  }

  /** k-truss: the maximal subgraph in which every EDGE sits on ≥ k−2
    * triangles (Cohen 2008, "Trusses: cohesive subgraphs for social
    * network analysis") — the edge-level sharpening of [[kCore]]: a
    * k-core can be held together by hub nodes bridging otherwise
    * unrelated groups, but a truss edge needs k−2 common neighbors, so
    * bridges (zero triangles) are cut no matter how high-degree their
    * endpoints. On a near-dup pair graph the truss keeps clique-like
    * replica families and drops chance banding collisions.
    *
    * Algorithm: DECREMENTAL support peeling with FRONTIER wedge
    * expansion. Triangles are enumerated ONCE (degree-oriented wedge
    * join, each triangle exactly once) only to seed the initial
    * supports — no triangle list is kept. Each round drops every edge
    * below k−2, then finds exactly the newly-dead triangles by
    * expanding wedges FROM THE DROPPED EDGES: for dropped (u,v), a
    * common neighbor w (probed from the LOWER-degree endpoint, so hub
    * fanout never exceeds min(deg u, deg v)) witnesses a triangle that
    * was alive at round start; the support of its still-surviving
    * edges decrements by one. Per-round cost is proportional to the
    * peeled FRONTIER's wedge count — not the graph, and not the alive
    * triangle count (profiled at sf0.1: 9.7M alive triangles but only
    * 838/53/2/2 dropped edges per round, so any round shape that scans
    * triangle state loses). The synchronous drop-all-below-threshold
    * schedule makes the round sequence — and hence the fixpoint and
    * the final supports — identical to naive per-round re-enumeration,
    * so [[kTrussSql]] is unchanged.
    *
    * Double-subtraction guard: a triangle with SEVERAL edges dropped
    * the same round is witnessed once per dropped edge; only the
    * candidate whose dropped edge is the lexicographic MINIMUM of the
    * triangle's dropped edges emits decrements, and only to the
    * non-dropped edges — each dead triangle subtracts exactly one from
    * each surviving edge. Invariant after every round (proved by the
    * `GraphSpec` peel-schedule-equivalence test): support(e) = e's
    * triangle count within the surviving edge set.
    *
    * `und`: undirected edges (u, v). Returns (u, v, support) canonical
    * (u < v) for the surviving truss edges.
    */
  def kTruss(und: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 3, s"kTruss needs k >= 3, got $k")
    val e0 = und
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    // ---- one-time triangle enumeration (degree-oriented: each triangle
    // once, wedge fanout bounded by the LOWER-degree endpoint) ----
    val deg0 = e0.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val du = deg0.select(col("node").as("u"), col("deg").as("du"))
    val dv = deg0.select(col("node").as("v"), col("deg").as("dv"))
    val lower = (col("du") < col("dv")) ||
      (col("du") === col("dv") && col("u") < col("v"))
    val ori = e0.join(du, "u").join(dv, "v")
      .select(when(lower, col("u")).otherwise(col("v")).as("x"),
        when(lower, col("v")).otherwise(col("u")).as("y"))
      .localCheckpoint(true)
    val tri = ori.select(col("x").as("a"), col("y").as("b"))
      .join(ori.select(col("x").as("b"), col("y").as("c")), "b")
      .join(ori.select(col("x").as("a"), col("y").as("c")), Seq("a", "c"))
    val sup0 = tri.select(explode(array(
        struct(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v")),
        struct(least(col("b"), col("c")).as("u"), greatest(col("b"), col("c")).as("v")),
        struct(least(col("a"), col("c")).as("u"), greatest(col("a"), col("c")).as("v"))))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("support"))
    // LAZY checkpoints throughout the loop: each round's convergence
    // probe (`dropped.count()`) is the single action that materializes
    // the previous round's `cur` — one job per round, not two
    var cur = e0.join(sup0, Seq("u", "v"), "left")
      .select(col("u"), col("v"), coalesce(col("support"), lit(0L)).as("support"))
      .localCheckpoint(false)
    // DECREMENTAL round-start frames: the symmetric adjacency and the
    // degree table are built ONCE from e0, then maintained by
    // subtracting each round's dropped edges (broadcast anti-join /
    // broadcast decrement join) — no per-round O(|E|) degree SHUFFLE,
    // even though Spark's scan of the adjacency per probe join remains
    // O(|E|) (no index structure exists to avoid it). After round r's
    // update both frames equal round r+1's round-start set exactly.
    var adjSym = e0.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(e0.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true)
    var degs = adjSym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      rounds += 1
      // the probe IS the materializer for the lazily-checkpointed `cur`
      val dropped = cur.filter(col("support") < k - 2).select("u", "v")
      val nDropped = dropped.count()
      if (nDropped == 0L) converged = true
      else {
        // probe common neighbors from each dropped edge's lower-degree
        // endpoint — hub-safe wedge fanout. (r18: broadcast-hinting the
        // frontier-sized sides of the probe joins + an extra measured
        // wedge-bound gate was tried and REVERTED — the added per-round
        // driver actions and broadcast collects cost more than the
        // small sort-merge joins they replaced: q_ktruss 9.7 → 14.1 s
        // under the bench protocol.)
        val dOri = dropped
          .join(degs.select(col("node").as("u"), col("deg").as("du")), "u")
          .join(degs.select(col("node").as("v"), col("deg").as("dv")), "v")
          .select(col("u"), col("v"),
            when(col("du") <= col("dv"), col("u")).otherwise(col("v")).as("lo"),
            when(col("du") <= col("dv"), col("v")).otherwise(col("u")).as("hi"))
        val cand = dOri
          .join(adjSym.select(col("src").as("lo"), col("dst").as("w")), "lo")
          .filter(col("w") =!= col("hi"))
          .join(adjSym.select(col("src").as("hi"), col("dst").as("w")),
            Seq("hi", "w"), "left_semi")
          .select(col("u"), col("v"), col("w"))
        // one emission per dead triangle: keep only the candidate whose
        // dropped edge is the triangle's minimum dropped edge
        val me = struct(col("u"), col("v"))
        val e2 = struct(least(col("u"), col("w")).as("u"),
          greatest(col("u"), col("w")).as("v"))
        val e3 = struct(least(col("v"), col("w")).as("u"),
          greatest(col("v"), col("w")).as("v"))
        val dset = dropped.select(struct(col("u"), col("v")).as("de"))
        val flagged = cand
          .join(dset.select(col("de").as("de2")), e2 === col("de2"), "left")
          .join(dset.select(col("de").as("de3")), e3 === col("de3"), "left")
        val dec = flagged
          .filter((col("de2").isNull || !(col("de2") < me)) &&
            (col("de3").isNull || !(col("de3") < me)))
          .select(explode(array(
            when(col("de2").isNull, e2),
            when(col("de3").isNull, e3))).as("e"))
          .filter(col("e").isNotNull)
          .select(col("e.u").as("u"), col("e.v").as("v"))
          .groupBy("u", "v").agg(count(lit(1)).as("dec"))
        cur = cur.filter(col("support") >= k - 2)
          .join(dec, Seq("u", "v"), "left")
          .select(col("u"), col("v"),
            (col("support") - coalesce(col("dec"), lit(0L))).as("support"))
          .localCheckpoint(false)
        // maintain the round-start frames for the NEXT round: remove
        // this round's dropped edges and decrement endpoint degrees — the
        // only shuffle left per round is the dec aggregation over the
        // frontier's wedges. The frontier is usually tiny after round 1,
        // but round 1 can drop a large fraction of |E|, so the broadcast
        // is gated on the measured count (already paid for by the
        // convergence probe): an unbounded frontier falls back to a
        // shuffle join instead of blowing the broadcast cap at scale.
        val dropSym = dropped.select(col("u").as("src"), col("v").as("dst"))
          .unionAll(dropped.select(col("v").as("src"), col("u").as("dst")))
        adjSym = adjSym
          .join(bcastIf(dropSym, nDropped), Seq("src", "dst"), "left_anti")
          .localCheckpoint(false)
        val dropCnt = dropSym.groupBy(col("src").as("node")).agg(count(lit(1)).as("dc"))
        degs = degs.join(bcastIf(dropCnt, nDropped), Seq("node"), "left")
          .select(col("node"), (col("deg") - coalesce(col("dc"), lit(0L))).as("deg"))
          .filter(col("deg") > 0L)
          .localCheckpoint(false)
      }
    }
    require(converged, s"kTruss did not converge in $maxRounds rounds")
    // by the invariant, `cur`'s support at fixpoint = each edge's
    // triangle count within the final truss — exactly what one more
    // full enumeration over the fixpoint set would produce
    cur
  }

  /** Full core decomposition — coreness number for EVERY node in one
    * fixpoint, not one k at a time: iterate c₀(v) = deg(v),
    * c_{t+1}(v) = H-index of {c_t(u) : u ∈ N(v)}, which converges to
    * the peeling coreness (Lü, Zhou, Zhang & Stanley 2016, "The
    * H-index of a network node and its relation to degree and
    * coreness", Nat. Commun. 7:10168). Values are monotone
    * non-increasing, so ΣC strictly decreases until the fixpoint —
    * the same cheap convergence probe as the min-label CC loop.
    *
    * HUB-SAFE per-round H-index: H(v) is "the largest h with ≥ h
    * neighbor values ≥ h", which never needs the neighbor values
    * SORTED — only their histogram. Each round therefore (1) caps each
    * neighbor value at the receiving node's CURRENT value (safe: the
    * iteration is monotone non-increasing, so H(v) ≤ c_t(v), and
    * capping at any bound ≥ H leaves every count that defines H
    * untouched), (2) aggregates (node, cappedValue) → count — a
    * combiner-friendly groupBy whose map-side partial collapses a
    * 10⁸-degree hub's rows BEFORE any shuffle, and (3) takes
    * H = max(min(value, suffixCount(value))) with a window over the
    * HISTOGRAM, whose per-node partition holds at most
    * min(degree, c_t(v)+1) distinct values — not the degree itself. A
    * star-graph hub's per-round footprint is one histogram row
    * (`GraphSpec` asserts the plan: the window's input is the
    * aggregate, never the raw adjacency).
    *
    * Converges in a handful of rounds in practice (the theory bound is
    * O(graph diameter)-ish; 4 on the near-dup pair graph).
    *
    * `und`: undirected edges (u, v). Returns (node, coreness) for every
    * node with ≥ 1 edge.
    */
  def coreness(und: DataFrame, maxRounds: Int = 50): DataFrame = {
    val adj = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // LAZY checkpoints: the ΣC convergence probe is the round's single
    // action, materializing the round's values and summing them in one
    // job (eager checkpointing doubled the per-round job count)
    var c = adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    // r18 (opt): the per-round score vector is |V| rows and every node
    // survives the H-iteration, so ONE count gates its broadcast into
    // every round's adjacency joins (the [[pageRank]] discipline —
    // without the hint the checkpointed frame has no stats and the
    // round shuffled the full |2E| adjacency twice)
    val nV = c.count()
    def total(df: DataFrame): Long = df.agg(sum(col("c"))).head().getLong(0)
    var prev = total(c)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      rounds += 1
      val next = hIndexRound(adj, c, nV).localCheckpoint(false)
      val s = total(next)
      converged = s == prev // monotone non-increasing: equal sum = fixpoint
      prev = s
      c = next
    }
    require(converged, s"coreness did not converge in $maxRounds rounds")
    c.select(col("node"), col("c").as("coreness"))
  }

  /** One H-index round for [[coreness]]: `adj` (src, dst) symmetric
    * adjacency, `c` (node, c) current values over `nV` counted nodes →
    * (node, c) next values.
    * Exposed so `GraphSpec` can assert the plan shape (the window runs
    * over the aggregated HISTOGRAM, never the raw adjacency — the
    * hub-safety property).
    */
  private[graft] def hIndexRound(adj: DataFrame, c: DataFrame,
                                 nV: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = adj
      .join(bcastIf(c.select(col("node").as("dst"), col("c").as("cv")), nV), "dst")
      .join(bcastIf(c.select(col("node").as("src"), col("c").as("cap")), nV), "src")
      .groupBy(col("src"), least(col("cv"), col("cap")).as("val"))
      .agg(count(lit(1)).as("cnt"))
    // suffix counts over the (small) per-node histogram, descending
    val w = Window.partitionBy(col("src")).orderBy(col("val").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("ge", sum(col("cnt")).over(w))
      .groupBy(col("src").as("node"))
      .agg(max(least(col("val"), col("ge"))).as("c"))
  }

  /** Unrolled DuckDB oracle for [[coreness]] — same H-index rounds, with
    * the convergence-or-error guard (a node whose value still shrinks
    * after `rounds` iterations poisons the result instead of passing).
    */
  def corenessSql(undSql: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""cund AS MATERIALIZED ($undSql),
         |cadj AS MATERIALIZED (
         |  SELECT u AS src, v AS dst FROM cund
         |  UNION SELECT v, u FROM cund),
         |c0 AS MATERIALIZED (SELECT src AS node, COUNT(*) AS c FROM cadj GROUP BY src)""".stripMargin)
    var prev = "c0"
    for (r <- 1 to rounds) {
      sb.append(
        s""",
           |c$r AS MATERIALIZED (
           |  SELECT node, MAX(LEAST(rn, c)) AS c FROM (
           |    SELECT e.src AS node, l.c,
           |      row_number() OVER (PARTITION BY e.src ORDER BY l.c DESC) AS rn
           |    FROM cadj e JOIN $prev l ON l.node = e.dst)
           |  GROUP BY node)""".stripMargin)
      prev = s"c$r"
    }
    sb.append(
      s""",
         |cconv AS (SELECT CASE WHEN EXISTS (
         |    SELECT 1 FROM c$rounds a JOIN c${rounds - 1} b ON a.node = b.node
         |    WHERE a.c <> b.c)
         |  THEN error('coreness H-iteration not converged') ELSE 1 END AS ok),
         |core_out AS (SELECT node, c AS coreness FROM c$rounds
         |  WHERE (SELECT ok FROM cconv) = 1)""".stripMargin)
    sb.toString
  }

  /** Unrolled DuckDB oracle for [[kTruss]] — `undSql` yields (u, v).
    * Mirrors the support peeling round for round with the same
    * convergence-or-error guard as [[kCoreSql]].
    */
  def kTrussSql(undSql: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""tund AS MATERIALIZED ($undSql),
         |e0 AS MATERIALIZED (
         |  SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v
         |  FROM tund WHERE u <> v)""".stripMargin)
    var prev = "e0"
    for (r <- 1 to rounds) {
      sb.append(
        s""",
           |deg$r AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
           |  SELECT u AS node FROM $prev UNION ALL SELECT v FROM $prev) GROUP BY node),
           |ori$r AS MATERIALIZED (
           |  SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
           |              THEN u ELSE v END AS x,
           |         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
           |              THEN v ELSE u END AS y
           |  FROM $prev JOIN deg$r du ON du.node = $prev.u
           |             JOIN deg$r dv ON dv.node = $prev.v),
           |tri$r AS MATERIALIZED (
           |  SELECT e1.x AS a, e1.y AS b, e2.y AS c
           |  FROM ori$r e1 JOIN ori$r e2 ON e2.x = e1.y
           |  JOIN ori$r e3 ON e3.x = e1.x AND e3.y = e2.y),
           |sup$r AS MATERIALIZED (SELECT u, v, COUNT(*) AS support FROM (
           |  SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v FROM tri$r
           |  UNION ALL SELECT LEAST(b, c), GREATEST(b, c) FROM tri$r
           |  UNION ALL SELECT LEAST(a, c), GREATEST(a, c) FROM tri$r) GROUP BY u, v),
           |es$r AS MATERIALIZED (
           |  SELECT e.u, e.v, COALESCE(s.support, 0) AS support
           |  FROM $prev e LEFT JOIN sup$r s ON s.u = e.u AND s.v = e.v),
           |e$r AS MATERIALIZED (
           |  SELECT u, v FROM es$r WHERE support >= ${k - 2})""".stripMargin)
      prev = s"e$r"
    }
    sb.append(
      s""",
         |tconv AS (SELECT CASE WHEN
         |    (SELECT COUNT(*) FROM e$rounds) <> (SELECT COUNT(*) FROM e${rounds - 1})
         |  THEN error('k-truss peeling not converged') ELSE 1 END AS ok),
         |truss AS (SELECT es.u, es.v, CAST(es.support AS BIGINT) AS support
         |  FROM es$rounds es WHERE es.support >= ${k - 2}
         |    AND (SELECT ok FROM tconv) = 1)""".stripMargin)
    sb.toString
  }

  /** Unrolled DuckDB oracle for [[kCore]] — `undSql` must be a CTE body
    * yielding (u, v). Mirrors the synchronous peeling exactly; the
    * convergence guard errors if `rounds` unrolled iterations did not
    * reach the fixpoint (same pattern as the min-label-propagation
    * oracle), so a passing run PROVES the unroll depth sufficed.
    */
  def kCoreSql(undSql: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""und AS MATERIALIZED ($undSql),
         |adj AS MATERIALIZED (
         |  SELECT u AS src, v AS dst FROM und
         |  UNION SELECT v, u FROM und),
         |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM adj)""".stripMargin)
    var prev = "a0"
    for (r <- 1 to rounds) {
      sb.append(
        s""",
           |d$r AS MATERIALIZED (SELECT e.src AS node, COUNT(*) AS core_deg
           |  FROM adj e JOIN $prev s ON s.node = e.src
           |             JOIN $prev t ON t.node = e.dst
           |  GROUP BY e.src),
           |a$r AS MATERIALIZED (SELECT node FROM d$r WHERE core_deg >= $k)""".stripMargin)
      prev = s"a$r"
    }
    sb.append(
      s""",
         |conv AS (SELECT CASE WHEN
         |    (SELECT COUNT(*) FROM a$rounds) <> (SELECT COUNT(*) FROM a${rounds - 1})
         |  THEN error('k-core peeling not converged') ELSE 1 END AS ok),
         |core AS (SELECT d.node, d.core_deg FROM d$rounds d
         |  JOIN a$rounds a ON a.node = d.node
         |  WHERE (SELECT ok FROM conv) = 1)""".stripMargin)
    sb.toString
  }

  /** Link prediction over an undirected graph: common-neighbor count and
    * Adamic–Adar score (Adamic & Adar 2003, "Friends and neighbors on
    * the Web") for every NON-adjacent pair at distance 2 whose evidence
    * clears `minCn` common neighbors. On a near-duplicate pair graph
    * this surfaces the pairs LSH banding missed but the cluster
    * structure implies — the recall-repair pass of a dedup pipeline
    * (two docs sharing ≥2 near-dup partners are almost surely near-dups
    * whose band keys happened to disagree).
    *
    *   AA(a,b) = Σ_{v ∈ N(a) ∩ N(b)} 1 / ln(deg(v))
    *
    * Scale shape: candidate pairs are generated per WEDGE CENTER — each
    * center v emits its C(deg v, 2) neighbor pairs — so the work is
    * Σ deg(v)², which a hub makes quadratic. The `degCap` bound is the
    * same df-cap discipline as [[graft.ops.Dedup.ngramJaccardPairs]]: a
    * center with deg > degCap is excluded from wedge generation (its
    * common-neighbor evidence is weak anyway — 1/ln(deg) vanishes, and
    * a 10⁸-degree hub connecting two docs says nothing about their
    * similarity), capping per-center fanout at C(degCap, 2) and total
    * work at degCap·|E|. Everything else is combiner-friendly: one
    * degree aggregation, one self-join keyed on the center, one pair
    * aggregation, one anti-join against the edge set.
    *
    * Per-pair AA sums quantize each 1/ln(deg) term to 12 dp DECIMAL
    * before summing ([[pageRank]]'s discipline), so the reduction is
    * order-independent and the result hash-oracle-able.
    *
    * Returns (u, v, cn, aa) with u < v, cn ≥ minCn, aa rounded to 6 dp.
    */
  def adamicAdar(und: DataFrame, degCap: Int = 64, minCn: Long = 2): DataFrame = {
    // canonicalize BEFORE dedup: an input carrying both orientations of
    // an undirected edge (or self-loops) would otherwise silently double
    // degrees, cn and aa — least/greatest makes the single-orientation
    // contract a property of this function, not of its callers
    val e = und
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    val adj = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val deg = adj.groupBy(col("u").as("node")).agg(count(lit(1)).as("deg"))
    val centers = deg.filter(col("deg") <= degCap)
      .select(col("node").as("c"), col("deg"))
    val adjC = adj.select(col("u").as("c"), col("v").as("n"))
      .join(centers, "c")
      .localCheckpoint(true) // fans into both sides of the wedge self-join
    val wedges = adjC.select(col("c"), col("n").as("a"), col("deg"))
      .join(adjC.select(col("c"), col("n").as("b")), "c")
      .filter(col("a") < col("b"))
    // per-wedge terms quantize through the e12 FLOOR witness and sum in
    // exact LONG (r17, task #2: ROUND(1/ln deg, 12) was the last
    // engine-defined rounding here); terms are positive (wedge centers
    // have deg ≥ 2), so the 6-dp emission is a plain half-up floordiv
    val scored = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"),
        sum(graft.functions.intWitness(lit(1.0) / log(col("deg").cast(DoubleType))
         , 1000000000000L)).as("s12"))
    val eNorm = e.select(least(col("u"), col("v")).as("a"),
      greatest(col("u"), col("v")).as("b"))
    scored.join(eNorm, Seq("a", "b"), "left_anti")
      .filter(col("cn") >= minCn)
      .select(col("a").as("u"), col("b").as("v"), col("cn"),
        expr("(2 * s12 + 1000000) div 2000000").as("aa_e6"))
  }

  /** DuckDB mirror of [[adamicAdar]] — emits CTEs ending in `aa_pred`.
    * `undSql` must yield columns (u, v).
    */
  def adamicAdarSql(undSql: String, degCap: Int = 64, minCn: Long = 2): String =
    s"""aa_und AS MATERIALIZED ($undSql),
       |aa_e AS MATERIALIZED (SELECT DISTINCT LEAST(u, v) AS u, GREATEST(u, v) AS v
       |  FROM aa_und WHERE u <> v),
       |aa_adj AS MATERIALIZED (
       |  SELECT u, v FROM aa_e UNION ALL SELECT v, u FROM aa_e),
       |aa_deg AS (SELECT u AS node, COUNT(*) AS deg FROM aa_adj GROUP BY 1),
       |aa_ac AS MATERIALIZED (
       |  SELECT a.u AS c, a.v AS n, d.deg FROM aa_adj a
       |  JOIN aa_deg d ON a.u = d.node WHERE d.deg <= $degCap),
       |aa_sc AS (SELECT x.n AS a, y.n AS b, CAST(COUNT(*) AS BIGINT) AS cn,
       |    SUM(CAST(FLOOR(1.0 / ln(CAST(x.deg AS DOUBLE))
       |      * 1000000000000.0 + 0.5) AS BIGINT)) AS s12
       |  FROM aa_ac x JOIN aa_ac y ON x.c = y.c AND x.n < y.n
       |  GROUP BY 1, 2),
       |aa_en AS (SELECT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM aa_e),
       |aa_pred AS (
       |  SELECT sc.a AS u, sc.b AS v, sc.cn,
       |    CAST((2 * sc.s12 + 1000000) // 2000000 AS BIGINT) AS aa_e6
       |  FROM aa_sc sc
       |  LEFT JOIN aa_en en ON sc.a = en.a AND sc.b = en.b
       |  WHERE en.a IS NULL AND sc.cn >= $minCn)""".stripMargin
}
