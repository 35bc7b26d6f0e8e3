package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.ops.{Assoc, Dedup, Graph}

import QueryHelpers._

/** Graph analytics: PageRank and HITS, cores, trusses, triangles,
  * BFS, communities, link prediction, association rules and paths.
  */
private[graft] object GraphQueries {

  val specs: Seq[QuerySpec] = Seq(

    // link prediction on the simhash near-dup graph: common neighbors +
    // Adamic-Adar over degree-capped wedge centers — the recall-repair
    // pass for pairs whose band keys disagreed
    QuerySpec("q_link_prediction", { (s, dir) =>
      val und = Dedup.simhashPairs(Tables(s, dir, "documents"), hammingMax = 2)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      Graph.adamicAdar(und, degCap = 64, minCn = 2)
        .select(col("u").as("doc_a"), col("v").as("doc_b"), col("cn"), col("aa_e6"))
        .orderBy("doc_a", "doc_b")
    },
      s"""WITH $simhashBandedPairCtes,
         |${graft.ops.Graph.adamicAdarSql(
           "SELECT doc_a AS u, doc_b AS v FROM p", degCap = 64, minCn = 2)}
         |SELECT u AS doc_a, v AS doc_b, cn, aa_e6 FROM aa_pred
         |ORDER BY doc_a, doc_b""".stripMargin),

    // degree assortativity (Newman 2002) of the near-dup pair graph: do
    // high-degree docs (heavily replicated) pair with each other (r > 0,
    // clique-heavy replica families) or with rare docs (r < 0,
    // hub-and-spoke contamination)? One number summarizing the graph's
    // mixing. Exact integer moment sums (every term fits a long), the
    // final Pearson ratio in identical IEEE ops both engines.
    QuerySpec("q_assortativity", { (s, dir) =>
      val und = Dedup.simhashPairs(Tables(s, dir, "documents"), hammingMax = 2)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      val adj = und.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
        .localCheckpoint(true)
      val deg = adj.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      val pairs = adj
        .join(deg.select(col("node").as("src"), col("deg").as("du")), "src")
        .join(deg.select(col("node").as("dst"), col("deg").as("dv")), "dst")
      pairs.agg(count(lit(1)).as("n"),
          sum(col("du")).as("sx"), sum(col("dv")).as("sy"),
          sum(col("du") * col("dv")).as("sxy"),
          sum(col("du") * col("du")).as("sxx"),
          sum(col("dv") * col("dv")).as("syy"))
        .select(col("n"),
          e6Witness((col("n").cast(DoubleType) * col("sxy") - col("sx").cast(DoubleType) * col("sy")) /
            (sqrt(col("n").cast(DoubleType) * col("sxx") - col("sx").cast(DoubleType) * col("sx")) *
             sqrt(col("n").cast(DoubleType) * col("syy") - col("sy").cast(DoubleType) * col("sy")))
           ).as("assortativity_e6"))
    },
      s"""WITH $simhashBandedPairCtes,
         |adj AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM p
         |  UNION ALL SELECT doc_b, doc_a FROM p),
         |dg AS MATERIALIZED (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
         |  FROM adj GROUP BY src),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(a.deg) AS BIGINT) AS sx, CAST(SUM(b.deg) AS BIGINT) AS sy,
         |  CAST(SUM(a.deg * b.deg) AS BIGINT) AS sxy,
         |  CAST(SUM(a.deg * a.deg) AS BIGINT) AS sxx,
         |  CAST(SUM(b.deg * b.deg) AS BIGINT) AS syy
         |  FROM adj e JOIN dg a ON a.node = e.src JOIN dg b ON b.node = e.dst)
         |SELECT n, CAST(FLOOR(
         |  (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
         |  (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
         |   sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
         |  * 1000000.0 + 0.5) AS BIGINT) AS assortativity_e6
         |FROM m""".stripMargin),

    // k-core of the near-dup pair graph: documents in DENSE duplicate
    // communities (every member ≥ 3 in-core neighbors) vs incidental
    // chains of borderline matches, which peel away — a sharper "how
    // duplicated is this doc really" signal than component membership,
    // since the giant component fuses cliques and chains alike
    QuerySpec("q_kcore", { (s, dir) =>
      val und = Dedup.simhashPairs(Tables(s, dir, "documents"), hammingMax = 2)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      Graph.kCore(und, k = 3)
        .select(col("node").as("doc_id"), col("core_deg"))
        .orderBy("doc_id")
    },
      // unrolled synchronous peeling over the same banded pair set, with
      // the same convergence-or-error guard discipline as dedup_clusters
      s"""WITH $simhashBandedPairCtes,
         |${graft.ops.Graph.kCoreSql("SELECT doc_a AS u, doc_b AS v FROM p", k = 3, rounds = 12)}
         |SELECT node AS doc_id, core_deg FROM core ORDER BY doc_id""".stripMargin),

    // full core decomposition of the pair graph: every doc's coreness
    // number in ONE fixpoint (H-index iteration), not a per-k rerun —
    // the graded "how deep in a duplicate community" signal q_kcore
    // thresholds at a single k
    QuerySpec("q_coreness", { (s, dir) =>
      val und = Dedup.simhashPairs(Tables(s, dir, "documents"), hammingMax = 2)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      Graph.coreness(und)
        .select(col("node").as("doc_id"), col("coreness"))
        .orderBy("doc_id")
    },
      s"""WITH $simhashBandedPairCtes,
         |${graft.ops.Graph.corenessSql("SELECT doc_a AS u, doc_b AS v FROM p", rounds = 20)}
         |SELECT node AS doc_id, coreness FROM core_out ORDER BY doc_id""".stripMargin),

    // k-truss of the same pair graph — the EDGE-level sharpening of
    // q_kcore: an edge survives only with ≥ 3 common neighbors, so
    // high-degree bridge nodes can't hold unrelated replica families
    // together (a k-core can be hub-glued; a truss cannot)
    QuerySpec("q_ktruss", { (s, dir) =>
      val und = Dedup.simhashPairs(Tables(s, dir, "documents"), hammingMax = 2)
        .select(col("doc_a").as("u"), col("doc_b").as("v"))
      Graph.kTruss(und, k = 5)
        .select(col("u").as("doc_a"), col("v").as("doc_b"), col("support"))
        .orderBy("doc_a", "doc_b")
    },
      s"""WITH $simhashBandedPairCtes,
         |${graft.ops.Graph.kTrussSql("SELECT doc_a AS u, doc_b AS v FROM p", k = 5, rounds = 8)}
         |SELECT u AS doc_a, v AS doc_b, support FROM truss
         |ORDER BY doc_a, doc_b""".stripMargin),

    // per-user event-type transition mining (first-order Markov counts):
    // (from → to) over each user's (ts, event_id)-ordered stream, with
    // the conditional probability — the sequence-pattern summary a
    // behavioral pipeline derives before training sequence models
    QuerySpec("q_event_transitions", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val pairs = ev
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = pairs.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
      pairs.join(totals, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          e6Witness(col("n").cast(DoubleType) / col("tot").cast(DoubleType)
           ).as("prob_e6"))
        .orderBy("from_type", "to_type")
    },
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |pr AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS to_type
        |       FROM e),
        |c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, SUM(n) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  CAST(FLOOR(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE)
        |    * 1000000.0 + 0.5) AS BIGINT) AS prob_e6
        |FROM c JOIN t ON c.from_type = t.from_type
        |ORDER BY c.from_type, c.to_type""".stripMargin),

    // Top onboarding paths: each user's FIRST THREE event types as one
    // "a>b>c" path string, counted across users — the entry-funnel
    // report behind every activation dashboard (q_event_transitions is
    // the memoryless view; this keeps 3 steps of order). Shape: one
    // per-user window (the events-family bounded class) pruned to
    // rn ≤ 3 immediately, a rank-pivot (max-when, no ordered
    // collect_list — aggregation order is undefined in both engines),
    // one combiner groupBy onto the path domain (≤ |types|³ rows), and
    // a TakeOrdered top-15.
    QuerySpec("q_top_paths", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val first3 = ev.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
      val paths = first3.groupBy(col("user_id"))
        .agg(max(when(col("rn") === 1, col("event_type"))).as("e1"),
          max(when(col("rn") === 2, col("event_type"))).as("e2"),
          max(when(col("rn") === 3, col("event_type"))).as("e3"))
        .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
      paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
        .orderBy(desc("n_users"), col("path"))
        .limit(15)
    },
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |r AS (SELECT user_id, event_type,
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS rn
        |  FROM e),
        |pv AS (SELECT user_id,
        |  MAX(CASE WHEN rn = 1 THEN event_type END) AS e1,
        |  MAX(CASE WHEN rn = 2 THEN event_type END) AS e2,
        |  MAX(CASE WHEN rn = 3 THEN event_type END) AS e3
        |  FROM r WHERE rn <= 3 GROUP BY user_id),
        |pth AS (SELECT concat_ws('>', e1, e2, e3) AS path FROM pv)
        |SELECT path, COUNT(*) AS n_users
        |FROM pth GROUP BY path
        |ORDER BY n_users DESC, path LIMIT 15""".stripMargin),

    // ---- graph analytics: corpus-quality priors ----

    // Damped PageRank (5 iterations) over the part co-occurrence graph
    // (parts sharing an order, both directions) — the page-quality prior
    // of web-corpus curation (Page et al. 1999), here as "product
    // centrality". Ranks broadcast into each iteration's edge join; ONE
    // combiner-friendly shuffle (the contribution sum on dst) per
    // iteration. Per-edge contributions quantize to DECIMAL(28,14) so the
    // reduction is exact decimal arithmetic — reduction-order-independent
    // in both engines, hence hash-oracled (Graph.pageRankSql generates
    // the unrolled oracle from the same constants).
    QuerySpec("q_pagerank", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val parts = Tables(s, dir, "part").select(col("p_partkey").as("id"))
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      Graph.pageRank(parts, edges, iters = 5)
        .select(col("id").as("p_partkey"), col("r").as("rank"))
        .orderBy("p_partkey")
    },
    // unrolled from the SAME constants and decimal quantization as the
    // Spark iteration (Graph.pageRankSql) — exact decimal contribution
    // sums make the fixpoint reduction-order-independent in both engines
    {
      val body = Graph.pageRankSql(
        "SELECT p_partkey AS id FROM part",
        """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey""".stripMargin,
        iters = 5)
      s"SELECT id AS p_partkey, r AS rank FROM ($body) ORDER BY p_partkey"
    }),

    // HITS hubs & authorities (Kleinberg 1999) on the customer→supplier
    // bipartite purchase graph (supplier ids offset into a disjoint id
    // space) — the hub/authority quality pair for bipartite corpora.
    // Decimal-quantized contribution sums + MAX normalization keep every
    // iteration reduction-order-independent → hash-oracled via the
    // unrolled Graph.hitsSql.
    QuerySpec("q_hits", { (s, dir) =>
      val o = Tables(s, dir, "orders")
      val li = Tables(s, dir, "lineitem")
      val edges = o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("src"),
          (col("l_suppkey") + lit(10000000L)).as("dst"))
      val nodes = Tables(s, dir, "customer").select(col("c_custkey").as("id"))
        .unionByName(Tables(s, dir, "supplier")
          .select((col("s_suppkey") + lit(10000000L)).as("id")))
      Graph.hits(nodes, edges, iters = 4)
        .select(col("id"), col("h").as("hub"), col("a").as("auth"))
        .orderBy("id")
    },
    // unrolled from the same constants as Graph.hits (decimal sums,
    // MAX normalization)
    {
      val body = Graph.hitsSql(
        """SELECT c_custkey AS id FROM customer
          |UNION SELECT s_suppkey + 10000000 AS id FROM supplier""".stripMargin,
        """SELECT o_custkey AS src, l_suppkey + 10000000 AS dst
          |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin,
        iters = 4)
      s"SELECT id, hub, auth FROM ($body) ORDER BY id"
    }),

    // Personalized PageRank (Haveliwala 2002): teleport mass restricted
    // to a seed set (every 97th part) — relevance-to-the-seeds instead of
    // global centrality, the "expand from a trusted core" curation
    // primitive. Same decimal-exact iteration and broadcast-rank shape
    // as q_pagerank.
    QuerySpec("q_ppr_seeded", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val parts = Tables(s, dir, "part").select(col("p_partkey").as("id"))
      val seeds = parts.filter(col("id") % 97 === 0)
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      Graph.pageRankSeeded(parts, edges, seeds, iters = 4)
        .select(col("id").as("p_partkey"), col("r").as("rank"))
        .orderBy("p_partkey")
    },
    // unrolled from the same constants as Graph.pageRankSeeded
    {
      val body = Graph.pageRankSeededSql(
        "SELECT p_partkey AS id FROM part",
        """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey""".stripMargin,
        "SELECT p_partkey AS id FROM part WHERE p_partkey % 97 = 0",
        iters = 4)
      s"SELECT id AS p_partkey, r AS rank FROM ($body) ORDER BY p_partkey"
    }),

    // Association rules at the pair level (Agrawal & Srikant 1994):
    // top-20 co-purchased part pairs by pair count with directional
    // confidence and lift — support floor 3 prunes before the stats
    // join (the Apriori downward-closure step). Fully deterministic
    // order: (c_pair desc, u, v).
    QuerySpec("q_assoc_rules", { (s, dir) =>
      Assoc.pairRules(Tables(s, dir, "lineitem"), "l_orderkey", "l_partkey",
          minPairCount = 3L)
        .orderBy(desc("c_pair"), col("u"), col("v"))
        .limit(20)
    },
      """WITH inc AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS it FROM lineitem),
        |nb AS (SELECT COUNT(DISTINCT ok) AS n FROM inc),
        |ci AS MATERIALIZED (SELECT it, COUNT(*) AS c FROM inc GROUP BY it),
        |p AS (SELECT a.it AS u, b.it AS v, COUNT(*) AS c_pair
        |      FROM inc a JOIN inc b ON a.ok = b.ok AND a.it < b.it
        |      GROUP BY 1, 2 HAVING COUNT(*) >= 3)
        |SELECT p.u, p.v, p.c_pair, cu.c AS c_u, cv.c AS c_v,
        |  CAST(p.c_pair AS DOUBLE) / CAST(cu.c AS DOUBLE) AS conf_uv,
        |  CAST(p.c_pair AS DOUBLE) / CAST(cv.c AS DOUBLE) AS conf_vu,
        |  CAST(p.c_pair * nb.n AS DOUBLE) / CAST(cu.c * cv.c AS DOUBLE) AS lift
        |FROM p JOIN ci cu ON cu.it = p.u JOIN ci cv ON cv.it = p.v, nb
        |ORDER BY p.c_pair DESC, p.u, p.v LIMIT 20""".stripMargin),

    // The next Apriori level: top size-3 BRAND itemsets with the three
    // pair→third confidences ("orders with these two brands also carry
    // …"). Items are brands, not parts: the bounded brand domain keeps
    // support dense at every corpus size, where part-level triples
    // dilute as the catalog grows. Triple expansion stays cubic in
    // BASKET size (≤ 7 distinct brands per order here), never corpus
    // size — both explosion joins key on the basket id (see
    // Assoc.tripleRules scaladoc); the brand lookup is a broadcast dim
    // join before the distinct.
    QuerySpec("q_assoc_triples", { (s, dir) =>
      val branded = Tables(s, dir, "lineitem")
        .join(broadcast(Tables(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
      Assoc.tripleRules(branded, "l_orderkey", "p_brand",
          minTripleCount = 2L)
        .orderBy(desc("c_triple"), col("u"), col("v"), col("w"))
        .limit(15)
    },
      """WITH inc AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS ok, p_brand AS it
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |p AS MATERIALIZED (
        |  SELECT a.it AS u, b.it AS v, COUNT(*) AS c_pair
        |  FROM inc a JOIN inc b ON a.ok = b.ok AND a.it < b.it
        |  GROUP BY 1, 2),
        |t AS (
        |  SELECT a.it AS u, b.it AS v, c.it AS w, COUNT(*) AS c_triple
        |  FROM inc a JOIN inc b ON a.ok = b.ok AND a.it < b.it
        |  JOIN inc c ON b.ok = c.ok AND b.it < c.it
        |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2)
        |SELECT t.u, t.v, t.w, t.c_triple,
        |  puv.c_pair AS c_uv, puw.c_pair AS c_uw, pvw.c_pair AS c_vw,
        |  CAST(t.c_triple AS DOUBLE) / CAST(puv.c_pair AS DOUBLE) AS conf_uv_w,
        |  CAST(t.c_triple AS DOUBLE) / CAST(puw.c_pair AS DOUBLE) AS conf_uw_v,
        |  CAST(t.c_triple AS DOUBLE) / CAST(pvw.c_pair AS DOUBLE) AS conf_vw_u
        |FROM t
        |JOIN p puv ON puv.u = t.u AND puv.v = t.v
        |JOIN p puw ON puw.u = t.u AND puw.v = t.w
        |JOIN p pvw ON pvw.u = t.v AND pvw.v = t.w
        |ORDER BY t.c_triple DESC, t.u, t.v, t.w LIMIT 15""".stripMargin),

    // Multi-source BFS: hop distance ≤ 3 from the seed part set along
    // the co-purchase graph (k-hop neighborhoods around trusted seeds —
    // the graph-locality filter of web-corpus curation). Same edge set
    // and seed rule as q_ppr_seeded; integer-exact, oracle generated
    // from the same constants by Graph.bfsHopsSql.
    QuerySpec("q_bfs_hops", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val edges = Graph.coOccurrenceEdges(li, "l_orderkey", "l_partkey")
      val seeds = Tables(s, dir, "part")
        .select(col("p_partkey").as("id")).filter(col("id") % 97 === 0)
      Graph.bfsHops(edges, seeds, maxHops = 3)
        .select(col("id").as("p_partkey"), col("d").as("hops"))
        .orderBy("p_partkey")
    }, {
      val body = Graph.bfsHopsSql(
        """SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey""".stripMargin,
        "SELECT p_partkey AS id FROM part WHERE p_partkey % 97 = 0",
        maxHops = 3)
      s"SELECT id AS p_partkey, d AS hops FROM ($body) ORDER BY p_partkey"
    }),

    // Exact triangle count + local clustering coefficient (Watts &
    // Strogatz 1998) on the part co-purchase graph, support ≥ 2 (pairs
    // must co-occur in ≥ 2 basket instances — the market-basket
    // sparsifier that keeps |E| roughly scale-constant while instance
    // pairs grow linearly: 3.6k edges at sf0.01, 3.9k at sf0.1).
    // Degree-ordered orientation bounds the wedge join (Suri &
    // Vassilvitskii 2011); the oracle runs the identical formulation.
    QuerySpec("q_triangles", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val und = Assoc.incidencePairCounts(li, "l_orderkey", "l_partkey")
        .filter(col("c_pair") >= 2).select("u", "v")
      Graph.triangleStats(und)
        .select(col("node").as("p_partkey"), col("deg"), col("tri"), col("cc"))
        .orderBy("p_partkey")
    },
      """WITH und AS MATERIALIZED (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |deg AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
        |  SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und)
        |  GROUP BY node),
        |ori AS MATERIALIZED (
        |  SELECT CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
        |              THEN u ELSE v END AS x,
        |         CASE WHEN (du.deg < dv.deg) OR (du.deg = dv.deg AND u < v)
        |              THEN v ELSE u END AS y
        |  FROM und JOIN deg du ON du.node = und.u
        |           JOIN deg dv ON dv.node = und.v),
        |tri AS MATERIALIZED (
        |  SELECT e1.x AS a, e1.y AS b, e2.y AS c
        |  FROM ori e1 JOIN ori e2 ON e2.x = e1.y
        |  JOIN ori e3 ON e3.x = e1.x AND e3.y = e2.y),
        |tpn AS (SELECT node, COUNT(*) AS tri FROM (
        |  SELECT a AS node FROM tri UNION ALL SELECT b AS node FROM tri
        |  UNION ALL SELECT c AS node FROM tri) GROUP BY node)
        |SELECT tpn.node AS p_partkey, deg.deg, tpn.tri,
        |  (2.0 * tpn.tri) / (deg.deg * (deg.deg - 1)) AS cc
        |FROM tpn JOIN deg ON deg.node = tpn.node
        |ORDER BY p_partkey""".stripMargin),

    // Label-propagation communities (Raghavan et al. 2007) on the
    // support-≥2 co-purchase graph (the q_triangles sparsifier), 4
    // synchronous rounds — integer-exact argmax updates, so the unrolled
    // oracle matches hash-exactly (no decimal quantization needed).
    QuerySpec("q_communities", { (s, dir) =>
      val li = Tables(s, dir, "lineitem")
      val und = Assoc.incidencePairCounts(li, "l_orderkey", "l_partkey")
        .filter(col("c_pair") >= 2).select("u", "v")
      val edges = und.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      val nodes = edges.select(col("src").as("id"))
      Graph.labelPropagation(nodes, edges, iters = 4)
        .select(col("id").as("p_partkey"), col("lbl").as("community"))
        .orderBy("p_partkey")
    }, {
      val pairSql =
        """SELECT a.l_partkey AS u, b.l_partkey AS v
          |FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |GROUP BY 1, 2 HAVING COUNT(*) >= 2""".stripMargin
      val body = Graph.labelPropagationSql(
        s"SELECT u AS id FROM ($pairSql) UNION SELECT v AS id FROM ($pairSql)",
        s"SELECT u AS src, v AS dst FROM ($pairSql) " +
          s"UNION ALL SELECT v AS src, u AS dst FROM ($pairSql)",
        iters = 4)
      s"SELECT id AS p_partkey, lbl AS community FROM ($body) ORDER BY p_partkey"
    })
  )
}
