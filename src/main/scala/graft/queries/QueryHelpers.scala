package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** Plan and oracle pieces that several query families share. */
private[graft] object QueryHelpers {

  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Child session with a smaller AQE advisory partition size, for the
    * dedup-blocking operators whose post-shuffle stages are CPU-DENSE
    * per byte (shingle prefix builds, array_intersect verification —
    * ~100x a plain scan's CPU/byte, the [[graft.ops.Dedup.spread]]
    * rationale). Under the session default (16m, sized for scan-bound
    * stages) AQE coalesces their MB-scale exchanges to ONE task and the
    * whole verify runs serially (QueryProfile r19: 0.9-1.4 s single-task
    * stages inside q_blocking_quality while 31 cores idle). A byte-based
    * advisory stays scale-adaptive — at corpus scale these exchanges are
    * far above any advisory and the setting is a no-op; only the
    * coalescing floor moves. One child per parent session (cached) so
    * the Tables relation cache keeps hitting. The map is keyed weakly:
    * the child `newSession()` makes holds no reference to its parent, so
    * a dropped parent and its child are collected together.
    */
  private val denseSessions =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, SparkSession]())
  def denseSession(s: SparkSession): SparkSession =
    denseSessions.computeIfAbsent(s, p => {
      val s2 = p.newSession()
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      s2
    })

  /** Per-JVM scratch dir, recursively deleted by a shutdown hook —
    * `mode("overwrite")` reuses it across bench reps instead of leaking
    * one export copy of the slice per invocation.
    */
  private def scratchDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      try Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () }
    }))
    p.toString
  }
  lazy val jsonlScratch: String = scratchDir("graft_jsonl")
  lazy val csvScratch: String = scratchDir("graft_csv")

  /** Shared recall-verdict scaffolding for the seeded-ANN queries:
    * per-query overlap-with-exact counts (the one definition of the
    * gating semantics — `ann_ivfpq_residual`, `ann_pq_kmeans`, and
    * `tools/ResidProbe` at 7c4064a all count commonality the same way).
    */
  def annOverlap(exact: DataFrame, ann: DataFrame): DataFrame =
    ann.select(col("qid"), col("label")).join(exact, Seq("qid", "label"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_common"))

  /** Shared kNN plan: broadcast queries × vectors → codegen'd distance →
    * map-side bounded top-k (ObjectHashAggregate) → explode ranks.
    */
  def knn(s: SparkSession, dir: String, nq: Int, k: Int, metric: String): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val vectors = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("vec_id") < nq)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Similarity.bruteForceTopK(vectors, queries, k, metric)
      .select(col("qid"), col("rank"), col("label"),
        e4Witness(col("score")).as("dist_e4"))
      .orderBy("qid", "rank")
  }

  def knnL2(s: SparkSession, dir: String, nq: Int, k: Int): DataFrame =
    knn(s, dir, nq, k, "l2")

  /** The corpus-filter verdict per doc (first failing stage of language →
    * length → lexical quality → span-dedup), shared by `pipeline_filter`
    * and the end-to-end `pipeline_e2e` composition.
    */
  def filterVerdicts(d: DataFrame): DataFrame = {
    // r18 (opt): langid + lexical quality are pure PER-ROW functions of
    // text, so they ride ONE projection of one scan — the old shape
    // computed them as separate frames and shuffle-joined them back on
    // doc_id (4 scans + 3 joins for what is 1 scan + 1 join; doc_id is
    // unique, so the identity joins changed nothing but cost). Only the
    // span profile is a real aggregation and keeps its join.
    val base = d
      .select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("pred_lang"),
        Dedup.tokens(col("text")).as("w"))
      .select(col("doc_id"), col("pred_lang"),
        size(col("w")).cast(LongType).as("n_tokens"),
        (size(array_distinct(col("w"))).cast(DoubleType) /
          size(col("w")).cast(DoubleType)).as("ttr"))
    val spans = Dedup.duplicatedSpans(d, n = 8)
      .select(col("doc_id"), col("dup_frac_e6"))
    base.join(spans, "doc_id")
      .select(col("doc_id"),
        when(col("pred_lang") === "und", "lang")
          .when(col("n_tokens") < 16 || col("n_tokens") > 94, "length")
          .when(col("ttr") < 0.31, "quality")
          .when(col("dup_frac_e6") > 500000L, "span_dup")
          .otherwise("kept").as("verdict"))
  }


  /** One DuckDB oracle shared by the three equivalent kNN formulations
    * (direct expression, norm-decomposed, SQL-surface).
    */
  val oracleKnnL2: String =
    """WITH q AS (
      |  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 8),
      |pairs AS (
      |  SELECT q.qid, e.vec_id AS label, q.qv, e.embedding AS v
      |  FROM q CROSS JOIN embeddings e),
      |dists AS (
      |  SELECT qid, label, SUM((CAST(qe AS DOUBLE) - CAST(ve AS DOUBLE)) * (CAST(qe AS DOUBLE) - CAST(ve AS DOUBLE))) AS score
      |  FROM (SELECT qid, label, UNNEST(qv) AS qe, UNNEST(v) AS ve FROM pairs)
      |  GROUP BY qid, label),
      |ranked AS (
      |  SELECT qid, label, score,
      |    row_number() OVER (PARTITION BY qid ORDER BY score, label) AS rank
      |  FROM dists)
      |SELECT qid, rank, label, CAST(FLOOR(score * 10000.0 + 0.5) AS BIGINT) AS dist_e4
      |FROM ranked WHERE rank <= 10
      |ORDER BY qid, rank""".stripMargin

  /** BM25 posting-statistic CTEs shared by `text_bm25` and `hybrid_rrf`:
    * Okapi BM25, k1=1.2, b=0.75, +1-smoothed idf; queries are the
    * distinct token sets of doc_id < 4 with the query doc self-excluded.
    * Constants are written as the same literal arithmetic the Spark side
    * evaluates (`1.2 + 1.0`, `1.0 - 0.75`) so both engines fold them to
    * identical doubles.
    */
  val oracleBm25Ctes: String =
    """toksb AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |lensb AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len FROM toksb),
      |tfb AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      |        FROM (SELECT doc_id, UNNEST(w) AS tok FROM toksb) GROUP BY 1, 2),
      |dfb AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tfb GROUP BY 1
      |        HAVING count(*) <= 100000),
      |statsb AS (SELECT CAST((SELECT count(*) FROM documents) AS DOUBLE) AS n_docs,
      |           (SELECT avg(len) FROM lensb) AS avg_len),
      |qb AS (SELECT doc_id AS qid, UNNEST(list_distinct(string_split(text,' '))) AS tok
      |       FROM documents WHERE doc_id < 4),
      |contribb AS (
      |  SELECT qb.qid, tfb.doc_id AS label,
      |    ln(1.0 + (s.n_docs - dfb.df + 0.5)/(dfb.df + 0.5)) * (tfb.tf * (1.2 + 1.0)) /
      |      (tfb.tf + 1.2*((1.0 - 0.75) + 0.75*lensb.len/s.avg_len)) AS c
      |  FROM qb JOIN dfb ON qb.tok = dfb.tok JOIN tfb ON qb.tok = tfb.tok
      |  JOIN lensb ON tfb.doc_id = lensb.doc_id, statsb s
      |  WHERE tfb.doc_id <> qb.qid),
      |scb AS (SELECT qid, label,
      |        FLOOR(SUM(c) * 1000000.0 + 0.5) AS score FROM contribb GROUP BY 1, 2),
      |bm25 AS (SELECT qid, label, score,
      |         row_number() OVER (PARTITION BY qid ORDER BY score DESC, label) AS rank
      |         FROM scb)""".stripMargin


  /** Shared DuckDB CTE text: shingles → MinHash signatures (`mh` with
    * h0..h{n−1}) → band rows (`bands`) for a (numHashes, rowsPerBand)
    * config — the common prefix of every minhash oracle, kept in ONE
    * place so a future edit cannot desynchronize the copies (the same
    * role simhash63Ctes plays for the simhash family).
    */
  def minhashBandCtes(numHashes: Int, rowsPerBand: Int): String = {
    val mins = (0 until numHashes).map(Dedup.minhashElemSql).mkString(", ")
    val nBands = numHashes / rowsPerBand
    val bands = (0 until nBands).map { b =>
      val key = (0 until rowsPerBand).map(i => s"h${b * rowsPerBand + i}").mkString("||")
      s"SELECT doc_id, $b AS band, $key AS key FROM mh"
    }.mkString(" UNION ALL ")
    s"""t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
       |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
       |  i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM t),
       |ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
       |mh AS (SELECT doc_id, $mins FROM ex GROUP BY doc_id),
       |bands AS ($bands)""".stripMargin
  }

  /** Shared DuckDB CTE text building the 63-bit SimHash table `sim`
    * (doc_id, simhash) — used by simhash_pairs and the cluster family.
    */
  lazy val simhash63Ctes: String = {
    val sums = (0 until 63)
      .map(b => s"SUM(${Dedup.simhashBitSql(b, "//")}) AS s$b").mkString(", ")
    val bits = (0 until 63)
      .map(b => s"CASE WHEN 2*s$b > n THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""toks AS (
       |  SELECT doc_id, UNNEST(list_distinct(string_split(text,' '))) AS tok
       |  FROM documents),
       |s AS (SELECT doc_id, COUNT(*) AS n, $sums FROM toks GROUP BY doc_id),
       |sim AS MATERIALIZED (SELECT doc_id, CAST($bits AS BIGINT) AS simhash FROM s)""".stripMargin
  }

  /** `sim` + banded candidate pairs `p`: the brute-force all-pairs
    * `sim a JOIN sim b ... bit_count(...) <= 2` is O(n²) and was the sf1
    * oracle-timeout cause; the 3×21-bit band join is the engine's own
    * pigeonhole (hamming ≤ 2 over 3 disjoint bands ⇒ at least one band
    * identical, so recall is EXACT) and keeps candidates linear in the
    * duplicate mass. DISTINCT dedups pairs matching in several bands.
    * Produces the identical pair set (verified value-identical at
    * sf0.01/sf0.1 against the all-pairs text).
    */
  lazy val simhashBandedPairCtes: String =
    s"""$simhash63Ctes,
       |bands AS (
       |  SELECT doc_id, simhash, 0 AS band, simhash & 2097151 AS bkey FROM sim
       |  UNION ALL SELECT doc_id, simhash, 1, (simhash >> 21) & 2097151 FROM sim
       |  UNION ALL SELECT doc_id, simhash, 2, simhash >> 42 FROM sim),
       |p AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey
       |    AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 2)""".stripMargin

  /** Banded pairs + connected-component labels `lab (doc_id, cluster_id)`
    * via UNROLLED min-label propagation with pointer jumping — replaces
    * the recursive-CTE transitive closure whose working set is
    * Σ|component|² (the other sf1 timeout cause: the adversarial corpus
    * has components with 10⁵ reachability pairs).
    *
    * Each round r does (1) neighbor-min over `edges` (self-loops
    * included) and (2) one pointer jump `lab ← min(lab, lab(lab))`, so
    * label influence distance at least DOUBLES per round: 20 rounds cover
    * any component diameter ≤ 2²⁰. Every per-round CTE is MATERIALIZED —
    * the jump references its round twice, and inlining would blow up
    * 2^rounds. Correctness does not rest on the round count: any fixpoint
    * of (neighbor-min, jump) is exactly the component-min labeling
    * (induction along a path from the min), and `conv` verifies the
    * fixpoint on the final table, calling error() — a loud oracle
    * failure, not a wrong hash — if 20 rounds were ever insufficient.
    */
  lazy val simhashClusterLabCtes: String = {
    val rounds = 20
    val sb = new StringBuilder
    sb.append(simhashBandedPairCtes).append(",\n")
    sb.append(
      """edges AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM p
        |  UNION ALL SELECT doc_b, doc_a FROM p
        |  UNION ALL SELECT doc_id, doc_id FROM documents),
        |l0 AS MATERIALIZED (SELECT e.src AS doc, MIN(e.dst) AS lab FROM edges e GROUP BY e.src)""".stripMargin)
    var prev = "l0"
    for (r <- 1 to rounds) {
      sb.append(
        s""",
           |n$r AS MATERIALIZED (SELECT e.src AS doc, MIN(l.lab) AS lab
           |  FROM edges e JOIN $prev l ON l.doc = e.dst GROUP BY e.src),
           |j$r AS MATERIALIZED (SELECT a.doc, LEAST(a.lab, b.lab) AS lab
           |  FROM n$r a JOIN n$r b ON a.lab = b.doc)""".stripMargin)
      prev = s"j$r"
    }
    sb.append(
      s""",
         |final AS MATERIALIZED (SELECT doc, lab FROM $prev),
         |conv AS (SELECT CASE WHEN EXISTS (
         |    SELECT 1 FROM edges e JOIN final a ON a.doc = e.src
         |    JOIN final b ON b.doc = e.dst WHERE b.lab < a.lab)
         |  THEN error('label propagation not converged') ELSE 1 END AS ok),
         |lab AS (SELECT doc AS doc_id, lab AS cluster_id FROM final
         |  WHERE (SELECT ok FROM conv) = 1)""".stripMargin)
    sb.toString
  }
}
