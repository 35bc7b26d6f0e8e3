package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.ops.{Curation, Profile, Reconcile, TextAnalysis}

import QueryHelpers._

/** Data quality and curation: profiles, checks, table diffs, drift
  * tests, calibration, anonymity and sampling.
  */
private[graft] object QualityQueries {

  val specs: Seq[QuerySpec] = Seq(

    // calibration / reliability diagram + ECE decomposition (Naeini 2015
    // / Guo 2017's metric over a deterministic scorer): buckets the
    // type-token-ratio "score" into deciles and compares mean score vs
    // the realized rate of the event it implicitly predicts (short
    // docs — TTR is length-confounded, which is exactly what a
    // reliability plot exposes in a quality-filter pipeline before
    // anyone trusts the score as a probability). One groupBy(bucket)
    // pass; per-element 6-dp decimal quantization makes the bucket
    // sums reduction-order-exact, and every post-aggregate double op
    // is the identical IEEE tree on both engines.
    QuerySpec("q_calibration", { (s, dir) =>
      // r17 (verdict task #2): the per-element ROUND(ttr, 6) decimal was
      // the last engine-defined quantizer in this dataflow — each score
      // now quantizes through the floor e6 witness, the per-bucket sum
      // runs in exact LONG (≤ n·1e6, int64-safe past 1e11 docs), and the
      // bucket means are sign-safe integer floordivs — no double is
      // summed, divided, or emitted anywhere in the query.
      val q = TextAnalysis.quality(Tables(s, dir, "documents"))
      val agg = q.select(
          least(floor(col("type_token_ratio") * 10.0), lit(9L)).as("bucket"),
          e6Witness(col("type_token_ratio")).as("s6"),
          when(col("n_tokens") <= 48, 1L).otherwise(0L).as("y"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("s6")).as("ss"), sum(col("y")).as("sy"))
      val tot = agg.agg(sum(col("n")).as("n_all"))
      agg.crossJoin(broadcast(tot))
        .select(col("bucket"), col("n"), col("n_all"),
          expr("(2 * ss + n) div (2 * n)").as("avg_score_e6"),
          expr("(2 * sy * 1000000 + n) div (2 * n)").as("pos_rate_e6"))
        .withColumn("abs_gap_e6", abs(col("avg_score_e6") - col("pos_rate_e6")))
        // ece_e6 = round-half-up(n·gap/n_all): pure integer floordiv —
        // (2·n·gap + n_all) div (2·n_all); operands stay far under 2^63
        .withColumn("ece_contrib_e6",
          expr("(2 * n * abs_gap_e6 + n_all) div (2 * n_all)"))
        .select(col("bucket"), col("n"), col("avg_score_e6"),
          col("pos_rate_e6"), col("abs_gap_e6"), col("ece_contrib_e6"))
        .orderBy("bucket")
    },
    // decile buckets of the same ttr; 6-dp element quantization into
    // DECIMAL sums, then the identical IEEE post-aggregate tree
      """WITH q AS (SELECT
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
        |    CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) /
        |      CAST(len(string_split(text,' ')) AS DOUBLE) AS ttr
        |  FROM documents),
        |g AS (SELECT LEAST(CAST(FLOOR(ttr * 10.0) AS BIGINT), 9) AS bucket,
        |    COUNT(*) AS n,
        |    SUM(CAST(FLOOR(ttr * 1000000.0 + 0.5) AS BIGINT)) AS ss,
        |    SUM(CASE WHEN n_tokens <= 48 THEN 1 ELSE 0 END) AS sy
        |  FROM q GROUP BY 1),
        |t AS (SELECT SUM(n) AS n_all FROM g),
        |w AS (SELECT bucket, n,
        |  CAST((2 * ss + n) // (2 * n) AS BIGINT) AS avg_score_e6,
        |  CAST((2 * sy * 1000000 + n) // (2 * n) AS BIGINT) AS pos_rate_e6,
        |  n_all FROM g, t)
        |SELECT bucket, n, avg_score_e6, pos_rate_e6,
        |  ABS(avg_score_e6 - pos_rate_e6) AS abs_gap_e6,
        |  CAST((2 * n * ABS(avg_score_e6 - pos_rate_e6) + n_all)
        |    // (2 * n_all) AS BIGINT) AS ece_contrib_e6
        |FROM w
        |ORDER BY bucket""".stripMargin),

    // Gate type-canary (r16 verdict task #5): one 3-row, scale-invariant
    // query emitting every output type the 263-query inventory relies on
    // (BIGINT, STRING, DATE, BOOL, typed NULL) with pinned values — the
    // region table is identical at every SF. If a driver-hasher change
    // ever drifts on one type's canonicalization (the decimal class that
    // burned kendall for two rounds), this row localizes it to a single
    // named query instead of a red smear. First row to check when a red
    // round starts (COVERAGE.md §gate-canary).
    QuerySpec("q_gate_canary", { (s, dir) =>
      Tables(s, dir, "region")
        .filter(col("r_regionkey") < 3)
        .select(
          col("r_regionkey").cast(LongType).as("k_bigint"),
          col("r_name").as("v_string"),
          date_add(lit("1996-01-01").cast(DateType),
            col("r_regionkey").cast(IntegerType)).as("v_date"),
          (col("r_regionkey") % 2 === 0).as("v_bool"),
          when(col("r_regionkey") === 1, col("r_name"))
            .otherwise(lit(null).cast(StringType)).as("v_nullable"))
    },
    // gate type-canary: pinned 3 rows over the scale-invariant region table
      """SELECT CAST(r_regionkey AS BIGINT) AS k_bigint,
        |  r_name AS v_string,
        |  DATE '1996-01-01' + CAST(r_regionkey AS INT) AS v_date,
        |  (r_regionkey % 2 = 0) AS v_bool,
        |  CASE WHEN r_regionkey = 1 THEN r_name ELSE NULL END AS v_nullable
        |FROM region WHERE r_regionkey < 3""".stripMargin),

    // k-anonymity audit over quasi-identifiers (Sweeney 2002): every
    // (lang, source, length-bucket) equivalence class with its size and
    // a violation verdict at k = 5 — the privacy sweep run beside PII
    // redaction before a corpus ships. A released row in a class of
    // size < k is re-identifiable by its quasi-identifiers alone, even
    // with all direct identifiers scrubbed. Shape: ONE combiner
    // groupBy; output bounded by the quasi-identifier domain (langs ×
    // sources × buckets), not the corpus.
    QuerySpec("q_k_anonymity", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("lang"), col("source"),
          expr("n_chars div 100").as("len_bucket"))
        .groupBy(col("lang"), col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("class_size"))
        .withColumn("violates_k5", col("class_size") < 5)
        .orderBy("lang", "source", "len_bucket")
    },
      """SELECT lang, source, n_chars // 100 AS len_bucket,
        |  COUNT(*) AS class_size,
        |  COUNT(*) < 5 AS violates_k5
        |FROM documents
        |GROUP BY 1, 2, 3
        |ORDER BY lang, source, len_bucket""".stripMargin),

    // stratified sampling: a fixed quota per language, rows chosen by a
    // deterministic seeded-hash order — the step that assembles a training-data "mix"
    QuerySpec("q_sample_stratified", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = md5(concat(lit("strat:"), col("doc_id").cast(StringType)))
      val w = Window.partitionBy(col("lang")).orderBy(h, col("doc_id"))
      Tables(s, dir, "documents")
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter(col("rn") <= 20)
        .select(col("lang"), col("rn"), col("doc_id"))
        .orderBy("lang", "rn")
    },
      """SELECT lang, rn, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('strat:' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20
        |ORDER BY lang, rn""".stripMargin),

    // Efraimidis–Spirakis weighted sampling without replacement: 25 docs
    // drawn ∝ length(text), keys = ln(u)/w from deterministic md5
    // uniforms — reproducible, engine-portable, and selected by the
    // k-bounded mergeable topK aggregate (no global sort).
    QuerySpec("q_weighted_sample", { (s, dir) =>
      Curation.weightedSample(Tables(s, dir, "documents"), k = 25,
        weight = length(col("text")).cast(DoubleType))
        .orderBy("rank")
    },
      """WITH keyed AS (
        |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS weight,
        |    ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT + 0.5)
        |       / 281474976710656.0) / CAST(length(text) AS DOUBLE) AS es_key
        |  FROM documents WHERE length(text) > 0)
        |SELECT rank, doc_id, weight FROM (
        |  SELECT CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS BIGINT) AS rank,
        |         doc_id, weight
        |  FROM keyed)
        |WHERE rank <= 25
        |ORDER BY rank""".stripMargin),

    // Snapshot reconciliation: exact diff of two table versions (CDC /
    // backfill audit) — full outer join on the pk, null-safe column
    // compares, diffs only. The "after" version is derived
    // deterministically (drop keys %997, bump price on keys %500, add
    // shifted copies of keys %1000==1) so both engines diff the same
    // snapshots.
    QuerySpec("q_table_diff", { (s, dir) =>
      val orders = Tables(s, dir, "orders")
      val after = orders.filter(col("o_orderkey") % 997 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 500 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(orders.filter(col("o_orderkey") % 1000 === 1)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      Reconcile.tableDiff(orders, after, Seq("o_orderkey"),
          Seq("o_custkey", "o_orderstatus", "o_totalprice"))
        .orderBy("o_orderkey")
    },
      """WITH b AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |           FROM orders),
        |a AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 500 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 997 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus, o_totalprice
        |  FROM orders WHERE o_orderkey % 1000 = 1),
        |j AS (SELECT COALESCE(b.o_orderkey, a.o_orderkey) AS o_orderkey,
        |  CASE WHEN b.o_orderkey IS NULL THEN 'added'
        |       WHEN a.o_orderkey IS NULL THEN 'removed'
        |       WHEN (b.o_custkey IS DISTINCT FROM a.o_custkey)
        |         OR (b.o_orderstatus IS DISTINCT FROM a.o_orderstatus)
        |         OR (b.o_totalprice IS DISTINCT FROM a.o_totalprice)
        |         THEN 'changed' END AS status,
        |  CASE WHEN b.o_orderkey IS NOT NULL AND a.o_orderkey IS NOT NULL
        |         AND ((b.o_custkey IS DISTINCT FROM a.o_custkey)
        |           OR (b.o_orderstatus IS DISTINCT FROM a.o_orderstatus)
        |           OR (b.o_totalprice IS DISTINCT FROM a.o_totalprice))
        |       THEN concat_ws(',',
        |         CASE WHEN b.o_custkey IS DISTINCT FROM a.o_custkey
        |              THEN 'o_custkey' END,
        |         CASE WHEN b.o_orderstatus IS DISTINCT FROM a.o_orderstatus
        |              THEN 'o_orderstatus' END,
        |         CASE WHEN b.o_totalprice IS DISTINCT FROM a.o_totalprice
        |              THEN 'o_totalprice' END)
        |       ELSE '' END AS changed_cols
        |  FROM b FULL OUTER JOIN a ON b.o_orderkey = a.o_orderkey)
        |SELECT o_orderkey, status, changed_cols FROM j
        |WHERE status IS NOT NULL ORDER BY o_orderkey""".stripMargin),

    // ---- data-quality gate (the Deequ / Great Expectations role) ----

    // One-pass column profile of orders: non-null count, exact distinct
    // count, min/max (numeric as DOUBLE, strings as-is) per column —
    // ALL statistics from one scan + one single-row exchange.
    QuerySpec("q_profile", { (s, dir) =>
      Profile.profile(Tables(s, dir, "orders"),
          numericCols = Seq("o_orderkey", "o_custkey", "o_totalprice"),
          stringCols = Seq("o_orderstatus", "o_orderpriority"))
        .orderBy("col_name")
    },
      """SELECT * FROM (
        |  SELECT 'o_orderkey' AS col_name, COUNT(o_orderkey) AS n_nonnull,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS DOUBLE) AS min_num,
        |    CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
        |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(o_custkey), COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
        |    CAST(MIN(o_totalprice) AS DOUBLE), CAST(MAX(o_totalprice) AS DOUBLE),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |    CAST(MIN(o_orderstatus) AS VARCHAR), CAST(MAX(o_orderstatus) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |    CAST(MIN(o_orderpriority) AS VARCHAR), CAST(MAX(o_orderpriority) AS VARCHAR)
        |  FROM orders)
        |ORDER BY col_name""".stripMargin),

    // Constraint suite: PK uniqueness, completeness, value range, value
    // domain (one aggregation pass over orders) + referential integrity
    // lineitem→orders (one anti-join). Verdict rows carry the violation
    // COUNT, not just a boolean, so a regression's size is visible.
    QuerySpec("q_quality_checks", { (s, dir) =>
      val orders = Tables(s, dir, "orders")
      Profile.runChecks(orders, Seq(
          Profile.Unique("orders_pk_unique", Seq("o_orderkey")),
          Profile.Complete("orders_custkey_complete", "o_custkey"),
          Profile.InRange("orders_totalprice_range", "o_totalprice",
            0.0, 1000000.0),
          Profile.InSet("orders_status_domain", "o_orderstatus",
            Seq("F", "O", "P"))))
        .unionAll(Profile.riCheck("lineitem_orders_ri",
          Tables(s, dir, "lineitem"), "l_orderkey", orders, "o_orderkey"))
        .orderBy("check_name")
    },
      """SELECT * FROM (
        |  SELECT 'orders_pk_unique' AS check_name,
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS violations,
        |    (COUNT(*) - COUNT(DISTINCT o_orderkey)) = 0 AS passed FROM orders
        |  UNION ALL
        |  SELECT 'orders_custkey_complete',
        |    CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 FROM orders
        |  UNION ALL
        |  SELECT 'orders_totalprice_range',
        |    CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0.0
        |      OR o_totalprice > 1000000.0 THEN 1 ELSE 0 END) AS BIGINT),
        |    SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0.0
        |      OR o_totalprice > 1000000.0 THEN 1 ELSE 0 END) = 0 FROM orders
        |  UNION ALL
        |  SELECT 'orders_status_domain',
        |    CAST(SUM(CASE WHEN o_orderstatus IS NULL
        |      OR o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) AS BIGINT),
        |    SUM(CASE WHEN o_orderstatus IS NULL
        |      OR o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END) = 0
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_orders_ri', CAST(COUNT(*) AS BIGINT), COUNT(*) = 0
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o
        |    ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderkey IS NULL)
        |ORDER BY check_name""".stripMargin),

    // Two-sample KS drift between order-value distributions of final
    // vs open orders — the distribution-drift alarm between two ingest
    // slices. Sup over exact integer cross products; ONE double
    // division at the end.
    QuerySpec("q_ks_drift", { (s, dir) =>
      Profile.ksDrift(Tables(s, dir, "orders"), "o_totalprice",
        "o_orderstatus", "F", "O")
    },
      """WITH s AS (SELECT o_totalprice AS v,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS ca,
        |    CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS cb
        |  FROM orders WHERE o_orderstatus IN ('F', 'O')),
        |n AS (SELECT SUM(ca) AS na, SUM(cb) AS nb FROM s),
        |g AS (SELECT v, SUM(ca) AS fa, SUM(cb) AS fb FROM s GROUP BY v),
        |c AS (SELECT v, SUM(fa) OVER (ORDER BY v) AS cuma,
        |        SUM(fb) OVER (ORDER BY v) AS cumb FROM g)
        |SELECT CAST(n.na AS BIGINT) AS n_a, CAST(n.nb AS BIGINT) AS n_b,
        |  CAST(MAX(ABS(c.cuma * n.nb - c.cumb * n.na)) AS DOUBLE) /
        |    CAST(n.na * n.nb AS DOUBLE) AS d_stat
        |FROM c, n GROUP BY n.na, n.nb""".stripMargin),

    // Population Stability Index per event type between the first and
    // second half of the time range — the bucket-decomposable drift
    // gauge complementing q_ks_drift's exact sup-gap; Laplace-smoothed,
    // decimal-exact per-bucket terms
    QuerySpec("q_psi_drift", { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      Profile.psiDrift(ev, "value", "ts_us", "event_type")
        .select(col("g").as("event_type"), col("n_a"), col("n_b"), col("psi_e6"))
        .orderBy("event_type")
    },
      """WITH e AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
        |           epoch_us(ts) AS tu FROM events),
        |piv AS (SELECT (MIN(tu) + MAX(tu)) // 2 AS pivot FROM e),
        |rng AS (SELECT g, MIN(v) AS vmin, MAX(v) AS vmax FROM e GROUP BY 1),
        |b AS (SELECT e.g,
        |  CASE WHEN e.tu <= piv.pivot THEN 1 ELSE 0 END AS ca,
        |  CASE WHEN e.tu > piv.pivot THEN 1 ELSE 0 END AS cb,
        |  CASE WHEN rng.vmax = rng.vmin THEN 0
        |       ELSE LEAST(CAST(FLOOR((e.v - rng.vmin) /
        |         ((rng.vmax - rng.vmin) / 10)) AS BIGINT), 9) END AS bk
        |  FROM e JOIN rng ON e.g = rng.g, piv),
        |grid AS (SELECT g, UNNEST(range(0, 10)) AS bk FROM rng),
        |cnt0 AS (SELECT g, bk, SUM(ca) AS fa, SUM(cb) AS fb FROM b GROUP BY 1, 2),
        |cnt AS (SELECT grid.g, grid.bk, COALESCE(cnt0.fa, 0) AS fa,
        |        COALESCE(cnt0.fb, 0) AS fb
        |        FROM grid LEFT JOIN cnt0 ON grid.g = cnt0.g AND grid.bk = cnt0.bk),
        |tot AS (SELECT g, SUM(fa) AS na, SUM(fb) AS nb FROM cnt GROUP BY 1),
        |terms AS (SELECT cnt.g, tot.na, tot.nb,
        |  CAST(FLOOR((CAST(cnt.fa + 1 AS DOUBLE) / (tot.na + 10)
        |              - CAST(cnt.fb + 1 AS DOUBLE) / (tot.nb + 10))
        |    * ln((CAST(cnt.fa + 1 AS DOUBLE) / (tot.na + 10))
        |         / (CAST(cnt.fb + 1 AS DOUBLE) / (tot.nb + 10)))
        |    * 1000000000000.0 + 0.5) AS BIGINT) AS term_e12
        |  FROM cnt JOIN tot ON cnt.g = tot.g)
        |SELECT g AS event_type, CAST(MIN(na) AS BIGINT) AS n_a,
        |  CAST(MIN(nb) AS BIGINT) AS n_b,
        |  CAST((2 * SUM(term_e12) + 1000000) // 2000000 AS BIGINT) AS psi_e6
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin),

    // Jensen–Shannon drift (Lin 1991): the bounded (≤ ln 2), symmetric
    // companion to PSI over the same time-split bucket grid — the score
    // whose thresholds transfer across metrics because it cannot blow
    // up on near-empty cells. Same dense-grid/Laplace/decimal-term
    // machinery (Profile.timeSplitGrid is shared with psiDrift).
    QuerySpec("q_js_drift", { (s, dir) =>
      val ev = Tables.events(s, dir).withColumn("ts_us", expr("unix_micros(ts)"))
      Profile.jsDrift(ev, "value", "ts_us", "event_type")
        .select(col("g").as("event_type"), col("n_a"), col("n_b"), col("js_e6"))
        .orderBy("event_type")
    },
    // same grid CTEs as q_psi_drift; JS term with m = (pa+pb)/2
      """WITH e AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v,
        |           epoch_us(ts) AS tu FROM events),
        |piv AS (SELECT (MIN(tu) + MAX(tu)) // 2 AS pivot FROM e),
        |rng AS (SELECT g, MIN(v) AS vmin, MAX(v) AS vmax FROM e GROUP BY 1),
        |b AS (SELECT e.g,
        |  CASE WHEN e.tu <= piv.pivot THEN 1 ELSE 0 END AS ca,
        |  CASE WHEN e.tu > piv.pivot THEN 1 ELSE 0 END AS cb,
        |  CASE WHEN rng.vmax = rng.vmin THEN 0
        |       ELSE LEAST(CAST(FLOOR((e.v - rng.vmin) /
        |         ((rng.vmax - rng.vmin) / 10)) AS BIGINT), 9) END AS bk
        |  FROM e JOIN rng ON e.g = rng.g, piv),
        |grid AS (SELECT g, UNNEST(range(0, 10)) AS bk FROM rng),
        |cnt0 AS (SELECT g, bk, SUM(ca) AS fa, SUM(cb) AS fb FROM b GROUP BY 1, 2),
        |cnt AS (SELECT grid.g, grid.bk, COALESCE(cnt0.fa, 0) AS fa,
        |        COALESCE(cnt0.fb, 0) AS fb
        |        FROM grid LEFT JOIN cnt0 ON grid.g = cnt0.g AND grid.bk = cnt0.bk),
        |tot AS (SELECT g, SUM(fa) AS na, SUM(fb) AS nb FROM cnt GROUP BY 1),
        |terms AS (SELECT cnt.g, tot.na, tot.nb,
        |  CAST(FLOOR((
        |      (CAST(cnt.fa + 1 AS DOUBLE) / (tot.na + 10))
        |        * ln((CAST(cnt.fa + 1 AS DOUBLE) / (tot.na + 10))
        |             / ((CAST(cnt.fa + 1 AS DOUBLE) / (tot.na + 10)
        |                 + CAST(cnt.fb + 1 AS DOUBLE) / (tot.nb + 10)) / 2.0))
        |    + (CAST(cnt.fb + 1 AS DOUBLE) / (tot.nb + 10))
        |        * ln((CAST(cnt.fb + 1 AS DOUBLE) / (tot.nb + 10))
        |             / ((CAST(cnt.fa + 1 AS DOUBLE) / (tot.na + 10)
        |                 + CAST(cnt.fb + 1 AS DOUBLE) / (tot.nb + 10)) / 2.0))
        |    ) * 0.5 * 1000000000000.0 + 0.5) AS BIGINT) AS term_e12
        |  FROM cnt JOIN tot ON cnt.g = tot.g)
        |SELECT g AS event_type, CAST(MIN(na) AS BIGINT) AS n_a,
        |  CAST(MIN(nb) AS BIGINT) AS n_b,
        |  CAST((2 * SUM(term_e12) + 1000000) // 2000000 AS BIGINT) AS js_e6
        |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin),

    // behavioral diversity per user: Shannon entropy of the event-type
    // distribution (bot heuristic: near-zero entropy = single-action
    // loops; log(n_types) = uniform randomness). Two keyed
    // aggregations; the per-user entropy sum runs over ≤ |event types|
    // terms
    QuerySpec("q_session_entropy", { (s, dir) =>
      val ev = Tables.events(s, dir)
      val c = ev.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      val totals = c.groupBy(col("user_id"))
        .agg(sum(col("c")).as("n"), count(lit(1)).as("n_types"))
      val p = col("c").cast(DoubleType) / col("n").cast(DoubleType)
      c.join(totals, "user_id")
        .groupBy(col("user_id"))
        .agg(min(col("n")).as("n_events"), min(col("n_types")).as("n_types"),
          e6Witness(sum(-p * log(p)))
            .as("entropy_e6"))
        .orderBy("user_id")
    },
    // the trailing + 0.0 normalizes IEEE signed zero: a single-type
    // user's entropy is -(1)·ln(1) = -0.0 (the q_dsir_weights lesson)
      """WITH c AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
        |    FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
        |    CAST(COUNT(*) AS BIGINT) AS n_types FROM c GROUP BY 1)
        |SELECT c.user_id, MIN(t.n) AS n_events, MIN(t.n_types) AS n_types,
        |  CAST(FLOOR(SUM(-(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))
        |    * ln(CAST(c.c AS DOUBLE) / CAST(t.n AS DOUBLE))) * 1000000.0 + 0.5)
        |    AS BIGINT) AS entropy_e6
        |FROM c JOIN t USING (user_id) GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
