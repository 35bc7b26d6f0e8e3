package graft
package queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.ops.{Curation, Dedup, Similarity, TextAnalysis}

import QueryHelpers._

/** Deduplication: exact, MinHash/LSH, SimHash, n-gram and embedding
  * near-duplicates, decontamination, span profiles, clusters and
  * fuzzy entity resolution.
  */
private[graft] object DedupQueries {

  val specs: Seq[QuerySpec] = Seq(

    // ---- dedup: exact (hash-groupBy) ----

    QuerySpec("dedup_exact", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val d = Tables(s, dir, "documents")
      val w = Window.partitionBy(col("h"))
      d.select(col("doc_id"), md5(col("text")).as("h"))
        .withColumn("group_size", count(lit(1)).over(w))
        .withColumn("keep", col("doc_id") === min(col("doc_id")).over(w))
        .select(col("doc_id"), col("h"), col("group_size"), col("keep"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, md5(text) AS h,
        |  COUNT(*) OVER (PARTITION BY md5(text)) AS group_size,
        |  doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // ---- dedup: MinHash + LSH with exact-Jaccard verification ----

    QuerySpec("dedup_minhash", { (s, dir) =>
      Dedup.minhashDedup(Tables(s, dir, "documents"))
        .select(col("doc_a"), col("doc_b"), col("shared_bands"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    }, {
      s"""WITH ${minhashBandCtes(8, 2)},
         |cand AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands
         |  FROM bands a JOIN bands b
         |    ON a.key = b.key AND a.band = b.band AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |ns AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
         |  FROM cand c
         |  JOIN ex ea ON ea.doc_id = c.doc_a
         |  JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
         |  GROUP BY 1, 2)
         |SELECT c.doc_a, c.doc_b, c.shared_bands,
         |  CAST(i.n_inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.n_inter AS DOUBLE) AS jaccard
         |FROM cand c
         |JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |JOIN ns na ON na.doc_id = c.doc_a
         |JOIN ns nb ON nb.doc_id = c.doc_b
         |ORDER BY c.doc_a, c.doc_b""".stripMargin
    }),

    // the band-config chooser as a first-class query: the (τ=0.6,
    // recall≥0.98) requirement resolves — deterministically, on both the
    // Spark and oracle sides — to (8 hashes, 1 row/band) via the banding
    // S-curve, and the candidate join runs under THAT config instead of
    // a hand-picked one. The chosen config rides in the output so the
    // oracle pins the chooser's decision, not just the pair set.
    QuerySpec("dedup_minhash_auto", { (s, dir) =>
      val (h, r) = Dedup.chooseBandConfig(0.6, 0.98)
      Dedup.minhashCandidates(Tables(s, dir, "documents"), h, r)
        .select(col("doc_a"), col("doc_b"), col("shared_bands"),
          lit(h).as("num_hashes"), lit(r).as("rows_per_band"))
        .orderBy("doc_a", "doc_b")
    }, {
      val (h, r) = Dedup.chooseBandConfig(0.6, 0.98)
      s"""WITH ${minhashBandCtes(h, r)}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_bands,
         |  $h AS num_hashes, $r AS rows_per_band
         |FROM bands a JOIN bands b
         |  ON a.key = b.key AND a.band = b.band AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |ORDER BY doc_a, doc_b""".stripMargin
    }),

    // incremental dedup: docs < 400 are the already-ingested corpus (its
    // MinhashStore stands in for the persisted band index + shingle
    // features), docs >= 400 are the arriving batch; each new doc is
    // flagged with its best stored near-dup (Jaccard >= 0.5) WITHOUT
    // re-scanning old text — bands prune, verification fetches only
    // candidate old docs' features
    QuerySpec("dedup_incremental", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val store = Dedup.minhashStore(docs.filter(col("doc_id") < 400))
      Dedup.incrementalMinhash(docs.filter(col("doc_id") >= 400), store)
        .orderBy("doc_id")
    }, {
      s"""WITH ${minhashBandCtes(8, 2)},
         |cand AS (
         |  SELECT b.doc_id AS doc_a, a.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.key = b.key AND a.band = b.band
         |    AND a.doc_id < 400 AND b.doc_id >= 400
         |  GROUP BY 1, 2),
         |ns AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
         |  FROM cand c
         |  JOIN ex ea ON ea.doc_id = c.doc_a
         |  JOIN ex eb ON eb.doc_id = c.doc_b AND eb.s = ea.s
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT i.doc_a, i.doc_b,
         |    CAST(i.n_inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.n_inter AS DOUBLE) AS jaccard
         |  FROM inter i
         |  JOIN ns na ON na.doc_id = i.doc_a
         |  JOIN ns nb ON nb.doc_id = i.doc_b),
         |best AS (
         |  SELECT doc_a, doc_b, jaccard,
         |    row_number() OVER (PARTITION BY doc_a ORDER BY jaccard DESC, doc_b) AS rn
         |  FROM j WHERE jaccard >= 0.5)
         |SELECT doc_a AS doc_id, doc_b AS dup_of,
         |  CAST(FLOOR(jaccard * 1000000.0 + 0.5) AS BIGINT) AS jaccard_e6
         |FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }),

    // exact similarity self-join via prefix filtering (Chaudhuri 2006)
    // with the PPJoin positional filter (Xiao 2008): EVERY pair with
    // Jaccard >= 0.7 over the FULL corpus — the deterministic
    // counterpart to dedup_minhash (no probabilistic recall) and to
    // dedup_ngram_jaccard (no sample, no df-cap erosion); rare-first
    // prefixes keep boilerplate shingles out of the candidate join, and
    // tau fixes the prefix fraction at 1−tau (the production near-dup
    // threshold 0.7 scans 30% prefixes)
    QuerySpec("dedup_prefix_filter", { (s, dir) =>
      // denseSession: the per-doc key build and verify exchanges are
      // CPU-dense per byte; see the helper's doc
      val s2 = denseSession(s)
      // the pairs are few (hundreds at sf0.1): they are sorted in one
      // partition, so no range partitioner samples them first — its
      // sampling job would recompute the whole verification
      Dedup.prefixFilterPairs(Tables(s2, dir, "documents"), 0.7)
        .repartition(1).sortWithinPartitions("doc_a", "doc_b")
    },
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |  i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM t),
        |ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
        |ns AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_inter,
        |  CAST(i.n_inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.n_inter AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN ns na ON na.doc_id = i.doc_a
        |JOIN ns nb ON nb.doc_id = i.doc_b
        |WHERE CAST(i.n_inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.n_inter AS DOUBLE) >= 0.7
        |ORDER BY i.doc_a, i.doc_b""".stripMargin),

    // Sorted-neighborhood dedup (Hernández & Stolfo 1995): sort by the
    // first-24-chars blocking key, compare each doc to its 4 successors,
    // verify with exact Jaccard — O(n·w) candidates by construction,
    // the record-linkage complement to LSH (catches front-anchored dups,
    // misses pairs whose edits fall inside the key; both measured here:
    // 25 pairs at sf0.01 vs the prefix filter's 25-pair exact set)
    QuerySpec("dedup_sorted_neighborhood", { (s, dir) =>
      val s2 = denseSession(s)
      Dedup.sortedNeighborhoodPairs(Tables(s2, dir, "documents"),
          w = 5, tau = 0.7)
        .orderBy("doc_a", "doc_b")
    },
      """WITH t AS (SELECT doc_id, substr(text, 1, 24) AS k, string_split(text,' ') AS w
        |           FROM documents),
        |sh AS (SELECT doc_id, k, list_distinct(list_transform(range(1, len(w)-1),
        |  i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM t),
        |r AS (SELECT doc_id, shingles, len(shingles) AS n_sh,
        |  row_number() OVER (ORDER BY k, doc_id) AS rank FROM sh
        |  WHERE len(shingles) > 0),
        |cand AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |    len(list_intersect(a.shingles, b.shingles)) AS n_inter,
        |    a.n_sh AS na, b.n_sh AS nb
        |  FROM r a JOIN r b ON b.rank > a.rank AND b.rank < a.rank + 5)
        |SELECT LEAST(da, db) AS doc_a, GREATEST(da, db) AS doc_b,
        |  CAST(n_inter AS BIGINT) AS n_inter,
        |  CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE) AS jaccard
        |FROM cand
        |WHERE CAST(n_inter AS DOUBLE) / CAST(na + nb - n_inter AS DOUBLE) >= 0.7
        |ORDER BY doc_a, doc_b""".stripMargin),

    // ---- dedup: exact n-gram Jaccard over a bounded subset ----

    QuerySpec("dedup_ngram_jaccard", { (s, dir) =>
      // exact all-pairs variant on a deterministic 1/4 sample — the
      // unsampled corpus goes through the LSH path (dedup_minhash)
      val docs = Tables(s, dir, "documents").filter(col("doc_id") % 4 === 0)
      Dedup.ngramJaccardPairs(docs, 0.5)
        .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
        .orderBy("doc_a", "doc_b")
    },
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE doc_id % 4 = 0),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |  i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM t),
        |ex0 AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
        |df AS (SELECT s, COUNT(*) AS df FROM ex0 GROUP BY s),
        |ex AS (SELECT ex0.doc_id, ex0.s FROM ex0 JOIN df ON ex0.s = df.s WHERE df.df <= 1000),
        |ns AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_inter,
        |  CAST(i.n_inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.n_inter AS DOUBLE) AS jaccard
        |FROM inter i
        |JOIN ns na ON na.doc_id = i.doc_a
        |JOIN ns nb ON nb.doc_id = i.doc_b
        |WHERE CAST(i.n_inter AS DOUBLE) / CAST(na.n_sh + nb.n_sh - i.n_inter AS DOUBLE) >= 0.5
        |ORDER BY i.doc_a, i.doc_b""".stripMargin),

    // asymmetric near-CONTAINMENT (Broder 1997): |A∩B| / min(|A|,|B|) —
    // the quote-inclusion / syndication dup shape Jaccard structurally
    // misses (short doc embedded in a 10× doc: J≈0.1, containment 1.0);
    // `contained_id` is the member a keep-longest policy would drop
    QuerySpec("dedup_containment", { (s, dir) =>
      val docs = Tables(s, dir, "documents").filter(col("doc_id") % 4 === 2)
      Dedup.containmentPairs(docs, 0.8)
        .orderBy("doc_a", "doc_b")
    },
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE doc_id % 4 = 2),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |  i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM t),
        |ex0 AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
        |df AS (SELECT s, COUNT(*) AS df FROM ex0 GROUP BY s),
        |ex AS (SELECT ex0.doc_id, ex0.s FROM ex0 JOIN df ON ex0.s = df.s WHERE df.df <= 1000),
        |ns AS (SELECT doc_id, COUNT(*) AS n_sh FROM ex GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i.doc_a, i.doc_b, i.n_inter,
        |  CAST(i.n_inter AS DOUBLE) / CAST(LEAST(na.n_sh, nb.n_sh) AS DOUBLE) AS containment,
        |  CASE WHEN na.n_sh <= nb.n_sh THEN i.doc_a ELSE i.doc_b END AS contained_id
        |FROM inter i
        |JOIN ns na ON na.doc_id = i.doc_a
        |JOIN ns nb ON nb.doc_id = i.doc_b
        |WHERE CAST(i.n_inter AS DOUBLE) / CAST(LEAST(na.n_sh, nb.n_sh) AS DOUBLE) >= 0.8
        |ORDER BY i.doc_a, i.doc_b""".stripMargin),

    // eval-set decontamination: 8-gram containment of every train doc
    // against the held-out subset (doc_id % 7 == 0 stands in for the
    // benchmark set — wide enough that real overlaps exist at the
    // correctness-gate scale, so the oracle exercises the count/tie-break/
    // frac logic, not just all-zero rows)
    QuerySpec("dedup_decontaminate", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      Dedup.contamination(
        docs.filter(col("doc_id") % 7 =!= 0),
        docs.filter(col("doc_id") % 7 === 0), n = 8)
        .orderBy("doc_id")
    }, {
      val gram8 = "i -> " + (0 until 8).map(o => s"w[i+$o]").mkString("||' '||")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE doc_id % 7 <> 0),
         |tsh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-6), $gram8)) AS sh FROM t),
         |e AS (SELECT doc_id, string_split(text,' ') AS w FROM documents WHERE doc_id % 7 = 0),
         |esh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-6), $gram8)) AS sh FROM e),
         |tex0 AS (SELECT doc_id, len(sh) AS n_sh, UNNEST(sh) AS s FROM tsh),
         |tdf AS (SELECT s, COUNT(*) AS df FROM tex0 GROUP BY s),
         |tex AS (SELECT tex0.doc_id, tex0.n_sh, tex0.s FROM tex0
         |        JOIN tdf ON tex0.s = tdf.s WHERE tdf.df <= 1000),
         |eex0 AS (SELECT doc_id AS eval_id, UNNEST(sh) AS s FROM esh),
         |edf AS (SELECT s, COUNT(*) AS df FROM eex0 GROUP BY s),
         |eex AS (SELECT eex0.eval_id, eex0.s FROM eex0
         |        JOIN edf ON eex0.s = edf.s WHERE edf.df <= 1000),
         |ov AS (SELECT tex.doc_id, eex.eval_id, COUNT(*) AS n_overlap, MIN(tex.n_sh) AS n_sh
         |       FROM tex JOIN eex ON tex.s = eex.s GROUP BY 1, 2),
         |top AS (SELECT doc_id, eval_id, n_overlap, n_sh,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY n_overlap DESC, eval_id) AS rn FROM ov)
         |SELECT t.doc_id, top.eval_id,
         |  COALESCE(top.n_overlap, 0) AS n_overlap,
         |  CAST(FLOOR(COALESCE(CAST(top.n_overlap AS DOUBLE) / CAST(top.n_sh AS DOUBLE), 0.0)
         |    * 1000000.0 + 0.5) AS BIGINT) AS frac_e6
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 7 <> 0) t
         |LEFT JOIN (SELECT * FROM top WHERE rn = 1) top ON t.doc_id = top.doc_id
         |ORDER BY t.doc_id""".stripMargin
    }),

    // SEMANTIC eval-set decontamination — the embedding-space companion
    // to the n-gram [[Dedup.contamination]] above: paraphrased or
    // lightly-edited eval leakage that shares no verbatim 8-gram still
    // sits next to its source in embedding space. For each held-out eval
    // vector (the % 97 split), its top-5 nearest TRAIN vectors by cosine
    // — the rows a curator audits and drops before training. Plan shape:
    // the eval side is broadcast (a real eval set is a few thousand
    // rows, fixed as the corpus grows — the gate's % split ties it to n
    // only for oracle-ability, the ann_ivf nCents convention), the train
    // corpus is scanned ONCE with the codegen cosine kernel, and the
    // k-bounded topK aggregate combines map-side — no shuffle wider than
    // nEval·k rows at any corpus size.
    QuerySpec("dedup_decontam_semantic", { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      val evalQ = e.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val train = e.filter(col("vec_id") % 97 =!= 0)
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      Similarity.autoTopK(train, evalQ, k = 5, metric = "cosine")
        .select(col("qid").as("eval_id"), col("rank"),
          col("label").as("train_id"),
          e6Witness(col("score")).as("cos_e6"))
        .orderBy("eval_id", "rank")
    },
      // scale-shaped oracle (the dedup_embedding_cosine pattern): a
      // native float32 array_cosine_similarity prefilter keeps each
      // eval's top-30-with-guard-band candidates, then ONLY those are
      // rescored with the exact fp64 list arithmetic that defines the
      // result — float32 cosine error (~1e-7 relative) is orders below
      // the 1e-4 guard band, so the exact top-5 provably survive
      """WITH q AS (SELECT vec_id AS eval_id, embedding AS qv,
        |    embedding::FLOAT[64] AS qarr
        |  FROM embeddings WHERE vec_id % 97 = 0),
        |t AS (SELECT vec_id AS train_id, embedding AS v,
        |    embedding::FLOAT[64] AS tarr
        |  FROM embeddings WHERE vec_id % 97 <> 0),
        |approx AS (SELECT q.eval_id, t.train_id,
        |    array_cosine_similarity(q.qarr, t.tarr) AS ascore
        |  FROM q CROSS JOIN t),
        |thr AS (SELECT eval_id, MIN(ascore) AS t30 FROM (
        |  SELECT eval_id, ascore,
        |    row_number() OVER (PARTITION BY eval_id ORDER BY ascore DESC) AS arn
        |  FROM approx) WHERE arn <= 30 GROUP BY eval_id),
        |cand AS (SELECT a.eval_id, a.train_id FROM approx a
        |  JOIN thr ON a.eval_id = thr.eval_id
        |  WHERE a.ascore >= thr.t30 - (1e-4 + ABS(thr.t30) * 1e-5)),
        |p AS (SELECT c.eval_id, c.train_id,
        |  list_sum(list_transform(list_zip(q.qv, t.v),
        |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))) /
        |  (SQRT(list_sum(list_transform(q.qv, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))) *
        |   SQRT(list_sum(list_transform(t.v, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))) AS score
        |  FROM cand c JOIN q ON c.eval_id = q.eval_id
        |  JOIN t ON c.train_id = t.train_id),
        |r AS (SELECT eval_id, train_id, score,
        |  row_number() OVER (PARTITION BY eval_id ORDER BY score DESC, train_id) AS rank
        |  FROM p WHERE NOT isnan(score))
        |SELECT eval_id, rank, train_id,
        |  CAST(FLOOR(score * 1000000.0 + 0.5) AS BIGINT) AS cos_e6
        |FROM r WHERE rank <= 5
        |ORDER BY eval_id, rank""".stripMargin),

    // dedup endgame, quality-aware: per duplicate cluster keep the
    // highest-quality member (longest doc, ties to the smaller id) — the
    // composition of clustering × quality scoring a real pipeline ships
    QuerySpec("dedup_keep_best", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents")
      val cc = Dedup.simhashClusters(docs, hammingMax = 2)
      val w = Window.partitionBy(col("cluster_id"))
      cc.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
        .withColumn("rn", row_number().over(
          w.orderBy(col("n_chars").desc, col("doc_id"))))
        .withColumn("n_cluster", count(lit(1)).over(w))
        .filter(col("rn") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_doc"),
          col("n_chars").as("keep_chars"), col("n_cluster"))
        .orderBy("cluster_id")
    },
      s"""WITH $simhashClusterLabCtes,
         |j AS (SELECT lab.doc_id, lab.cluster_id, d.n_chars
         |      FROM lab JOIN documents d ON lab.doc_id = d.doc_id),
         |rk AS (SELECT *,
         |  row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_cluster FROM j)
         |SELECT cluster_id, doc_id AS keep_doc, CAST(n_chars AS BIGINT) AS keep_chars, n_cluster
         |FROM rk WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin),

    // ---- dedup: SimHash fingerprints ----

    QuerySpec("text_simhash", { (s, dir) =>
      Dedup.simhash16(Tables(s, dir, "documents")).orderBy("doc_id")
    }, {
      val sums = (0 until 16)
        .map(b => s"SUM(${Dedup.simhashBitSql(b, "//")}) AS s$b").mkString(", ")
      val bits = (0 until 16)
        .map(b => s"CASE WHEN 2*s$b > n THEN ${1L << b} ELSE 0 END")
        .mkString(" + ")
      s"""WITH toks AS (
         |  SELECT doc_id, UNNEST(list_distinct(string_split(text,' '))) AS tok
         |  FROM documents),
         |s AS (SELECT doc_id, COUNT(*) AS n, $sums FROM toks GROUP BY doc_id)
         |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
         |FROM s ORDER BY doc_id""".stripMargin
    }),

    // ---- dedup: embedding-space near-dup (top cosine pairs) ----

    QuerySpec("dedup_embedding_cosine", { (s, dir) =>
      Similarity.topCosinePairs(
        Tables(s, dir, "embeddings")
          .select(col("vec_id").as("id"), col("embedding").as("vec")),
        topN = 20)
        .orderBy("rn")
    },
    // Exact global-top-20 cosine pairs, two-stage for sf1 scale: native
    // fp32 cosine pre-filter keeps everything within 1e-4 of the 200th
    // approx score (threshold-based, NOT LIMIT-based — exact-duplicate
    // pairs all sit at cos=1.0 within fp32 noise of each other, and a
    // hard top-200 heap could drop the (i,j)-smallest ones the exact
    // rank keeps), then the exact fp64 formula re-scores survivors.
      """WITH a AS (SELECT vec_id, embedding, embedding::FLOAT[64] AS arr FROM embeddings),
        |approx AS (
        |  SELECT x.vec_id AS i, y.vec_id AS j, array_cosine_similarity(x.arr, y.arr) AS ascore
        |  FROM a x JOIN a y ON x.vec_id < y.vec_id),
        |thr AS (SELECT MIN(ascore) AS t FROM (SELECT ascore FROM approx ORDER BY ascore DESC LIMIT 200)),
        |cand AS (SELECT i, j FROM approx
        |  WHERE ascore >= (SELECT t FROM thr) - (1e-4 + ABS((SELECT t FROM thr)) * 1e-5)),
        |p AS (SELECT c.i, c.j,
        |  list_sum(list_transform(list_zip(x.embedding, y.embedding),
        |    t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE))) /
        |  (SQRT(list_sum(list_transform(x.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))) *
        |   SQRT(list_sum(list_transform(y.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
        |  FROM cand c JOIN a x ON c.i = x.vec_id JOIN a y ON c.j = y.vec_id),
        |r AS (SELECT i, j, cos, row_number() OVER (ORDER BY cos DESC, i, j) AS rn FROM p)
        |SELECT rn, i, j, FLOOR(cos * 1000000.0 + 0.5) / 1000000.0 AS cos
        |FROM r WHERE rn <= 20
        |ORDER BY rn""".stripMargin),

    // ---- dedup: SemDeDup (cluster-bounded embedding near-dup drop) ----

    QuerySpec("dedup_semantic", { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      Similarity.semanticDedup(
        e.select(col("vec_id").as("id"), col("embedding").as("vec")),
        centroidModulo = 40, tau = 0.4)
        .select(col("id").as("vec_id"), col("cid"), col("dropped"), col("dup_of"))
        .orderBy("vec_id")
    },
      """WITH c AS (SELECT vec_id AS cid, embedding AS cv,
        |    embedding::FLOAT[64] AS carr FROM embeddings WHERE vec_id % 40 = 0),
        |v0 AS (SELECT vec_id, embedding, embedding::FLOAT[64] AS varr FROM embeddings),
        |avc0 AS (SELECT v0.vec_id, c.cid, array_distance(v0.varr, c.carr) AS ad
        |  FROM v0, c),
        |amin0 AS (SELECT vec_id, MIN(ad) AS m FROM avc0 GROUP BY vec_id),
        |vcand0 AS (SELECT a.vec_id, a.cid FROM avc0 a
        |  JOIN amin0 ON a.vec_id = amin0.vec_id
        |  WHERE a.ad <= amin0.m * 1.00001 + 1e-3),
        |vc AS (SELECT vec_id, cid, SUM((x-y)*(x-y)) AS d FROM (
        |  SELECT w.vec_id, w.cid,
        |    CAST(UNNEST(v.embedding) AS DOUBLE) AS x, CAST(UNNEST(c.cv) AS DOUBLE) AS y
        |  FROM vcand0 w JOIN v0 v ON w.vec_id = v.vec_id JOIN c ON w.cid = c.cid)
        |  GROUP BY 1, 2),
        |va AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        |  FROM vc) WHERE rn = 1),
        |pr AS (SELECT a.vec_id AS i, b.vec_id AS j FROM va a
        |       JOIN va b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |ex AS (SELECT i, j, UNNEST(av) AS ae, UNNEST(bv) AS be FROM (
        |  SELECT pr.i, pr.j, x.embedding AS av, y.embedding AS bv
        |  FROM pr JOIN embeddings x ON pr.i = x.vec_id
        |  JOIN embeddings y ON pr.j = y.vec_id)),
        |p AS (SELECT i, j,
        |  SUM(CAST(ae AS DOUBLE)*CAST(be AS DOUBLE)) /
        |    (SQRT(SUM(CAST(ae AS DOUBLE)*CAST(ae AS DOUBLE))) *
        |     SQRT(SUM(CAST(be AS DOUBLE)*CAST(be AS DOUBLE)))) AS cos
        |  FROM ex GROUP BY 1, 2),
        |dups AS (SELECT j, MIN(i) AS dup_of FROM p
        |         WHERE cos > 0.4 AND NOT isnan(cos) GROUP BY j)
        |SELECT va.vec_id, va.cid, (dups.dup_of IS NOT NULL) AS dropped,
        |  CAST(COALESCE(dups.dup_of, -1) AS BIGINT) AS dup_of
        |FROM va LEFT JOIN dups ON va.vec_id = dups.j
        |ORDER BY va.vec_id""".stripMargin),

    // ---- dedup: per-doc duplicated-span profile (exact-substring
    // dedup at token granularity) ----

    QuerySpec("dedup_spans", { (s, dir) =>
      Dedup.duplicatedSpans(Tables(s, dir, "documents"), n = 8)
        .select(col("doc_id"), col("n_spans"), col("n_dup"), col("dup_frac_e6"))
        .orderBy("doc_id")
    }, {
      val gram8 = "i -> " + (0 until 8).map(o => s"w[i+$o]").mkString("||' '||")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |spans AS (SELECT doc_id, UNNEST(list_transform(range(1, len(w)-6), $gram8)) AS gram FROM t),
         |ddf AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM spans GROUP BY gram),
         |dup AS (SELECT s.doc_id, COUNT(*) AS n_dup FROM spans s
         |        JOIN ddf ON s.gram = ddf.gram WHERE ddf.df >= 2 GROUP BY 1),
         |lens AS (SELECT doc_id, CAST(greatest(len(w)-7, 0) AS BIGINT) AS n_spans FROM t)
         |SELECT l.doc_id, l.n_spans, CAST(COALESCE(d.n_dup, 0) AS BIGINT) AS n_dup,
         |  CASE WHEN l.n_spans > 0
         |       THEN CAST((2 * COALESCE(d.n_dup, 0) * 1000000 + l.n_spans)
         |            // (2 * l.n_spans) AS BIGINT) ELSE 0 END AS dup_frac_e6
         |FROM lens l LEFT JOIN dup d ON l.doc_id = d.doc_id
         |ORDER BY l.doc_id""".stripMargin
    }),

    // ---- dedup: exact duplicated SUBSTRINGS (Lee et al. 2022's
    // ExactSubstr class — character-level, stride-1, maximal spans),
    // the contamination class token-shingle methods only catch
    // probabilistically. Sorted-hashed-grams plan, linear in corpus
    // bytes; see Dedup.substringSpans.

    QuerySpec("dedup_substring", { (s, dir) =>
      Dedup.substringSpans(Tables(s, dir, "documents"), minLen = 30)
        .orderBy("doc_id")
    },
      """WITH p AS (SELECT doc_id, text,
        |  unnest(range(0, GREATEST(len(text) - 30 + 1, 0))) AS pos FROM documents),
        |w AS (SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        |  md5(substr(text, CAST(pos AS INTEGER) + 1, 30)) AS h FROM p),
        |dup AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
        |dp AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (h)),
        |fl AS (SELECT doc_id, pos,
        |  CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |         OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 30
        |       THEN 1 ELSE 0 END AS f FROM dp),
        |si AS (SELECT doc_id, pos,
        |  SUM(f) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id FROM fl),
        |sp AS (SELECT doc_id, span_id, CAST(COUNT(*) AS BIGINT) AS nwin,
        |  MAX(pos) - MIN(pos) + 30 AS span_len FROM si GROUP BY doc_id, span_id),
        |pd AS (SELECT doc_id, SUM(nwin) AS dup_windows,
        |  CAST(COUNT(*) AS BIGINT) AS dup_spans, SUM(span_len) AS dup_chars,
        |  MAX(span_len) AS max_span FROM sp GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(pd.dup_windows, 0) AS BIGINT) AS dup_windows,
        |  CAST(COALESCE(pd.dup_spans, 0) AS BIGINT) AS dup_spans,
        |  CAST(COALESCE(pd.dup_chars, 0) AS BIGINT) AS dup_chars,
        |  CAST(COALESCE(pd.max_span, 0) AS BIGINT) AS max_span
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),

    // ---- dedup: winnowing fingerprint profile (MOSS selection) ----

    QuerySpec("text_winnowing", { (s, dir) =>
      Dedup.winnowedFingerprints(Tables(s, dir, "documents"), n = 5, window = 4)
        .orderBy("doc_id")
    }, {
      val gram5 = "i -> " + (0 until 5).map(o => s"w[i+$o]").mkString("||' '||")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, n_grams,
         |        substr(md5(gram), 1, 16) || lpad(CAST(i AS VARCHAR), 10, '0') AS comb
         |      FROM (SELECT doc_id, CAST(greatest(len(w)-4, 0) AS BIGINT) AS n_grams,
         |              UNNEST(list_transform(range(1, len(w)-3), $gram5)) AS gram,
         |              UNNEST(range(1, len(w)-3)) AS i FROM t)),
         |sel AS (SELECT doc_id, pos, n_grams,
         |        MIN(comb) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS s
         |        FROM g),
         |f AS (SELECT DISTINCT doc_id, s FROM sel WHERE pos <= n_grams - 3),
         |cnt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM f GROUP BY 1),
         |lens AS (SELECT doc_id, CAST(greatest(len(w)-4-3, 0) AS BIGINT) AS n_windows FROM t)
         |SELECT l.doc_id, l.n_windows, COALESCE(cnt.n_fp, 0) AS n_fp,
         |  CASE WHEN l.n_windows > 0
         |       THEN CAST((2 * COALESCE(cnt.n_fp, 0) * 1000000 + l.n_windows)
         |            // (2 * l.n_windows) AS BIGINT) ELSE 0 END AS fp_density_e6
         |FROM lens l LEFT JOIN cnt ON l.doc_id = cnt.doc_id
         |ORDER BY l.doc_id""".stripMargin
    }),

    // per-doc corpus-duplication fraction (RefinedWeb-style duplicated
    // n-gram share): shingle df join, no pair expansion
    QuerySpec("text_dup_fraction", { (s, dir) =>
      TextAnalysis.dupShingleFraction(Tables(s, dir, "documents")).orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, UNNEST(list_distinct(list_transform(range(1, len(w)-1),
        |  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s FROM t),
        |df AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY 1),
        |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |  FROM sh JOIN df ON sh.s = df.s GROUP BY 1)
        |SELECT doc_id, n_shingles, n_dup,
        |  CAST((2 * n_dup * 1000000 + n_shingles) // (2 * n_shingles) AS BIGINT)
        |    AS dup_frac_e6
        |FROM agg ORDER BY doc_id""".stripMargin),

    // SimHash near-dup pairs: 3-band LSH over a 63-bit fingerprint
    // (21 bits/band — hamming ≤ 2 leaves at least one band untouched, so
    // recall is exact, and buckets stay near-singleton at corpus scale);
    // bucket-grouped pair generation, no self-join
    QuerySpec("simhash_pairs", { (s, dir) =>
      Dedup.simhashPairs(Tables(s, dir, "documents"), hammingMax = 2)
        .orderBy("doc_a", "doc_b")
    },
      // banded-candidate oracle over the same 63-bit fingerprint — the
      // 3-band pigeonhole is EXACT at hamming ≤ 2, so this equals the
      // old brute-force all-pairs text without its O(n²) bit_count scan
      s"""WITH $simhashBandedPairCtes
         |SELECT p.doc_a, p.doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM p JOIN sim a ON p.doc_a = a.doc_id JOIN sim b ON p.doc_b = b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin),

    // dedup endgame: near-dup pairs → duplicate clusters (connected
    // components, iterative min-label propagation), one kept representative
    // per cluster
    QuerySpec("dedup_clusters", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Dedup.simhashClusters(Tables(s, dir, "documents"), hammingMax = 2)
        .withColumn("n_cluster",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .select(col("doc_id"), col("cluster_id"),
          col("n_cluster"), (col("doc_id") === col("cluster_id")).as("keep"))
        .orderBy("doc_id")
    },
      // connected components over the banded pair set; cluster id = min
      // reachable doc id via unrolled min-label propagation (see
      // simhashClusterLabCtes for the convergence guard)
      s"""WITH $simhashClusterLabCtes
         |SELECT doc_id, cluster_id,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_cluster,
         |  doc_id = cluster_id AS keep
         |FROM lab ORDER BY doc_id""".stripMargin),

    // the SAME clustering through the large-star/small-star component
    // plan (Kiveris 2014 — O(log²) rounds vs min-label's O(diameter);
    // the algorithm for high-diameter graphs): a third independent CC
    // algorithm checked against dedup_clusters' exact oracle
    QuerySpec("dedup_clusters_star", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      Dedup.simhashClusters(Tables(s, dir, "documents"), hammingMax = 2,
          useStar = true)
        .withColumn("n_cluster",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .select(col("doc_id"), col("cluster_id"),
          col("n_cluster"), (col("doc_id") === col("cluster_id")).as("keep"))
        .orderBy("doc_id")
    },
    // identical truth to dedup_clusters — different engine-side
    // algorithm, one oracle
      s"""WITH $simhashClusterLabCtes
         |SELECT doc_id, cluster_id,
         |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_cluster,
         |  doc_id = cluster_id AS keep
         |FROM lab ORDER BY doc_id""".stripMargin),

    // leakage-safe train/val/test split: the q_hash_split recipe applied
    // to the near-dup CLUSTER id instead of the doc id, so every member
    // of a duplicate cluster lands in the SAME split — the hygiene rule
    // that stops a train doc's near-copy from leaking into eval. Hashing
    // doc_id (q_hash_split) is only safe AFTER dedup; this is the split
    // that is safe before it.
    QuerySpec("q_split_cluster_safe", { (s, dir) =>
      val h = substring(md5(concat(lit("split:"), col("cluster_id").cast(StringType))), 1, 2)
      Dedup.simhashClusters(Tables(s, dir, "documents"), hammingMax = 2)
        .select(col("doc_id"), col("cluster_id"),
          when(h < "0d", "val").when(h < "1a", "test").otherwise("train").as("split"))
        .orderBy("doc_id")
    },
      s"""WITH $simhashClusterLabCtes,
         |h AS (SELECT doc_id, cluster_id,
         |  substr(md5('split:' || CAST(cluster_id AS VARCHAR)), 1, 2) AS hx FROM lab)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN hx < '0d' THEN 'val' WHEN hx < '1a' THEN 'test'
         |       ELSE 'train' END AS split
         |FROM h ORDER BY doc_id""".stripMargin),

    // Gopher-style within-doc repetition: characters inside lines that
    // repeat in the SAME document (lines = 5-token chunks; fixture text
    // has no newlines). Exact-integer outputs; doc-keyed shuffle only.
    QuerySpec("text_dup_lines", { (s, dir) =>
      Curation.dupLineStats(Tables(s, dir, "documents"), lineTokens = 5)
        .orderBy("doc_id")
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(w, i * 5 + 1, i * 5 + 5), ' ') AS line
        |  FROM toks, UNNEST(range(0, (len(w) - 1) // 5 + 1)) AS t(i)),
        |per AS (
        |  SELECT doc_id, line, COUNT(*) AS cnt,
        |    CAST(length(line) AS BIGINT) AS chars
        |  FROM lines GROUP BY doc_id, line)
        |SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_lines,
        |  CAST(SUM(cnt * chars) AS BIGINT) AS chars_total,
        |  CAST(SUM(CASE WHEN cnt > 1 THEN cnt * chars ELSE 0 END) AS BIGINT) AS chars_dup
        |FROM per GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin),

    // blocking-scheme evaluation (Christen 2012 §7.2): pair completeness
    // and reduction ratio of sorted-neighborhood CANDIDATES against the
    // exact prefix-filter ground truth — the metric pair that justifies
    // a blocking choice before anyone trusts its recall
    QuerySpec("q_blocking_quality", { (s, dir) =>
      val docs = Tables(denseSession(s), dir, "documents")
      val truth = Dedup.prefixFilterPairs(docs, 0.7)
        .select(col("doc_a"), col("doc_b")).localCheckpoint(true)
      val cand = Dedup.sortedNeighborhoodCandidates(docs, w = 5)
        .localCheckpoint(true)
      // r18 (opt): a doc has ≥ 1 word 3-shingle iff it has ≥ 3 tokens —
      // count on the token length instead of materializing the full
      // distinct-shingle arrays a third time (truth and cand already
      // shingled the corpus); same predicate, same count
      val nd = docs.select(Dedup.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 3)
        .agg(count(lit(1)).as("n_docs"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .crossJoin(cand.join(truth, Seq("doc_a", "doc_b"))
          .agg(count(lit(1)).as("n_hit")))
        .crossJoin(nd)
        .select(col("n_docs"), col("n_candidates"), col("n_truth"), col("n_hit"),
          e6Witness(col("n_hit").cast(DoubleType) / col("n_truth")
           ).as("pair_completeness_e6"),
          e6Witness((lit(1.0) - col("n_candidates").cast(DoubleType) /
            (col("n_docs").cast(DoubleType) * (col("n_docs") - 1) / lit(2.0)))
           ).as("reduction_ratio_e6"))
    },
    // prefix-filter ground truth + sorted-neighborhood CANDIDATES, both
    // verbatim from their own oracles; metrics over the composed sets
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |  i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM t),
        |ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh),
        |ns AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS MATERIALIZED (SELECT i.doc_a, i.doc_b FROM inter i
        |  JOIN ns na ON na.doc_id = i.doc_a
        |  JOIN ns nb ON nb.doc_id = i.doc_b
        |  WHERE CAST(i.n_inter AS DOUBLE)
        |    / CAST(na.n_sh + nb.n_sh - i.n_inter AS DOUBLE) >= 0.7),
        |kk AS (SELECT doc_id, substr(text, 1, 24) AS k FROM documents),
        |r AS (SELECT sh.doc_id,
        |    row_number() OVER (ORDER BY kk.k, sh.doc_id) AS rank
        |  FROM sh JOIN kk ON sh.doc_id = kk.doc_id
        |  WHERE len(sh.shingles) > 0),
        |cand AS MATERIALIZED (SELECT LEAST(a.doc_id, b.doc_id) AS doc_a,
        |    GREATEST(a.doc_id, b.doc_id) AS doc_b
        |  FROM r a JOIN r b ON b.rank > a.rank AND b.rank < a.rank + 5),
        |nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM r),
        |m AS (SELECT nd.n_docs,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM cand c
        |     JOIN truth tr ON c.doc_a = tr.doc_a AND c.doc_b = tr.doc_b) AS n_hit
        |  FROM nd)
        |SELECT n_docs, n_candidates, n_truth, n_hit,
        |  CAST(FLOOR(CAST(n_hit AS DOUBLE) / n_truth * 1000000.0 + 0.5) AS BIGINT)
        |    AS pair_completeness_e6,
        |  CAST(FLOOR((1.0 - CAST(n_candidates AS DOUBLE)
        |    / (CAST(n_docs AS DOUBLE) * (n_docs - 1) / 2.0)) * 1000000.0 + 0.5)
        |    AS BIGINT) AS reduction_ratio_e6
        |FROM m""".stripMargin),

    // ---- entity resolution: fuzzy (edit-distance) self-join ----

    // Levenshtein-≤1 pairs over customer names via deletion-neighborhood
    // blocking (FastSS, Bocek et al. 2007) — candidates come from an
    // equi-join on single-deletion variants (output-proportional, NEVER
    // all-pairs), then the exact levenshtein filter confirms. The oracle
    // replicates the same blocking in SQL because the definitional
    // formulation (all-pairs levenshtein) is quadratic; blocking
    // completeness for distance ≤ 1 is proved in the Scaladoc and
    // spec-pinned against a brute-force small fixture.
    // key-level emission (r18): the id-pair materialization is
    // quadratic in the key-repetition factor (the 100× replica repeats
    // every c_name 100× → ~2.7e9 id pairs, a row count no oracle or
    // sink should materialize); the summary (key_a, key_b, dist,
    // n_pairs) carries the identical information at distinct-key size
    // and is oracle-able at every tier. Dedup.fuzzyPairsEdit1 keeps the
    // id-pair contract for library callers.
    QuerySpec("q_fuzzy_join", { (s, dir) =>
      Dedup.fuzzyKeySummary(Tables(s, dir, "customer"), "c_custkey", "c_name")
        .select(col("key_a").as("name_a"), col("key_b").as("name_b"),
          col("dist"), col("n_pairs"))
        .orderBy("name_a", "name_b")
    },
    // same deletion-neighborhood blocking (completeness for distance ≤ 1
    // proved at Dedup.fuzzyPairsEdit1) — the definitional all-pairs
    // formulation is quadratic and would not survive sf1
      """WITH c AS (SELECT c_name AS k, COUNT(*) AS cnt FROM customer GROUP BY 1),
        |p AS (SELECT unnest(range(-1, (SELECT MAX(length(k)) FROM c))) AS pos),
        |v AS MATERIALIZED (SELECT DISTINCT k, CASE WHEN pos < 0 THEN k
        |        ELSE substr(k, 1, pos) || substr(k, pos + 2) END AS variant
        |      FROM c JOIN p ON pos < length(k)),
        |np AS (SELECT DISTINCT a.k AS key_a, b.k AS key_b
        |       FROM v a JOIN v b ON a.variant = b.variant AND a.k < b.k
        |       WHERE levenshtein(a.k, b.k) <= 1)
        |SELECT k AS name_a, k AS name_b, CAST(0 AS BIGINT) AS dist,
        |  CAST(cnt * (cnt - 1) // 2 AS BIGINT) AS n_pairs
        |FROM c WHERE cnt > 1
        |UNION ALL
        |SELECT np.key_a, np.key_b, CAST(1 AS BIGINT),
        |  CAST(ca.cnt * cb.cnt AS BIGINT)
        |FROM np JOIN c ca ON ca.k = np.key_a JOIN c cb ON cb.k = np.key_b
        |ORDER BY name_a, name_b""".stripMargin),

    // record linkage scored the way linkage pipelines rank: same
    // recall-complete edit-1 blocking as q_fuzzy_join, but each key
    // pair carries its Jaro-Winkler similarity — prefix-weighted, so a
    // typo in the first characters scores lower than one at the tail
    QuerySpec("q_jw_link", { (s, dir) =>
      Dedup.fuzzyKeySummary(Tables(s, dir, "customer"), "c_custkey", "c_name",
          jw = true)
        .select(col("key_a").as("name_a"), col("key_b").as("name_b"),
          col("dist"), col("n_pairs"), col("jw_e6"))
        .orderBy("name_a", "name_b")
    },
      // DuckDB's jaro_winkler_similarity is the pinned reference for the
      // Scala expression (JaroWinkler scaladoc: verified 1e-12-identical
      // on 3000 random pairs, incl. the empty→0.0 edge)
      """WITH c AS (SELECT c_name AS k, COUNT(*) AS cnt FROM customer GROUP BY 1),
        |p AS (SELECT unnest(range(-1, (SELECT MAX(length(k)) FROM c))) AS pos),
        |v AS MATERIALIZED (SELECT DISTINCT k, CASE WHEN pos < 0 THEN k
        |        ELSE substr(k, 1, pos) || substr(k, pos + 2) END AS variant
        |      FROM c JOIN p ON pos < length(k)),
        |np AS (SELECT DISTINCT a.k AS key_a, b.k AS key_b
        |       FROM v a JOIN v b ON a.variant = b.variant AND a.k < b.k
        |       WHERE levenshtein(a.k, b.k) <= 1)
        |SELECT k AS name_a, k AS name_b, CAST(0 AS BIGINT) AS dist,
        |  CAST(cnt * (cnt - 1) // 2 AS BIGINT) AS n_pairs,
        |  CAST(1000000 AS BIGINT) AS jw_e6
        |FROM c WHERE cnt > 1
        |UNION ALL
        |SELECT np.key_a, np.key_b, CAST(1 AS BIGINT),
        |  CAST(ca.cnt * cb.cnt AS BIGINT),
        |  CAST(FLOOR(jaro_winkler_similarity(np.key_a, np.key_b) * 1000000.0 + 0.5)
        |    AS BIGINT)
        |FROM np JOIN c ca ON ca.k = np.key_a JOIN c cb ON cb.k = np.key_b
        |ORDER BY name_a, name_b""".stripMargin)
  )
}
