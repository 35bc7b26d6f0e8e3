package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._
import graft.ops.{Curation, Dedup, Lexical, Scan, Similarity, TextAnalysis}

import QueryHelpers._

/** Text analysis and corpus curation: tokens, language ID, lexical
  * statistics, language-model scores, BM25 and hybrid retrieval, and the
  * filter / packing pipelines.
  */
private[graft] object TextQueries {

  val specs: Seq[QuerySpec] = Seq(

    // ---- text analysis: token counting ----

    QuerySpec("text_tokens", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast(LongType).as("n_tokens"),
          size(array_distinct(split(col("text"), " ", -1))).cast(LongType).as("n_distinct_tokens"),
          length(col("text")).cast(LongType).as("n_chars_measured"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        |  length(text) AS n_chars_measured
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // PII scrub (the mandatory pre-training redaction pass): the corpus
    // text is laced with deterministic synthetic PII (email, IPv4,
    // phone — built from doc_id so both engines construct the identical
    // string) and redacted via the codegen'd regexp chain. Marker counts
    // are recomputed from the redacted text, so the oracle pins both the
    // replacement text and that every planted instance was caught.
    QuerySpec("text_redact_pii", { (s, dir) =>
      val laced = concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast(StringType),
        lit("@mail.example.org ip 10.0."),
        (col("doc_id") % 256).cast(StringType), lit(".17 call +1 555-010-"),
        lpad((col("doc_id") % 10000).cast(StringType), 4, "0"))
      def markers(c: Column, m: String) =
        ((length(c) - length(regexp_replace(c, m, ""))) / m.length).cast(LongType)
      Tables(s, dir, "documents")
        .filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), graft.ops.TextAnalysis.redactPii(laced).as("red"))
        .select(col("doc_id"), col("red"),
          markers(col("red"), "<EMAIL>").as("n_email"),
          markers(col("red"), "<IP>").as("n_ip"),
          markers(col("red"), "<PHONE>").as("n_phone"))
        .orderBy("doc_id")
    },
    // NOTE: regex patterns must behave identically under Java regex
    // (Spark codegen) and RE2 (DuckDB) — conservative ASCII classes, no
    // lookaround; DuckDB needs the explicit 'g' flag Spark implies
      """WITH laced AS (
        |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@mail.example.org ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |    || '.17 call +1 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents WHERE doc_id % 7 = 0),
        |red AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\+?\d{1,3}[ .-]\d{3}[ .-]\d{3}[ .-]?\d{2,4}\b', '<PHONE>', 'g') AS red
        |  FROM laced)
        |SELECT doc_id, red,
        |  CAST((length(red) - length(regexp_replace(red, '<EMAIL>', '', 'g'))) / 7 AS BIGINT) AS n_email,
        |  CAST((length(red) - length(regexp_replace(red, '<IP>', '', 'g'))) / 4 AS BIGINT) AS n_ip,
        |  CAST((length(red) - length(regexp_replace(red, '<PHONE>', '', 'g'))) / 7 AS BIGINT) AS n_phone
        |FROM red
        |ORDER BY doc_id""".stripMargin),

    // overlapping token-window chunking (the RAG/pretraining splitter):
    // 64-token windows at stride 48, per-chunk digest + token count
    QuerySpec("text_chunks", { (s, dir) =>
      graft.ops.TextAnalysis
        .chunkDocs(Tables(s, dir, "documents"), window = 64, stride = 48)
        .orderBy("doc_id", "chunk_id")
    },
    // chunk c covers tokens [48c+1, 48c+64] (1-based list_slice, clipped
    // at the end); a doc shorter than one window yields exactly one chunk
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |c AS (SELECT doc_id, w, UNNEST(range(0, (len(w) - 1) // 48 + 1)) AS chunk_id
        |      FROM t),
        |ch AS (SELECT doc_id, chunk_id, chunk_id * 48 AS start_tok,
        |  array_to_string(list_slice(w, CAST(chunk_id * 48 + 1 AS BIGINT),
        |    CAST(chunk_id * 48 + 64 AS BIGINT)), ' ') AS chunk
        |  FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(start_tok AS BIGINT) AS start_tok,
        |  CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tok,
        |  md5(chunk) AS chunk_md5
        |FROM ch
        |ORDER BY doc_id, chunk_id""".stripMargin),

    // corpus-pair similarity matrix: one 16-element MinHash signature PER
    // LANGUAGE SLICE (elementwise min over the per-doc signatures — the
    // minhash of a union IS the min of the minhashes), pairwise match
    // fraction estimates cross-slice shingle Jaccard. The curation
    // diagnostic for "which sources overlap": corpus-size-independent
    // state (one signature per slice), one combiner-min shuffle.
    QuerySpec("q_lang_similarity", { (s, dir) =>
      val sig = Tables(s, dir, "documents")
        .select(col("lang"),
          posexplode(graft.functions.minhashSignature(
            graft.functions.wordShingles(Dedup.tokens(col("text")), 3), 16)))
        .groupBy(col("lang"), col("pos")).agg(min(col("col")).as("h"))
      val a = sig.select(col("lang").as("lang_a"), col("pos"), col("h").as("ha"))
      val b = sig.select(col("lang").as("lang_b"), col("pos"), col("h").as("hb"))
      a.join(b, Seq("pos")).filter(col("lang_a") < col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(sum(when(col("ha") === col("hb"), 1L).otherwise(0L)).as("n_match"),
          count(lit(1)).as("k"))
        .select(col("lang_a"), col("lang_b"), col("n_match"), col("k"),
          (col("n_match").cast(DoubleType) / col("k")).as("est_jaccard"))
        .orderBy("lang_a", "lang_b")
    }, {
      val mins = (0 until 16).map(Dedup.minhashElemSql).mkString(", ")
      val matches = (0 until 16)
        .map(j => s"CASE WHEN a.h$j = b.h$j THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH t AS (SELECT lang, string_split(text,' ') AS w FROM documents),
         |shl AS (SELECT lang, list_distinct(list_transform(range(1, len(w)-1),
         |  i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM t),
         |ex AS (SELECT DISTINCT lang, UNNEST(shingles) AS s FROM shl),
         |mh AS (SELECT lang, $mins FROM ex GROUP BY lang)
         |SELECT a.lang AS lang_a, b.lang AS lang_b,
         |  CAST($matches AS BIGINT) AS n_match,
         |  CAST(16 AS BIGINT) AS k,
         |  CAST($matches AS DOUBLE) / 16 AS est_jaccard
         |FROM mh a JOIN mh b ON a.lang < b.lang
         |ORDER BY lang_a, lang_b""".stripMargin
    }),

    // sequence packing: concat-and-chunk docs into 2048-token training
    // sequences, packed per language stream (parallel by lang; the chunk
    // id is a running-token-count prefix sum — deterministic order)
    QuerySpec("q_pack_sequences", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), " ", -1)).cast(LongType).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          expr("(cum - n_tokens) div 2048").as("pack_id"),
          ((col("cum") - col("n_tokens")) % 2048).as("pack_offset"))
        .orderBy("doc_id")
    },
      """SELECT doc_id, lang, n_tokens,
        |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
        |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS pack_offset
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM (SELECT doc_id, lang,
        |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin),

    // the SCALE-SAFE packing plan: same output as q_pack_sequences (same
    // oracle), but the cumulative token count runs as a distributed
    // two-pass prefix sum (Scan.prefixSum) instead of a per-lang window —
    // one language holding half a 100 TB corpus stays spread over range
    // partitions instead of stalling one task
    QuerySpec("q_pack_sequences_scan", { (s, dir) =>
      Scan.packSequences(Tables(s, dir, "documents"), seqLen = 2048)
        .select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")
        .orderBy("doc_id")
    },
    // same semantics as q_pack_sequences — the scan plan must reproduce
    // the window plan's answer bit-for-bit
      """SELECT doc_id, lang, n_tokens,
        |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
        |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS pack_offset
        |FROM (
        |  SELECT doc_id, lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM (SELECT doc_id, lang,
        |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin),

    // ---- lexical retrieval: BM25 more-like-this over documents ----

    QuerySpec("text_bm25", { (s, dir) =>
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      Lexical.bm25TopK(docs,
        docs.filter(col("doc_id") < 4).select(col("doc_id").as("qid"), col("text")),
        k = 10)
        .select(col("qid"), col("rank"), col("label"),
          col("score").cast(LongType).as("score_e6"))
        .orderBy("qid", "rank")
    },
      s"""WITH $oracleBm25Ctes
         |SELECT qid, rank, label, CAST(score AS BIGINT) AS score_e6
         |FROM bm25 WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin),

    // Exact phrase search via positional postings (the inverted-index
    // primitive bag-of-words scorers can't express): per-term filtered
    // postings, positions aligned to the occurrence start, equi-joined
    // on (doc_id, pos). Overlapping occurrences count separately.
    QuerySpec("text_phrase_search", { (s, dir) =>
      Lexical.phraseSearch(
          Tables(s, dir, "documents").select(col("doc_id"), col("text")),
          phrase = Seq("stream", "table", "hash"))
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |p AS (SELECT doc_id, UNNEST(w) AS tok,
        |        generate_subscripts(w, 1) AS pos FROM t),
        |m AS (SELECT p1.doc_id, CAST(p1.pos AS BIGINT) AS pos
        |      FROM p p1
        |      JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        |        AND p2.tok = 'table'
        |      JOIN p p3 ON p3.doc_id = p1.doc_id AND p3.pos = p1.pos + 2
        |        AND p3.tok = 'hash'
        |      WHERE p1.tok = 'stream')
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |  MIN(pos) AS first_pos
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // TF-IDF cosine more-like-this (vector space model, Salton 1988) —
    // the second lexical scorer, sharing the BM25 posting stats; cosine
    // length normalization where BM25 uses b·len/avg_len
    QuerySpec("text_tfidf", { (s, dir) =>
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      Lexical.tfidfTopK(Lexical.bm25Stats(docs),
        docs.filter(col("doc_id") < 4).select(col("doc_id").as("qid"), col("text")),
        k = 10)
        .select(col("qid"), col("rank"), col("label"),
          col("score").cast(LongType).as("score_e6"))
        .orderBy("qid", "rank")
    },
    // reuses the shared posting CTEs (toksb/tfb/dfb/statsb); query-side
    // weights from the query doc's term FREQUENCIES (classic VSM), norms
    // over each doc's full capped-term vector
      s"""WITH $oracleBm25Ctes,
         |wtb AS (SELECT tfb.doc_id, tfb.tok, tfb.tf * ln(1.0 + s.n_docs/dfb.df) AS w
         |        FROM tfb JOIN dfb ON tfb.tok = dfb.tok, statsb s),
         |nrmb AS (SELECT doc_id, SQRT(SUM(w*w)) AS nrm FROM wtb GROUP BY 1),
         |qtfb AS (SELECT doc_id AS qid, tok, CAST(count(*) AS BIGINT) AS qtf
         |         FROM (SELECT doc_id, UNNEST(string_split(text,' ')) AS tok
         |               FROM documents WHERE doc_id < 4)
         |         GROUP BY 1, 2),
         |qwb AS (SELECT qtfb.qid, qtfb.tok, qtfb.qtf * ln(1.0 + s.n_docs/dfb.df) AS qw
         |        FROM qtfb JOIN dfb ON qtfb.tok = dfb.tok, statsb s),
         |qnrmb AS (SELECT qid, SQRT(SUM(qw*qw)) AS qnrm FROM qwb GROUP BY 1),
         |dotb AS (SELECT qwb.qid, wtb.doc_id AS label, SUM(qwb.qw * wtb.w) AS dot
         |         FROM qwb JOIN wtb ON qwb.tok = wtb.tok
         |         WHERE wtb.doc_id <> qwb.qid GROUP BY 1, 2),
         |sctf AS (SELECT dotb.qid, dotb.label,
         |         FLOOR(dotb.dot/(nrmb.nrm*qnrmb.qnrm) * 1000000.0 + 0.5) AS score
         |         FROM dotb JOIN nrmb ON dotb.label = nrmb.doc_id
         |         JOIN qnrmb ON dotb.qid = qnrmb.qid),
         |tfr AS (SELECT qid, label, score,
         |        row_number() OVER (PARTITION BY qid ORDER BY score DESC, label) AS rank
         |        FROM sctf)
         |SELECT qid, rank, label, CAST(score AS BIGINT) AS score_e6
         |FROM tfr WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin),

    // ---- hybrid retrieval: RRF fusion of BM25 + dense cosine kNN ----
    // (documents and embeddings share the 0..n-1 id space, so doc_id q
    // is also its embedding row — the standard dual-index hybrid setup)

    QuerySpec("hybrid_rrf", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val e = Tables(s, dir, "embeddings")
      // pre-built posting stats (the production shape: corpus state is
      // computed once and shared across the lexical stack; the dense
      // stack reads embeddings, not text, so its corpus pass is disjoint)
      val st = Lexical.bm25Stats(docs)
      val lex = Lexical.bm25TopK(st,
        docs.filter(col("doc_id") < 4).select(col("doc_id").as("qid"), col("text")),
        k = 20, k1 = 1.2, b = 0.75)
      val vectors = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
      val qs = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // k+1 then self-exclude and re-rank: the dense list must carry
      // within-list ranks 1..20 after the query row itself is dropped
      val dense = Similarity.bruteForceTopK(vectors, qs, k = 21, metric = "cosine")
        .filter(col("label") =!= col("qid"))
        .withColumnRenamed("rank", "rank0")
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("rank0"))).cast(LongType))
        .filter(col("rank") <= 20)
        .drop("rank0")
      Lexical.rrfFuse(Seq(lex, dense), k = 10)
        .select(col("qid"), col("rank"), col("label"),
          col("score").cast(LongType).as("score_e6"))
        .orderBy("qid", "rank")
    },
      s"""WITH $oracleBm25Ctes,
         |qd AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 4),
         |pairsd AS (SELECT qd.qid, e.vec_id AS label, qd.qv, e.embedding AS v
         |           FROM qd CROSS JOIN embeddings e WHERE e.vec_id <> qd.qid),
         |distsd AS (
         |  SELECT qid, label,
         |    SUM(CAST(qe AS DOUBLE) * CAST(ve AS DOUBLE)) /
         |      (SQRT(SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE))) *
         |       SQRT(SUM(CAST(ve AS DOUBLE) * CAST(ve AS DOUBLE)))) AS score
         |  FROM (SELECT qid, label, UNNEST(qv) AS qe, UNNEST(v) AS ve FROM pairsd)
         |  GROUP BY qid, label),
         |dense AS (SELECT qid, label,
         |          row_number() OVER (PARTITION BY qid ORDER BY score DESC, label) AS rank
         |          FROM distsd),
         |votes AS (SELECT qid, label, 1.0/(60 + rank) AS v FROM bm25 WHERE rank <= 20
         |          UNION ALL
         |          SELECT qid, label, 1.0/(60 + rank) FROM dense WHERE rank <= 20),
         |fs AS (SELECT qid, label,
         |       FLOOR(SUM(v) * 1000000.0 + 0.5) AS score FROM votes GROUP BY 1, 2),
         |fr AS (SELECT qid, label, score,
         |       row_number() OVER (PARTITION BY qid ORDER BY score DESC, label) AS rank
         |       FROM fs)
         |SELECT qid, rank, label, CAST(score AS BIGINT) AS score_e6
         |FROM fr WHERE rank <= 10
         |ORDER BY qid, rank""".stripMargin),

    // ---- end-to-end corpus filter: the stage composition a
    // pretraining-data run actually ships — language ID, length band,
    // lexical quality, span-level dedup — each doc tagged with its FIRST
    // failing stage (the order a real pipeline applies them: cheap and
    // high-yield first). All four signals are independently oracled
    // queries (text_langid, text_quality, dedup_spans); this query pins
    // their composition.

    QuerySpec("pipeline_filter", { (s, dir) =>
      filterVerdicts(Tables(s, dir, "documents")).orderBy("doc_id")
    }, {
      val dicts = TextAnalysis.stopwords.map { case (code, words) =>
        val arr = words.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_intersect(list_distinct(w), $arr)) AS $code"
      }.mkString(",\n  ")
      val gram8 = "i -> " + (0 until 8).map(o => s"w[i+$o]").mkString("||' '||")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |s AS (SELECT doc_id, DICTS FROM t),
         |lang AS (SELECT doc_id, CASE WHEN greatest(de,en,es,fr,zh) = 0 THEN 'und'
         |  WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
         |  WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
         |  WHEN es >= fr AND es >= zh THEN 'es'
         |  WHEN fr >= zh THEN 'fr' ELSE 'zh' END AS pred_lang FROM s),
         |qual AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(w)) AS DOUBLE)/CAST(len(w) AS DOUBLE) AS ttr FROM t),
         |spansf AS (SELECT doc_id, UNNEST(list_transform(range(1, len(w)-6), $gram8)) AS gram FROM t),
         |ddff AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM spansf GROUP BY gram),
         |dupf AS (SELECT s2.doc_id, COUNT(*) AS n_dup FROM spansf s2
         |         JOIN ddff ON s2.gram = ddff.gram WHERE ddff.df >= 2 GROUP BY 1),
         |lensf AS (SELECT doc_id, CAST(greatest(len(w)-7, 0) AS BIGINT) AS n_spans FROM t),
         |sp AS (SELECT l.doc_id, CASE WHEN l.n_spans > 0
         |       THEN (2 * COALESCE(d2.n_dup, 0) * 1000000 + l.n_spans)
         |            // (2 * l.n_spans) ELSE 0 END AS dup_frac_e6
         |       FROM lensf l LEFT JOIN dupf d2 ON l.doc_id = d2.doc_id)
         |SELECT lang.doc_id,
         |  CASE WHEN pred_lang = 'und' THEN 'lang'
         |       WHEN n_tokens < 16 OR n_tokens > 94 THEN 'length'
         |       WHEN ttr < 0.31 THEN 'quality'
         |       WHEN dup_frac_e6 > 500000 THEN 'span_dup'
         |       ELSE 'kept' END AS verdict
         |FROM lang JOIN qual ON lang.doc_id = qual.doc_id
         |JOIN sp ON lang.doc_id = sp.doc_id
         |ORDER BY lang.doc_id""".stripMargin.replace("DICTS", dicts)
    }),

    // the FULL pretraining-data composition, one query: filter (language/
    // length/quality/span-dedup) → exact dedup (keep the earliest copy)
    // → pack the survivors into 2048-token training sequences via the
    // distributed scan (q_pack_sequences_scan's skew-safe plan). Every
    // stage is an independently oracled query; this pins the composition
    // end to end — what a user actually ships.
    QuerySpec("pipeline_e2e", { (s, dir) =>
      val d = Tables(s, dir, "documents")
      // kept feeds TWO consumers (hash-dedup + final join): checkpoint the
      // tiny id set so the span-profile filter stage runs once, not twice
      // (the mmrTopK/bm25Stats checkpoint convention)
      val keptIds = filterVerdicts(d)
        .filter(col("verdict") === "kept").select("doc_id")
        .localCheckpoint(true)
      val kept = d.join(keptIds, "doc_id")
      val firstPerHash = kept
        .select(col("doc_id"), md5(col("text")).as("h"))
        .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      Scan.packSequences(kept.join(firstPerHash, "doc_id"), seqLen = 2048)
        .select("doc_id", "lang", "n_tokens", "pack_id", "pack_offset")
        .orderBy("doc_id")
    },
    // filter CTEs (same as pipeline_filter) + exact dedup keep-earliest +
    // per-lang window cumsum packing — the whole pipeline in one statement
    {
      val dicts = TextAnalysis.stopwords.map { case (code, words) =>
        val arr = words.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_intersect(list_distinct(w), $arr)) AS $code"
      }.mkString(",\n  ")
      val gram8 = "i -> " + (0 until 8).map(o => s"w[i+$o]").mkString("||' '||")
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |s AS (SELECT doc_id, DICTS FROM t),
         |lang AS (SELECT doc_id, CASE WHEN greatest(de,en,es,fr,zh) = 0 THEN 'und'
         |  WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
         |  WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
         |  WHEN es >= fr AND es >= zh THEN 'es'
         |  WHEN fr >= zh THEN 'fr' ELSE 'zh' END AS pred_lang FROM s),
         |qual AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(len(list_distinct(w)) AS DOUBLE)/CAST(len(w) AS DOUBLE) AS ttr FROM t),
         |spansf AS (SELECT doc_id, UNNEST(list_transform(range(1, len(w)-6), $gram8)) AS gram FROM t),
         |ddff AS (SELECT gram, COUNT(DISTINCT doc_id) AS df FROM spansf GROUP BY gram),
         |dupf AS (SELECT s2.doc_id, COUNT(*) AS n_dup FROM spansf s2
         |         JOIN ddff ON s2.gram = ddff.gram WHERE ddff.df >= 2 GROUP BY 1),
         |lensf AS (SELECT doc_id, CAST(greatest(len(w)-7, 0) AS BIGINT) AS n_spans FROM t),
         |sp AS (SELECT l.doc_id, CASE WHEN l.n_spans > 0
         |       THEN (2 * COALESCE(d2.n_dup, 0) * 1000000 + l.n_spans)
         |            // (2 * l.n_spans) ELSE 0 END AS dup_frac_e6
         |       FROM lensf l LEFT JOIN dupf d2 ON l.doc_id = d2.doc_id),
         |kept AS (SELECT lang.doc_id FROM lang
         |  JOIN qual ON lang.doc_id = qual.doc_id
         |  JOIN sp ON lang.doc_id = sp.doc_id
         |  WHERE pred_lang <> 'und' AND n_tokens >= 16 AND n_tokens <= 94
         |    AND ttr >= 0.31 AND dup_frac_e6 <= 500000),
         |dd AS (SELECT MIN(d.doc_id) AS doc_id FROM documents d
         |  JOIN kept ON d.doc_id = kept.doc_id GROUP BY md5(d.text)),
         |surv AS (SELECT d.doc_id, d.lang,
         |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents d JOIN dd ON d.doc_id = dd.doc_id)
         |SELECT doc_id, lang, n_tokens,
         |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS pack_id,
         |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS pack_offset
         |FROM (SELECT doc_id, lang, n_tokens,
         |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM surv)
         |ORDER BY doc_id""".stripMargin.replace("DICTS", dicts)
    }),

    // ---- text quality: corpus-self unigram LM score (CCNet stand-in) ----

    QuerySpec("text_unigram_lp", { (s, dir) =>
      TextAnalysis.unigramLogProb(Tables(s, dir, "documents")).orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, UNNEST(w) AS tok FROM t) GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len FROM t),
        |cnt AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM cnt),
        |m AS (SELECT tf.doc_id, MIN(lens.len) AS n_tokens,
        |      SUM(tf.tf * ln(CAST(cnt.cnt AS DOUBLE)/t2.total)) / MIN(lens.len) AS mlp
        |      FROM tf JOIN cnt ON tf.tok = cnt.tok
        |      JOIN lens ON tf.doc_id = lens.doc_id, tot t2 GROUP BY 1)
        |SELECT doc_id, n_tokens, ROUND(mlp, 6) AS mean_lp, ROUND(exp(-mlp), 6) AS ppl
        |FROM m ORDER BY doc_id""".stripMargin),

    // the per-source corpus report a curation run emits: docs, chars,
    // tokens, distinct-content count and the exact-duplicate rate, all
    // exact integer arithmetic over one scan + one md5 groupBy per source
    QuerySpec("q_corpus_report", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val base = docs.select(col("source"), col("n_chars"),
        size(split(col("text"), " ", -1)).cast(LongType).as("n_tokens"),
        md5(col("text")).as("h"))
      val perHash = base.groupBy(col("source"), col("h"))
        .agg(count(lit(1)).as("c"),
          first(col("n_chars")).as("nc0"), first(col("n_tokens")).as("nt0"))
      base.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("n_tokens")).as("sum_tokens"))
        .join(perHash.groupBy(col("source"))
          .agg(count(lit(1)).as("n_distinct"),
            sum(col("c") - 1).as("n_exact_dups")), "source")
        .select(col("source"), col("n_docs"), col("sum_chars"),
          col("sum_tokens"), col("n_distinct"), col("n_exact_dups"),
          e6Witness(col("n_exact_dups").cast(DoubleType) /
            col("n_docs").cast(DoubleType)).as("dup_rate_e6"))
        .orderBy("source")
    },
      """WITH b AS (SELECT source, n_chars,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    md5(text) AS h
        |  FROM documents),
        |ph AS (SELECT source, h, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
        |agg AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |    CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |  FROM b GROUP BY 1),
        |dd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_distinct,
        |    CAST(SUM(c - 1) AS BIGINT) AS n_exact_dups
        |  FROM ph GROUP BY 1)
        |SELECT agg.source, agg.n_docs, agg.sum_chars, agg.sum_tokens,
        |  dd.n_distinct, dd.n_exact_dups,
        |  CAST(FLOOR(CAST(dd.n_exact_dups AS DOUBLE) / CAST(agg.n_docs AS DOUBLE)
        |    * 1000000.0 + 0.5) AS BIGINT) AS dup_rate_e6
        |FROM agg JOIN dd ON agg.source = dd.source
        |ORDER BY agg.source""".stripMargin),

    // model-based quality filter (the CCNet/LLaMA-pipeline "quality
    // classifier" stage): logistic regression DISTILLING the rule-based
    // pipeline_filter verdicts from cheap per-doc features (length
    // parabola basis, TTR, language, span-dup, entropy — all existing
    // oracle-proven kernels), IRLS-trained on the even-doc_id half,
    // judged on the held-out odd half. Verdict-gated (training isn't
    // SQL-expressible): held-out accuracy ≥ 0.9 + the Newton loss
    // actually descended; n_eval pins the split arithmetic exactly
    QuerySpec("q_quality_model", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      // ONE feature pass: the rule-based labels (the filterVerdicts
      // thresholds verbatim) derive from the SAME frame's raw columns,
      // so the expensive span profile runs once, not twice; checkpointed
      // because train-collect, scoring, and the accuracy join all read it
      val labeled = Curation.qualityFeatures(docs)
        .withColumn("label",
          when(col("und") === 0.0 &&
            col("n_tokens") >= 16 && col("n_tokens") <= 94 &&
            col("ttr") >= 0.31 && col("dup_frac_e6") <= 500000L, 1.0)
            .otherwise(0.0))
        .localCheckpoint(true)
      val model = Curation.trainQualityFilter(
        labeled.filter(col("doc_id") % 2 === 0))
      val eval_ = labeled.filter(col("doc_id") % 2 === 1)
      val agg = Curation.scoreQualityModel(eval_.select(col("doc_id"), col("f")), model)
        .join(eval_.select(col("doc_id"), col("label")), "doc_id")
        .agg(count(lit(1)).as("n"),
          sum(when((col("score") >= 0.5) === (col("label") >= 0.5), 1L)
            .otherwise(0L)).as("ok")).head
      val nEval = agg.getLong(0)
      val acc = agg.getLong(1).toDouble / math.max(1L, nEval)
      val lossOk = model.lossTrace.last < model.lossTrace.head - 1e-9
      s.range(1).select(
        lit(nEval).as("n_eval"),
        lit(acc >= 0.9).as("acc_ok"),
        lit(lossOk).as("loss_ok"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
        |  CAST(TRUE AS BOOLEAN) AS acc_ok, CAST(TRUE AS BOOLEAN) AS loss_ok
        |FROM documents WHERE doc_id % 2 = 1""".stripMargin),

    // CCNet's head/middle/tail split (Wenzek 2020): per-language
    // perplexity terciles over the corpus-self unigram LM — the bucket
    // assignment a CCNet-style pipeline trains/filters on (head = most
    // fluent third). Exact arithmetic end-to-end: the per-doc ppl is the
    // 6-dp-rounded oracle-proven value, terciles are ntile(3) over the
    // deterministic (ppl, doc_id) order, and the per-bucket sum runs in
    // DECIMAL so accumulation order can't move the hash
    QuerySpec("q_ppl_buckets", { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, dir, "documents")
      val lp = TextAnalysis.unigramLogProb(docs).select(col("doc_id"), col("ppl"))
      val w = Window.partitionBy(col("lang")).orderBy(col("ppl"), col("doc_id"))
      docs.select(col("doc_id"), col("lang"))
        .join(lp, "doc_id")
        .withColumn("bucket", ntile(3).over(w).cast(LongType))
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ppl").cast(DecimalType(25, 6))).cast(DoubleType).as("sum_ppl"),
          min(col("ppl")).as("min_ppl"),
          max(col("ppl")).as("max_ppl"))
        .orderBy("lang", "bucket")
    },
    // same unigram-LM CTEs as text_unigram_lp; buckets over the SAME
    // 6-dp-rounded ppl, deterministic (ppl, doc_id) tercile order
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM (SELECT doc_id, UNNEST(w) AS tok FROM t) GROUP BY 1, 2),
        |lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len FROM t),
        |cnt AS (SELECT tok, SUM(tf) AS cnt FROM tf GROUP BY 1),
        |tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM cnt),
        |m AS (SELECT tf.doc_id,
        |      SUM(tf.tf * ln(CAST(cnt.cnt AS DOUBLE)/t2.total)) / MIN(lens.len) AS mlp
        |      FROM tf JOIN cnt ON tf.tok = cnt.tok
        |      JOIN lens ON tf.doc_id = lens.doc_id, tot t2 GROUP BY 1),
        |p AS (SELECT doc_id, ROUND(exp(-mlp), 6) AS ppl FROM m),
        |b AS (SELECT d.lang, p.doc_id, p.ppl,
        |      ntile(3) OVER (PARTITION BY d.lang ORDER BY p.ppl, p.doc_id) AS bucket
        |      FROM p JOIN documents d ON p.doc_id = d.doc_id)
        |SELECT lang, CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(ppl AS DECIMAL(25,6))) AS DOUBLE) AS sum_ppl,
        |  MIN(ppl) AS min_ppl, MAX(ppl) AS max_ppl
        |FROM b GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin),

    // code-point entropy quality filter: natural text sits in a narrow
    // band, base64/binary blobs run high, padding runs low; one compiled
    // narrow pass (per-doc histogram — no (doc, char) shuffle exists),
    // with the corpus-relative band verdict (within ±30% of the corpus
    // median entropy) a real filter would gate on
    QuerySpec("text_entropy", { (s, dir) =>
      // empty docs are excluded on BOTH sides: charEntropy('') is null
      // here while the oracle's UNNEST produces no rows for them — the
      // two formulations only agree by construction with the filter
      val docs = Tables(s, dir, "documents").filter(length(col("text")) > 0)
      // checkpoint: `ent` feeds both the median refinement passes and
      // the final projection — one entropy computation, not two
      val ent = docs.select(col("doc_id"),
        graft.functions.charEntropy(col("text")).as("ent"))
        .localCheckpoint(true)
      // exact DISCRETE median via the bounded-memory refinement
      // (an actual corpus entropy value = DuckDB quantile_disc) —
      // per-doc entropies are near-unique doubles, exactly the domain
      // where Spark's exact `percentile` buffers the whole corpus'
      // values on one task; an approx median could flip band verdicts
      // at the boundary, so approximate is not an option either
      val med = Scan.exactQuantilesByGroupDouble(
        ent.select(lit(0L).as("gg"), col("ent")), "gg", "ent", Seq(0.5))
        .select(col("value").as("med"))
      ent.crossJoin(broadcast(med))
        .select(col("doc_id"),
          e6Witness(col("ent")).as("entropy_e6"),
          (col("ent") >= col("med") * 0.7 && col("ent") <= col("med") * 1.3)
            .as("in_band"))
        .orderBy("doc_id")
    },
      """WITH ch AS (SELECT doc_id, UNNEST(string_split(text, '')) AS c
        |      FROM documents WHERE length(text) > 0),
        |f AS (SELECT doc_id, c, CAST(COUNT(*) AS DOUBLE) AS cnt FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, SUM(cnt) AS n FROM f GROUP BY 1),
        |e AS (SELECT f.doc_id, -SUM((f.cnt / n.n) * ln(f.cnt / n.n)) AS ent
        |      FROM f JOIN n ON f.doc_id = n.doc_id GROUP BY 1),
        |m AS (SELECT quantile_disc(ent, 0.5) AS med FROM e)
        |SELECT e.doc_id,
        |  CAST(FLOOR(e.ent * 1000000.0 + 0.5) AS BIGINT) AS entropy_e6,
        |  (e.ent >= m.med * 0.7 AND e.ent <= m.med * 1.3) AS in_band
        |FROM e, m ORDER BY e.doc_id""".stripMargin),

    // interpolated bigram LM quality score (KenLM-shaped): mean over the
    // doc's bigram positions of log(0.7·P(w2|w1) + 0.3·P(w2)), corpus-MLE
    // counts; docs with < 2 tokens have no positions and are omitted
    QuerySpec("text_bigram_lp", { (s, dir) =>
      TextAnalysis.bigramLogProb(Tables(s, dir, "documents")).orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
        |        FROM (SELECT UNNEST(w) AS tok FROM t) GROUP BY 1),
        |tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS total FROM uni),
        |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |       FROM t, LATERAL (SELECT UNNEST(range(1, len(w))) AS i)),
        |docbg AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS m
        |          FROM bg GROUP BY 1, 2, 3),
        |bgc AS (SELECT w1, w2, SUM(m) AS c2 FROM docbg GROUP BY 1, 2),
        |sc AS (SELECT d.doc_id, d.m,
        |       ln(0.7 * CAST(bgc.c2 AS DOUBLE) / u1.c1
        |          + 0.3 * CAST(u2.c1 AS DOUBLE) / t2.total) AS lp
        |       FROM docbg d
        |       JOIN bgc ON d.w1 = bgc.w1 AND d.w2 = bgc.w2
        |       JOIN uni u1 ON d.w1 = u1.tok
        |       JOIN uni u2 ON d.w2 = u2.tok, tot t2),
        |m AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
        |      SUM(m * lp) / SUM(m) AS mlp FROM sc GROUP BY 1)
        |SELECT doc_id, n_bigrams, ROUND(mlp, 6) AS mean_lp,
        |  ROUND(exp(-mlp), 6) AS ppl
        |FROM m ORDER BY doc_id""".stripMargin),

    // Kneser-Ney interpolated bigram LM (Chen & Goodman 1998 eq. 18) —
    // the continuation-count upgrade of text_bigram_lp; same four
    // combiner aggregations, all keyed on gram/token
    QuerySpec("text_kn_bigram", { (s, dir) =>
      TextAnalysis.knBigramLogProb(Tables(s, dir, "documents")).orderBy("doc_id")
    },
    // same positional-bigram CTEs as text_bigram_lp; KN continuation
    // counts are COUNT(*) over the bigram-TYPE table per side
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |bg AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        |       FROM t, LATERAL (SELECT UNNEST(range(1, len(w))) AS i)),
        |docbg AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS m
        |          FROM bg GROUP BY 1, 2, 3),
        |bgc AS (SELECT w1, w2, SUM(m) AS c2 FROM docbg GROUP BY 1, 2),
        |cv AS (SELECT w1, SUM(c2) AS cv, CAST(COUNT(*) AS BIGINT) AS n1f
        |       FROM bgc GROUP BY 1),
        |n1p AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p FROM bgc GROUP BY 1),
        |n1all AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n1all FROM bgc),
        |sc AS (SELECT d.doc_id, d.m,
        |       ln((GREATEST(CAST(bgc.c2 AS DOUBLE) - 0.75, 0.0)
        |           + 0.75 * cv.n1f * (CAST(n1p.n1p AS DOUBLE) / a.n1all))
        |          / CAST(cv.cv AS DOUBLE)) AS lp
        |       FROM docbg d
        |       JOIN bgc ON d.w1 = bgc.w1 AND d.w2 = bgc.w2
        |       JOIN cv ON d.w1 = cv.w1
        |       JOIN n1p ON d.w2 = n1p.w2, n1all a),
        |m AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_bigrams,
        |      SUM(m * lp) / SUM(m) AS mlp FROM sc GROUP BY 1)
        |SELECT doc_id, n_bigrams, ROUND(mlp, 6) AS mean_lp,
        |  ROUND(exp(-mlp), 6) AS ppl
        |FROM m ORDER BY doc_id""".stripMargin),

    // lexical-diversity quality signals: type-token ratio + hapax share
    // per doc — per-doc keyed aggregations only, scan-bound
    QuerySpec("text_lexical_diversity", { (s, dir) =>
      TextAnalysis.lexicalDiversity(Tables(s, dir, "documents")).orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(*) AS BIGINT) AS n_types,
        |  ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE), 6) AS ttr,
        |  ROUND(CAST(SUM(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(tf) AS DOUBLE), 6) AS hapax_ratio
        |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // Zipf-law OLS fit over the top-200 unigrams (rank by (count DESC,
    // term) — a total order): the corpus-shape QA scalar. Vocabulary
    // agg is the only corpus-sized stage; the fit runs on ≤200 rows
    QuerySpec("text_zipf_fit", { (s, dir) =>
      TextAnalysis.zipfFit(Tables(s, dir, "documents"), topN = 200)
    },
      """WITH c AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
        |    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |    GROUP BY 1 ORDER BY cnt DESC, tok LIMIT 200),
        |r AS (SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS DOUBLE)) AS x,
        |    ln(CAST(cnt AS DOUBLE)) AS y FROM c),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x*y) AS sxy, SUM(x*x) AS sxx FROM r)
        |SELECT n AS n_terms,
        |  ROUND((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
        |  ROUND((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6) AS intercept
        |FROM a""".stripMargin),

    // per-doc shingle novelty vs all EARLIER docs (min-owner df join —
    // the "what does this shard add?" streaming-curation signal)
    QuerySpec("text_novelty", { (s, dir) =>
      TextAnalysis.shingleNovelty(Tables(s, dir, "documents")).orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, UNNEST(list_distinct(list_transform(range(1, len(w)-1),
        |  i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s FROM t),
        |own AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
        |SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(SUM(CASE WHEN own.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |  ROUND(CAST(SUM(CASE WHEN own.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS novelty
        |FROM sh JOIN own ON sh.s = own.s GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // cross-source shingle-overlap matrix — Jaccard + both directed
    // containments per source pair, the "is this dump already inside
    // the curated set?" pre-mixing diagnostic. Per-shingle pair
    // expansion is bounded by the SOURCE count (collect_set over
    // sources, never documents), ratios as e6 integer witnesses
    QuerySpec("q_source_overlap", { (s, dir) =>
      Dedup.sourceOverlap(Tables(s, dir, "documents"), n = 3)
        .orderBy("src_a", "src_b")
    },
    // distinct (source, shingle) sets; the matrix joins the tiny
    // per-source size table to the pair intersections; e6 witnesses
    // quantize the three ratios identically on both engines
      """WITH t AS (SELECT source, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT DISTINCT source, s FROM (
        |  SELECT source, UNNEST(list_distinct(list_transform(range(1, len(w)-1),
        |    i -> w[i]||' '||w[i+1]||' '||w[i+2]))) AS s FROM t)),
        |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
        |iv AS (SELECT a.source AS src_a, b.source AS src_b,
        |         CAST(COUNT(*) AS BIGINT) AS inter
        |       FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT sa.source AS src_a, sb.source AS src_b,
        |  sa.n_sh AS n_a, sb.n_sh AS n_b,
        |  COALESCE(iv.inter, 0) AS inter,
        |  CAST(FLOOR(CAST(COALESCE(iv.inter, 0) AS DOUBLE) /
        |    CAST(sa.n_sh + sb.n_sh - COALESCE(iv.inter, 0) AS DOUBLE)
        |    * 1000000.0 + 0.5) AS BIGINT) AS jaccard_e6,
        |  CAST(FLOOR(CAST(COALESCE(iv.inter, 0) AS DOUBLE) /
        |    CAST(sa.n_sh AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS contain_a_e6,
        |  CAST(FLOOR(CAST(COALESCE(iv.inter, 0) AS DOUBLE) /
        |    CAST(sb.n_sh AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS contain_b_e6
        |FROM sz sa JOIN sz sb ON sa.source < sb.source
        |LEFT JOIN iv ON iv.src_a = sa.source AND iv.src_b = sb.source
        |ORDER BY 1, 2""".stripMargin),

    // Heaps'-law vocabulary-growth exponent along the ingest order —
    // first-owner df join + DISTRIBUTED prefix sums (no single-task
    // window over the doc spine) + one-row closed-form OLS
    QuerySpec("text_heaps_fit", { (s, dir) =>
      TextAnalysis.heapsFit(Tables(s, dir, "documents"))
    },
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |pt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM t GROUP BY 1),
        |dt AS (SELECT doc_id, tok FROM t GROUP BY 1, 2),
        |own AS (SELECT tok, MIN(doc_id) AS first_doc FROM dt GROUP BY 1),
        |pn AS (SELECT dt.doc_id,
        |    CAST(SUM(CASE WHEN own.first_doc = dt.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |  FROM dt JOIN own ON dt.tok = own.tok GROUP BY 1),
        |cumf AS (SELECT pt.doc_id,
        |    SUM(pt.n_tokens) OVER (ORDER BY pt.doc_id) AS cum_tokens,
        |    SUM(pn.n_new) OVER (ORDER BY pt.doc_id) AS cum_types
        |  FROM pt JOIN pn ON pt.doc_id = pn.doc_id),
        |r AS (SELECT
        |    CAST(ln(CAST(cum_tokens AS DOUBLE)) AS DECIMAL(28,14)) AS x,
        |    CAST(ln(CAST(cum_types AS DOUBLE)) AS DECIMAL(28,14)) AS y,
        |    CAST(ln(CAST(cum_tokens AS DOUBLE)) * ln(CAST(cum_types AS DOUBLE)) AS DECIMAL(28,14)) AS xy,
        |    CAST(ln(CAST(cum_tokens AS DOUBLE)) * ln(CAST(cum_tokens AS DOUBLE)) AS DECIMAL(28,14)) AS xx
        |  FROM cumf),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd, CAST(SUM(x) AS DOUBLE) AS sx,
        |    CAST(SUM(y) AS DOUBLE) AS sy, CAST(SUM(xy) AS DOUBLE) AS sxy,
        |    CAST(SUM(xx) AS DOUBLE) AS sxx FROM r)
        |SELECT nd AS n_docs,
        |  ROUND((CAST(nd AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(nd AS DOUBLE) * sxx - sx * sx), 6) AS beta,
        |  ROUND((sy - (CAST(nd AS DOUBLE) * sxy - sx * sy)
        |    / (CAST(nd AS DOUBLE) * sxx - sx * sx) * sx) / CAST(nd AS DOUBLE), 6) AS ln_k
        |FROM a""".stripMargin),

    // corpus information rate: bigram entropy, first-word marginal,
    // and the conditional H(w2|w1) — templated/looping feeds read low
    // independent of vocabulary size
    QuerySpec("text_entropy_rate", { (s, dir) =>
      TextAnalysis.entropyRate(Tables(s, dir, "documents"))
    },
    // entropy terms decimal-quantized per element (the heaps pattern);
    // trailing + 0.0 normalizes signed zeros on degenerate
    // single-type distributions
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
        |bg AS (SELECT w[i] AS w1, w[i+1] AS w2
        |    FROM t, LATERAL (SELECT UNNEST(range(1, len(w))) AS i)),
        |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2),
        |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c2),
        |h2 AS (SELECT CAST(SUM(CAST(-(CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |    * ln(CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE)) AS DECIMAL(28,14))) AS DOUBLE) AS h
        |  FROM c2, n),
        |c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c FROM c2 GROUP BY 1),
        |h1 AS (SELECT CAST(SUM(CAST(-(CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE))
        |    * ln(CAST(c AS DOUBLE) / CAST(n.n AS DOUBLE)) AS DECIMAL(28,14))) AS DOUBLE) AS h
        |  FROM c1, n)
        |SELECT n.n AS n_bigrams,
        |  ROUND(h2.h, 6) + 0.0 AS h_bigram,
        |  ROUND(h1.h, 6) + 0.0 AS h_marginal,
        |  ROUND(h2.h - h1.h, 6) + 0.0 AS h_cond
        |FROM n, h2, h1""".stripMargin),

    // DSIR hashed-unigram importance weights (Xie et al. 2023): broadcast
    // bucket models onto the token stream, decimal-exact per-doc sums
    QuerySpec("q_dsir_weights", { (s, dir) =>
      Curation.dsirWeights(Tables(s, dir, "documents"), targetLang = "en",
          buckets = 512)
        .orderBy("doc_id")
    },
      """WITH t AS (SELECT doc_id, lang, string_split(text,' ') AS w FROM documents),
        |tk AS (SELECT doc_id, lang,
        |  ('0x' || substr(md5(tok), 1, 6))::BIGINT % 512 AS b
        |  FROM (SELECT doc_id, lang, UNNEST(w) AS tok FROM t)),
        |db AS (SELECT doc_id, lang, b, CAST(COUNT(*) AS BIGINT) AS m
        |       FROM tk GROUP BY 1, 2, 3),
        |raw AS (SELECT b, SUM(m) AS cs FROM db GROUP BY 1),
        |tgt AS (SELECT b, SUM(m) AS ct FROM db WHERE lang = 'en' GROUP BY 1),
        |tot AS (SELECT (SELECT SUM(cs) FROM raw) AS ns,
        |               (SELECT SUM(ct) FROM tgt) AS nt),
        |model AS (SELECT raw.b,
        |  CAST(FLOOR(ln((CAST(COALESCE(tgt.ct, 0) + 1 AS DOUBLE) / (tot.nt + 512))
        |              / (CAST(raw.cs + 1 AS DOUBLE) / (tot.ns + 512)))
        |    * 1000000000000.0 + 0.5) AS BIGINT) AS lr_e12
        |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot),
        |sc AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
        |       SUM(CAST(m AS HUGEINT) * lr_e12) AS slr
        |       FROM db JOIN model ON db.b = model.b GROUP BY 1)
        |SELECT doc_id, n_tokens,
        |  CAST(FLOOR(CAST(slr AS DOUBLE) / n_tokens / 1000000.0 + 0.5) AS BIGINT)
        |    AS mean_lr_e6,
        |  CAST(FLOOR(exp(CAST(slr AS DOUBLE) / n_tokens / 1000000000000.0)
        |    * 1000000.0 + 0.5) AS BIGINT) AS weight_e6
        |FROM sc ORDER BY doc_id""".stripMargin),

    // ---- text analysis: quality, language ID, fingerprint ----

    QuerySpec("text_quality", { (s, dir) =>
      TextAnalysis.quality(Tables(s, dir, "documents")).orderBy("doc_id")
    },
      """SELECT doc_id,
        |  len(string_split(text,' ')) AS n_tokens,
        |  len(list_distinct(string_split(text,' '))) AS n_distinct,
        |  length(text) AS n_chars,
        |  CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) /
        |    CAST(len(string_split(text,' ')) AS DOUBLE) AS type_token_ratio,
        |  CAST(length(text) - (len(string_split(text,' ')) - 1) AS DOUBLE) /
        |    CAST(len(string_split(text,' ')) AS DOUBLE) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin),

    QuerySpec("text_langid", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")
    }, {
      val dicts = TextAnalysis.stopwords.map { case (code, words) =>
        val arr = words.map(w => s"'$w'").mkString("[", ",", "]")
        s"len(list_intersect(list_distinct(string_split(text,' ')), $arr)) AS $code"
      }.mkString(",\n  ")
      """WITH s AS (SELECT doc_id,
        |  DICTS
        |FROM documents)
        |SELECT doc_id, CASE WHEN greatest(de,en,es,fr,zh) = 0 THEN 'und'
        |  WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
        |  WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
        |  WHEN es >= fr AND es >= zh THEN 'es'
        |  WHEN fr >= zh THEN 'fr' ELSE 'zh' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin.replace("DICTS", dicts)
    }),

    QuerySpec("text_fingerprint", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text,' '))), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),

    // BPE-style pre-tokenization count (unicode letter/number boundaries)
    QuerySpec("text_bpe_tokens", { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.bpeishTokenCount(col("text")).cast(LongType).as("n_bpe_tokens"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '[^\p{L}\p{N}]+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_bpe_tokens
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // REAL corpus-trained BPE (Sennrich 2016): merge table trained on the
    // corpus's own word histogram (bounded, deterministic tie order),
    // applied as a narrow compiled pass. Token COUNTS have no closed SQL
    // form, so the oracle is the seeded-ANN pattern: it reproduces the
    // SQL-expressible pre-token count exactly and asserts the machine-
    // checked invariants the Spark side computes for real —
    //  roundtrip_ok: concat(bpe tokens) == concat(pre-tokens) per doc
    //    (segmentation is exact, tokens never cross a pre-token boundary);
    //  bounds_ok: n_pretok <= n_bpe_tokens <= total pre-token chars
    //    (each pre-token is >= 1 token; each token is >= 1 char);
    //  compressed: Σ n_bpe_tokens < Σ chars globally (training actually
    //    found repeating pairs — a no-op tokenizer fails this).
    // Gopher repetition filters (Rae 2021): fraction of document chars in
    // the most frequent 2/3/4-gram — per-doc narrow compiled pass, ties
    // to the lexicographically smallest gram, short docs report ("", 0)
    QuerySpec("text_repetition", { (s, dir) =>
      TextAnalysis.repetition(Tables(s, dir, "documents"))
        .orderBy("doc_id")
    }, {
      def gramExpr(n: Int) = (0 until n).map(o => s"w[i+$o]").mkString("||' '||")
      def ctes(n: Int) =
        s"""g$n AS (SELECT doc_id,
           |  UNNEST(list_transform(range(1, len(w) - ${n - 2}), i -> ${gramExpr(n)})) AS g FROM t),
           |c$n AS (SELECT doc_id, g, COUNT(*) AS c FROM g$n GROUP BY 1, 2),
           |b$n AS (SELECT doc_id, g, c FROM (SELECT doc_id, g, c,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
           |  FROM c$n) WHERE rn = 1)""".stripMargin
      def cols(n: Int) =
        s"""COALESCE(b$n.g, '') AS top${n}_gram,
           |  ROUND(COALESCE(b$n.c * length(b$n.g) / CAST(t.nc AS DOUBLE), 0.0), 6) AS top${n}_frac""".stripMargin
      s"""WITH t AS (SELECT doc_id, length(text) AS nc, string_split(text, ' ') AS w
         |  FROM documents),
         |${ctes(2)},
         |${ctes(3)},
         |${ctes(4)}
         |SELECT t.doc_id, ${cols(2)}, ${cols(3)}, ${cols(4)}
         |FROM t
         |LEFT JOIN b2 ON t.doc_id = b2.doc_id
         |LEFT JOIN b3 ON t.doc_id = b3.doc_id
         |LEFT JOIN b4 ON t.doc_id = b4.doc_id
         |ORDER BY t.doc_id""".stripMargin
    }),

    QuerySpec("text_bpe_real", { (s, dir) =>
      val docs = Tables(s, dir, "documents")
      val merges = TextAnalysis.trainBpe(docs, numMerges = 200)
      val perDoc = docs
        .select(col("doc_id"),
          graft.functions.bpeEncode(col("text"), merges).as("t"),
          TextAnalysis.pretokens(col("text")).as("p"))
        .select(col("doc_id"),
          size(col("p")).cast(LongType).as("n_pretok"),
          size(col("t")).cast(LongType).as("n_bpe"),
          length(concat_ws("", col("p"))).cast(LongType).as("n_chars"),
          (concat_ws("", col("t")) === concat_ws("", col("p"))).as("roundtrip_ok"))
        .localCheckpoint(true)
      val totals = perDoc
        .agg((sum(col("n_bpe")) < sum(col("n_chars"))).as("compressed"))
      perDoc.crossJoin(broadcast(totals))
        .select(col("doc_id"), col("n_pretok"), col("roundtrip_ok"),
          (col("n_bpe") >= col("n_pretok") && col("n_bpe") <= col("n_chars"))
            .as("bounds_ok"),
          col("compressed"))
        .orderBy("doc_id")
    },
    // verdict-pattern oracle (cf. q_heavy_hitters): n_pretok is exact
    // SQL; the BPE-specific columns are invariants the Spark side
    // computes for real and the oracle asserts
      """WITH p AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(text, '[^\p{L}\p{N}]+'),
        |    x -> len(x) > 0) AS p
        |  FROM documents)
        |SELECT doc_id, CAST(len(p) AS BIGINT) AS n_pretok,
        |  TRUE AS roundtrip_ok, TRUE AS bounds_ok, TRUE AS compressed
        |FROM p
        |ORDER BY doc_id""".stripMargin),

    // corpus-level n-gram document frequency, top 30 — global top-k via
    // TakeOrderedAndProject (per-partition heap + k-row merge, no full sort)
    QuerySpec("q_top_ngrams", { (s, dir) =>
      Dedup.explodedShingles(Tables(s, dir, "documents"))
        .groupBy(col("s").as("shingle"))
        .agg(count(lit(1)).as("df"))
        .orderBy(desc("df"), col("shingle"))
        .limit(30)
    },
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
        |  i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS shingles FROM t),
        |ex AS (SELECT doc_id, UNNEST(shingles) AS s FROM sh)
        |SELECT s AS shingle, COUNT(*) AS df FROM ex
        |GROUP BY s
        |ORDER BY df DESC, shingle
        |LIMIT 30""".stripMargin),

    // text scrubbing: numeric-literal masking (PII-style cleanup pass);
    // compact output — digest + length, not the scrubbed text itself
    QuerySpec("q_text_scrub", { (s, dir) =>
      val scrubbed = regexp_replace(col("text"), "[0-9]+", "<NUM>")
      Tables(s, dir, "documents")
        .select(col("doc_id"), md5(scrubbed).as("scrub_md5"),
          length(scrubbed).cast(LongType).as("scrub_len"))
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        |  md5(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS scrub_md5,
        |  CAST(length(regexp_replace(text, '[0-9]+', '<NUM>', 'g')) AS BIGINT) AS scrub_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin),

    // α-power source-mixture resampling (GPT-3 appendix A style): small
    // sources upweighted via w_s ∝ n_s^0.7, per-source keep rates applied
    // as deterministic md5 thresholds — no RNG, so the sample is
    // reproducible across runs, partitionings, and engines. Plan: two
    // tiny aggs + a broadcast rate join + a narrow filter; zero corpus
    // shuffle.
    QuerySpec("q_mixture_sample", { (s, dir) =>
      Curation.mixtureSample(Tables(s, dir, "documents"),
        alpha = 0.7, targetTotal = 250)
        .orderBy("doc_id")
    },
      """WITH cnt AS (
        |  SELECT source, CAST(COUNT(*) AS DOUBLE) AS n_src
        |  FROM documents GROUP BY source),
        |z AS (SELECT SUM(pow(n_src, 0.7)) AS z FROM cnt),
        |rates AS (
        |  SELECT source,
        |    LEAST(1.0, FLOOR(250.0 * pow(n_src, 0.7) / z.z / n_src
        |      * 1000000.0 + 0.5) / 1000000.0) AS rate
        |  FROM cnt CROSS JOIN z)
        |SELECT d.doc_id, d.source,
        |  CAST(FLOOR(r.rate * 1000000.0 + 0.5) AS BIGINT) AS rate_e6
        |FROM documents d JOIN rates r ON d.source = r.source
        |WHERE r.rate >= 1.0
        |   OR substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8)
        |      < lpad(lower(to_hex(CAST(ceil(r.rate * 4294967296.0) AS BIGINT))), 8, '0')
        |ORDER BY doc_id""".stripMargin),

    // per-domain cap: ≤ 8 docs per source by hash priority, selected with
    // the mergeable bounded topK aggregate — the skew-safe formulation of
    // q_sample_stratified's window (a 10⁹-page domain ships `cap` rows
    // per partition, not its whole history to one task)
    QuerySpec("q_domain_cap", { (s, dir) =>
      Curation.domainCap(Tables(s, dir, "documents"), cap = 8)
        .orderBy("source", "rank")
    },
      """SELECT source, CAST(rank AS BIGINT) AS rank, doc_id FROM (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 12),
        |        doc_id) AS rank
        |  FROM documents)
        |WHERE rank <= 8
        |ORDER BY source, rank""".stripMargin),

    // C4/Lee-style corpus-wide boilerplate line filter: lines occurring
    // in > 5 distinct docs are dropped everywhere; per-doc retention
    // counts. Line-df agg is combiner-friendly; the join back has a
    // unique df side — no pair expansion at any corpus frequency.
    QuerySpec("text_line_df_filter", { (s, dir) =>
      Curation.lineDfFilter(Tables(s, dir, "documents"), maxDf = 5,
        lineTokens = 5)
        .orderBy("doc_id")
    },
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |lines AS (
        |  SELECT doc_id,
        |    array_to_string(list_slice(w, i * 5 + 1, i * 5 + 5), ' ') AS line
        |  FROM toks, UNNEST(range(0, (len(w) - 1) // 5 + 1)) AS t(i)),
        |ldf AS (
        |  SELECT line, COUNT(DISTINCT doc_id) AS line_df FROM lines GROUP BY line)
        |SELECT l.doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN d.line_df <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN d.line_df <= 5 THEN length(l.line) ELSE 0 END) AS BIGINT) AS chars_kept
        |FROM lines l JOIN ldf d ON l.line = d.line
        |GROUP BY l.doc_id
        |ORDER BY doc_id""".stripMargin),

    // top-k PMI collocations (Church & Hanks 1990) with a support floor
    // — the multi-word units a tokenizer vocabulary should keep whole
    QuerySpec("text_pmi_collocations", { (s, dir) =>
      TextAnalysis.pmiCollocations(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")),
        minCount = 5, k = 20)
        .orderBy("rank")
    },
      """WITH t AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c1
        |        FROM (SELECT UNNEST(w) AS tok FROM t) GROUP BY 1),
        |n1 AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n1 FROM uni),
        |n2 AS (SELECT CAST(SUM(GREATEST(len(w) - 1, 0)) AS DOUBLE) AS n2 FROM t),
        |bg AS (SELECT w[i] AS w1, w[i+1] AS w2
        |       FROM t, LATERAL (SELECT UNNEST(range(1, len(w))) AS i)),
        |bgc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg
        |        GROUP BY 1, 2 HAVING count(*) >= 5),
        |sc AS (SELECT bgc.w1, bgc.w2, bgc.c2,
        |  ROUND(ln((bgc.c2 / n2.n2)
        |    / ((u1.c1 / n1.n1) * (u2.c1 / n1.n1))), 6) AS pmi
        |  FROM bgc JOIN uni u1 ON bgc.w1 = u1.tok
        |  JOIN uni u2 ON bgc.w2 = u2.tok, n1, n2),
        |r AS (SELECT row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank,
        |      w1, w2, c2, pmi FROM sc)
        |SELECT CAST(rank AS BIGINT) AS rank, w1, w2, c2, pmi
        |FROM r WHERE rank <= 20 ORDER BY rank""".stripMargin)
  )
}
