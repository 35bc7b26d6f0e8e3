package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines: token stats,
  * quality scoring, dictionary-based language ID, canonical fingerprints.
  * All narrow (per-row) transforms — no shuffle, fully codegen'd, and
  * deterministic so the DuckDB oracle hash-matches.
  */
object TextAnalysis {

  /** Small stopword dictionaries for the heuristic language scorer.
    * Scores are counts of DISTINCT token hits, so both engines agree
    * regardless of evaluation order.
    */
  val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "es" -> Seq("el", "los", "las", "y", "es", "que", "de", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "que", "un", "une"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "不", "人"))

  private def toks(text: Column): Column = Dedup.tokens(text)

  /** Overlapping token-window chunking — the RAG/pretraining document
    * splitter: chunk c covers tokens [c·stride, c·stride + window), the
    * final chunk may be shorter, and a doc shorter than one window yields
    * exactly one chunk. One narrow pass (tokenize → explode chunk starts →
    * slice) — no shuffle; at 100 TB this is scan-bound, exactly as a
    * chunker should be. Output: (doc_id, chunk_id, start_tok, n_tok,
    * chunk_md5) — the digest stands in for the chunk payload so the
    * result stays scalar-typed for the oracle compare.
    */
  def chunkDocs(docs: DataFrame, window: Int, stride: Int): DataFrame = {
    require(window >= 1 && stride >= 1, s"window/stride must be >= 1")
    Dedup.spread(docs)
      .select(col("doc_id"), toks(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).as("n"))
      .select(col("doc_id"), col("w"),
        explode(expr(s"sequence(0L, cast((n - 1) / $stride as long))")).as("c"))
      .select(col("doc_id"), col("c").as("chunk_id"),
        (col("c") * stride).as("start_tok"),
        concat_ws(" ", slice(col("w"), (col("c") * stride + 1).cast(IntegerType),
          lit(window))).as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("start_tok"),
        size(split(col("chunk"), " ", -1)).cast(LongType).as("n_tok"),
        md5(col("chunk")).as("chunk_md5"))
  }

  /** Distinct-token hits against one dictionary. */
  def langScore(text: Column, words: Seq[String]): Column =
    size(array_intersect(array_distinct(toks(text)), array(words.map(lit): _*)))

  /** Predicted language: argmax score, ties to the lexicographically
    * smaller code, "und" (undetermined) when every score is 0.
    */
  def langId(text: Column): Column = {
    val scored = stopwords.map { case (code, words) => (code, langScore(text, words)) }
    // fold in (score desc, code asc) preference order: later candidates win
    // only on strictly greater score.
    val (bestCode, bestScore) = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((accCode, accScore), (code, score)) =>
        (when(score > accScore, lit(code)).otherwise(accCode),
          when(score > accScore, score).otherwise(accScore))
    }
    when(bestScore > 0, bestCode).otherwise(lit("und"))
  }

  /** Per-doc quality metrics. All ratios are exact-integer divisions →
    * bit-identical doubles in any engine.
    */
  def quality(docs: DataFrame): DataFrame = qualityWith(docs)

  /** [[quality]] with `extra` columns of `docs` computed in the same
    * projection, after the counts.
    */
  private[ops] def qualityWith(docs: DataFrame, extra: Column*): DataFrame = {
    val w = toks(col("text"))
    docs.select(Seq(
      col("doc_id"),
      size(w).cast(LongType).as("n_tokens"),
      size(array_distinct(w)).cast(LongType).as("n_distinct"),
      length(col("text")).cast(LongType).as("n_chars")) ++ extra: _*)
      .withColumn("type_token_ratio",
        col("n_distinct").cast(DoubleType) / col("n_tokens").cast(DoubleType))
      .withColumn("avg_token_len",
        (col("n_chars") - (col("n_tokens") - 1)).cast(DoubleType) /
          col("n_tokens").cast(DoubleType))
  }

  /** CCNet-style unigram language-model quality score: the corpus's own
    * unigram MLE distribution scores each document's mean token log-prob
    * (and its exp, the per-token perplexity). Rare-token-heavy documents
    * (garbled text, boilerplate IDs) score low-probability / high-ppl and
    * get filtered; the real CCNet uses a pretrained KenLM — the unigram
    * self-model is the engine-side stand-in with identical plumbing (one
    * token-frequency aggregation, one join, one per-doc aggregate — all
    * combiner-friendly, keyed on the token).
    *
    * Output: (doc_id, n_tokens, mean_lp[round 6], ppl[round 6]).
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
    val tf = toks.select(col("doc_id"), size(col("w")).cast(LongType).as("len"),
        explode(col("w")).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), first(col("len")).as("len"))
    val cnt = tf.groupBy(col("tok")).agg(sum(col("tf")).as("cnt"))
    val total = cnt.agg(sum(col("cnt")).cast(DoubleType).as("total"))
    val mean = tf.join(cnt, "tok").crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(first(col("len")).as("n_tokens"),
        (sum(col("tf") * log(col("cnt").cast(DoubleType) / col("total"))) /
          first(col("len"))).as("mlp"))
    mean.select(col("doc_id"), col("n_tokens"),
      round(col("mlp"), 6).as("mean_lp"),
      round(exp(-col("mlp")), 6).as("ppl"))
  }

  /** Interpolated bigram language-model quality score — the KenLM-shaped
    * upgrade of [[unigramLogProb]]: each in-document bigram (w₁,w₂)
    * contributes `log(λ·P(w₂|w₁) + (1−λ)·P(w₂))` with corpus-MLE
    * estimates `P(w₂|w₁) = c₂(w₁,w₂)/c₁(w₁)`, `P(w₂) = c₁(w₂)/total`,
    * and the document score is the mean over its `len−1` bigram
    * positions. The unigram backoff makes every observed bigram's
    * probability strictly positive, so the log is total; documents with
    * fewer than two tokens have no bigram positions and are omitted
    * (n_bigrams would be 0 — there is nothing to average).
    *
    * Plumbing is the inverted-index shape throughout: positional bigrams
    * come from the compiled [[graft.functions.wordShingles]] kernel
    * (n=2, distinct=false — one narrow pass, no per-position explode of
    * token structs), and both count tables are single combiner-friendly
    * shuffles keyed on the gram/token. The token frame is eagerly
    * checkpointed ([[Lexical.bm25Stats]] pattern): it fans out to the
    * unigram and bigram sub-plans, and without the checkpoint
    * tokenization would run twice per call.
    *
    * Output: (doc_id, n_bigrams, mean_lp[round 6], ppl[round 6]).
    */
  def bigramLogProb(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    val toks = Dedup.spread(docs)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
      .localCheckpoint(true)
    val uni = toks.select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val total = uni.agg(sum(col("c1")).cast(DoubleType).as("total"))
    // per-(doc, bigram) multiplicity first (the unigram tf shape): each
    // distinct in-doc bigram is scored once and weighted by its count,
    // and the global bigram table is a combiner rollup of the same frame
    val docBg = toks.select(col("doc_id"),
        explode(graft.functions.wordShingles(col("w"), 2, distinct = false)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val bgCnt = docBg.groupBy(col("bg")).agg(sum(col("m")).as("c2"))
    val scored = docBg.join(bgCnt, "bg")
      .select(col("doc_id"), col("m"),
        substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"),
        col("c2"))
      .join(uni.select(col("tok").as("w1"), col("c1").as("c1w1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c1").as("c1w2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("m"),
        log(lit(lambda) * col("c2").cast(DoubleType) / col("c1w1") +
          lit(1.0 - lambda) * col("c1w2").cast(DoubleType) / col("total")).as("lp"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        round(sum(col("m") * col("lp")) / sum(col("m")), 6).as("mean_lp"),
        round(exp(-sum(col("m") * col("lp")) / sum(col("m"))), 6).as("ppl"))
  }

  /** Interpolated Kneser–Ney bigram log-probability (Kneser & Ney 1995;
    * Chen & Goodman 1998 eq. 18 — the modified-backoff workhorse behind
    * KenLM-style corpus LMs). Each in-document bigram (v,w) scores
    *
    *   P(w|v) = (max(c(vw) − D, 0) + D · N₁₊(v·) · P_cont(w)) / c(v·)
    *   P_cont(w) = N₁₊(·w) / N₁₊(··)
    *
    * with absolute discount `D` and continuation counts N₁₊ = number of
    * distinct bigram TYPES (left-extensions of w / right-extensions of v
    * / total). Unlike the MLE+interpolation of [[bigramLogProb]], the
    * continuation distribution ranks a word by how many contexts it
    * follows — the property that makes KN the default corpus-quality LM.
    * Every observed bigram's probability is strictly positive (the
    * D·N₁₊(v·)·P_cont(w) mass is > 0 whenever c(v·) > 0), so the log is
    * total; docs with < 2 tokens have no bigram positions and are
    * omitted.
    *
    * Scale shape: identical to [[bigramLogProb]] — one compiled
    * [[graft.functions.wordShingles]] pass for positional bigrams, then
    * four combiner-friendly aggregations (doc-bigram tf, bigram types,
    * left/right continuation counts), all keyed on gram/token; the
    * N₁₊(··) scalar broadcasts. No per-doc state beyond the final
    * groupBy.
    *
    * Output: (doc_id, n_bigrams, mean_lp[6 dp], ppl[6 dp]).
    */
  def knBigramLogProb(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    val toks = Dedup.spread(docs)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
      .localCheckpoint(true)
    val docBg = toks.select(col("doc_id"),
        explode(graft.functions.wordShingles(col("w"), 2, distinct = false)).as("bg"))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("m"))
      .localCheckpoint(true) // fans into the global count AND per-doc scoring
    val bgCnt = docBg.groupBy(col("bg")).agg(sum(col("m")).as("c2"))
      .select(col("bg"), col("c2"),
        substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .localCheckpoint(true) // fans into cv/n1f/n1p/n1all
    val cv = bgCnt.groupBy(col("w1")).agg(sum(col("c2")).as("cv"),
      count(lit(1)).as("n1f")) // c(v·) and N1+(v·) in one pass
    val n1p = bgCnt.groupBy(col("w2")).agg(count(lit(1)).as("n1p"))
    val n1all = bgCnt.agg(count(lit(1)).cast(DoubleType).as("n1all"))
    val scored = docBg
      .select(col("doc_id"), col("m"), col("bg"))
      .join(bgCnt.select(col("bg"), col("c2"), col("w1"), col("w2")), "bg")
      .join(cv, "w1").join(n1p, "w2")
      .crossJoin(broadcast(n1all))
      .select(col("doc_id"), col("m"),
        log((greatest(col("c2").cast(DoubleType) - lit(discount), lit(0.0)) +
          lit(discount) * col("n1f") * (col("n1p") / col("n1all"))) /
          col("cv").cast(DoubleType)).as("lp"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_bigrams"),
        round(sum(col("m") * col("lp")) / sum(col("m")), 6).as("mean_lp"),
        round(exp(-sum(col("m") * col("lp")) / sum(col("m"))), 6).as("ppl"))
  }

  /** Top-k collocations by pointwise mutual information (Church & Hanks
    * 1990): adjacent token pairs whose joint probability beats the
    * independence prediction,
    *
    *   PMI(w₁,w₂) = ln( (c₂(w₁w₂)/N₂) / ((c₁(w₁)/N₁)·(c₁(w₂)/N₁)) ),
    *
    * with a `minCount` support floor (PMI's classic failure mode is
    * hapax pairs — two tokens that co-occur once score arbitrarily
    * high). The curation use: collocations are the multi-word units a
    * tokenizer/vocab builder should keep whole.
    *
    * Scale shape: one compiled bigram pass, two combiner-friendly count
    * aggregations, two scalar totals broadcast; the support floor
    * prunes BEFORE the unigram joins. Top-k is a global
    * TakeOrdered(k) on (pmi desc, w1, w2) over 6-dp-rounded PMI —
    * deterministic cutoff, no full sort.
    *
    * Output: (rank, w1, w2, c2, pmi[6 dp]).
    */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5,
                      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toksF = Dedup.spread(docs)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
      .localCheckpoint(true) // fans into unigram, bigram AND N2 passes
    val uni = toksF.select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val n1 = uni.agg(sum(col("c1")).cast(DoubleType).as("n1"))
    val n2 = toksF
      .select(greatest(size(col("w")) - 1, lit(0)).cast(LongType).as("nb"))
      .agg(sum(col("nb")).cast(DoubleType).as("n2"))
    val bg = toksF
      .select(explode(graft.functions.wordShingles(col("w"), 2,
        distinct = false)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
      .filter(col("c2") >= minCount)
      .select(col("bg"), col("c2"),
        substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
    val scored = bg
      .join(uni.select(col("tok").as("w1"), col("c1").as("c1a")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c1").as("c1b")), "w2")
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c2"),
        round(log((col("c2") / col("n2")) /
          ((col("c1a") / col("n1")) * (col("c1b") / col("n1")))), 6).as("pmi"))
    scored.orderBy(col("pmi").desc, col("w1"), col("w2")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pmi").desc, col("w1"), col("w2"))))
      .select(col("rank").cast(LongType), col("w1"), col("w2"),
        col("c2"), col("pmi"))
  }

  /** Per-document corpus-duplication fraction — the RefinedWeb/Gopher
    * "duplicated n-gram share" signal: of a doc's DISTINCT word
    * 3-shingles, what fraction also occurs in at least one OTHER doc?
    * High values mark boilerplate-heavy or near-duplicate content that
    * per-PAIR dedup only catches when both endpoints survive banding —
    * this is the per-DOC marginal of the same evidence, used as a
    * filter feature rather than a join.
    *
    * Scale shape: one shingle pass (compiled kernel, distinct per doc),
    * one combiner-friendly df aggregation, one join back keyed on the
    * shingle (df side is unique per key — no pair expansion, the
    * [[graft.ops.Curation.lineDfFilter]] bound), one per-doc rollup.
    * A boilerplate shingle in 10⁹ docs contributes one row per
    * occurrence, never a pair.
    *
    * Output: (doc_id, n_shingles, n_dup, dup_frac_e6 — the pure-integer
    * 6-dp round-half-up witness, r16); docs with < 3 tokens have no
    * shingles and are omitted.
    */
  def dupShingleFraction(docs: DataFrame): DataFrame = {
    val sh = Dedup.spread(docs)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        explode(graft.functions.wordShingles(col("w"), 3, distinct = true)).as("s"))
      .localCheckpoint(true) // fans into df AND the join back
    val df = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    sh.join(df, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, lit(1L)).otherwise(lit(0L))).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        expr("(2 * n_dup * 1000000 + n_shingles) div (2 * n_shingles)")
          .as("dup_frac_e6"))
  }

  /** Lexical-diversity profile per document — the quality signals a
    * curation pipeline thresholds on BEFORE any model sees the text:
    * type-token ratio (low TTR = TEMPLATED/repetitive text) and the
    * hapax-legomenon share (high hapax on long docs = noisy OCR / ID
    * dumps; near-zero = boilerplate). Two aggregations over the
    * per-doc term-frequency frame — per-doc keyed, never corpus-wide
    * state, so the shape is scan-bound at any corpus size.
    *
    * Output: (doc_id, n_tokens, n_types, ttr[6 dp], hapax_ratio[6 dp]).
    */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    val tf = Dedup.spread(docs)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("tf") === 1L, lit(1L)).otherwise(lit(0L))).as("n_hapax"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 6).as("ttr"),
        round(col("n_hapax").cast(DoubleType) /
          col("n_tokens").cast(DoubleType), 6).as("hapax_ratio"))
  }

  /** Zipf-law fit over the corpus unigram distribution: OLS slope of
    * ln(count) against ln(rank) on the TOP-`topN` terms (rank by
    * (count DESC, term) — a total order, so both engines rank
    * identically). Natural text sits near slope −1; a corpus drifting
    * toward −0.5 (flat: ID/number floods) or −2 (head-heavy:
    * boilerplate) fails ingest QA. Scale shape: the vocabulary
    * aggregation is the only corpus-sized stage; the fit itself runs
    * on `topN` rows (TakeOrdered — map-side partial top-k, no global
    * sort materialization).
    *
    * Output: one row (n_terms, slope[6 dp], intercept[6 dp]).
    */
  def zipfFit(docs: DataFrame, topN: Int = 200): DataFrame = {
    require(topN >= 2, s"zipfFit needs >= 2 ranks, got $topN")
    val counts = Dedup.spread(docs)
      .select(explode(toks(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(topN)
    val ranked = counts
      .select(col("cnt"),
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("tok"))).cast(LongType).as("rank"))
      .select(log(col("rank").cast(DoubleType)).as("x"),
        log(col("cnt").cast(DoubleType)).as("y"))
    ranked.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n").as("n_terms"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
          col("n"), 6).as("intercept"))
  }

  /** Per-document shingle NOVELTY against everything that arrived
    * earlier (by doc_id — the ingest order): a 3-gram is novel for doc
    * d iff d is the corpus-minimum doc_id carrying it. The streaming-
    * curation signal ("how much NEW content does this shard add?") and
    * the dual of [[dupShingleFraction]]'s corpus-df view. Same df-join
    * shape: min-owner table per shingle joins back to per-doc shingles
    * — output-proportional, never pairwise.
    *
    * Output: (doc_id, n_shingles, n_novel, novelty[6 dp]); docs with
    * < 3 tokens have no shingles and are omitted.
    */
  def shingleNovelty(docs: DataFrame): DataFrame = {
    val sh = Dedup.spread(docs)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        explode(graft.functions.wordShingles(col("w"), 3, distinct = true)).as("s"))
      .localCheckpoint(true) // fans into the min-owner table AND the join back
    val owner = sh.groupBy(col("s")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(owner, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), lit(1L))
          .otherwise(lit(0L))).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast(DoubleType) /
          col("n_shingles").cast(DoubleType), 6).as("novelty"))
  }

  /** Heaps'-law vocabulary-growth fit: cumulative distinct TYPES vs
    * cumulative TOKENS along the doc_id ingest order, OLS on the
    * log-log curve → the Heaps exponent β (natural corpora ≈ 0.4–0.6;
    * β → 0 means the vocabulary saturated — duplicated/boilerplate
    * feed; β → 1 means near-random strings). A pure composition of
    * audited machinery: per-token first-owner (the [[shingleNovelty]]
    * df-join shape at word granularity), per-doc rollup, the
    * DISTRIBUTED prefix-sum ([[Scan.prefixSum]] — no single-task
    * window over the doc spine), and a one-row closed-form fit.
    *
    * Output: one row (n_docs, beta[6 dp], ln_k[6 dp]).
    */
  def heapsFit(docs: DataFrame): DataFrame = {
    val toksDf = Dedup.spread(docs)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    // tokens per doc (multiset size)
    val perDocTokens = toksDf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"))
    // NEW types per doc: distinct (doc, tok) → first-owner filter
    val docTypes = toksDf.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("__tf"))
    val owner = docTypes.groupBy(col("tok")).agg(min(col("doc_id")).as("first_doc"))
    val perDocNew = docTypes.join(owner, "tok")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("first_doc") === col("doc_id"), lit(1L))
        .otherwise(lit(0L))).as("n_new_types"))
    val perDoc = perDocTokens.join(perDocNew, "doc_id")
    val cumTok = Scan.prefixSum(perDoc, Seq.empty, Seq("doc_id"), "n_tokens", "cum_tokens")
    val cum = Scan.prefixSum(cumTok, Seq.empty, Seq("doc_id"), "n_new_types", "cum_types")
      .select(log(col("cum_tokens").cast(DoubleType)).as("x"),
        log(col("cum_types").cast(DoubleType)).as("y"))
    // per-ELEMENT decimal quantization of every summand (the dimStats
    // pattern): the corpus-sized ln sums become exact and associative,
    // and a one-ulp libm ln divergence per element moves a sum by at
    // most n·1e-14 — invisible at the 6 dp output rounding. Raw double
    // sums over ~n docs would make the fit reduction-order-sensitive.
    val d = DecimalType(28, 14)
    val n = col("n").cast(DoubleType)
    val sx = col("sx").cast(DoubleType)
    val sy = col("sy").cast(DoubleType)
    val sxy = col("sxy").cast(DoubleType)
    val sxx = col("sxx").cast(DoubleType)
    cum.agg(count(lit(1)).as("n"), sum(col("x").cast(d)).as("sx"),
        sum(col("y").cast(d)).as("sy"),
        sum((col("x") * col("y")).cast(d)).as("sxy"),
        sum((col("x") * col("x")).cast(d)).as("sxx"))
      .select(col("n").as("n_docs"),
        round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).as("beta"),
        round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
          .as("ln_k"))
  }

  /** Corpus information rate: Shannon entropy of the bigram
    * distribution, its first-word marginal, and their difference —
    * the conditional entropy H(w₂|w₁), the bits-per-token signal that
    * separates natural text (high) from templated/looping corpora
    * (low) independent of vocabulary size. One bigram count table
    * (combiner shuffle), both entropies roll up from it; every
    * entropy term is decimal-quantized so the type-set-sized sums are
    * reduction-order-exact, and signed zeros are normalized (a
    * single-type distribution yields −1·ln 1 = −0.0).
    *
    * Output: one row (n_bigrams, h_bigram, h_marginal, h_cond), nats.
    */
  def entropyRate(docs: DataFrame): DataFrame = {
    val d = DecimalType(28, 14)
    val bgc = Dedup.spread(docs)
      .select(Dedup.tokens(col("text")).as("w"))
      .select(explode(graft.functions.wordShingles(col("w"), 2, distinct = false))
        .as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // fans into total, H2, and the marginal
    val total = bgc.agg(sum(col("c")).as("n"))
    def entropyOf(counts: DataFrame): DataFrame = {
      val p = col("c").cast(DoubleType) / col("n").cast(DoubleType)
      counts.crossJoin(broadcast(total))
        .agg(sum((-p * log(p)).cast(d)).as("h"))
        .select(col("h").cast(DoubleType).as("h"))
    }
    val h2 = entropyOf(bgc).select(col("h").as("h2"))
    val h1 = entropyOf(
      bgc.groupBy(substring_index(col("bg"), " ", 1).as("w1"))
        .agg(sum(col("c")).as("c")))
      .select(col("h").as("h1"))
    total.crossJoin(h2).crossJoin(h1)
      .select(col("n").as("n_bigrams"),
        (round(col("h2"), 6) + lit(0.0)).as("h_bigram"),
        (round(col("h1"), 6) + lit(0.0)).as("h_marginal"),
        (round(col("h2") - col("h1"), 6) + lit(0.0)).as("h_cond"))
  }

  /** Canonical content fingerprint: md5 of the sorted distinct token set —
    * invariant to word order and repetition (catches shuffled near-dups
    * that exact hashing misses).
    */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(toks(text)))))

  /** PII redaction for training corpora: emails, IPv4 addresses, and
    * international-ish phone numbers are replaced by stable placeholder
    * tokens. Three chained `regexp_replace` — codegen'd native
    * expressions, one scan pass, no UDF — so at 100 TB the scrub stage
    * is scan-bound like the rest of the quality pipeline.
    *
    * The patterns are deliberately conservative (high-precision, ASCII):
    * a corpus scrub must not mangle ordinary prose, and both engines of
    * the oracle pair (Java regex here, RE2 in DuckDB) must agree on
    * every match. Order matters: emails go first (an address would
    * otherwise be half-eaten by the phone pattern's digit runs), then
    * IPs (dotted digit runs), then phones.
    */
  def redactPii(text: Column): Column = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    // +country-optional, separator-tolerant, 9-14 digits total
    val phone = "\\+?\\d{1,3}[ .-]\\d{3}[ .-]\\d{3}[ .-]?\\d{2,4}\\b"
    regexp_replace(
      regexp_replace(
        regexp_replace(text, email, "<EMAIL>"),
        ipv4, "<IP>"),
      phone, "<PHONE>")
  }

  /** Whitespace+punct-aware token count approximating BPE pre-tokenization:
    * splits on the regex boundary between word chars and non-word chars.
    */
  def bpeishTokenCount(text: Column): Column =
    size(filter(split(text, "[^\\p{L}\\p{N}]+", -1), t => length(t) > 0))

  /** Gopher-style repetition profile (Rae et al. 2021 §A1.1): for each
    * n in `ns`, the fraction of the document's characters contained in
    * its most frequent word n-gram (occurrences × gram chars / doc
    * chars), with the gram itself. One narrow compiled pass per n
    * ([[graft.functions.topNgram]]) — a per-doc metric never needs a
    * (doc, gram) shuffle; at 100 TB the quality stage stays scan-bound.
    * Docs with fewer than n tokens report ("", 0.0).
    */
  def repetition(docs: DataFrame, ns: Seq[Int] = Seq(2, 3, 4)): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"), Dedup.tokens(col("text")).as("w"))
    ns.foldLeft(base) { (df, n) =>
      df.withColumn(s"t$n", graft.functions.topNgram(col("w"), n))
        .withColumn(s"top${n}_gram", coalesce(col(s"t$n.gram"), lit("")))
        .withColumn(s"top${n}_frac",
          round(coalesce(
            col(s"t$n.cnt") * length(col(s"t$n.gram")) /
              length(col("text")).cast(DoubleType),
            lit(0.0)), 6))
        .drop(s"t$n")
    }.drop("text", "w")
  }

  /** The pre-token array itself (the rule behind [[bpeishTokenCount]]):
    * maximal letter/digit runs, empties dropped. Identical to
    * [[graft.functions.BpeEncode.preTokenize]] and the DuckDB
    * `regexp_split_to_array(text, '[^\p{L}\p{N}]+')` + filter oracle.
    */
  def pretokens(text: Column): Column =
    filter(split(text, "[^\\p{L}\\p{N}]+", -1), t => length(t) > 0)

  /** Train a BPE merge table ON the corpus (Sennrich et al. 2016) —
    * deterministic and bounded at any corpus size:
    *
    *  - the word histogram is ONE combiner-friendly groupBy over the
    *    pre-token stream (map-side partial counts — a 10⁹-occurrence
    *    stopword costs one counter cell per task), truncated to the
    *    `maxWords` most frequent words by a bounded
    *    TakeOrderedAndProject (count DESC, word ASC tie order — a pure
    *    function of the histogram, invariant to partitioning and core
    *    count). BPE training canonically runs on the word-frequency
    *    dictionary, not the raw corpus, so the collect is histogram-sized
    *    regardless of corpus size — the FAISS-style bounded-sample
    *    training model ([[Similarity.trainPqCodebook]] uses the same
    *    shape).
    *  - the merge loop runs on the driver over that bounded histogram:
    *    `numMerges` rounds of count-weighted adjacent-pair frequencies,
    *    picking (freq DESC, left ASC, right ASC) — the deterministic tie
    *    order — and stopping early when no pair repeats (merging a
    *    pair seen once cannot compress anything).
    *
    * Apply is [[graft.functions.bpeEncode]] — a narrow compiled
    * projection with the merge table riding in the plan. Both sides share
    * [[graft.functions.BpeEncode.mergePair]], so the trainer's view of a
    * merge and the encoder's cannot drift.
    */
  def trainBpe(docs: DataFrame, numMerges: Int,
               maxWords: Int = 1 << 15): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be >= 0, got $numMerges")
    val hist: Array[(Array[String], Long)] = Dedup.spread(docs)
      .select(explode(pretokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w"))
      .limit(maxWords)
      .collect()
      .map(r => (graft.functions.BpeEncode.baseSymbols(r.getString(0)), r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var words = hist
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, cnt) =>
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + cnt)
          i += 1
        }
      }
      if (pairCounts.isEmpty) done = true
      else {
        val (bestPair, bestCnt) = pairCounts.minBy { case ((l, r), c) => (-c, l, r) }
        if (bestCnt < 2) done = true // nothing repeats: no compression left
        else {
          merges += bestPair
          words = words.map { case (syms, cnt) =>
            (graft.functions.BpeEncode.mergePair(syms, bestPair._1, bestPair._2), cnt)
          }
          round += 1
        }
      }
    }
    merges.toSeq
  }
}
