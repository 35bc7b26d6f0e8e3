package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.topK

/** Corpus-curation operators for training-data assembly: source-mixture
  * resampling, per-domain caps, and line-level dedup statistics (the
  * Gopher/C4-style repetition and boilerplate filters).
  *
  * Everything here is deterministic — sampling decisions are md5-hash
  * thresholds, never RNG — so every result is reproducible run-to-run,
  * engine-to-engine (the DuckDB oracles evaluate the same arithmetic),
  * and stable under repartitioning. That is the property a 100 TB
  * pipeline needs: re-running a failed stage must keep the SAME rows.
  *
  * Reference relation: the reference engine has no corpus operators
  * (it is a vector-search backend); these extend the engine along the
  * BASELINE.json LLM-pipeline axis, like ops/Dedup and ops/TextAnalysis.
  */
object Curation {

  /** DSIR hashed-n-gram importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every raw document by how target-like its hashed unigram features
    * are. Bucket each token into one of `buckets` cells via a
    * deterministic md5 slice, fit Laplace-smoothed bag-of-buckets
    * models on the TARGET slice (`langCol = targetLang`) and on the RAW
    * corpus, and weight doc x by the per-token mean log importance
    * ratio
    *
    *   mean_lr(x) = (1/|x|) Σ_{t ∈ x} log( p̂_tgt(b(t)) / p̂_raw(b(t)) )
    *
    * (the paper's log w(x), length-normalized so weights compare across
    * doc lengths). Docs ranking high are the ones importance resampling
    * keeps; the weight column feeds [[weightedSample]] directly.
    *
    * Scale shape: the bucket models are `buckets`-row tables built by
    * one combiner-friendly aggregation each over the token stream, then
    * BROADCAST back onto it — the corpus is never shuffled; the only
    * wide op is the per-doc rollup. Per-bucket log ratios are quantized
    * to 12 dp DECIMAL before the per-doc sum (exact integer-weighted
    * decimal arithmetic → reduction-order-independent, hash-oracle-able).
    *
    * Output: (doc_id, n_tokens, mean_lr[6 dp], weight[6 dp]) with
    * weight = exp(mean_lr) — the per-token geometric-mean ratio.
    */
  def dsirWeights(docs: DataFrame, targetLang: String, buckets: Int = 512,
                  langCol: String = "lang",
                  longSumTokenCap: Long = 1000000000L): DataFrame = {
    val tok = Dedup.spread(docs)
      .select(col("doc_id"), col(langCol).as("__lang"),
        explode(Dedup.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("__lang"),
        (conv(substring(md5(col("tok")), 1, 6), 16, 10).cast(LongType)
          % buckets).as("b"))
    // per-(doc,bucket) multiplicity first: the raw/target models and the
    // per-doc scoring all roll up from this one combiner-friendly frame
    val docB = tok.groupBy(col("doc_id"), col("__lang"), col("b"))
      .agg(count(lit(1)).as("m"))
      .localCheckpoint(true)
    val raw = docB.groupBy(col("b")).agg(sum(col("m")).as("cs"))
    val tgt = docB.filter(col("__lang") === targetLang)
      .groupBy(col("b")).agg(sum(col("m")).as("ct"))
    val totals = raw.agg(sum(col("cs")).as("ns"))
      .crossJoin(tgt.agg(sum(col("ct")).as("nt")))
    // Laplace(+1) over all `buckets` cells; the per-bucket log-ratio
    // quantizes through the e12 FLOOR witness (r17, verdict task #2):
    // ROUND(ln, 12) was engine-defined at digit boundaries (Spark
    // BigDecimal HALF_UP vs DuckDB scale-and-rint) — the old r13 ±0.0
    // normalization hack existed precisely because of that gap; an
    // integer lr has no signed zero and no boundary class at all
    val model = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        graft.functions.intWitness(log(((col("ct") + lit(1)).cast(DoubleType) /
            (col("nt") + lit(buckets))) /
          ((col("cs") + lit(1)).cast(DoubleType) /
            (col("ns") + lit(buckets)))), 1000000000000L).as("lr_e12"))
    // m·lr_e12 sums in DECIMAL(38,0) — exact and order-independent on
    // both engines (HUGEINT on the DuckDB side); per-doc magnitude is
    // n_tokens·|lr|·1e12 ≲ 1e18 but the decimal keeps 20 digits of slack.
    //
    // r19 (opt): below a MEASURED corpus-token cap the per-row decimal
    // multiply+sum rides primitive LONGs instead. lr_e12 splits into
    // base-2³¹ digits ON THE 512-ROW MODEL (lrH = lr >> 31 arithmetic,
    // lrL = lr & (2³¹−1); lrH·2³¹ + lrL ≡ lr for every long), so
    //   Σ m·lr = (Σ m·lrH)·2³¹ + (Σ m·lrL)
    // — per-row products and per-doc sums are int64-safe because
    // S = Σm ≤ 1e9 (the one cheap aggregation on the already-
    // checkpointed docB) bounds |lr| ≤ ln(S+buckets) analytically
    // (Laplace ratio of counts ≤ S), giving |lrH| ≤ ~1e4 and
    // Σm·lrL ≤ S·2³¹ ≈ 2.1e18 < 2⁶³. The exact integer is
    // reconstructed per DOC in decimal — bit-identical slr, decimal
    // path kept above the cap.
    // an empty corpus sums to NULL: nothing to overflow, take the long path
    val tokens = docB.agg(sum(col("m"))).head()
    val longSafe = tokens.isNullAt(0) || tokens.getLong(0) <= longSumTokenCap
    val scored = if (longSafe) {
      val d24 = DecimalType(24, 0)
      val b31 = lit(new java.math.BigDecimal(2147483648L))
      val modelSplit = model.select(col("b"),
        shiftright(col("lr_e12"), 31).as("lrH"),
        col("lr_e12").bitwiseAND(lit(2147483647L)).as("lrL"))
      docB.join(broadcast(modelSplit), "b")
        .groupBy(col("doc_id"))
        .agg(sum(col("m")).as("n_tokens"),
          sum(col("m") * col("lrH")).as("sH"),
          sum(col("m") * col("lrL")).as("sL"))
        .select(col("doc_id"), col("n_tokens"),
          (col("sH").cast(d24) * b31 + col("sL").cast(d24)).as("slr"))
    } else docB.join(broadcast(model), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_tokens"),
        sum(col("m").cast(DecimalType(38, 0)) *
          col("lr_e12").cast(DecimalType(38, 0))).as("slr"))
    scored
      .select(col("doc_id"), col("n_tokens"),
        floor(col("slr").cast(DoubleType) / col("n_tokens") / lit(1e6)
          + lit(0.5)).cast(LongType).as("mean_lr_e6"),
        graft.functions.e6Witness(exp(col("slr").cast(DoubleType) / col("n_tokens") / lit(1e12))
         ).as("weight_e6"))
  }

  /** α-power source-mixture resampling (the multilingual/multi-source
    * reweighting rule of GPT-3 appendix A / Conneau & Lample 2019):
    * source s with n_s docs gets sampling weight w_s = n_s^α / Σ_t n_t^α,
    * a per-source keep rate min(1, target·w_s / n_s), and each doc is
    * kept iff the first 4 hex chars of md5(salt:id) fall below the
    * rate's 32-bit threshold. α < 1 upweights small sources (the reason
    * the rule exists); α = 1 is proportional sampling.
    *
    * Scale shape: one combiner-friendly count per source, one scalar
    * aggregate, one broadcast join of the (tiny) rate table, then a
    * narrow hash filter — no corpus shuffle at all. The rate is rounded
    * to 6 decimals BEFORE quantization so both engines ceil the same
    * double. The threshold is ceil(rate·2³²)/2³² over an 8-hex-char
    * hash slice: the realized keep probability brackets the exact rate
    * from above by < 2⁻³² (a floor over 16 bits undershoots by up to
    * 1/65536 and silently drops sources with rate < 1/65536 — the exact
    * small-source upweighting this operator exists for).
    */
  def mixtureSample(docs: DataFrame, alpha: Double, targetTotal: Long,
                    sourceCol: String = "source", idCol: String = "doc_id",
                    salt: String = "mix"): DataFrame = {
    val counts = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).cast(DoubleType).as("n_src"))
    val z = counts.agg(sum(pow(col("n_src"), lit(alpha))).as("z"))
    // the rate quantizes through the floor e6 form (r17, task #2) — it
    // DECIDES the md5 sampling threshold below, so both engines must
    // land on the identical 1e-6 grid point; FLOOR(x·1e6 + ½)/1e6 is
    // pure mirrored IEEE ops where ROUND(x, 6) was engine-defined
    val rates = counts.crossJoin(broadcast(z))
      .select(col(sourceCol), col("n_src"),
        least(lit(1.0),
          floor(lit(targetTotal.toDouble) * pow(col("n_src"), lit(alpha)) /
            col("z") / col("n_src") * lit(1e6) + lit(0.5)) / lit(1e6))
          .as("rate"))
    val thr = lpad(lower(hex(ceil(col("rate") * 4294967296.0).cast(LongType))), 8, "0")
    docs.join(broadcast(rates), sourceCol)
      .filter(col("rate") >= 1.0 ||
        substring(md5(concat(lit(salt + ":"), col(idCol).cast(StringType))), 1, 8) < thr)
      // the rounded double still DECIDES the hash threshold (identical
      // comparison on both engines, unchanged); only the EMISSION is the
      // integer witness (exact: rate is already on the 1e-6 grid)
      .select(col(idCol), col(sourceCol),
        graft.functions.e6Witness(col("rate")).as("rate_e6"))
  }

  /** Per-domain document cap: keep at most `cap` docs per source, chosen
    * by a deterministic hash priority (first 12 md5 hex chars as a 48-bit
    * integer — exact in a double). The selection runs through the same
    * mergeable bounded [[graft.functions.topK]] aggregate as the kNN
    * paths, so it is map-side k-bounded: a domain with 10⁹ pages ships
    * `cap` rows per partition, never its whole history — the skew-safe
    * alternative to `row_number() OVER (PARTITION BY domain)`, which
    * puts the hottest domain on one task.
    */
  def domainCap(docs: DataFrame, cap: Int, sourceCol: String = "source",
                idCol: String = "doc_id", salt: String = "cap"): DataFrame = {
    val prio = conv(
        substring(md5(concat(lit(salt + ":"), col(idCol).cast(StringType))), 1, 12),
        16, 10)
      .cast(LongType).cast(DoubleType)
    docs.select(col(sourceCol), col(idCol))
      .groupBy(col(sourceCol))
      .agg(topK(prio, col(idCol), cap, ascending = true).as("hits"))
      .select(col(sourceCol), posexplode(col("hits")))
      .select(col(sourceCol), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.label").as(idCol))
  }

  /** Deterministic "lines" for corpora without newlines: consecutive
    * non-overlapping groups of `lineTokens` space-separated tokens,
    * re-joined with single spaces. (Real corpora split on '\n'; the
    * fixture text has none, and a closed-form chunking is what the SQL
    * oracle can reproduce exactly — same trade as `q_media_frames`.)
    */
  def tokenLines(text: Column, lineTokens: Int): Column = {
    val w = split(text, " ", -1)
    transform(
      sequence(lit(0L), ((size(w) - lit(1)) / lit(lineTokens)).cast(LongType)),
      i => array_join(slice(w, (i * lineTokens + 1).cast(IntegerType), lit(lineTokens)), " "))
  }

  /** Gopher-style within-document repetition stat: per doc, the number of
    * characters inside lines that occur more than once in the SAME doc
    * (all occurrences counted), plus totals — all exact integers, no
    * float drift. The shuffle is keyed by (doc, line): bounded by
    * document length, never by corpus frequency.
    */
  def dupLineStats(docs: DataFrame, lineTokens: Int = 5,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = docs.select(col(idCol),
        explode(tokenLines(col(textCol), lineTokens)).as("line"))
    lines.groupBy(col(idCol), col("line"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("chars", length(col("line")).cast(LongType))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_lines"),
        sum(col("cnt") * col("chars")).as("chars_total"),
        sum(when(col("cnt") > 1, col("cnt") * col("chars")).otherwise(0L))
          .as("chars_dup"))
  }

  /** Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    * Spirakis 2006, algorithm A-ES): each row draws a deterministic
    * uniform u ∈ (0,1) from a 48-bit md5 slice (exact in a double), gets
    * key = ln(u) / w, and the k rows with the LARGEST keys are the
    * weighted sample — provably equivalent to sequential
    * draw-without-replacement proportional to w. No RNG anywhere, so the
    * sample is identical across runs, partitionings, and engines.
    *
    * Selection runs through the mergeable bounded [[graft.functions.topK]]
    * aggregate: per-partition k-bounded partials, one k-row final merge —
    * never a global sort of the corpus (the `ORDER BY key LIMIT k` a
    * naive formulation would shuffle). The k winners then broadcast back
    * onto the corpus scan to recover their attributes. Rows with w ≤ 0
    * are excluded (they have no sampling mass).
    */
  def weightedSample(docs: DataFrame, k: Int, weight: Column,
                     idCol: String = "doc_id", salt: String = "ws"): DataFrame = {
    val h = conv(
        substring(md5(concat(lit(salt + ":"), col(idCol).cast(StringType))), 1, 12),
        16, 10)
      .cast(LongType).cast(DoubleType)
    val u = (h + lit(0.5)) / lit(math.pow(2.0, 48))
    val key = log(u) / weight
    val picked = docs.filter(weight > lit(0.0))
      .select(key.as("es_key"), col(idCol))
      .agg(topK(col("es_key"), col(idCol), k, ascending = false).as("hits"))
      .select(posexplode(col("hits")))
      .select((col("pos") + 1).cast(LongType).as("rank"),
        col("col.label").as(idCol))
    docs.join(broadcast(picked), idCol)
      .select(col("rank"), col(idCol), weight.cast(DoubleType).as("weight"))
  }

  /** Corpus-wide boilerplate line filter (the cross-document line dedup
    * of C4 / Lee et al. 2022 §2.1): a line occurring in more than `maxDf`
    * DISTINCT documents is boilerplate (headers, nav bars, license
    * blurbs) and is dropped from every doc. Returns per-doc retention
    * counts as exact integers.
    *
    * Scale shape: line-df is a combiner-friendly distinct aggregate on
    * the line key; the join back is line-keyed with a UNIQUE df side, so
    * a boilerplate line shared by 10⁹ docs contributes one row per
    * occurrence — no pair expansion anywhere (same bound structure as
    * `Dedup.ngramJaccardPairs`'s df cap).
    */
  def lineDfFilter(docs: DataFrame, maxDf: Long, lineTokens: Int = 5,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val lines = docs.select(col(idCol),
        explode(tokenLines(col(textCol), lineTokens)).as("line"))
      .localCheckpoint(true) // feeds both the df agg and the join probe
    val df = lines.select(col(idCol), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("line_df"))
    lines.join(df, "line")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("line_df") <= maxDf, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("line_df") <= maxDf, length(col("line")).cast(LongType))
          .otherwise(0L)).as("chars_kept"))
  }

  /** Trained model-based quality filter: logistic-regression weights +
    * the per-Newton-step negative log-likelihood trace (for the
    * loss-improved verdict) + the feature names in weight order.
    */
  final case class QualityModel(weights: Array[Double],
                                lossTrace: Array[Double],
                                featureNames: Seq[String])

  /** Per-doc feature frame for the model-based quality filter — all from
    * existing deterministic kernels: one projection over the spread docs
    * for the per-doc counts, language and entropy, joined on doc_id (a
    * key the docs hold once) to the span profile:
    * ln(n_tokens) and its square (a two-sided length window is a
    * PARABOLA threshold — linearly separable in this basis, not in
    * ln(n) alone), type-token ratio, average token length, an
    * unknown-language indicator, the duplicated-span fraction, and
    * code-point entropy. Output: (doc_id, n_tokens, ttr, und, dup_frac_e6, dup_frac,
    * f: array<double> length 7) — the raw columns ride along so a caller
    * deriving rule-based labels (the distillation target) reads them off
    * the SAME frame instead of recomputing the span profile, the one
    * genuinely expensive input.
    */
  def qualityFeatures(docs: DataFrame): DataFrame = {
    val q = TextAnalysis.qualityWith(Dedup.spread(docs),
        when(TextAnalysis.langId(col("text")) === "und", 1.0).otherwise(0.0).as("und"),
        coalesce(graft.functions.charEntropy(col("text")), lit(0.0)).as("ent"))
      .select(col("doc_id"), col("n_tokens"), col("type_token_ratio"),
        col("avg_token_len"), col("und"), col("ent"))
    val spans = Dedup.duplicatedSpans(docs, n = 8)
      .select(col("doc_id"), col("dup_frac_e6"), col("dup_frac"))
    val lnTok = log(col("n_tokens").cast(DoubleType) + 1.0)
    q.join(spans, "doc_id")
      .select(col("doc_id"), col("n_tokens"),
        col("type_token_ratio").as("ttr"), col("und"),
        col("dup_frac_e6"), col("dup_frac"),
        array(
          lnTok, lnTok * lnTok, col("type_token_ratio"), col("avg_token_len"),
          col("und"), col("dup_frac"), col("ent")).as("f"))
  }

  /** Train the model-based quality filter (the fastText/CCNet
    * "quality classifier" pipeline stage, distilling whatever labeling
    * the caller provides — typically a rule-based filter's verdicts —
    * into a single scored model): plain logistic regression fit by IRLS
    * Newton steps on the driver over a SORTED collected sample, ridge
    * λ=1e-6 for conditioning. Deterministic by the same contract as
    * every trained model here (sorted sample → pure function of the
    * sample set; fixed iteration count; no RNG), so the scored corpus
    * and the verdicts are reproducible run-to-run. The whole `labeled`
    * frame is collected to the driver, so training cost is the caller's
    * sample size (`q_quality_model` passes the even half of the corpus,
    * which grows with it); scoring is a narrow projection with the
    * weights as literals.
    *
    * `labeled`: (doc_id, f: array<double>, label: 0.0/1.0).
    */
  def trainQualityFilter(labeled: DataFrame, iters: Int = 25): QualityModel = {
    val rows = labeled.select(col("doc_id"), col("f"), col("label"))
      .collect().sortBy(_.getLong(0))
    require(rows.nonEmpty, "quality-filter training needs a non-empty sample")
    val nf = rows.head.getSeq[Double](1).length + 1 // + intercept
    val x = rows.map(r => Array(1.0) ++ r.getSeq[Double](1))
    val y = rows.map(_.getDouble(2))
    val n = x.length
    val w = new Array[Double](nf)
    val lambda = 1e-6
    def sigmoid(z: Double): Double =
      if (z >= 0) 1.0 / (1.0 + math.exp(-z))
      else { val e = math.exp(z); e / (1.0 + e) }
    def nll(): Double = {
      var s = 0.0
      var i = 0
      while (i < n) {
        var z = 0.0; var j = 0
        while (j < nf) { z += w(j) * x(i)(j); j += 1 }
        val p = sigmoid(z)
        // clamp: a perfectly separated point would otherwise log(0)
        val pc = math.min(1.0 - 1e-12, math.max(1e-12, p))
        s -= y(i) * math.log(pc) + (1.0 - y(i)) * math.log(1.0 - pc)
        i += 1
      }
      s / n
    }
    val trace = scala.collection.mutable.ArrayBuffer.empty[Double]
    trace += nll()
    var it = 0
    while (it < iters) {
      // Newton step: w += (XᵀSX + λI)⁻¹ Xᵀ(y − p)
      val g = new Array[Double](nf)
      val h = Array.ofDim[Double](nf, nf)
      var i = 0
      while (i < n) {
        var z = 0.0; var j = 0
        while (j < nf) { z += w(j) * x(i)(j); j += 1 }
        val p = sigmoid(z)
        val s = math.max(p * (1.0 - p), 1e-9)
        val r = y(i) - p
        j = 0
        while (j < nf) {
          g(j) += r * x(i)(j)
          var k2 = j
          while (k2 < nf) { h(j)(k2) += s * x(i)(j) * x(i)(k2); k2 += 1 }
          j += 1
        }
        i += 1
      }
      var j = 0
      while (j < nf) {
        h(j)(j) += lambda * n
        var k2 = j + 1
        while (k2 < nf) { h(k2)(j) = h(j)(k2); k2 += 1 }
        j += 1
      }
      Similarity.invert(h) match {
        case Some(hi) =>
          j = 0
          while (j < nf) {
            var d = 0.0; var k2 = 0
            while (k2 < nf) { d += hi(j)(k2) * g(k2); k2 += 1 }
            w(j) += d
            j += 1
          }
        case None => it = iters // singular Hessian: stop cleanly
      }
      trace += nll()
      it += 1
    }
    QualityModel(w, trace.toArray,
      Seq("intercept", "ln_tokens", "ln_tokens_sq", "ttr", "avg_token_len",
        "und", "dup_frac", "entropy"))
  }

  /** Score docs with a trained quality model: sigmoid(w·[1, f]) as a
    * narrow projection — the weights ride the plan as literals, no
    * join, no shuffle. Output: (doc_id, score).
    */
  def scoreQualityModel(features: DataFrame, model: QualityModel): DataFrame = {
    val z = model.weights.zipWithIndex.map { case (wj, j) =>
      if (j == 0) lit(wj)
      else element_at(col("f"), j) * lit(wj)
    }.reduce(_ + _)
    features.select(col("doc_id"),
      (lit(1.0) / (lit(1.0) + exp(-z))).as("score"))
  }

  /** Farthest-point sampling (greedy k-center, Gonzalez 1985): pick k
    * maximally-spread vectors — the diverse-coreset selection used to
    * curate instruction/embedding datasets (each pick is the point
    * farthest from everything already chosen; the greedy set is a
    * 2-approximation of the optimal k-center cover).
    *
    * Exact-greedy is inherently k sequential rounds; the Spark shape
    * makes each round CHEAP and corpus-scalable: one narrow projection
    * updating a running min-distance column (`least(md, dist-to-new-
    * center)`, the new center riding as a plan literal) and one
    * TakeOrdered(1) — no shuffle of the corpus, ever. k drives total
    * cost, not n. Determinism: the argmax order is (md desc, id asc)
    * and the seed round starts from md = +∞, so round 1 picks the
    * smallest id; [[farthestPointSampleSql]] unrolls the identical
    * oracle.
    *
    * Returns (rank 1..k, id, min_dist) where min_dist is the point's
    * distance-to-selected-set at pick time (+∞ for the seed).
    */
  def farthestPointSample(vectors: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in [1, 64], got $k")
    val spark = vectors.sparkSession
    var pts = vectors.select(col("id"), col("vec"))
      .withColumn("md", lit(Double.PositiveInfinity))
      .localCheckpoint(true)
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    for (r <- 1 to k) {
      val best = pts.orderBy(desc("md"), asc("id")).limit(1).collect()
      require(best.nonEmpty, s"farthestPointSample: corpus exhausted at pick $r")
      val row = best.head
      val (id, vec, md) =
        (row.getLong(0), row.getSeq[Float](1).toArray, row.getDouble(2))
      picked += ((r, id, md))
      if (r < k) {
        // drop the pick from the pool (an exact-duplicate vector would
        // otherwise sit at md = 0 and k > n would re-pick forever)
        pts = pts.filter(col("id") =!= id)
          .withColumn("md",
            least(col("md"), graft.functions.squaredL2(col("vec"),
              typedLit(vec.toSeq))))
          .localCheckpoint(true)
      }
    }
    import spark.implicits._
    picked.toSeq.toDF("rank", "id", "min_dist")
  }

  /** [[farthestPointSample]] unrolled as engine-portable SQL from the
    * same constants. `ptsSql` must yield (id, v). */
  def farthestPointSampleSql(ptsSql: String, k: Int): String = {
    require(k >= 1 && k <= 64)
    val sb = new StringBuilder
    sb.append("WITH d0 AS MATERIALIZED (SELECT id, v, " +
      s"CAST('infinity' AS DOUBLE) AS md FROM ($ptsSql))")
    for (i <- 1 to k) {
      sb.append(s""",
c$i AS MATERIALIZED (SELECT id, v, md FROM d${i - 1}
        ORDER BY md DESC, id LIMIT 1)""")
      if (i < k) sb.append(s""",
dd$i AS MATERIALIZED (
  SELECT t.id, SUM((CAST(t.pe AS DOUBLE) - CAST(t.ce AS DOUBLE)) *
                   (CAST(t.pe AS DOUBLE) - CAST(t.ce AS DOUBLE))) AS nd
  FROM (SELECT d.id, UNNEST(d.v) AS pe, UNNEST(c.v) AS ce
        FROM d${i - 1} d CROSS JOIN c$i c
        WHERE d.id <> (SELECT id FROM c$i)) t
  GROUP BY t.id),
d$i AS MATERIALIZED (
  SELECT d.id, d.v, LEAST(d.md, dd.nd) AS md
  FROM d${i - 1} d JOIN dd$i dd ON dd.id = d.id)""")
    }
    val rows = (1 to k).map(i =>
      s"SELECT $i AS rank, id, md AS min_dist FROM c$i")
    sb.append("\n" + rows.mkString("\nUNION ALL\n"))
    sb.toString
  }

  /** SSL-prototypes / D4-style embedding data pruning (Sorscher et al.
    * 2022 "Beyond neural scaling laws"; Tirumala et al. 2023 "D4"):
    * score every example's PROTOTYPICALITY — cosine to its cluster
    * centroid — and keep the LEAST prototypical `keepNum/keepDen`
    * fraction of each cluster. The papers' core finding is that at
    * scale, pruning the easy/redundant examples nearest the prototype
    * costs the least and helps the most; the keep decision must be
    * per-cluster (a global score cut would empty tight clusters).
    *
    * Centroids are the deterministic modulo-spaced corpus vectors
    * ([[Similarity.ivfModuloCents]] — the oracle-able stand-in for a
    * trained k-means, the `ann_ivf`/`dedup_semantic` convention; swap
    * in [[Similarity.trainIvfKmeans]] centroids for production).
    *
    * Determinism across engines: ranking compares DOUBLES from two
    * engines, so the score is quantized FIRST — `proto_e6 =
    * floor(cos·1e6 + 0.5)` (the boundary-proof integer-witness
    * convention of `q_kendall_tau`), ties broken by id — and the keep
    * threshold is pure integer arithmetic (`rn·keepDen ≤ sz·keepNum` ⟺
    * rn ≤ floor(sz·keepNum/keepDen)), so no double ever crosses the
    * gate hash. Zero-norm vectors have no defined cosine and get
    * sentinel −1000001 (sorts least prototypical, always kept first).
    *
    * Scale shape: one compiled narrow assignment pass (n·nCents·d
    * FLOPs — the [[Similarity.ivfAssign]] build cost), one broadcast
    * join of the tiny centroid table for the score, then a window
    * PARTITIONED BY cid whose groups are ≈`centroidModulo` rows
    * regardless of n (nCents grows ∝ n) — bounded-group windows, never
    * a global order.
    */
  def prototypicalityPrune(vectors: DataFrame, centroidModulo: Int,
                           keepNum: Int, keepDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(keepNum >= 0 && keepDen >= 1 && keepNum <= keepDen,
      s"keep fraction must be in [0, 1]: got $keepNum/$keepDen")
    val cents = Similarity.ivfModuloCents(vectors, centroidModulo)
    val spark = vectors.sparkSession
    import spark.implicits._
    val centDf = cents.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cv")
    val assigned = Dedup.spread(vectors)
      .withColumn("cid",
        element_at(graft.functions.nearestCentroids(col("vec"), cents, 1), 1))
      .join(broadcast(centDf), "cid")
    val cos = graft.functions.cosineSimilarity(col("vec"), col("cv"))
    val scored = assigned.select(col("id"), col("cid"),
      when(isnan(cos), lit(-1000001L))
        .otherwise(graft.functions.e6Witness(cos))
        .as("proto_e6"))
    val w = Window.partitionBy(col("cid"))
    scored
      .withColumn("rn", row_number().over(
        w.orderBy(col("proto_e6"), col("id"))).cast(LongType))
      .withColumn("sz", count(lit(1)).over(w))
      .select(col("id"), col("cid"), col("proto_e6"), col("rn"),
        (col("rn") * keepDen <= col("sz") * keepNum).as("kept"))
  }
}
