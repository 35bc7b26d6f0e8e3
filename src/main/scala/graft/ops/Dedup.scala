package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Document deduplication operators for large-scale training-data
  * pipelines: exact, MinHash+LSH, SimHash, n-gram Jaccard.
  *
  * Everything is expressed as declarative DataFrame transforms so Catalyst
  * handles pushdown/pruning, and every hash is derived from `md5` so the
  * DuckDB oracle can reproduce results bit-for-bit (md5 hex is identical
  * everywhere; min over fixed-width hex strings ≡ numeric min).
  *
  * Scale notes (100 TB corpus):
  *  - shingling + minhash is a narrow map — no shuffle;
  *  - the LSH bucket join shuffles only (band, bucket-key) pairs, and
  *    candidate verification touches only within-bucket pairs — the whole
  *    point of LSH is that this is << n²;
  *  - exact-dup detection is one hash-groupBy (single shuffle on the
  *    digest, combiner-friendly).
  */
object Dedup {

  /** Fan a small-file scan out to more cores before per-row-heavy work
    * (shingling, hashing). The driver testdata is one parquet file per
    * table → one input partition → one busy core without this. Two guards:
    *  - when the scan is already at least target-parallel (any real
    *    multi-file corpus), this is a no-op — an unconditional repartition
    *    would be a full shuffle of the corpus at 100 TB;
    *  - the target is capped by what the INPUT SIZE justifies (one task
    *    per 64 KiB of plan-stats bytes — shingling+hashing is ~100×
    *    heavier per byte than a plain scan, hence far below Spark's
    *    128 MiB scan split), so a 500-doc corpus on a 32-core box doesn't
    *    pay 32-near-empty-task fixed costs per downstream stage: measured
    *    as the r6 driver-bench amplification on the dedup trio. Stats come
    *    from the optimized plan (parquet file bytes) — no job; an unknown
    *    size falls back to full parallelism.
    */
  /** Input-size-derived task width: one task per `perTask` plan-stats
    * bytes, capped at defaultParallelism; unknown/overflowed stats fall
    * back to full parallelism. The shared sizing rule for pinning
    * CPU-dense exchanges that AQE's byte-based coalescing would
    * otherwise serialize (r19) — callers pick `perTask` by the stage's
    * CPU-per-byte. Keep quanta ≥ ~1-2 MiB for exchange pins: r18/r19
    * measured per-task fixed+contention cost in the hundreds of ms at
    * full local[32] width on MB-scale frames.
    */
  private[ops] def sizedWidth(df: DataFrame, perTask: Long): Int = {
    val max = df.sparkSession.sparkContext.defaultParallelism.toLong
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val justified =
      if (bytes <= 0 || bytes > BigInt(Long.MaxValue) / 2) max
      else math.max(1L, (bytes / perTask).toLong)
    math.min(max, justified).toInt
  }

  private[ops] def spread(df: DataFrame): DataFrame = {
    val target = sizedWidth(df, 64L << 10)
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Word tokens; split on single spaces, keeping empties (matches DuckDB
    * `string_split(text, ' ')`).
    */
  def tokens(text: Column): Column = split(text, " ", -1)

  /** Distinct word 3-gram shingles from a TOKEN-ARRAY column. Empty when
    * the doc has < 3 tokens (mirrors DuckDB `range(1, len(w)-1)` which is
    * empty for len < 3).
    *
    * IMPORTANT: pass an already-projected attribute (e.g. `col("w")`),
    * not `tokens(text)` inline — higher-order functions are interpreted,
    * and an inline `split` gets re-evaluated per lambda element (measured
    * ~4× slower on the shingling stage).
    */
  def shingles3OfTokens(w: Column): Column =
    array_distinct(
      when(size(w) >= 3,
        transform(sequence(lit(1), size(w) - 2), i =>
          concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
        .otherwise(array().cast(ArrayType(StringType))))

  /** Convenience single-column form (slower; see [[shingles3OfTokens]]). */
  def shingles3(text: Column): Column = shingles3OfTokens(tokens(text))

  /** (doc_id, n_sh, s): per-doc distinct-shingle count + exploded
    * shingles, staged so tokenization runs once per row. Uses the
    * compiled [[graft.functions.WordShingles]] kernel.
    */
  def explodedShingles(docs: DataFrame, n: Int = 3): DataFrame =
    spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), graft.functions.wordShingles(col("w"), n).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))

  /** One MinHash signature element: min over shingles of an 8-hex-char
    * (32-bit) chunk of a seeded md5 — one md5 yields four signature
    * positions (md5's diffusion makes the chunks behave as independent
    * hashes; 32 bits is ample for corpus-scale shingle counts), so 8
    * positions cost two md5s per shingle instead of eight. Lexicographic
    * min on fixed-width hex equals numeric min, and both engines agree on
    * it byte-for-byte.
    */
  private def minhashElem(j: Int): Column =
    min(substring(col(s"m${j / 4}"), (j % 4) * 8 + 1, 8)).as(s"h$j")

  /** The matching DuckDB SQL fragment for [[minhashElem]]. */
  def minhashElemSql(j: Int): String =
    s"MIN(substr(md5('${j / 4}:'||s), ${(j % 4) * 8 + 1}, 8)) AS h$j"

  /** Per-doc MinHash signatures: (doc_id, h0..h{numHashes-1}). */
  def minhashSignatures(docs: DataFrame, numHashes: Int = 8): DataFrame =
    signaturesFromShingles(explodedShingles(docs), numHashes)

  /** [[minhashSignatures]] over a pre-built exploded-shingle table.
    *
    * The seeded md5s are projected ONCE per shingle row before the
    * aggregation: aggregate expressions are not common-subexpression
    * eliminated across each other, so putting `md5(...)` inside each of the
    * 8 `min(substring(...))` aggs evaluates 8 md5s per row instead of
    * ceil(numHashes/4) (measured 3.4 s → 0.9 s on the sf0.1 corpus).
    */
  def signaturesFromShingles(sh: DataFrame, numHashes: Int = 8): DataFrame = {
    val nMd5 = (numHashes + 3) / 4
    val md5Cols = (0 until nMd5).map(i =>
      md5(concat(lit(s"$i:"), col("s"))).as(s"m$i"))
    sh.select(col("doc_id") +: md5Cols: _*)
      .groupBy(col("doc_id"))
      .agg(minhashElem(0), (1 until numHashes).map(minhashElem): _*)
  }

  /** Full MinHash-LSH dedup pipeline — shingle → signatures → LSH buckets →
    * candidate pairs → exact-Jaccard verification — shingling the corpus
    * ONCE (the exploded-shingle table feeds both the signature aggregation
    * and the verification join). At 100 TB the shingle pass is the dominant
    * narrow map; halving it halves the pipeline's scan work.
    */
  def minhashDedup(docs: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    // checkpoint the COMPACT per-doc shingle arrays (one row per doc), not
    // the exploded table (~50× the rows); signatures then come from the
    // one-pass compiled MinHashSignature kernel — no explode, no shuffle —
    // and only the verification join explodes.
    val shingled = spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), graft.functions.wordShingles(col("w"), 3).as("sh"))
      .localCheckpoint(true)
    val sigs = shingled
      .select(col("doc_id"),
        graft.functions.minhashSignature(col("sh"), numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +:
        (0 until numHashes).map(j => element_at(col("sig"), j + 1).as(s"h$j")): _*)
    val cand = candidatesFromSignatures(sigs, numHashes, rowsPerBand)
    val sh = shingled.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s"))
    jaccardOnShingles(sh, cand)
  }

  /** EXACT similarity self-join via prefix filtering (Chaudhuri et al.
    * 2006; the candidate-generation core of PPJoin, Xiao et al. 2008) —
    * the deterministic counterpart to MinHash-LSH: every pair with
    * shingle Jaccard ≥ tau is found, no probabilistic recall and no
    * df-cap recall erosion. The filter theorem: order the shingle
    * vocabulary by ascending document frequency (ties by shingle text —
    * a strict total order, no materialized integer rank needed); for a
    * doc with n distinct shingles, its PREFIX is the first
    * `n − ceil(tau·n) + 1` shingles in that order. If J(x,y) ≥ tau the
    * two prefixes must share a shingle, so the candidate join runs on
    * prefix shingles only.
    *
    * Why this scales where the plain equi-join doesn't: the join cost is
    * Σ df_prefix(s)² and rare-first ordering pushes boilerplate (high-df)
    * shingles OUT of prefixes, so hot shingles never generate join rows
    * unless a document consists almost entirely of boilerplate — in which
    * case those documents genuinely are near-dups of each other and the
    * OUTPUT itself is quadratic. One df aggregation (combiner-friendly),
    * one per-doc sort of its own shingles (bounded by doc length), one
    * equi-join on prefix shingles, then exact verification on the full
    * shingle sets — the [[jaccardOnShingles]] shape.
    *
    * Output: (doc_a < doc_b, n_inter, jaccard ≥ tau) over the FULL
    * corpus.
    */
  def prefixFilterPairs(docs: DataFrame, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    // compact per-doc distinct-shingle arrays, checkpointed ONCE (the
    // minhashDedup pattern): they feed the df table, the prefix build,
    // and verification
    val compact = spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), graft.functions.wordShingles(col("w"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .localCheckpoint(true)
    // r19 (opt): the prefix-build aggregation and the verification join
    // are CPU-DENSE per shuffled byte (per-doc struct sorts; per-pair
    // array_intersect) — their MB-scale exchanges AQE-coalesce to 1-2
    // tasks and ran serially (QueryProfile: 0.9 s + 1.3 s single-task
    // stages at local[32] while 31 cores idled). Pin those two exchanges
    // to the same INPUT-SIZE-derived width [[spread]] chose for the
    // shingle scan (bytes-proportional, core-capped — scale-adaptive,
    // not a local[32] constant): explicit numPartitions is respected by
    // AQE, and hash(doc_id)/hash(doc_b) satisfy the downstream
    // aggregation/join clustering, so no exchange is added — the
    // implicit one is widened.
    val nDense = compact.rdd.getNumPartitions
    val sh = compact.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode(col("sh")).as("s"))
    val dfreq = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // per-doc shingles sorted rare-first; struct sort orders by (df, s);
    // positions ride along for the PPJoin positional filter below
    val pref = sh.join(dfreq, "s")
      .repartition(nDense, col("doc_id"))
      .groupBy(col("doc_id"))
      .agg(first(col("n_sh")).as("n_sh"),
        sort_array(collect_list(struct(col("df"), col("s")))).as("o"))
      .select(col("doc_id"), col("n_sh"),
        // the 1e-9 epsilon guards fp64 ceil: for tau whose double repr
        // rounds above the decimal (0.1, 0.3, ...), tau*n can land one ulp
        // above an exact integer and ceil would overestimate, silently
        // shortening the prefix and dropping a pair at exactly J = tau.
        // Erring downward only lengthens prefixes — more candidates, same
        // exact output after verification.
        posexplode(slice(col("o"), lit(1),
          (col("n_sh") - ceil(lit(tau) * col("n_sh") - lit(1e-9)) + 1)
            .cast(IntegerType))))
      .select(col("doc_id"), col("n_sh"), (col("pos") + 1).as("i"),
        col("col.s").as("s"))
      // checkpointed: the self-join below reads this subtree TWICE, and
      // exchange reuse under AQE is not reliable for it — unchecked, the
      // df-join + groupBy + posexplode upstream recomputes on both sides
      // (measured 5-23 s full-pipeline vs 3.6 s with the cut; the
      // regenerated small-vocabulary corpus made the upstream heavy
      // enough to expose it)
      .localCheckpoint(true)
    // candidate pairs with the POSITIONAL filter (Xiao et al. 2008): a
    // prefix match at rare-first positions (i, j) caps the achievable
    // overlap at min(nx−i, ny−j) + 1, and J ≥ tau needs overlap ≥
    // ceil(tau/(1+tau)·(nx+ny)) — candidates that cannot reach it are
    // dropped BEFORE the distinct/verify stages
    val cand = pref.select(col("doc_id").as("doc_a"), col("n_sh").as("na"),
        col("i").as("ia"), col("s"))
      .join(pref.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"),
        col("i").as("ib"), col("s")), "s")
      .filter(col("doc_a") < col("doc_b"))
      .filter(least(col("na") - col("ia"), col("nb") - col("ib")) + 1 >=
        ceil(lit(tau / (1.0 + tau)) * (col("na") + col("nb")) - lit(1e-9)))
      .select(col("doc_a"), col("doc_b")).distinct()
    // verification on the compact arrays: one narrow array_intersect per
    // candidate pair — no pair × shingle row expansion (the exploded
    // equi-join verification multiplies every candidate by its doc
    // length; measured 3× the whole operator's cost at sf0.1)
    cand
      .join(compact.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      // pin the exchange feeding the array_intersect stage (see nDense)
      .repartition(nDense, col("doc_b"))
      .join(compact.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast(LongType).as("n_inter"),
        size(col("sha")).cast(LongType).as("na"),
        size(col("shb")).cast(LongType).as("nb"))
      .withColumn("jaccard",
        col("n_inter").cast(DoubleType) /
          (col("na") + col("nb") - col("n_inter")).cast(DoubleType))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
  }

  /** Sorted-neighborhood dedup (Hernández & Stolfo 1995, the classic
    * record-linkage blocking method): sort the corpus by a cheap
    * blocking key (here the text's first `keyLen` chars), compare each
    * document only against its `w−1` successors in the sort order, and
    * verify candidates with exact shingle Jaccard. Complements
    * MinHash-LSH and the prefix filter: O(n·w) candidates by
    * CONSTRUCTION (not by distribution), with the complementary recall
    * profile — it catches near-dups whose shared content starts at the
    * front (exact replicas, truncations) regardless of their global
    * Jaccard, and misses pairs whose edits fall inside the key.
    *
    * Scale shape: the global rank comes from [[Scan.prefixSum]]'s
    * range-partitioned two-pass scan — NO single-partition window, the
    * skew-proof form — and the neighborhood join is a bucket join
    * (rank/w buckets, right side replicated to its own and previous
    * bucket), so every pair with 0 < Δrank < w meets in exactly one
    * bucket and bucket sizes are uniform by construction (ranks are a
    * permutation). Verification is the compact-array
    * `array_intersect` shape shared with [[prefixFilterPairs]].
    *
    * Output: (doc_a < doc_b, n_inter, jaccard ≥ tau).
    */
  def sortedNeighborhoodPairs(docs: DataFrame, w: Int, tau: Double,
                              keyLen: Int = 24): DataFrame = {
    require(w >= 2, s"window must be >= 2, got $w")
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    require(keyLen >= 1, s"keyLen must be >= 1, got $keyLen")
    val compact = spread(docs)
      .select(col("doc_id"), substring(col("text"), 1, keyLen).as("snm_key"),
        graft.functions.wordShingles(tokens(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("one", lit(1L))
    val ranked = Scan.prefixSum(compact, Seq.empty, Seq("snm_key", "doc_id"),
        "one", "rank")
      .select(col("doc_id"), col("sh"), col("rank"),
        floor((col("rank") - 1) / w).as("bkt"))
      .localCheckpoint(true)
    val left = ranked.select(col("doc_id").as("da"), col("sh").as("sha"),
      col("rank").as("ra"), col("bkt"))
    val right = ranked.select(col("doc_id").as("db"), col("sh").as("shb"),
      col("rank").as("rb"),
      explode(array(col("bkt"), col("bkt") - 1)).as("bkt"))
    left.join(right, Seq("bkt"))
      .filter(col("rb") > col("ra") && col("rb") < col("ra") + w)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast(LongType).as("n_inter"),
        size(col("sha")).cast(LongType).as("na"),
        size(col("shb")).cast(LongType).as("nb"))
      .withColumn("jaccard",
        col("n_inter").cast(DoubleType) /
          (col("na") + col("nb") - col("n_inter")).cast(DoubleType))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("jaccard"))
  }

  /** The CANDIDATE pairs of sorted-neighborhood blocking — the w-window
    * neighbor pairs BEFORE any similarity verification. This is the
    * frame a blocking-quality evaluation needs (pair completeness /
    * reduction ratio measure the blocking scheme itself, not the
    * verifier); [[sortedNeighborhoodPairs]] is these candidates plus
    * the exact-Jaccard filter. Same rank construction (distributed
    * prefix-sum, no single-task window) and the same per-pair
    * normalization (doc_a < doc_b); O(n·w) pairs by construction.
    */
  def sortedNeighborhoodCandidates(docs: DataFrame, w: Int,
                                   keyLen: Int = 24): DataFrame = {
    require(w >= 2, s"window must be >= 2, got $w")
    require(keyLen >= 1, s"keyLen must be >= 1, got $keyLen")
    // r19 (opt): candidates never verify, so the shingle arrays are dead
    // weight here — the only thing the old `size(wordShingles(...)) > 0`
    // filter decided is "does the doc have at least one word 3-shingle",
    // which holds iff it has ≥ 3 tokens (the q_blocking_quality n_docs
    // equivalence, r18). Filtering on the token count drops the corpus
    // shingle pass AND narrows the frame the prefix-sum range-shuffles —
    // same ranked set, same pairs.
    val compact = spread(docs)
      .select(col("doc_id"), substring(col("text"), 1, keyLen).as("snm_key"),
        size(tokens(col("text"))).as("__ntok"))
      .filter(col("__ntok") >= 3)
      .select(col("doc_id"), col("snm_key"))
      .withColumn("one", lit(1L))
    val ranked = Scan.prefixSum(compact, Seq.empty, Seq("snm_key", "doc_id"),
        "one", "rank")
      .select(col("doc_id"), col("rank"),
        floor((col("rank") - 1) / w).as("bkt"))
      .localCheckpoint(true)
    val left = ranked.select(col("doc_id").as("da"), col("rank").as("ra"),
      col("bkt"))
    val right = ranked.select(col("doc_id").as("db"), col("rank").as("rb"),
      explode(array(col("bkt"), col("bkt") - 1)).as("bkt"))
    left.join(right, Seq("bkt"))
      .filter(col("rb") > col("ra") && col("rb") < col("ra") + w)
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"))
  }

  /** The persisted fingerprint state of an already-ingested corpus, for
    * incremental dedup of later batches: the LSH band table (doc_id,
    * band, key — the join index) and the per-doc distinct-shingle arrays
    * (the verification features). This is exactly what a production
    * pipeline keeps between ingests so a new batch NEVER re-scans old
    * text: bands prune, and verification fetches only the candidate old
    * docs' shingles (a semi-join-pruned point read at scale).
    */
  final case class MinhashStore(bands: DataFrame, shingles: DataFrame)

  /** Build the [[MinhashStore]] for a corpus — one compiled shingle pass
    * (checkpointed compact arrays, the [[minhashDedup]] pattern), one
    * signature kernel pass, one band explode. Run once per ingested
    * corpus generation; at 100 TB both outputs are written to a table
    * bucketed by (band, key) / doc_id instead of checkpointed.
    */
  def minhashStore(docs: DataFrame, numHashes: Int = 8,
                   rowsPerBand: Int = 2): MinhashStore = {
    val shingled = spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), graft.functions.wordShingles(col("w"), 3).as("sh"))
      .localCheckpoint(true)
    val sigs = shingled
      .select(col("doc_id"),
        graft.functions.minhashSignature(col("sh"), numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +:
        (0 until numHashes).map(j => element_at(col("sig"), j + 1).as(s"h$j")): _*)
    MinhashStore(lshBands(sigs, numHashes, rowsPerBand), shingled)
  }

  /** Incremental MinHash dedup: flag each NEW-batch document that is a
    * near-dup (exact shingle Jaccard ≥ tau) of some document already in
    * the [[MinhashStore]], without touching old text. doc ids must be
    * disjoint between batch and store (they are ids of one corpus).
    *
    * Shape at 100 TB: the new batch's band table is the SMALL side — the
    * band join broadcasts it against the stored index (no shuffle of the
    * store), candidate old-doc shingles are fetched by a semi-join on
    * candidate ids only, and verification touches |candidates| pairs.
    * Output: (doc_id, dup_of, jaccard[round 6]) — the best match per new
    * doc (max jaccard, ties to the smaller stored id).
    */
  def incrementalMinhash(newDocs: DataFrame, store: MinhashStore,
                         numHashes: Int = 8, rowsPerBand: Int = 2,
                         tau: Double = 0.5): DataFrame = {
    val shingledNew = spread(newDocs)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), graft.functions.wordShingles(col("w"), 3).as("sh"))
      .localCheckpoint(true)
    val sigsNew = shingledNew
      .select(col("doc_id"),
        graft.functions.minhashSignature(col("sh"), numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .select(col("doc_id") +:
        (0 until numHashes).map(j => element_at(col("sig"), j + 1).as(s"h$j")): _*)
    // checkpoint the (small) candidate-pair frame: it fans out to the
    // old-shingle semi-join AND the verification pair join, and without
    // the checkpoint the band join runs twice (the bm25Stats pattern)
    val cand = lshBands(sigsNew, numHashes, rowsPerBand)
      .select(col("doc_id").as("doc_a"), col("band"), col("key"))
      .join(store.bands.select(col("doc_id").as("doc_b"), col("band"), col("key")),
        Seq("band", "key"))
      .select(col("doc_a"), col("doc_b")).distinct()
      .localCheckpoint(true)
    // verification features: new-batch shingles (in hand) + ONLY the
    // candidate old docs' shingles (semi-join prune — the store is never
    // scanned in full)
    val oldSh = store.shingles
      .join(cand.select(col("doc_b").as("doc_id")).distinct(), "doc_id", "left_semi")
    val sh = shingledNew.unionByName(oldSh)
      .select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))
    jaccardOnShingles(sh, cand)
      .filter(col("jaccard") >= tau)
      .groupBy(col("doc_a"))
      .agg(max(struct(col("jaccard").as("j"), (-col("doc_b")).as("nb"))).as("best"))
      .select(col("doc_a").as("doc_id"), (-col("best.nb")).as("dup_of"),
        graft.functions.e6Witness(col("best.j"))
          .as("jaccard_e6"))
  }

  /** LSH banding: rowsPerBand signature elements concatenated per band.
    * Returns (doc_id, band, key).
    */
  def lshBands(sigs: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bandStructs = (0 until numBands).map { b =>
      val key = concat((0 until rowsPerBand).map(r => col(s"h${b * rowsPerBand + r}")): _*)
      struct(lit(b).as("band"), key.as("key"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** MinHash-LSH candidate pairs with the number of shared bands.
    * Shuffles on (band, key) only; each bucket yields its internal pairs.
    */
  def minhashCandidates(docs: DataFrame, numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame =
    candidatesFromSignatures(minhashSignatures(docs, numHashes), numHashes, rowsPerBand)

  /** Theoretical banded-LSH hit probability for a pair at Jaccard `j`
    * under `b` bands of `r` rows: 1 − (1 − jʳ)ᵇ (the standard banding
    * analysis, Leskovec/Rajaraman/Ullman MMDS ch. 3; measured within
    * 0.043 of this curve on the exact-Jaccard fixture — BASELINE.md
    * round-9 grid).
    */
  def lshRecallTheory(j: Double, r: Int, b: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, r), b)

  /** Band-config chooser: the cheapest (numHashes, rowsPerBand) whose
    * theoretical recall at Jaccard `tau` meets `targetRecall`.
    *
    * Feasible set: power-of-two signature widths up to `maxHashes`, any
    * divisor row count. Cost order: signature width first (hashing
    * compute + signature storage + shuffle bytes scale with it — the
    * 100 TB cost), then band count b = h/r (each band is one more
    * bucket-join pass and more false candidates at sub-τ similarity;
    * for a fixed width, fewer, taller bands give the sharper S-curve).
    * Throws when even `maxHashes` cannot reach the target — raising the
    * width is a capacity decision the caller must make, not a silent
    * degradation.
    */
  def chooseBandConfig(tau: Double, targetRecall: Double,
                       maxHashes: Int = 128): (Int, Int) = {
    require(tau > 0 && tau <= 1, s"tau must be in (0,1], got $tau")
    require(targetRecall > 0 && targetRecall < 1,
      s"targetRecall must be in (0,1), got $targetRecall")
    val widths = Iterator.iterate(4)(_ * 2).takeWhile(_ <= maxHashes).toSeq
    val feasible = for {
      h <- widths
      r <- (1 to h).filter(h % _ == 0)
      if lshRecallTheory(tau, r, h / r) >= targetRecall
    } yield (h, r)
    feasible.sortBy { case (h, r) => (h, h / r) }.headOption.getOrElse(
      throw new IllegalArgumentException(
        s"no config with <= $maxHashes hashes reaches recall $targetRecall at tau=$tau"))
  }

  /** Candidate pairs from an already-built signature table. One linear
    * pipeline, no self-join and no persist: group band rows by bucket, emit
    * each bucket's internal pairs (buckets are tiny — only genuine near-dup
    * groups collide), then count shared bands per pair. sort_array makes
    * pair order deterministic (collect_list is not).
    */
  def candidatesFromSignatures(sigs: DataFrame, numHashes: Int = 8,
                               rowsPerBand: Int = 2): DataFrame = {
    lshBands(sigs, numHashes, rowsPerBand)
      .groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> " +
          "transform(slice(ids, i + 2, size(ids)), b -> struct(a AS doc_a, b AS doc_b))))"))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_bands"))
  }

  /** Exact Jaccard over distinct 3-gram shingles for a given pair set
    * (pairs: doc_a, doc_b [, extra cols]). Joins each side's exploded
    * shingles; |A∪B| = |A|+|B|−|A∩B|. Intended for LSH-candidate
    * verification (bounded pair count), not all-pairs.
    */
  def jaccardOnPairs(docs: DataFrame, pairs: DataFrame): DataFrame =
    jaccardOnShingles(explodedShingles(docs).localCheckpoint(true), pairs)

  /** [[jaccardOnPairs]] over a pre-materialized exploded-shingle table
    * (doc_id, n_sh, s) — lets the full dedup pipeline shingle once.
    *
    * `sh` feeds both pair sides — localCheckpoint (eager) materializes it
    * once, cuts lineage, and unlike persist() the blocks are released by
    * the ContextCleaner when the DataFrame goes out of scope (persist
    * registers in the CacheManager for the session lifetime). Everything
    * else rides through ONE intersection join + aggregate: the per-doc
    * shingle counts come in on the join rows (first() per group), and the
    * pair's own columns (e.g. shared_bands) are carried the same way, so
    * no second consumption of `pairs` and no separate counts join.
    */
  def jaccardOnShingles(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val extraCols = pairs.columns.filterNot(c => c == "doc_a" || c == "doc_b").toSeq
    val carried = extraCols.map(c => first(col(c)).as(c)) ++ Seq(
      count(lit(1)).as("n_inter"), first(col("na")).as("na"), first(col("nb")).as("nb"))
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("n_sh").as("na"), col("s")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("n_sh").as("nb"), col("s")),
        Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b")
      .agg(carried.head, carried.tail: _*)
      .withColumn("jaccard",
        col("n_inter").cast(DoubleType) /
          (col("na") + col("nb") - col("n_inter")).cast(DoubleType))
  }

  /** The over-cap shingle blacklist: shingles present in more than `maxDf`
    * rows of `sh`. The df aggregation is a combiner-friendly `groupBy` —
    * map-side partial counts mean a boilerplate shingle shared by 10⁸ docs
    * costs one counter cell per task, never a single-task buffer (the
    * previous `count(*) OVER (PARTITION BY s)` formulation shuffled and
    * sorted EVERY occurrence of the hot shingle onto one task before the
    * filter could discard it — exactly the skew cliff the cap exists to
    * remove). The result is tiny by construction: ≤ total-occurrences/maxDf
    * rows, and in practice just the boilerplate set.
    */
  private[graft] def hotShingles(sh: DataFrame, maxDf: Long): DataFrame =
    sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("s"))

  /** Drop rows whose shingle is over the df cap, via a BROADCAST anti-join
    * against the [[hotShingles]] blacklist — no shuffle of the (huge)
    * occurrence table, no per-shingle buffering. All other columns of `sh`
    * pass through unchanged.
    *
    * NOTE: `sh` is consumed twice (blacklist + anti-join) — callers should
    * back it with a localCheckpoint'ed compact form (see
    * [[explodedShinglesCk]]) so shingling runs once.
    */
  private[graft] def dropHotShingles(sh: DataFrame, maxDf: Long): DataFrame =
    sh.join(broadcast(hotShingles(sh, maxDf)), Seq("s"), "left_anti")

  /** [[explodedShingles]] with the COMPACT per-doc arrays (one row per doc)
    * eagerly localCheckpointed, so multiple consumers re-run only the
    * explode off cached blocks instead of re-shingling the corpus.
    */
  private[ops] def explodedShinglesCk(docs: DataFrame, n: Int = 3): DataFrame = {
    val compact = spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), graft.functions.wordShingles(col("w"), n).as("sh"))
      .localCheckpoint(true)
    compact.select(col("doc_id"), size(col("sh")).as("n_sh"), explode(col("sh")).as("s"))
  }

  /** Cross-source shingle-overlap matrix — the diagnostic a curation
    * team reads BEFORE mixing sources: Jaccard similarity of the two
    * sources' distinct-shingle SETS, and both directed containments
    * (how much of A's shingle set already sits inside B — a CommonCrawl
    * dump vs a curated set question that doc-level dedup can't answer).
    *
    * Scale shape: one distinct (source, shingle) frame (Σ shingle
    * volume, linear); per shingle the source SET via `collect_set`
    * (bounded by the number of SOURCES — tens, never documents — so the
    * pair expansion per shingle is a small constant, and the hottest
    * boilerplate shingle contributes |S|² rows, not df² like a doc-pair
    * join); pair intersections in one combiner shuffle; the matrix
    * frame itself is |S|² rows — broadcast-sized by construction. All
    * counts exact BIGINTs; ratios emitted as e6 integer witnesses
    * (`floor(x·1e6 + 0.5)`, the q_kendall_tau convention) so no raw
    * double crosses an engine boundary.
    */
  def sourceOverlap(docs: DataFrame, n: Int = 3): DataFrame = {
    val ss = spread(docs)
      .select(col("source"), tokens(col("text")).as("w"))
      .select(col("source"),
        explode(graft.functions.wordShingles(col("w"), n)).as("s"))
      .distinct()
    val sizes = ss.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    // per-shingle source set → all ordered pairs via two codegen'd
    // explodes (no interpreted lambda on the Σ-shingles-sized frame)
    val pairs = ss.groupBy(col("s"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .select(col("srcs"), explode(col("srcs")).as("src_a"))
      .select(col("src_a"), explode(col("srcs")).as("src_b"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("inter"))
    val m = broadcast(sizes.select(col("source").as("src_a"), col("n_sh").as("n_a")))
      .crossJoin(broadcast(sizes.select(col("source").as("src_b"), col("n_sh").as("n_b"))))
      .filter(col("src_a") < col("src_b"))
    def e6(x: Column) = graft.functions.e6Witness(x)
    m.join(pairs, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        coalesce(col("inter"), lit(0L)).as("inter"))
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("inter"),
        e6(col("inter").cast(DoubleType) /
          (col("n_a") + col("n_b") - col("inter")).cast(DoubleType)).as("jaccard_e6"),
        e6(col("inter").cast(DoubleType) / col("n_a").cast(DoubleType)).as("contain_a_e6"),
        e6(col("inter").cast(DoubleType) / col("n_b").cast(DoubleType)).as("contain_b_e6"))
  }

  /** Drop shingles whose document frequency exceeds `maxDf` and recompute
    * the per-doc distinct-shingle count over the kept (informative)
    * universe. The guard against the hot-shingle pair blowup: a shingle-
    * equi-join's cost is Σ df(s)² over shingles, so ONE boilerplate 3-gram
    * shared by 10⁵ docs produces 10¹⁰ join rows; capping df bounds each
    * shingle's contribution at maxDf². df itself comes from the
    * combiner-friendly [[hotShingles]] groupBy — linear, never quadratic,
    * no single-task hot-shingle partition.
    */
  private[graft] def capShingleDf(sh: DataFrame, maxDf: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // n_sh windows by doc_id — partition size is bounded by document
    // length (shingles per doc), so no skew cliff, unlike a window by s
    dropHotShingles(sh, maxDf)
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .select(col("doc_id"), col("n_sh"), col("s"))
  }

  /** All-pairs n-gram Jaccard ≥ minJaccard over a bounded doc subset —
    * the exact (non-LSH) variant; the shingle equi-join means cost is
    * proportional to shared-shingle pairs, not n².
    *
    * `maxDf` drops shingles present in more than that many documents
    * BEFORE the join (see [[capShingleDf]]): Jaccard is then computed over
    * the informative-shingle universe (boilerplate excluded from both the
    * intersection and the per-doc counts), which is the standard df-capped
    * dedup metric and the only formulation that survives template-heavy
    * corpora at scale.
    */
  def ngramJaccardPairs(docs: DataFrame, minJaccard: Double,
                        maxDf: Long = 1000L): DataFrame = {
    val sh = capShingleDf(explodedShinglesCk(docs), maxDf)
    val inter = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"),
        first(col("a.n_sh")).as("na"), first(col("b.n_sh")).as("nb"))
    inter.withColumn("jaccard",
        col("n_inter").cast(DoubleType) /
          (col("na") + col("nb") - col("n_inter")).cast(DoubleType))
      .filter(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "n_inter", "jaccard")
  }

  /** Asymmetric near-CONTAINMENT pairs: C(A,B) = |A∩B| / min(|A|,|B|)
    * over df-capped word 3-gram shingles — Broder's containment measure
    * (Broder 1997, "On the resemblance and containment of documents"),
    * the metric that catches a short document quoted inside a long one.
    * Jaccard structurally misses these: a doc fully embedded in one 10×
    * its size has J ≈ 0.1 but containment 1.0, and quote-inclusion /
    * article-syndication duplicates are exactly this shape in web-scale
    * pretraining corpora.
    *
    * Same shingle equi-join skeleton as [[ngramJaccardPairs]] (cost is
    * Σ df(s)² over the df-capped shingle universe, never n²), so the
    * 100 TB story is identical; only the final score differs. Emits the
    * undirected pair plus `contained_id` — the member with the SMALLER
    * informative-shingle set (ties to the smaller doc_id), i.e. the doc a
    * keep-longest dedup policy would drop.
    */
  def containmentPairs(docs: DataFrame, minContainment: Double,
                       maxDf: Long = 1000L): DataFrame = {
    val sh = capShingleDf(explodedShinglesCk(docs), maxDf)
    val inter = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"),
        first(col("a.n_sh")).as("na"), first(col("b.n_sh")).as("nb"))
    inter
      .withColumn("containment",
        col("n_inter").cast(DoubleType) /
          least(col("na"), col("nb")).cast(DoubleType))
      .filter(col("containment") >= minContainment)
      .withColumn("contained_id",
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")))
      .select("doc_a", "doc_b", "n_inter", "containment", "contained_id")
  }

  /** Shared Spark/DuckDB arithmetic for a 16-bit SimHash from md5 nibbles:
    * bit b of token-hash = bit (b%4) of the hex nibble at position b/4+1.
    * `divOp` is "div" (Spark) or "//" (DuckDB) — everything else is
    * engine-portable SQL, so the oracle reproduces the exact fingerprint.
    */
  def simhashBitSql(b: Int, divOp: String): String = {
    val p = b / 4 + 1
    val pw = 1 << (b % 4)
    s"(((instr('0123456789abcdef', substr(md5(tok), $p, 1)) - 1) $divOp $pw) % 2)"
  }

  /** Per-doc n-bit SimHash: majority vote per bit over distinct tokens,
    * as one compiled narrow pass ([[graft.functions.SimHashBits]] — no
    * token explode, no nBits-sum shuffle; bit arithmetic matches
    * [[simhashBitSql]] so the declarative/DuckDB formulation reproduces it).
    */
  def simhash(docs: DataFrame, nBits: Int): DataFrame =
    spread(docs).select(col("doc_id"),
      graft.functions.simhashBits(tokens(col("text")), nBits).as("simhash"))
      // null = no tokens (can't happen for split-on-space text, which
      // yields [""] even for empty strings; defensive for other callers)
      .filter(col("simhash").isNotNull)

  /** Per-doc 16-bit SimHash (the oracle-pinned fingerprint surface). */
  def simhash16(docs: DataFrame): DataFrame = simhash(docs, 16)

  /** Connected components over an undirected pair list — the final step of
    * every dedup pipeline: near-dup PAIRS (from MinHash/SimHash/embedding
    * candidates) become duplicate CLUSTERS, keeping one representative per
    * cluster (the minimum id).
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min label over itself and its neighbors; converges in
    * O(component diameter) rounds, and duplicate clusters are
    * near-cliques (diameter ≤ ~2-3), so 2-4 rounds in practice. Each round
    * is one shuffle-by-node-id; labels are localCheckpointed so lineage
    * stays flat. For HIGH-DIAMETER graphs (paths, lattices, road
    * networks) use [[connectedComponentsStar]] — O(log²) rounds instead
    * of O(diameter), same output contract.
    *
    * nodes: one `doc_id` column; edges: (doc_a, doc_b).
    * Returns (doc_id, cluster_id) for every node, singletons included.
    */
  /** Path-compressed union-find over an edge list — the driver-side small-
    * graph fast path of [[connectedComponents]]. Returns id → min-id-root
    * for every id appearing in an edge.
    */
  private[ops] def unionFind(edgeArr: Array[(Long, Long)]): collection.Map[Long, Long] = {
    val parent = collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgeArr.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          smallEdgeLimit: Long = 2000000L): DataFrame = {
    // cost-based path choice (the analog of the reference's fused-path
    // gate): after LSH candidate mining the duplicate graph is usually
    // minuscule next to the corpus — a few edges per true near-dup group.
    // Below the gate, collect the edge list and union-find on the driver
    // (micro-seconds, zero iterative jobs); above it, run the distributed
    // min-label loop. The gate bounds driver memory at ~tens of MB.
    val edgePairs = edges.select(col("doc_a"), col("doc_b")).localCheckpoint(true)
    if (edgePairs.count() <= smallEdgeLimit) {
      val roots = unionFind(edgePairs.collect()
        .map(r => (r.getLong(0), r.getLong(1))))
      val spark = nodes.sparkSession
      import org.apache.spark.sql.Row
      val mapDf = spark.createDataFrame(
        java.util.Arrays.asList(roots.toSeq.sortBy(_._1)
          .map { case (id, root) => Row(id, root) }: _*),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", LongType, nullable = false),
          org.apache.spark.sql.types.StructField("root", LongType, nullable = false))))
      return nodes.select(col("doc_id"))
        .join(broadcast(mapDf), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("root"), col("doc_id")).as("cluster_id"))
    }
    val adj = edgePairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edgePairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    // only nodes with at least one edge can ever change label; singletons
    // ride around the loop entirely and are appended at the end
    var labels = adj.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint(true)
    // labels only ever decrease, so Σlabel strictly decreases each round
    // until the fixpoint — one cheap aggregate instead of a join-and-count
    // per round to detect convergence
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("cluster_id").cast(DecimalType(38, 0)))).head()
        .getDecimal(0) // node ids may be 63-bit fingerprints — Σ overflows long
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      val prop = adj.join(labels, adj("src") === labels("doc_id"))
        .select(col("dst").as("doc_id"), col("cluster_id"))
      val next = labels.select(col("doc_id"), col("cluster_id")).union(prop)
        .groupBy(col("doc_id"))
        .agg(min(col("cluster_id")).as("cluster_id"))
        .localCheckpoint(true)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
    }
    nodes.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Connected components via ALTERNATING LARGE-STAR / SMALL-STAR
    * (Kiveris, Lattanzi, Mirrokni, Rastogi & Vassilvitskii 2014,
    * "Connected Components in MapReduce and Beyond", Algorithms 2–3) —
    * the O(log²)-round form for HIGH-DIAMETER graphs, closing the
    * documented caveat on [[connectedComponents]]: the min-label loop
    * pays one shuffle round per HOP, so a length-d path needs d rounds
    * (fatal at d ~ 10⁵), while star operations halve star heights —
    * the spec pins a 50k-node chain converging within 25 rounds.
    *
    *  - large-star: every node links its LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node links its smaller neighbors (and
    *    itself) to the minimum of its smaller neighborhood.
    *
    * Each operation is one groupBy-min + one edge-wise join back —
    * neighborhoods are NEVER collected onto a task (a hot node's edges
    * stay spread across the join), the skew-safety the paper's
    * reduce-over-neighborhood formulation lacks. At the fixpoint the
    * edge set is a star (child → component min); convergence is
    * detected by an order-insensitive (count, Σ xxhash64) checksum in
    * DECIMAL — one aggregate per round, no set-compare shuffle (a
    * false match needs a 64-bit collision summed across the set).
    *
    * Same contract as [[connectedComponents]]: (doc_id, cluster_id =
    * component minimum) for every node, singletons included —
    * cross-verified against the min-label loop and the driver
    * union-find in specs, and gate-checked as `dedup_clusters_star`
    * against dedup_clusters' own oracle.
    */
  def connectedComponentsStar(nodes: DataFrame, edges: DataFrame,
                              maxRounds: Int = 50): DataFrame = {
    var e = edges.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)

    def bidir(d: DataFrame): DataFrame =
      d.union(d.select(col("v").as("u"), col("u").as("v")))

    // (r18: broadcast-hinting `m` into the star joins was tried and
    // REVERTED — the per-round broadcast collect jobs added driver
    // latency where the SMJ's exchange is shared with the groupBy-min
    // anyway; the query is gap-bound, 66 jobs / 4.5 s of driver time
    // between jobs at sf0.1, so fewer jobs beats cheaper joins.)
    def largeStar(d: DataFrame): DataFrame = {
      val nb = bidir(d)
      val m = nb.groupBy(col("u")).agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      nb.join(m, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    def smallStar(d: DataFrame): DataFrame = {
      // direct every edge from its larger endpoint; m = min of the
      // strictly-smaller neighborhood (nonempty by construction)
      val nb = d.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val m = nb.groupBy(col("u")).agg(min(col("v")).as("m"))
      val linked = nb.join(m, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      linked.union(m.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // two independent order-insensitive checksums (seeded xxhash64
    // pair): declaring convergence on a stale set now needs the SAME
    // 64-bit collision to survive two unrelated hash sums — the
    // r14-ADVICE collision caveat closed without a set-compare shuffle.
    // r18 (opt): each hash sums as three primitive LONG base-2³¹ digits
    // (lo/mid masked non-negative, signed top digit) instead of a
    // DECIMAL(38,0) per row — digit sums are exact for ≤ 2³¹ rows
    // (count-checked; decimal fallback above) and the exact total is
    // reconstructed host-side in BigDecimal, so the compare semantics
    // and collision resistance are unchanged.
    // r19 (ADVICE): route on the PREVIOUS round's edge count instead of
    // always running the digit aggregation first — in the oversized
    // regime the old shape scanned the full edge set twice per round
    // (digit sums computed, discarded, decimal recomputed) exactly where
    // scans are most expensive. A round's edge count moves by bounded
    // factors (star operations), so prevN ≤ 2³⁰ leaves 2× headroom under
    // the 2³¹ digit-sum cap; the in-aggregation count still decides
    // exactly, and the rare blow-past just pays the old double scan.
    def checksum(d: DataFrame, prevN: Long):
        (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val mask = lit(0x7FFFFFFFL)
      def digits(h: org.apache.spark.sql.Column) =
        Seq(sum(h.bitwiseAND(mask)), sum(shiftright(h, 31).bitwiseAND(mask)),
          sum(shiftright(h, 62)))
      val h1 = xxhash64(col("u"), col("v"))
      val h2 = xxhash64(lit(0x9e3779b9L), col("u"), col("v"))
      def decimalPath(): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
        val rd = d.agg(count(lit(1)),
          sum(h1.cast(DecimalType(38, 0))),
          sum(h2.cast(DecimalType(38, 0)))).head()
        (rd.getLong(0), rd.getDecimal(1), rd.getDecimal(2))
      }
      if (prevN > (1L << 30)) return decimalPath()
      val r = d.agg(count(lit(1)), (digits(h1) ++ digits(h2)): _*).head()
      val n = r.getLong(0)
      if (n == 0L) (0L, null, null)
      else if (n > (1L << 31)) { // digit sums could wrap: exact decimal path
        decimalPath()
      } else {
        def recon(lo: Long, mid: Long, hi: Long): java.math.BigDecimal =
          new java.math.BigDecimal(
            java.math.BigInteger.valueOf(hi).shiftLeft(62)
              .add(java.math.BigInteger.valueOf(mid).shiftLeft(31))
              .add(java.math.BigInteger.valueOf(lo)))
        (n, recon(r.getLong(1), r.getLong(2), r.getLong(3)),
          recon(r.getLong(4), r.getLong(5), r.getLong(6)))
      }
    }
    def eqDec(a: java.math.BigDecimal, b: java.math.BigDecimal): Boolean =
      if (a == null) b == null else b != null && a.compareTo(b) == 0

    var prev = checksum(e, 0L)
    var converged = prev._1 == 0L // no edges → all singletons
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= maxRounds,
        s"connectedComponentsStar did not converge in $maxRounds rounds " +
          "(paper bound is O(log² n) — raise maxRounds for truly enormous graphs)")
      // LAZY: the checksum aggregation is the round's materializing
      // action (r18 — one job per round, not two; the round is driver-
      // gap-bound, see largeStar note)
      val next = smallStar(largeStar(e)).localCheckpoint(false)
      val cs = checksum(next, prev._1)
      converged = cs._1 == prev._1 && eqDec(cs._2, prev._2) && eqDec(cs._3, prev._3)
      prev = cs
      // the prior round's checkpointed blocks are dead once `next` is
      // materialized — without this a high-diameter run pins
      // O(rounds × |E|) cached blocks until session end (r14 ADVICE)
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(e)
      e = next
    }
    val labels = e.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
    nodes.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
  }

  /** Eval-set decontamination: for every training document, the eval
    * document sharing the most distinct word n-grams, the overlap count,
    * and the contaminated-fraction (overlap / the train doc's distinct
    * n-grams). The classic pre-training hygiene pass: long-n-gram
    * containment against held-out benchmarks.
    *
    * Shape: both sides shingle narrowly (compiled kernel), the only wide
    * op is the shingle equi-join — cost proportional to SHARED n-grams
    * (n=8 makes random collisions vanish), never |train|×|eval|.
    * Returns one row per train doc (zero-overlap docs included).
    */
  def contamination(train: DataFrame, eval_ : DataFrame, n: Int = 8,
                    maxDf: Long = 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // df-cap each side before the join: the join's cost is
    // Σ df_train(s)·df_eval(s), so one boilerplate n-gram shared by 10⁵
    // docs on both sides is 10¹⁰ rows. Dropping grams with df > maxDf on
    // either side bounds every term at maxDf² — via the combiner-friendly
    // groupBy + broadcast-blacklist anti-join ([[dropHotShingles]]), never
    // a window over all occurrences. n_sh (the frac denominator) stays the
    // FULL distinct-gram count — frac is then a lower bound that ignores
    // boilerplate-gram overlap, which is what decontamination wants anyway
    // (benchmark leakage is informative-gram overlap).
    val tSh = dropHotShingles(explodedShinglesCk(train, n), maxDf)
    val eSh = dropHotShingles(
      explodedShinglesCk(eval_, n).select(col("doc_id").as("eval_id"), col("s")),
      maxDf)
    val overlap = tSh.join(eSh, "s")
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_overlap"), first(col("n_sh")).as("n_sh"))
    val top = overlap
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("n_overlap").desc, col("eval_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("eval_id"), col("n_overlap"),
        (col("n_overlap").cast(DoubleType) / col("n_sh").cast(DoubleType)).as("frac"))
    train.select(col("doc_id"))
      .join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("eval_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        graft.functions.e6Witness(coalesce(col("frac"), lit(0.0))).as("frac_e6"))
  }

  /** Per-document duplicated-span profile — the token-level approximation
    * of exact-substring dedup ("Deduplicating Training Data Makes
    * Language Models Better", Lee et al. 2022: suffix-array spans become
    * positional n-gram hits at token granularity). A span (positional
    * n-gram occurrence) counts as duplicated when its n-gram appears in
    * at least `minDocs` DISTINCT documents; the output is each doc's span
    * count, duplicated-span count, and duplicated fraction — the signal a
    * pipeline thresholds to drop boilerplate-heavy documents.
    *
    * Scale shape: one positional-shingle pass (compiled
    * [[graft.functions.WordShingles]] kernel, distinct=false), one
    * combiner-friendly df aggregation over DISTINCT per-doc grams, and
    * one join of positional grams against the duplicated-gram set — all
    * shuffles keyed on the gram, no pair expansion anywhere (unlike
    * pair-mining dedup, the profile is linear in corpus size by
    * construction).
    *
    * Output: (doc_id, n_spans, n_dup, dup_frac_e6, dup_frac).
    * dup_frac_e6 is the canonical gate witness — a PURE-INTEGER
    * round-half-up of n_dup/n_spans at 6 dp (floordiv(2a·10⁶+b, 2b)),
    * identical on any engine by construction; dup_frac = e6/10⁶ is the
    * derived double kept for model features, never hashed (r16).
    */
  def duplicatedSpans(docs: DataFrame, n: Int = 8,
                      minDocs: Int = 2): DataFrame = {
    // the positional-gram frame feeds three sub-plans (df aggregation,
    // dup-membership probe, n_spans projection) and Spark does not share
    // common sub-plans across join inputs — checkpoint the compact
    // one-row-per-doc form so tokenize+shingle runs ONCE (the mmrTopK
    // pattern)
    val pos = spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        graft.functions.wordShingles(col("w"), n, distinct = false).as("g"))
      .localCheckpoint(true)
    val spans = pos.select(col("doc_id"), explode(col("g")).as("gram"))
    val dupGrams = spans.select(col("doc_id"), col("gram")).distinct()
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("gram"))
    val dupCounts = spans.join(dupGrams, "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    pos.select(col("doc_id"), size(col("g")).cast(LongType).as("n_spans"))
      .join(dupCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac_e6",
        expr("CASE WHEN n_spans > 0 THEN" +
          " (2 * n_dup * 1000000 + n_spans) div (2 * n_spans)" +
          " ELSE 0 END"))
      .withColumn("dup_frac", col("dup_frac_e6").cast(DoubleType) / 1e6)
  }

  /** Exact duplicated-SUBSTRING profile (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the ExactSubstr
    * method): any character substring of length ≥ `minLen` that occurs
    * at two or more positions anywhere in the corpus is duplicated
    * text — the strongest contamination class (verbatim boilerplate,
    * licenses, copied chunks), which token-shingle near-dup methods
    * ([[duplicatedSpans]], minhash) only catch probabilistically.
    *
    * The paper's single-node tool builds a suffix array over the
    * concatenated corpus; the distributed equivalent is SORTED HASHED
    * GRAMS: every stride-1 length-`minLen` character window keys by its
    * md5 (the cross-engine hash), one combiner-friendly count
    * aggregation finds keys occurring ≥ 2 times (the groupBy IS the
    * distributed suffix sort — two windows are equal iff their keys are,
    * up to md5 collision), and each document's duplicated positions
    * merge into MAXIMAL spans: a gap > `minLen` between consecutive
    * duplicated positions starts a new span; gaps ≤ `minLen` mean the
    * windows overlap or touch, so the union `[min, max + minLen)` is
    * contiguous duplicated text.
    *
    * Scale shape: the window frame is Σ|text| rows — LINEAR in corpus
    * bytes, the same asymptotic as the suffix array, with no in-memory
    * automaton; both shuffles key on the hash; the only window function
    * runs inside a `doc_id` partition (bounded by document length, the
    * safe window class). Docs shorter than `minLen` emit no windows and
    * surface with zero counts via the final left join.
    *
    * Output: (doc_id, dup_windows, dup_spans, dup_chars, max_span).
    */
  def substringSpans(docs: DataFrame, minLen: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = spread(docs)
      .filter(length(col("text")) >= minLen)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0L),
          (length(col("text")) - minLen).cast(LongType))).as("pos"))
      .select(col("doc_id"), col("pos"),
        md5(col("text").substr(col("pos").cast(IntegerType) + 1, lit(minLen))).as("h"))
    // dup is the (small) set of repeated window hashes — materialize it
    // once: the bloom build and the position join both read it, and its
    // lineage re-derives the full window frame otherwise
    val dup = win.groupBy(col("h")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select(col("h"))
      .localCheckpoint(true)
    // bloom-prune the POSITION side before its join shuffle (the
    // BloomJoin pattern): the window frame is Σ|text| rows of
    // (doc_id, pos, h) and typically ~90%+ of windows are unique, so
    // shipping them to the join reducers just to discard them is the
    // dominant shuffle at scale — the membership test drops them in the
    // map stage. False positives (1%) ride into the exact join and die
    // there: output provably identical (the q_bloom_join contract).
    // GATED on the ESTIMATED SERIALIZED BYTES (r16 — was key-count):
    // at fpp = 0.01 the filter costs ~9.585 bits ≈ 1.2 bytes per key,
    // and what actually hurts past the cap is the broadcast+scan-side
    // probe cost in BYTES, not keys — a key-count cap of 10⁸ admitted a
    // ~120 MB filter, squarely in the degraded 50-500 MB band. 32 MB
    // (~27M keys) keeps the executor-side bitset comfortably
    // cache-resident; a duplicate-heavier corpus falls back to the
    // plain shuffle join, which at that dup rate is mostly matches
    // anyway (BASELINE r16 carries the A/B at the cap). Output is
    // identical on both paths (the q_bloom_join contract).
    val nDup = dup.count() // dup is materialized; this is a cheap scan
    val estBloomBytes = (nDup * 12L) / 10L  // 1.2 bytes/key at fpp 0.01
    val maxBloomBytes = 32L << 20
    val dupPos = (if (estBloomBytes <= maxBloomBytes && nDup > 0) {
        val bloom = BloomJoin.buildFilter(dup, "h", expectedItems = nDup, fpp = 0.01)
        win.filter(graft.functions.bloomMightContain(col("h"), bloom))
      } else win)
      .join(dup, "h").select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dupPos
      .withColumn("f",
        when(lag(col("pos"), 1).over(byDoc).isNull ||
          col("pos") - lag(col("pos"), 1).over(byDoc) > minLen, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("f")).over(byDoc))
      .groupBy(col("doc_id"), col("span_id"))
      .agg(count(lit(1)).as("nwin"),
        (max(col("pos")) - min(col("pos")) + minLen).as("span_len"))
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(sum(col("nwin")).as("dup_windows"),
        count(lit(1)).as("dup_spans"),
        sum(col("span_len")).as("dup_chars"),
        max(col("span_len")).as("max_span"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("max_span"), lit(0L)).as("max_span"))
  }

  /** Winnowing fingerprint profile (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): hash every positional n-gram, slide a window of
    * `window` consecutive gram hashes, and select each window's minimum
    * (ties to the smaller position) — guaranteeing any shared run of
    * `window + n − 1` tokens shares a fingerprint while storing only
    * ~2/(window+1) of the grams. The hash is the fixed-width md5-hex
    * prefix with the zero-padded position appended, so lexicographic MIN
    * is the (hash, pos) argmin and both engines agree byte-for-byte (the
    * [[minhashElemSql]] trick).
    *
    * The per-doc window runs inside a `doc_id` partition — bounded by
    * document length, never by corpus frequency (the safe window class;
    * cf. the banned shingle-keyed windows). Output:
    * (doc_id, n_windows, n_fp, fp_density[round 6]).
    */
  def winnowedFingerprints(docs: DataFrame, n: Int = 5,
                           window: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // checkpointed for the same reason as [[duplicatedSpans]]: the gram
    // frame feeds both the fingerprint selection and the n_windows base
    val grams = spread(docs)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        graft.functions.wordShingles(col("w"), n, distinct = false).as("g"))
      .localCheckpoint(true)
    val pos = grams
      .select(col("doc_id"), size(col("g")).cast(LongType).as("n_grams"),
        posexplode(col("g")))
      .select(col("doc_id"), col("n_grams"),
        (col("pos") + 1).cast(LongType).as("pos"),
        concat(substring(md5(col("col")), 1, 16),
          lpad((col("pos") + 1).cast(StringType), 10, "0")).as("comb"))
    val win = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    val fps = pos
      .withColumn("sel", min(col("comb")).over(win))
      .filter(col("pos") <= col("n_grams") - (window - 1))
      .select(col("doc_id"), col("sel")).distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_fp"))
    grams.select(col("doc_id"),
        greatest(size(col("g")).cast(LongType) - (window - 1), lit(0L))
          .as("n_windows"))
      .join(fps, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"))
      // PURE-INTEGER 6-dp witness of n_fp/n_windows (round-half-up):
      // both operands are longs, so no float ever touches the column
      .withColumn("fp_density_e6",
        expr("CASE WHEN n_windows > 0 THEN" +
          " (2 * n_fp * 1000000 + n_windows) div (2 * n_windows)" +
          " ELSE 0 END"))
  }

  /** SimHash near-duplicate pairs at hamming distance ≤ 2, via 3-band LSH
    * over a 63-bit fingerprint (21 bits per band — two differing bits
    * leave at least one band untouched, so recall at the threshold is
    * EXACT, and a 21-bit key space keeps buckets near-singleton at corpus
    * scale, unlike banding a 16-bit hash whose 5-bit keys collide
    * everywhere). 63 bits, not 64: every per-bit power-of-two then fits a
    * signed BIGINT, so the SQL-oracle reconstruction needs no sign tricks.
    * Bucket-grouped pair generation — no self-join; a pair found in
    * several bands dedupes via `distinct` after the (identical) hamming
    * computation.
    */
  def simhashPairs(docs: DataFrame, hammingMax: Int = 2): DataFrame =
    fingerprintPairs(simhash(docs, 63), hammingMax)

  /** 3-band LSH hamming-pair mining over an arbitrary (doc_id, simhash)
    * table — see [[simhashPairs]] for the banding rationale.
    */
  def fingerprintPairs(sims: DataFrame, hammingMax: Int = 2): DataFrame = {
    // 3 bands guarantee EXACT recall only up to hamming 2 (pigeonhole: ≤ 2
    // differing bits leave ≥ 1 band untouched). Reject larger thresholds
    // instead of silently returning an incomplete pair set.
    require(hammingMax >= 0 && hammingMax <= 2,
      s"3-band LSH gives exact recall only for hammingMax <= 2, got $hammingMax")
    val bands = sims.select(col("doc_id"), col("simhash"),
      explode(array(
        struct(lit(0).as("band"), col("simhash").bitwiseAND(lit((1L << 21) - 1)).as("key")),
        struct(lit(1).as("band"),
          shiftrightunsigned(col("simhash"), 21).bitwiseAND(lit((1L << 21) - 1)).as("key")),
        struct(lit(2).as("band"), shiftrightunsigned(col("simhash"), 42).as("key")))).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    // a pair colliding in several bands would duplicate; instead of a
    // distinct() (a full shuffle of the pair stream) emit each pair only
    // from its FIRST matching band — band b emits iff no earlier band's
    // key also matched, decidable per-row from the two fingerprints
    val m21 = lit((1L << 21) - 1)
    def b0(c: Column) = c.bitwiseAND(m21)
    def b1(c: Column) = shiftrightunsigned(c, 21).bitwiseAND(m21)
    bands.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_list(struct(col("doc_id").as("id"), col("simhash").as("h"))))
        .as("its"))
      .filter(size(col("its")) > 1)
      .select(col("band"),
        graft.functions.structPairs(col("its")).as(Seq("doc_a", "ha", "doc_b", "hb")))
      .filter(col("band") === 0
        || (col("band") === 1 && b0(col("ha")) =!= b0(col("hb")))
        || (col("band") === 2 && b0(col("ha")) =!= b0(col("hb"))
              && b1(col("ha")) =!= b1(col("hb"))))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(ha ^ hb)").cast(LongType).as("hamming"))
      .filter(col("hamming") <= hammingMax)
  }

  /** SimHash duplicate CLUSTERS: near-dup pairs → connected components →
    * (doc_id, cluster_id = min doc_id of the component), every doc
    * labeled, singletons included.
    *
    * Runs the component search on the QUOTIENT graph of distinct
    * fingerprints: template-heavy corpora hold thousands of docs with
    * byte-identical fingerprints, which contribute quadratically many
    * hamming-0 edges but only ONE quotient node — collapsing first shrinks
    * the iterative CC's node and edge sets by the duplication factor
    * (measured 42 s → ~8 s on the sf0.1 corpus) while provably preserving
    * the doc-level components (identical fingerprints are distance 0;
    * doc-pair edges depend only on fingerprint pairs).
    */
  def simhashClusters(docs: DataFrame, hammingMax: Int = 2,
                      smallEdgeLimit: Long = 2000000L,
                      useStar: Boolean = false): DataFrame = {
    val sims = simhash(docs, 63).localCheckpoint(true)
    // quotient nodes: each distinct fingerprint, node id = the fingerprint
    val distinctH = sims.select(col("simhash").as("doc_id"), col("simhash"))
      .distinct().localCheckpoint(true)
    val hPairs = fingerprintPairs(distinctH, hammingMax)
    // useStar routes the component step through the O(log²)-round
    // large-star/small-star plan (same contract, third independent
    // algorithm — the gate runs both against ONE oracle)
    val hCompRaw =
      if (useStar) connectedComponentsStar(distinctH.select(col("doc_id")), hPairs)
      else connectedComponents(distinctH.select(col("doc_id")), hPairs, smallEdgeLimit)
    val hComp = hCompRaw
      .select(col("doc_id").as("simhash"), col("cluster_id").as("comp"))
    // back to docs: component id = min doc_id over the component's docs
    val docComp = sims.join(hComp, "simhash")
      .select(col("doc_id"), col("comp"))
    val compMin = docComp.groupBy(col("comp"))
      .agg(min(col("doc_id")).as("cluster_id"))
    docComp.join(compMin, "comp").select(col("doc_id"), col("cluster_id"))
  }

  /** Fuzzy (edit-distance ≤ 1) self-join via deletion-neighborhood
    * blocking — the entity-resolution primitive behind record linkage
    * and near-identical-key dedup, scale-safe because it never forms
    * all-pairs.
    *
    * Blocking rule (the SymSpell / FastSS observation, Bocek et al.
    * 2007, "Fast Similarity Search in Large Dictionaries"): two strings
    * within Levenshtein distance 1 share a common member of their
    * deletion neighborhoods — the string itself plus every
    * single-character deletion. A substitution at position i matches on
    * both sides' delete-at-i; an insertion/deletion matches the longer
    * side's delete against the shorter side's identity. So joining on
    * the (L+1)-key neighborhood finds EVERY distance-≤1 pair; the exact
    * `levenshtein` filter then discards the false candidates (two
    * different deletions can collide, e.g. "ab"/"ba" share "a").
    *
    * Block sizes are governed by how many corpus keys collapse onto one
    * deletion variant — near-identical keys only — so candidate volume
    * is output-proportional, not quadratic: the same df-cap philosophy
    * as the shingle joins, without needing a cap because a deletion
    * variant of a UNIQUE key collides only with genuine near-matches.
    *
    * Returns (id_a, id_b, dist) with id_a < id_b, dist ∈ {0, 1}.
    */
  def fuzzyPairsEdit1(rows: DataFrame, idCol: String, keyCol: String): DataFrame =
    edit1Pairs(rows, idCol, keyCol)
      .select(col("id_a"), col("id_b"), col("dist"))

  /** Distinct-KEY near pairs at edit distance exactly 1 — the
    * deletion-neighborhood block join run over the distinct key set
    * (`(k_a, k_b)` with `k_a < k_b` lexicographically). This is where
    * ALL the blocking + levenshtein work happens, and it is sized by
    * DISTINCT keys, not rows: on a corpus where keys repeat (the 100×
    * replica copies each c_name into every one of 100 replicas) the
    * row-level join ground through 10.9e9 candidate pairs — 10⁴
    * duplicate levenshteins per distinct name pair (measured; two gate
    * runs died on the ~85 GB distinct-shuffle spill) — where this form
    * does each name-pair comparison once (15k names → ~10⁶ candidates,
    * a 1000× CPU cut). distinct keys are collected nowhere: the
    * variant self-join stays distributed with the same pinned
    * repartition (AQE would coalesce the exploding exchange to a
    * handful of partitions; user-specified numPartitions is never
    * coalesced).
    */
  private def edit1KeyPairs(keys: DataFrame): DataFrame = {
    // deletion neighborhood: the key itself (pos = -1) plus delete-at-i.
    // distinct: deleting different equal chars (e.g. any of the zeros in
    // "Customer#000000012") yields the SAME variant string.
    val keyed = keys.select(col("k"))
      .distinct()
      .withColumn("pos", explode(sequence(lit(-1), length(col("k")) - 1)))
      .select(col("k"),
        when(col("pos") < 0, col("k"))
          .otherwise(concat(
            col("k").substr(lit(1), col("pos")),
            col("k").substr(col("pos") + 2, length(col("k")))))
          .as("variant"))
      .distinct()
      .repartition(keys.sparkSession.sparkContext.defaultParallelism,
        col("variant"))
      .localCheckpoint(true)
    val a = keyed.select(col("variant"), col("k").as("k_a"))
    val b = keyed.select(col("variant"), col("k").as("k_b"))
    // levenshtein BEFORE distinct (r17): only true near pairs shuffle
    a.join(b, Seq("variant"))
      .filter(col("k_a") < col("k_b"))
      .filter(levenshtein(col("k_a"), col("k_b")) <= 1)
      .select(col("k_a"), col("k_b"))
      .distinct()
  }

  /** Deletion-neighborhood blocked ID pairs at edit distance ≤ 1, with
    * the key strings — the shared candidate stage of
    * [[fuzzyPairsEdit1]] and [[linkPairsJaroWinkler]]: the distinct-key
    * near-pair set ([[edit1KeyPairs]]) expanded back to id pairs by two
    * key-equality joins (same-key pairs by a co-partitioned self-join).
    * The expansion is output-proportional by construction — when keys
    * repeat R times the id-pair result is Θ(R²) per key pair, which is
    * the true answer's own size, not join overhead.
    */
  private def edit1Pairs(rows: DataFrame, idCol: String, keyCol: String): DataFrame = {
    val ids = rows.select(col(idCol).as("id"), col(keyCol).as("k"))
      .localCheckpoint(true)
    // same-key pairs: dist 0, co-partitioned self-join on the key
    val same = ids.as("x").join(ids.as("y"),
        col("x.k") === col("y.k") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.k").as("k_a"), col("y.k").as("k_b"), lit(0L).as("dist"))
    // near-key pairs: expand each (k_a, k_b) to ids_a × ids_b, then
    // normalize to id_a < id_b (key columns swap with their ids)
    val near = edit1KeyPairs(ids.select(col("k")))
      .join(ids.as("x"), col("x.k") === col("k_a"))
      .join(ids.as("y"), col("y.k") === col("k_b"))
      .select(
        least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"),
        when(col("x.id") < col("y.id"), col("k_a")).otherwise(col("k_b")).as("k_a"),
        when(col("x.id") < col("y.id"), col("k_b")).otherwise(col("k_a")).as("k_b"),
        lit(1L).as("dist"))
    same.unionByName(near)
  }

  /** Scale-honest key-level summary of the edit-1 linkage: one row per
    * near-duplicate DISTINCT-key pair — `(key_a, key_b, dist, n_pairs)`
    * where `n_pairs` is the number of id pairs the key pair induces
    * (cnt_a·cnt_b across keys; C(cnt, 2) within a repeated key, emitted
    * only when ≥ 1). On corpora with unique keys this is exactly the
    * id-pair set reshaped; on corpora with repeated keys it is the only
    * form whose OUTPUT is not quadratic in the repetition factor — at
    * the 100× replica the id-pair materialization is ~2.7e9 rows (a
    * number, not a result set), while this summary is ~280k rows and
    * fully oracle-able. `jw` adds the Jaro-Winkler e6 witness per key
    * pair ([[linkPairsJaroWinkler]] semantics; 10⁶ for equal keys).
    */
  def fuzzyKeySummary(rows: DataFrame, idCol: String, keyCol: String,
                      jw: Boolean = false): DataFrame = {
    val counts = rows.groupBy(col(keyCol).as("k"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val eq = counts.filter(col("c") > 1)
      .select(col("k").as("key_a"), col("k").as("key_b"), lit(0L).as("dist"),
        expr("c * (c - 1) div 2").as("n_pairs"))
    val cr = edit1KeyPairs(counts.select(col("k")))
      .select(col("k_a").as("key_a"), col("k_b").as("key_b"))
      .join(counts.select(col("k").as("key_a"), col("c").as("ca")), Seq("key_a"))
      .join(counts.select(col("k").as("key_b"), col("c").as("cb")), Seq("key_b"))
      .select(col("key_a"), col("key_b"), lit(1L).as("dist"),
        (col("ca") * col("cb")).as("n_pairs"))
    val base = eq.unionByName(cr)
    if (!jw) base
    else base.select(col("key_a"), col("key_b"), col("dist"), col("n_pairs"),
      graft.functions.e6Witness(
        graft.functions.jaroWinkler(col("key_a"), col("key_b"))).as("jw_e6"))
  }

  /** Record linkage with Jaro-Winkler scoring: the same recall-complete
    * deletion-neighborhood blocking as [[fuzzyPairsEdit1]] (every pair
    * within edit distance 1 is a candidate), scored with the
    * record-linkage-standard Jaro-Winkler comparator instead of raw edit
    * distance — JW weights WHERE the discrepancy sits (early-prefix
    * differences score lower than tail differences, Winkler 1990), which
    * is the decision rule linkage pipelines actually rank by. Returns
    * (id_a, id_b, dist, jw) for pairs at edit distance ≤ 1, jw rounded
    * to 6 dp (both engines compute the identical IEEE sequence; see
    * [[graft.functions.JaroWinkler]] for the DuckDB-pinned semantics).
    */
  def linkPairsJaroWinkler(rows: DataFrame, idCol: String, keyCol: String): DataFrame =
    edit1Pairs(rows, idCol, keyCol)
      .select(col("id_a"), col("id_b"), col("dist"),
        graft.functions.e6Witness(
          graft.functions.jaroWinkler(col("k_a"), col("k_b"))).as("jw_e6"))
}
