package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions._

/** Lexical (sparse) retrieval over the documents table: BM25 scoring on
  * corpus posting statistics, and reciprocal-rank fusion for combining a
  * lexical list with a dense (embedding-kNN) list — the standard hybrid
  * retrieval shape of a training-data / RAG pipeline.
  *
  * Scale shape: the posting statistics (tf, df, doc length) are ONE
  * combiner-friendly shuffle each over the token stream — the same pass
  * that builds an inverted index. Queries are a handful of rows joined
  * against those stats; every downstream aggregate is k-bounded. At
  * 100 TB the stats tables are computed once and reused across query
  * batches, and `maxDf` prunes stopword postings (a term present in half
  * the corpus contributes ~zero idf but df(t) join rows — the classic
  * posting-list cap, cf. the df cap in [[Dedup.ngramJaccardPairs]]).
  */
object Lexical {

  /** Default posting-list df cap: a term present in more than this many
    * documents is dropped from the index. Finite BY DEFAULT — the cap is
    * the guard against the stopword cliff (one "the" in a query doc joins
    * df(t) posting rows; at corpus scale with no cap that is a scan of
    * half the corpus per stopword), and a guard that must be opted into is
    * not a guard (the [[Dedup.ngramJaccardPairs]] convention). At 10⁹+
    * docs, callers who want the long idf tail should RAISE the cap
    * deliberately (e.g. ~0.1 × corpus size); nothing reachable with
    * default arguments may generate an unbounded join.
    */
  val defaultMaxDf: Long = 100000L

  /** The corpus-side BM25 state: posting list with term frequencies (tf),
    * per-term document frequencies after the df cap (dfreq), per-doc
    * lengths (lens), and the (n_docs, avg_len) scalar frame. Each is ONE
    * combiner-friendly shuffle over the token stream; at 100 TB this is
    * computed once and reused across every query batch and every hybrid
    * composition — rebuilding it per query would re-tokenize the corpus.
    */
  final case class Bm25Stats(tf: DataFrame, dfreq: DataFrame,
                             lens: DataFrame, stats: DataFrame)

  /** Build [[Bm25Stats]] from (doc_id, text). The token frame and the
    * posting table are eagerly localCheckpointed: `toks` feeds both lens
    * and tf, and `tf` feeds both dfreq and the scoring join, so without
    * the checkpoints tokenization runs ≥ 3× per call (the
    * [[Dedup.explodedShinglesCk]] pattern; blocks are released by the
    * ContextCleaner when the stats go out of scope).
    */
  def bm25Stats(docs: DataFrame, maxDf: Long = defaultMaxDf): Bm25Stats = {
    val toks = docs.select(col("doc_id"), Dedup.tokens(col("text")).as("w"))
      .localCheckpoint(true)
    val lens = toks.select(col("doc_id"), size(col("w")).cast(LongType).as("len"))
    // one row per (doc, term): the posting list with term frequency
    val tf = toks.select(col("doc_id"), explode(col("w")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val stats = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
      .crossJoin(lens.agg(avg(col("len")).as("avg_len")))
    Bm25Stats(tf, dfreq, lens, stats)
  }

  /** BM25 "more-like-this": rank corpus docs against each query doc's
    * distinct token set. docs: (doc_id, text); queryDocs: (qid, text).
    * Output: (qid, rank, label, score = the e6-floor witness
    * floor(bm25·10⁶ + 0.5) as an integral double — r16: never a rounded
    * double; callers cast to LONG for gate emission) — score DESC, ties to the
    * smaller label; the query doc itself is excluded. Okapi BM25 with the
    * +1-smoothed idf `ln(1 + (N−df+0.5)/(df+0.5))` (always positive, so a
    * stopword can never flip a ranking with a negative contribution).
    */
  def bm25TopK(docs: DataFrame, queryDocs: DataFrame, k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               maxDf: Long = defaultMaxDf): DataFrame =
    bm25TopK(bm25Stats(docs, maxDf), queryDocs, k, k1, b)

  /** [[bm25TopK]] over pre-built corpus statistics — the production shape:
    * the posting/length/df state is built once ([[bm25Stats]]) and shared
    * across query batches and hybrid compositions (`hybrid_rrf` scores the
    * same corpus lexically and densely; only this overload avoids paying
    * the corpus passes twice).
    */
  def bm25TopK(st: Bm25Stats, queryDocs: DataFrame, k: Int,
               k1: Double, b: Double): DataFrame = {
    val qterms = queryDocs.select(col("qid"),
      explode(array_distinct(Dedup.tokens(col("text")))).as("tok"))
    val contrib = qterms
      .join(st.dfreq, "tok")
      .join(st.tf, "tok")
      .filter(col("doc_id") =!= col("qid"))
      .join(st.lens, "doc_id")
      .crossJoin(broadcast(st.stats))
      .select(col("qid"), col("doc_id").as("label"),
        (log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / col("avg_len"))))
          .as("c"))
    Similarity.rankTopK(
      contrib.groupBy(col("qid"), col("label"))
        .agg(floor(sum(col("c")) * lit(1e6) + lit(0.5)).as("score")),
      k, ascending = false)
  }

  /** TF-IDF cosine "more-like-this" — the vector-space-model baseline
    * (Salton & Buckley 1988) that predates BM25 and remains the standard
    * second lexical scorer (length-normalized via the cosine, where BM25
    * normalizes via b·len/avg_len). Shares [[Bm25Stats]] with the BM25
    * stack so the corpus is tokenized once for both scorers.
    *
    * w(d,t) = tf(d,t) · ln(1 + N/df(t)) over the df-capped term universe;
    * score = cos(q, d) on those sparse vectors; query-side weights use the
    * query doc's own term FREQUENCIES (classic VSM, unlike BM25's distinct
    * query-term set). Norms are over each doc's full capped-term vector,
    * so a doc matching one rare query term doesn't score 1.0.
    *
    * Scale shape: identical to [[bm25TopK]] — one posting join per query
    * batch bounded by df-capped posting lists, k-bounded aggregates, norms
    * from one combiner groupBy computed once with the stats.
    */
  def tfidfTopK(st: Bm25Stats, queryDocs: DataFrame, k: Int): DataFrame = {
    val nDocs = st.stats.select(col("n_docs"))
    // corpus-side sparse weights: feeds BOTH norms and the scoring join —
    // checkpointed so the posting join runs once (explodedShinglesCk
    // pattern)
    val w = st.tf.join(st.dfreq, "tok")
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("tok"),
        (col("tf") * log(lit(1.0) + col("n_docs") / col("df"))).as("w"))
      .localCheckpoint(true)
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val qtf = queryDocs
      .select(col("qid"), explode(Dedup.tokens(col("text"))).as("tok"))
      .groupBy(col("qid"), col("tok")).agg(count(lit(1)).as("qtf"))
    val qw = qtf.join(st.dfreq, "tok")
      .crossJoin(broadcast(nDocs))
      .select(col("qid"), col("tok"),
        (col("qtf") * log(lit(1.0) + col("n_docs") / col("df"))).as("qw"))
      .localCheckpoint(true)
    val qnorms = qw.groupBy(col("qid")).agg(sqrt(sum(col("qw") * col("qw"))).as("qnrm"))
    val dots = qw.join(w, "tok")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("qw") * col("w")).as("dot"))
    Similarity.rankTopK(
      dots.join(norms, "doc_id").join(broadcast(qnorms), "qid")
        .select(col("qid"), col("doc_id").as("label"),
          floor(col("dot") / (col("nrm") * col("qnrm")) * lit(1e6)
            + lit(0.5)).as("score")),
      k, ascending = false)
  }

  /** Reciprocal-rank fusion (Cormack & Clarke 2009): each input list
    * contributes 1/(c+rank) per (qid, label); fused score DESC, ties to
    * the smaller label. Inputs are (qid, rank, label, ...) frames — the
    * [[Similarity.rankTopK]] shape both the dense and lexical rankers
    * emit. Rank-only fusion needs no score calibration between lists,
    * which is why it is the default hybrid combiner in production search.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int, c: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val votes = lists.map(_.select(col("qid"), col("label"),
        (lit(1.0) / (lit(c.toDouble) + col("rank"))).as("v")))
      .reduce(_ unionByName _)
    Similarity.rankTopK(
      votes.groupBy(col("qid"), col("label"))
        .agg(floor(sum(col("v")) * lit(1e6) + lit(0.5)).as("score")),
      k, ascending = false)
  }

  /** Exact phrase search via positional postings — the inverted-index
    * primitive BM25's bag-of-words scoring cannot express ("stream
    * table hash" as a SEQUENCE, not three independent terms).
    *
    * Postings join formulation: tokenize once per term into
    * (doc_id, pos[1-based]) postings FILTERED to that term before any
    * join (the posting-list pruning a real inverted index gives you —
    * candidate volume is the phrase terms' posting sizes, never the
    * corpus), align term i's positions back by i so every term of one
    * occurrence carries the occurrence's START position, then
    * equi-join on (doc_id, pos). Overlapping occurrences count
    * separately ("a a a" contains "a a" twice).
    *
    * Scale shape: n_terms narrow scan+filter passes (the text column
    * only) and n_terms−1 equi-joins sized by posting lists; at 100 TB
    * the postings would be written once, bucketed by term, and each
    * query reads only its terms' buckets.
    *
    * Returns (doc_id, n_occurrences, first_pos[1-based]).
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ", -1)).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast(LongType).as("pos"),
        col("tok"))
    def postings(term: String, offset: Int): DataFrame =
      toks.filter(col("tok") === term)
        .select(col("doc_id"), (col("pos") - offset.toLong).as("pos"))
    val matched = phrase.zipWithIndex.tail.foldLeft(postings(phrase.head, 0)) {
      case (acc, (term, i)) => acc.join(postings(term, i), Seq("doc_id", "pos"))
    }
    matched.groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"), min(col("pos")).as("first_pos"))
  }
}
