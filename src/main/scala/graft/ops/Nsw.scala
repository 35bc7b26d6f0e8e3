package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Navigable-small-world graph ANN (single-layer HNSW; Malkov & Yashunin
  * 2018, "Efficient and robust approximate nearest neighbor search using
  * Hierarchical Navigable Small World graphs") — the graph-index family of
  * the FAISS taxonomy, complementing the engine's IVF (partition-pruning)
  * and PQ/OPQ (compression) ladders. The reference snapshot ships only the
  * flat index (`/root/reference/src/MetalIndexFlat.mm`); this extends the
  * engine along the same axis FAISS itself does with `IndexHNSWFlat`.
  *
  * Spark-first decomposition: a small-world graph is an inherently
  * pointer-chasing in-memory structure, so the DISTRIBUTION is sharding,
  * not a distributed graph walk (the same play FAISS uses on multi-GPU:
  * shard the corpus, search shards independently, merge top-k):
  *
  *   1. vectors are hash-repartitioned on `id` into `numShards` shards —
  *      each vector lands in exactly ONE shard, membership deterministic;
  *   2. each shard builds its own NSW graph inside `mapPartitions`
  *      (deterministic: nodes inserted in ascending-id order, all
  *      candidate orderings total on (dist, insertion index));
  *   3. every query beam-searches every shard (queries are a broadcast
  *      array, the corpus never moves) emitting ≤ k candidates per shard;
  *   4. the global `topK` aggregate merges shard results — exactly the
  *      IVF/GEMM merge shape, ≤ numShards·k rows per query shuffled.
  *
  * At 100 TB the per-shard graphs would be built once and persisted
  * alongside the vectors (a build is corpus-linear in beam work); search
  * cost per query is `numShards · O(ef·M·d)` — independent of corpus
  * size within a shard, the whole point of the graph family. Recall
  * comes from beam width, not scan fraction, so unlike IVF there is no
  * pruned-cluster miss mode; the failure mode is a disconnected graph,
  * which bidirectional links + degree-bounded pruning guard against.
  *
  * Determinism contract (what makes the query oracle-able): insertion
  * order is ascending id, every heap/priority order is the total order
  * (dist, index), and distances accumulate in fp64 in index order —
  * the SAME loop as the codegen `SquaredL2Distance` kernel — so repeated
  * runs and arbitrary input row orders produce identical output.
  */
object Nsw {

  /** squared-L2 in the exact accumulation order of `SquaredL2Distance`
    * (`functions/VectorExpressions.scala:62-74`) so scores are
    * bit-identical to every declarative path.
    */
  @inline private def dist2(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { val d = a(i).toDouble - b(i).toDouble; acc += d * d; i += 1 }
    acc
  }

  /** Beam search over the partial graph `adj` restricted to nodes
    * `[0, upTo)`, entry node 0, beam width `ef`. Returns up to `ef`
    * nearest (dist, node) pairs, ascending (dist, node).
    *
    * Standard HNSW SEARCH-LAYER: a min-ordered expansion frontier and a
    * bounded worst-on-top result heap; stop when the nearest unexpanded
    * candidate is farther than the worst retained result.
    */
  private def beamSearch(q: Array[Float], vecs: Array[Array[Float]],
                         adj: Array[scala.collection.mutable.ArrayBuffer[Int]],
                         upTo: Int, ef: Int): Array[(Double, Int)] = {
    if (upTo <= 0) return Array.empty
    // (dist, node) total orders; node index breaks ties deterministically
    val candOrd: Ordering[(Double, Int)] =
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
    val cand = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](candOrd.reverse) // min-heap
    val res = scala.collection.mutable.PriorityQueue.empty[(Double, Int)](candOrd) // max-heap
    val visited = new java.util.BitSet(upTo)
    val d0 = dist2(q, vecs(0))
    cand.enqueue((d0, 0)); res.enqueue((d0, 0)); visited.set(0)
    while (cand.nonEmpty) {
      val (dc, c) = cand.dequeue()
      // res.head is the WORST retained; a full result set whose worst
      // beats the best frontier candidate cannot improve further
      if (res.size >= ef && candOrd.gt((dc, c), res.head)) {
        cand.clear()
      } else {
        val nbrs = adj(c)
        var j = 0
        while (j < nbrs.length) {
          val nb = nbrs(j)
          if (nb < upTo && !visited.get(nb)) {
            visited.set(nb)
            val dn = dist2(q, vecs(nb))
            if (res.size < ef || candOrd.lt((dn, nb), res.head)) {
              cand.enqueue((dn, nb))
              res.enqueue((dn, nb))
              if (res.size > ef) res.dequeue()
            }
          }
          j += 1
        }
      }
    }
    res.dequeueAll.toArray.reverse // ascending (dist, node)
  }

  /** Build the NSW graph over `vecs` (insertion order = array order):
    * node i links bidirectionally to its `m` beam-nearest predecessors;
    * any adjacency exceeding `2m` is pruned to the 2m closest (the HNSW
    * layer-0 degree bound — keeps search cost bounded without the
    * disconnection risk of pruning straight to m).
    */
  private def buildGraph(vecs: Array[Array[Float]], m: Int, efC: Int)
      : Array[scala.collection.mutable.ArrayBuffer[Int]] = {
    val n = vecs.length
    val adj = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    val maxDeg = 2 * m
    var i = 1
    while (i < n) {
      val near = beamSearch(vecs(i), vecs, adj, upTo = i, ef = math.max(efC, m))
      val links = math.min(m, near.length)
      var j = 0
      while (j < links) {
        val nb = near(j)._2
        adj(i) += nb
        adj(nb) += i
        if (adj(nb).length > maxDeg) {
          val pruned = adj(nb).map(x => (dist2(vecs(nb), vecs(x)), x))
            .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int))
            .take(maxDeg).map(_._2)
          adj(nb).clear(); adj(nb) ++= pruned
        }
        j += 1
      }
      i += 1
    }
    adj
  }

  /** Sharded NSW top-k. `vectors`: (id: Long, vec: array<float>);
    * `queries`: (qid: Long, qv: array<float>). Output: (qid, rank, label,
    * score) — the shared kNN shape (`Similarity.rankTopK`).
    *
    * `numShards` bounds per-shard memory (graph + vectors must fit one
    * task); `m`/`efConstruction` set graph quality, `efSearch ≥ k` sets
    * the search beam. With `m ≥ n` and `efSearch ≥ n` the graph is
    * complete and the beam exhaustive, so results are bit-identical to
    * `bruteForceTopK` (spec-pinned).
    */
  def nswTopK(vectors: DataFrame, queries: DataFrame, k: Int,
              numShards: Int = 4, m: Int = 12, efConstruction: Int = 48,
              efSearch: Int = 64, maxQueries: Int = 65536): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    require(m >= 1 && efConstruction >= 1 && efSearch >= 1,
      "graph parameters must be positive")
    val spark = vectors.sparkSession
    import spark.implicits._
    val qRows = queries.select(col("qid"), col("qv")).limit(maxQueries + 1).collect()
    require(qRows.length <= maxQueries,
      s"nswTopK query batch exceeds $maxQueries — batch the query side")
    // an empty query batch flows through: no candidates, empty result of
    // the shared (qid, rank, label, score) shape
    val qArr = qRows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val bc = spark.sparkContext.broadcast(qArr)
    val ef = math.max(efSearch, k)

    val candidates = vectors.select(col("id"), col("vec"))
      .repartition(numShards, col("id"))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val rows = it.toArray.sortBy(_._1) // arrival order → deterministic order
        if (rows.isEmpty) Iterator.empty
        else {
          val ids = rows.map(_._1)
          val vecs = rows.map(_._2)
          val adj = buildGraph(vecs, m, efConstruction)
          val qs = bc.value
          qs.iterator.flatMap { case (qid, qv) =>
            beamSearch(qv, vecs, adj, upTo = vecs.length, ef)
              .take(k).iterator.map { case (d, node) => (qid, ids(node), d) }
          }
        }
      }
      .toDF("qid", "label", "score")

    Similarity.rankTopK(candidates, k, ascending = true)
  }
}
