package graft.ops

/** ANN tier advisor — MEASURED-Pareto-driven index selection, the index
  * side's analog of [[Dedup.chooseBandConfig]] (which picks LSH band
  * geometry from a similarity threshold) and of the reference's
  * capability-driven kernel routing: faiss-metal gates GEMM paths on
  * what the device measures/supports (`src/MetalDistance.mm:121-127` —
  * simdgroup vs MPS; `:255-284` — tile/pipeline variant off device
  * family, storage dtype, and problem shape). Here the "device table"
  * is `tools/AnnPareto`'s (at 7c4064a) measured (recall@10, scan-bytes/vector,
  * ms/query) rows on the 20k×64-d rank-24 anisotropic fixture
  * (BASELINE.md round-13), and the routing inputs are corpus size,
  * dimension, a recall target, and a coarse-scan byte budget — the
  * quantity that governs 100 TB scan cost.
  *
  * Two recall provenances, routed differently (round-13 fix):
  *   - BY-CONSTRUCTION tiers (flat, f16-rerank): recall holds on ANY
  *     distribution — flat is exact; f16-rerank's shortlist is ranked
  *     by RNE-rounded f16 distances (11-bit mantissa) and reranked in
  *     exact fp32, so a true top-k member leaves the k·expand
  *     shortlist only through f16 rounding near-ties. These are the
  *     only tiers a recall target ≥ [[AnnAdvisor.strictRecall]] may
  *     route to by default.
  *   - FIXTURE-MEASURED tiers (projections, IVF, PQ, hamming): recall
  *     was measured on the anisotropic fixture and transfers as a
  *     RANKING, not a guarantee — e.g. PCA-16's 1.000 there drops on a
  *     near-isotropic corpus where 16 components keep ~25% of
  *     variance. Callers opt into trusting these for strict targets
  *     via `trustFixtureRecall = true` (own-corpus recall measured).
  *
  * Selection contract (deterministic, spec-pinned):
  *   1. eligible = tiers with recall ≥ target AND scan-bytes/vec ≤
  *      budget — restricted to by-construction tiers when
  *      target ≥ [[strictRecall]] and `trustFixtureRecall` is false;
  *   2. pick the eligible tier with the SMALLEST scan-bytes/vec
  *      (the 100 TB lever), tie-broken by measured ms/query, then name;
  *   3. if nothing is eligible, drop the recall constraint and return
  *      the HIGHEST-recall tier within budget — any provenance, the
  *      caller sees `meetsTarget = false`;
  *   4. if even the smallest tier exceeds the budget, return the
  *      globally smallest-scan tier (budget is advisory at that point).
  *
  * n-dependence (documented precisely; the r12 spec overclaimed
  * invariance): IVF tiers' scan fraction nProbe/nClusters SHRINKS with
  * n (nClusters = n/40, the AnnPareto build at 7c4064a), so growing n can only
  * ADD tiers to the in-budget set — tier identity can therefore FLIP
  * as n grows when a newly-affordable tier wins. What is monotone in n
  * at fixed (target, budget): `meetsTarget` never degrades true→false;
  * while on the eligible path, chosen scan-bytes never increase; while
  * on the fallback path, expected recall never decreases. All three
  * are pinned in `AnnAdvisorSpec`, including the (0.99, 2 B/vec)
  * boundary flip ivf-p2 → ivf-p4.
  */
object AnnAdvisor {

  /** Recall targets at or above this route only to by-construction
    * tiers unless the caller opts into fixture transfer.
    */
  val strictRecall: Double = 0.99

  /** One measured Pareto row. `scanB(n, d)` is coarse-scan bytes per
    * corpus vector: projections pin to their output width, quantized
    * tiers to their code width, IVF tiers fold in the probed fraction
    * (nProbe / nClusters with nClusters = n/40, the AnnPareto build at
    * 7c4064a).
    * `recallByConstruction`: the recall figure holds on any input
    * distribution (see object doc), not just the fixture.
    */
  final case class Tier(name: String, recall10: Double, msPerQuery: Double,
                        scanB: (Long, Int) => Double,
                        params: Map[String, Long],
                        recallByConstruction: Boolean = false)

  final case class Choice(tier: String, expectedRecall: Double,
                          scanBytesPerVec: Double, msPerQuery: Double,
                          meetsTarget: Boolean, params: Map[String, Long])

  private def nClusters(n: Long): Double = math.max(1L, n / 40L).toDouble

  /** Measured rows (tools/AnnPareto at 7c4064a on the anisotropic fixture;
    * synced with BASELINE.md's round-15 full-table refresh — every ms
    * from ONE quiet-box session under the serve-path accounting, now
    * INCLUDING the projection tiers' build/serve split (pca16/jl16/
    * prefix16/f16 coarse columns are stored index payloads; the IVF
    * family's old figures had carried per-search index-build
    * assignment, the accounting bug the n=200k run exposed). The
    * retrained k-means‖ IVF tier keeps its honest measured figures:
    * 0.653 recall@10 at nProbe=2 — among the fastest ivf tiers but still
    * UNDER modulo-sampled centers' 0.844 at equal probes and equal
    * scan bytes (k=500 on 20k points is the ~40-points-per-cell
    * regime where Lloyd fragments the anisotropic bulk into uneven
    * cells). It is therefore recall-DOMINATED at its scan width —
    * present so the table is the full measured Pareto set and the
    * dominance is spec-pinned, but no (target, budget) selects it.
    *
    * Second measured point, n=200k (BASELINE.md rounds 14-15): IVF recall
    * TRANSFERS (p2 0.850, p4 0.900, sq8 0.841) and serve ms/query
    * drops as the probed fraction shrinks — the scanB(n) folding is
    * measured at two n, and the n=10M deployment choice agrees with
    * the 200k-measured ranking (spec-pinned). prefix16/jl16 recall
    * DEGRADES with corpus density (0.569/0.556 at 200k) while pca16
    * holds 1.000 — scale alone demonstrates the fixture-measured
    * provenance caveat these recall figures carry.
    */
  def tiers: Seq[Tier] = Seq(
    Tier("flat", 1.000, 10.4, (_, d) => 4.0 * d, Map.empty,
      recallByConstruction = true),
    Tier("f16-rerank", 1.000, 15.1, (_, d) => 2.0 * d,
      Map("expand" -> 4L), recallByConstruction = true),
    Tier("pca16-rerank", 1.000, 11.5, (_, _) => 64.0,
      Map("dOut" -> 16L, "expand" -> 4L)),
    Tier("prefix16-rerank", 0.800, 12.7, (_, _) => 64.0,
      Map("dOut" -> 16L, "expand" -> 4L)),
    Tier("jl16-rerank", 0.750, 10.5, (_, _) => 64.0,
      Map("dOut" -> 16L, "expand" -> 4L)),
    Tier("ivf-p2", 0.844, 6.7, (n, d) => 4.0 * d * 2.0 / nClusters(n),
      Map("centroidModulo" -> 40L, "nProbe" -> 2L)),
    Tier("ivf-p4", 0.947, 4.4, (n, d) => 4.0 * d * 4.0 / nClusters(n),
      Map("centroidModulo" -> 40L, "nProbe" -> 4L)),
    Tier("ivf-kmeans-p2", 0.653, 4.6, (n, d) => 4.0 * d * 2.0 / nClusters(n),
      Map("clustersPer" -> 40L, "nProbe" -> 2L)),
    Tier("ivf-sq8-p2", 0.831, 5.0, (n, d) => 1.0 * d * 2.0 / nClusters(n),
      Map("centroidModulo" -> 40L, "nProbe" -> 2L)),
    Tier("ivf-sq4-p2", 0.631, 5.0, (n, d) => 0.5 * d * 2.0 / nClusters(n),
      Map("centroidModulo" -> 40L, "nProbe" -> 2L)),
    Tier("opq8-rerank", 0.825, 13.5, (_, _) => 8.0,
      Map("m" -> 8L, "ncent" -> 64L, "expand" -> 4L)),
    Tier("ivfpq-resid-p2-rerank", 0.684, 97.4, (n, _) => 8.0 * 2.0 / nClusters(n),
      Map("nProbe" -> 2L, "m" -> 8L, "expand" -> 5L)),
    Tier("hamming-rerank", 0.325, 8.4, (_, d) => d / 8.0,
      Map("expand" -> 4L)))

  def choose(n: Long, d: Int, recallTarget: Double,
             scanBudgetBytesPerVec: Double,
             trustFixtureRecall: Boolean = false): Choice = {
    require(n > 0 && d > 0, s"need positive corpus/dim, got n=$n d=$d")
    require(recallTarget > 0.0 && recallTarget <= 1.0,
      s"recall target in (0, 1], got $recallTarget")
    val scored = tiers.map(t => (t, t.scanB(n, d)))
    val inBudget = scored.filter(_._2 <= scanBudgetBytesPerVec)
    val strict = recallTarget >= strictRecall && !trustFixtureRecall
    val eligible = inBudget.filter { case (t, _) =>
      t.recall10 >= recallTarget && (!strict || t.recallByConstruction)
    }
    val (t, b, meets) =
      if (eligible.nonEmpty) {
        val (t, b) = eligible.minBy { case (t, b) => (b, t.msPerQuery, t.name) }
        (t, b, true)
      } else if (inBudget.nonEmpty) {
        val (t, b) = inBudget.minBy { case (t, b) => (-t.recall10, b, t.msPerQuery, t.name) }
        (t, b, false)
      } else {
        val (t, b) = scored.minBy { case (t, b) => (b, t.msPerQuery, t.name) }
        (t, b, false)
      }
    Choice(t.name, t.recall10, b, t.msPerQuery, meets, t.params)
  }
}
