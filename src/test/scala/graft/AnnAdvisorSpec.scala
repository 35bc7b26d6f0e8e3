package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.AnnAdvisor

/** The measured-Pareto tier advisor: routing decisions are pinned (the
  * selection contract is deterministic data, not heuristics), the
  * recall-provenance gate (strict targets route only to by-construction
  * tiers), the claims that ARE monotone in n — the r12 spec pinned full
  * n-invariance of tier identity, which the chooser's own arithmetic
  * refutes at budget boundaries — and the advisor-routed query
  * end-to-end on real testdata.
  */
class AnnAdvisorSpec extends AnyFunSuite {

  private val n20k = 20000L
  private val nBig = 200L * n20k
  private val d64 = 64

  test("pinned routing: the documented (target, budget) → tier decisions") {
    // strict 0.99 under a 128 B/vec budget → the by-construction
    // f16-rerank (fixture-measured recalls are NOT trusted at ≥0.99)
    val c1 = AnnAdvisor.choose(n20k, d64, 0.99, 128.0)
    assert(c1.tier === "f16-rerank" && c1.meetsTarget)
    // strict 0.99 under 64 B/vec: no by-construction tier fits →
    // fallback to the highest-recall in-budget tier, flagged — the
    // caller learns the ask needs either budget or fixture trust
    val c1b = AnnAdvisor.choose(n20k, d64, 0.99, 64.0)
    assert(c1b.tier === "pca16-rerank" && !c1b.meetsTarget)
    // same ask WITH fixture trust (own-corpus recall measured) →
    // pca16's fixture 1.000 counts and the ask is met
    val c1c = AnnAdvisor.choose(n20k, d64, 0.99, 64.0, trustFixtureRecall = true)
    assert(c1c.tier === "pca16-rerank" && c1c.meetsTarget)
    // relax recall to 0.90 → ivf-p4 wins on scan bytes (~2 B/vec)
    val c2 = AnnAdvisor.choose(n20k, d64, 0.90, 64.0)
    assert(c2.tier === "ivf-p4" && c2.meetsTarget)
    assert(c2.scanBytesPerVec < c1.scanBytesPerVec)
    // tight 2 B/vec budget at 0.80 → the SQ8-quantized IVF
    val c3 = AnnAdvisor.choose(n20k, d64, 0.80, 2.0)
    assert(c3.tier === "ivf-sq8-p2" && c3.meetsTarget)
    // impossible ask (recall 1.0 within 8 B/vec): falls back to the
    // highest-recall tier that fits the budget, flagged
    val c4 = AnnAdvisor.choose(n20k, d64, 1.0, 8.0)
    assert(c4.tier === "ivf-p4" && !c4.meetsTarget)
    // budget below every tier: budget becomes advisory — globally
    // smallest scan tier, still flagged
    val c5 = AnnAdvisor.choose(n20k, d64, 0.5, 0.01)
    assert(c5.tier === "ivfpq-resid-p2-rerank" && !c5.meetsTarget)
  }

  test("ivf-kmeans-p2 is in the table but measured-dominated: never chosen") {
    // 0.653 recall at ivf-p2's exact scan bytes (tools/AnnPareto r13, at 7c4064a;
    // BASELINE.md round-13 table) — strictly dominated, so no
    // (target, budget) cell on a full grid selects it
    for (target <- Seq(0.99, 0.95, 0.90, 0.80, 0.70, 0.60, 0.50, 0.30);
         budget <- Seq(256.0, 128.0, 64.0, 8.0, 2.0, 1.0, 0.5, 0.05, 0.01);
         trust <- Seq(false, true)) {
      val c = AnnAdvisor.choose(n20k, d64, target, budget, trust)
      assert(c.tier !== "ivf-kmeans-p2", s"target=$target budget=$budget")
    }
    assert(AnnAdvisor.tiers.exists(_.name == "ivf-kmeans-p2"))
  }

  test("what IS monotone in n (the r12 full-invariance claim was false)") {
    // Growing n shrinks IVF scan fractions, so the in-budget set only
    // GROWS — which can flip tier identity. The monotone consequences:
    // meetsTarget never degrades; on the eligible path scan bytes never
    // increase; on the fallback path expected recall never decreases.
    for (target <- Seq(0.99, 0.90, 0.80); budget <- Seq(64.0, 8.0, 2.0);
         trust <- Seq(false, true)) {
      val small = AnnAdvisor.choose(n20k, d64, target, budget, trust)
      val big = AnnAdvisor.choose(nBig, d64, target, budget, trust)
      val ctx = s"target=$target budget=$budget trust=$trust"
      assert(!(small.meetsTarget && !big.meetsTarget), ctx)
      if (small.meetsTarget && big.meetsTarget)
        assert(big.scanBytesPerVec <= small.scanBytesPerVec + 1e-12, ctx)
      if (!small.meetsTarget && !big.meetsTarget)
        assert(big.expectedRecall >= small.expectedRecall - 1e-12, ctx)
    }
  }

  test("pinned n-flips at budget boundaries (documented behavior)") {
    // (0.99 strict, 2 B/vec): fallback path both sides — ivf-p4's
    // 2.048 B/vec at n=20k is JUST over budget, in budget at 200×n →
    // the fallback's max-recall pick flips ivf-p2 → ivf-p4, recall up
    val fSmall = AnnAdvisor.choose(n20k, d64, 0.99, 2.0)
    val fBig = AnnAdvisor.choose(nBig, d64, 0.99, 2.0)
    assert(fSmall.tier === "ivf-p2" && !fSmall.meetsTarget)
    assert(fBig.tier === "ivf-p4" && !fBig.meetsTarget)
    assert(fBig.expectedRecall > fSmall.expectedRecall)
    // (0.90, 0.011 B/vec): at n=20k NOTHING fits the budget (advisory
    // fallback, ivfpq); at 200×n ivf-p4 enters at 0.0102 B/vec and
    // MEETS the target — the meets flag improving with n, never the
    // reverse
    val mSmall = AnnAdvisor.choose(n20k, d64, 0.90, 0.011)
    val mBig = AnnAdvisor.choose(nBig, d64, 0.90, 0.011)
    assert(mSmall.tier === "ivfpq-resid-p2-rerank" && !mSmall.meetsTarget)
    assert(mBig.tier === "ivf-p4" && mBig.meetsTarget)
  }

  test("the n=10M deployment choice agrees with the n=200k MEASURED ranking") {
    // tools/AnnPareto 200000 at 7c4064a (BASELINE.md round-14): the second measured
    // Pareto point, where the scanB(n) folding and ann_auto_scan's
    // deployment routing actually extrapolate. Serve-path measurements:
    val measured200k = Map( // tier -> (recall@10, scanB/vec at n=200k)
      "flat" -> (1.000, 256.0), "f16-rerank" -> (1.000, 128.0),
      "prefix16-rerank" -> (0.569, 64.0), "pca16-rerank" -> (1.000, 64.0),
      "jl16-rerank" -> (0.556, 64.0),
      "ivf-p2" -> (0.850, 256.0 * 2 / 5000), "ivf-p4" -> (0.900, 256.0 * 4 / 5000),
      "ivf-sq8-p2" -> (0.841, 64.0 * 2 / 5000), "ivf-sq4-p2" -> (0.553, 32.0 * 2 / 5000))
    // the ann_auto_scan ask: 0.90 recall under 2 B/vec at n=10M
    val c = AnnAdvisor.choose(10000000L, 64, 0.90, 2.0)
    assert(c.tier === "ivf-p4" && c.meetsTarget)
    // agreement: at the deployment point, the chosen tier (a) meets the
    // target per the 200k MEASURED recall, not just the 20k-fixture
    // figure, and (b) has the highest measured recall among measured
    // tiers inside the budget — the advisor's argmin-scan choice and
    // the measured-recall argmax coincide here
    val (chosenRecall, _) = measured200k(c.tier)
    assert(chosenRecall >= 0.90)
    val inBudget = measured200k.filter { case (_, (_, b)) => b <= 2.0 }
    assert(inBudget.keySet === Set("ivf-p2", "ivf-p4", "ivf-sq8-p2", "ivf-sq4-p2"))
    assert(inBudget.values.map(_._1).max === chosenRecall)
    // the n-degradation the 200k point measured: prefix/jl recall FELL
    // with corpus density (0.800→0.569, 0.750→0.556) while pca16 held —
    // fixture recalls in the advisor table are upper bounds for the
    // untrained projections, which is why only by-construction tiers
    // serve strict targets (the provenance gate)
    assert(measured200k("prefix16-rerank")._1 < 0.800 - 0.2)
    assert(measured200k("jl16-rerank")._1 < 0.750 - 0.15)
    assert(measured200k("pca16-rerank")._1 === 1.000)
  }

  test("invalid inputs fail loudly") {
    intercept[IllegalArgumentException](AnnAdvisor.choose(0L, d64, 0.9, 64.0))
    intercept[IllegalArgumentException](AnnAdvisor.choose(n20k, d64, 0.0, 64.0))
    intercept[IllegalArgumentException](AnnAdvisor.choose(n20k, d64, 1.5, 64.0))
  }

  test("ann_auto_scan end-to-end: deployment routing + measured floor, EVERY gate dir") {
    // the relaxed-target branch: advisor consulted at the 10M-vector
    // deployment point (scale-invariant decision), tier executed on
    // the gate corpus with the ≥1-of-10 floor. tools/AutoScanFloor
    // (at 7c4064a) measured the floor across the gate dirs (BASELINE.md round-14):
    // min n_common = 1 (sf0.1, qid 5) — ≥1 is the MEASURED own-corpus
    // bound with zero headroom, not a placeholder; fixture recall does
    // not transfer to the near-isotropic testdata (the documented
    // provenance caveat; the strict branch below carries the strong
    // bound). Asserting on all three dirs pins the gate surface a
    // data regeneration would move (ADVICE r13 #2).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                    "/root/testdata/sf0.1")) {
      val rows = SparkEntry.queries("ann_auto_scan")(TestSpark.spark, dir).collect()
      assert(rows.length === 8, dir)
      assert(rows.forall(_.getString(1) == "ivf-p4"), dir)
      assert(rows.forall(_.getBoolean(2)), s"$dir: recall floor must hold on every query")
      assert(rows.forall(_.getBoolean(3)), s"$dir: advisor must report meets_target")
    }
  }

  test("ann_auto end-to-end: advisor routes to f16-rerank and recall holds") {
    // f16-rerank's recall is by construction (RNE f16 shortlist +
    // exact fp32 rerank), so unlike r12's pca16 routing it holds on
    // the near-isotropic testdata embeddings at BOTH sf0.001 and the
    // driver's sf0.01/sf0.1 — the distribution-transfer fix
    val rows = SparkEntry.queries("ann_auto")(TestSpark.spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 8)
    assert(rows.forall(_.getString(1) == "f16-rerank"))
    assert(rows.forall(_.getBoolean(2)), "recall_ok must hold on every query")
    assert(rows.forall(_.getBoolean(3)), "advisor must report meets_target")
  }
}
