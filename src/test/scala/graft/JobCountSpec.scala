package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scheduler-job-count regression guard for the queries whose round-8 work
  * collapsed multi-job plans (iterative loops under static plans, eager
  * bounded-report assembly, pointer-jumped connected components). Job count
  * is the driver-environment scale lever — each job pays a scheduler
  * round-trip, and on a congested driver that fixed cost dominates small
  * stages — so a regression here is a real perf regression even when local
  * wall-clock looks fine. Bounds carry ~30% headroom over measured counts;
  * exceeding one means a plan change re-introduced per-exchange scheduling
  * or a new action crept into a loop.
  */
class JobCountSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val trace = QueryTrace(spark)

  private def jobsFor(name: String): Long = {
    val before = trace.snapshot()
    SparkEntry.queries(name)(spark, sf).count()
    (trace.snapshot() - before).jobs
  }

  test("iterative and report queries stay within their job budgets") {
    // (query, bound). Memo-backed queries are measured COLD here —
    // graft.queries.Shared is cleared first, so dd11 pays the whole kernel
    // and dd14 hits the memo dd11 just built (Bench-order semantics).
    graft.queries.Shared.clear()
    val budgets = Seq(
      "q_pagerank" -> 12,
      "q_peak_concurrency" -> 11,
      "tx15_pmi" -> 11,
      "w18_psar" -> 8,
      "dd11_dup_clusters" -> 23, // kernel + CC first build + report
      "dd14_cluster_keep_best" -> 8, // memo hit
      "dd26_semdedup" -> 27, // Lloyd training + CC + report
      // round-8 second-sitting additions (job counts at sf0.1 as
      // graft.tools.Trace reports them, +30% headroom): the one-window-pass
      // probe ranking keeps sim10 flat in |probes|, and the peel loop keeps
      // q_kcore at a handful of rounds
      "w20_trix" -> 6,
      "m33_mann_whitney" -> 5,
      "sim10_ivf_recall" -> 16,
      "tx22_lm_fluency" -> 6,
      "m34_cramers_v" -> 11,
      "mm5_tiling_plan" -> 6,
      "q_percentile_cont" -> 6,
      "w21_aroon" -> 6,
      "st16_windowed_percentiles" -> 6,
      "q_kcore" -> 14,
      "tx23_bpe_train" -> 16, // 8 training rounds, 1 job each under static plans
      "tx25_bpe_token_budget" -> 22, // train (as tx23) + one apply/aggregate pass
      "w22_vortex" -> 6,
      "tx26_rake_keywords" -> 7, // one explode chain, 3 doc-keyed shuffles + the r15 scan fan-out exchange
      "w24_holt" -> 6,
      "w27_kama" -> 6, // one keyed WindowExec: warmup lags/sums + VarEwm recursion
      "m42_kruskal_wallis" -> 5, // grid agg + grid window + single-row agg (m33 shape)
      "w28_holt_winters" -> 6, // one keyed WindowExec, unrolled seasonal slots
      "dd29_bottomk_containment" -> 10, // sketch kernel + df-cap index + pair join
      "m43_jonckheere" -> 5, // grid agg + grid window + single-row agg (m33 shape)
      "mm6_quality_gate" -> 5, // projection + (modality,verdict) agg + ppm window
      "tx30_sttr" -> 6, // posexplode + (doc,seg) agg + doc agg, all doc-keyed + the r15 scan fan-out exchange
      "mx21_multimodal_packing" -> 8, // length projection + range-part pack + bin agg
      "m44_friedman" -> 6, // (block,treatment) agg + block windows + scalar row
      "q_boxplot" -> 7, // quartile grid pass + broadcast fence re-join
      "sim12_lsh_recall" -> 14, // truth rank + prefix populations + tiny joins
      "m36_runs_test" -> 12,
      "sim11_label_separation" -> 12,
      // listed after dd11 so the pair/CC memo is warm (bench order): the
      // memo-hit path is weights-join + source aggregate + allocator grid
      "mx19_dedup_aware_mix" -> 18,
      // memo-hit: label join + census + pair-straddle audit + crossJoin
      "mx20_dedup_aware_split" -> 10)
    val over = budgets.flatMap { case (name, bound) =>
      val n = jobsFor(name)
      if (n > bound) Some(s"$name: $n jobs > budget $bound") else None
    }
    graft.queries.Shared.clear()
    GraftSession.sweepCaches(spark)
    trace.stop()
    assert(over.isEmpty, over.mkString("; "))
  }
}
