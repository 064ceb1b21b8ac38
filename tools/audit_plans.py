"""Sweep every driver query's physical plan for scale anti-patterns.

Detected patterns and why they matter at 100 TB:
- ``CartesianProduct`` / ``BroadcastNestedLoopJoin``: all-pairs work — fatal
  unless one side is provably tiny (a scalar aggregate or the documented
  exact-ANN baseline).
- ``Exchange SinglePartition``: a global funnel — fatal on row-scale data,
  fine when the child is a partial aggregation (the exchange then moves one
  pre-aggregated row per task, the canonical scalar-metric finalization).
- ``BatchEvalPython``: row-at-a-time Python in the plan — never acceptable
  (Arrow-batched nodes show up as ArrowEvalPython/FlatMapGroupsInPandas/
  MapInArrow and are allowed where batch semantics require them).

The pytest wrapper (tests/test_plan_audit.py) asserts findings match the
explicit allowlist below EXACTLY — a new anti-pattern fails the suite, and a
stale allowlist entry (pattern engineered away) fails too, so the list can
only shrink deliberately.

Run standalone: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

PATTERNS = (
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "Exchange SinglePartition",
    "BatchEvalPython",
)

# query -> patterns that are justified for it. Every entry's justification:
# - scalar-denominator BNLJ: joins a one-row global aggregate (corpus size N
#   for idf, total-gold/total-pairs for recall/F1 denominators) against the
#   main table — broadcast of exactly one row.
# - finalize-count SinglePartition: the exchange's child is a partial_count /
#   partial_sum HashAggregate, so only per-task partial rows move.
ALLOWLIST: dict[str, frozenset[str]] = {
    "er_pairwise_f1": frozenset({"Exchange SinglePartition"}),
    "er_bm25_topk": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_rank_histogram's unpartitioned cumulative window runs over the
    # per-rank histogram — at most max_rank (k ≤ 64) rows after aggregation,
    # so its SinglePartition exchange moves k rows, not data-scale rows.
    "er_rank_histogram": frozenset(
        {
            "BroadcastNestedLoopJoin",
            "Exchange SinglePartition",
            "Exchange SinglePartition (non-finalize)",
        }
    ),
    "er_world_macro_micro": frozenset({"Exchange SinglePartition"}),
    "ann_ivf_recall": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    "er_blocking_recall": frozenset({"Exchange SinglePartition"}),
    "ann_lsh_recall": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    "order_key_set_ops": frozenset({"Exchange SinglePartition"}),
    "er_span_f1_weak_strong": frozenset({"Exchange SinglePartition"}),
    "macro_micro_value": frozenset({"Exchange SinglePartition"}),
    "er_recall_at_k": frozenset({"Exchange SinglePartition"}),
    # er_fs_weights is ONE global scalar aggregate (2 + 2·n_features
    # counters) with map-side partial agg; the SinglePartition is the
    # one-row finalize, after which only n_features rows exist.
    "er_fs_weights": frozenset({"Exchange SinglePartition"}),
    # er_bcubed is one global scalar aggregate (n_records/p_sum/r_sum) over
    # the per-(cluster,label) term table — map-side partial agg, one-row
    # finalize; nothing record-scale crosses the exchange.
    "er_bcubed": frozenset({"Exchange SinglePartition"}),
    # er_mrr is one global scalar aggregate (n/hits/sum_rr) over the
    # per-mention gold-rank table — map-side partial agg, one-row finalize;
    # nothing mention-scale crosses the exchange.
    "er_mrr": frozenset({"Exchange SinglePartition"}),
    # doc_dedup_ensemble's 4-row readout is one global scalar aggregate over
    # the (a,b)-keyed flag table (map-side partials, one-row finalize
    # exploded per strategy — the fs_weights pattern); the three pair sets
    # themselves are star pairs / band equi-joins and never cross it.
    "doc_dedup_ensemble": frozenset({"Exchange SinglePartition"}),
    # events_interval_copresence's open-run cap (max event ts) is a one-row
    # scalar aggregate broadcast onto the runs table — the bm25-idf pattern;
    # the co-presence join itself is the (state, day) EQUI-join by design.
    "events_interval_copresence": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_modularity combines three one-row scalar aggregates (m, Σd_c²,
    # Σe_internal) — map-side partials over edge/degree tables, one-row
    # finalizes cross-joined into the single readout row (er_ari's class).
    "er_modularity": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_rrf_fusion embeds the er_bm25_topk plan (whose n_ents scalar
    # aggregate broadcast is that query's vetted bm25-idf pattern); the
    # fusion itself adds only mention-keyed windows and a full outer join.
    "er_rrf_fusion": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # ann_nprobe_sweep unions three ann_ivf_recall readouts: each is the
    # same one-row recall finalize that query's allowlist vets (the
    # brute-force exact side is the documented baseline crossJoin).
    "ann_nprobe_sweep": frozenset({"Exchange SinglePartition"}),
    # events_gap_histogram's gap total is a one-row scalar aggregate
    # broadcast onto the ≤6-row bucket histogram — the bm25-idf
    # scalar-denominator pattern; the raw gap stream never crosses it.
    "events_gap_histogram": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_degree_distribution's node total is a one-row scalar aggregate
    # broadcast onto the degree histogram (bounded by max degree) — the
    # bm25-idf scalar-denominator pattern; edges/degrees never cross it.
    "er_degree_distribution": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_match_rule_report has the same shape: one global scalar aggregate
    # (9 counters, map-side combined), one-row finalize, 3-row output.
    "er_match_rule_report": frozenset({"Exchange SinglePartition"}),
    # corpus_mix_plan's stratum count is a one-row scalar aggregate
    # broadcast onto the strata-sized plan table (≤ tens of rows) — the
    # bm25-idf scalar-denominator pattern; no data-scale rows move.
    "corpus_mix_plan": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # doc_lm_perplexity's smoothing denominator V (count-distinct vocab) is
    # a one-row scalar aggregate broadcast onto the vocabulary²-sized model
    # table — the bm25-idf scalar-denominator pattern.
    "doc_lm_perplexity": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # doc_dsir_weights' smoothing totals (Tt/Tb) are a one-row scalar
    # aggregate broadcast onto the n_buckets-row hashed model table — the
    # same bm25-idf / lm_perplexity scalar-denominator pattern; the doc
    # side never crosses either node.
    "doc_dsir_weights": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # doc_domain_keyness: the corpus total n is a one-row scalar aggregate
    # (map-side partial agg) broadcast onto the (domains x vocab)-bounded
    # keyness table — the lm_perplexity/dsir scalar-denominator pattern;
    # the token stream never crosses either node.
    "doc_domain_keyness": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_tf_adjustment's N / u_global are one-row scalar aggregates
    # (map-side partials) broadcast onto the agreeing-pair list — the
    # bm25-idf scalar-denominator pattern; the pair list and the value
    # table never cross either node.
    "er_tf_adjustment": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # doc_ccnet_buckets wraps lm_perplexity: same one-row vocabulary-size
    # scalar aggregate broadcast onto the vocabulary²-bounded bigram model —
    # the doc-sized streams never cross either node; the tercile window is
    # stratum-keyed, not single-partition.
    "doc_ccnet_buckets": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_otsu_threshold: the rank-histogram pattern — the unpartitioned
    # cumulative/argmax windows and the one-row totals broadcast run over
    # the <= 1001-row per-milli-value score histogram, AFTER the keyed
    # partial agg collapsed the pair-scale input; nothing pair-scale
    # crosses these nodes.
    "er_otsu_threshold": frozenset(
        {
            "BroadcastNestedLoopJoin",
            "Exchange SinglePartition",
            "Exchange SinglePartition (non-finalize)",
        }
    ),
    # er_nmi: three one-row scalar finalizes (n/Σn_ij·ln, Σn_c·ln, Σn_l·ln)
    # over map-side partial aggs of the contingency table, cross-joined as
    # one-row broadcasts — the er_ari scalar-aggregate class.
    "er_nmi": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_ari: three one-row scalar finalizes (n/index, a_pairs, b_pairs)
    # over map-side partial aggs, cross-joined as one-row broadcasts — the
    # er_bcubed scalar-aggregate class; nothing record-scale crosses.
    "er_ari": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_progressive_recall: the rank-histogram pattern — the unpartitioned
    # cumulative window and the one-row totals broadcast both run over the
    # <= 21-row per-bucket aggregate (floor(jaccard*20)), after map-side
    # partial agg; no pair-scale rows cross either node.
    "er_progressive_recall": frozenset(
        {
            "BroadcastNestedLoopJoin",
            "Exchange SinglePartition",
            "Exchange SinglePartition (non-finalize)",
        }
    ),
    # er_blocking_ensemble: the one-row total-gold / union-count scalar
    # finalizes broadcast onto the 4-row per-strategy report — the er_ari
    # scalar-aggregate class; all pair-scale work happens in keyed
    # aggregations before these nodes.
    "er_blocking_ensemble": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_tfidf_cosine: the one-row corpus-count finalize broadcast onto the
    # vocabulary-sized df table (keeps N lazy instead of an eager driver
    # count) — the er_ari scalar-aggregate class.
    "er_tfidf_cosine": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_open_triangles: three one-row scalar finalizes (wedge sum,
    # triangle count, edge count) broadcast-joined into the single output
    # row — the er_ari scalar-aggregate class; the triangle join itself is
    # a keyed equi-join that never crosses these nodes.
    "er_open_triangles": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_pr_curve: identical rank-histogram shape to er_progressive_recall
    # — unpartitioned cumulative window + one-row total-gold broadcast over
    # the <= 21-row bucket aggregate; no pair-scale rows cross either node.
    "er_pr_curve": frozenset(
        {
            "BroadcastNestedLoopJoin",
            "Exchange SinglePartition",
            "Exchange SinglePartition (non-finalize)",
        }
    ),
    # er_blocking_quality joins the all-pairs scalar denominator (one row)
    # onto the ≤ log2(max_block) histogram rows; the rollup grand total over
    # those few rows is the other SinglePartition.
    "er_blocking_quality": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # ann_pq_recall's BNLJ is the documented exact-L2 BASELINE side of the
    # recall comparison (same disposition as ann_ivf/lsh_recall); the PQ
    # search side is a broadcast hash join over codes — a plan test pins
    # that it contains no cross join.
    "ann_pq_recall": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # embedding_matryoshka_recall: BOTH sides are exact-by-contract brute
    # force (the point measured is prefix-dimension fidelity, not pruning)
    # — the ann_int8_recall disposition; recall lines are one-row
    # finalizes. The memory win composes with IVF/LSH pruning at scale.
    "embedding_matryoshka_recall": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # ann_int8_recall: BOTH sides are exact-by-contract brute force (the
    # point measured is the int8 codes' distance fidelity, not pruning), so
    # the BNLJ is the documented baseline shape twice; the recall line is a
    # one-row finalize. The SQ8 memory win composes with IVF/LSH pruning
    # for the production path.
    "ann_int8_recall": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # ann_ivfpq_recall: same disposition — the BNLJ is the exact baseline;
    # the IVF-PQ side is cell equi-join + broadcast dtable (plan-test-pinned).
    "ann_ivfpq_recall": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # doc_token_quantiles: the BNLJ broadcasts (5 percentile rows × one-row
    # total-count finalize) onto the distinct-value cumulative histogram —
    # the bm25-idf scalar-denominator class; the N-row document scan
    # collapses in a keyed partial agg before either node.
    "doc_token_quantiles": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # events_funnel_conversion: three one-row per-step reached-user count
    # finalizes (map-side partial_count children) unioned into the 3-row
    # report — the er_pairwise_f1 scalar-aggregate class; all event-scale
    # work happens in user-keyed joins/aggs before these nodes.
    "events_funnel_conversion": frozenset({"Exchange SinglePartition"}),
    # events_rfm_segments' cuts are nine one-row quartile picks (each the
    # exact_quantiles histogram + two-phase running sum, finalized by a
    # one-row partial-agg pivot) plus the one-row corpus max-day anchor,
    # all broadcast-crossJoined onto the user table — the bm25-idf
    # scalar-denominator pattern; the user-scale table itself only ever
    # crosses user_id-keyed exchanges.
    "events_rfm_segments": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # doc_heaps_fit's checkpoint step needs the one-row corpus doc count
    # (scalar broadcast crossJoin — the bm25-idf pattern), and the fit
    # itself is a one-row partial-agg finalize over ≤64 checkpoint rows
    # (the zipf_fit class); the cumulative curves run through the
    # partitioned_running_sums range shuffle, never a global window.
    "doc_heaps_fit": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # events_gini_concentration broadcasts the one-row (n, Σx) scalar onto
    # the ranked key table (bm25-idf pattern) and finalizes into a single
    # readout row (partial-agg children); the ranks themselves come from
    # the dense_ids two-phase form, never a global window.
    "events_gini_concentration": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # events_ab_test_chi2 is one user-keyed partial agg reduced to a
    # single 2x2 readout row — the finalize is the er_pairwise_f1
    # scalar-aggregate class; nothing event-scale crosses the exchange.
    "events_ab_test_chi2": frozenset({"Exchange SinglePartition"}),
    # er_soft_tfidf shares tfidf_weights with er_tfidf_cosine: the same
    # one-row corpus-count finalize broadcast onto the vocabulary-keyed
    # df table (bm25-idf pattern); the token bridge and both argmax
    # selections are record/token equi-joins + grouped partial aggs.
    "er_soft_tfidf": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # embedding_silhouette's point×centroid fan-out is crossJoin(broadcast)
    # of the k-row centroid table (k = #labels, bounded) — the documented
    # O(n·k) simplified-silhouette shape; the per-point min collapses
    # map-side, so nothing point-scale crosses a single partition.
    "embedding_silhouette": frozenset({"BroadcastNestedLoopJoin"}),
    # lineitem_spearman: the 6 pair Σd² + n land in ONE global scalar
    # aggregate (map-side partials, one-row finalize — the fs_weights
    # class); the per-column distinct counts are one-row finalizes of the
    # value-frequency tables broadcast onto that row (bm25-idf pattern).
    # Ranks themselves come from two-phase running sums — no global rank
    # window anywhere.
    "lineitem_spearman": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # events_ks_test: the (na, nb) totals are a one-row finalize of the
    # value-frequency table broadcast onto the cumulative table (the
    # bm25-idf pattern); the max-gap is a map-side partial max with a
    # one-row finalize. Cumulative counts come from the two-phase running
    # sums — no global single-task window.
    "events_ks_test": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # lineitem_mannwhitney: the rank-weighted group sums land in ONE
    # global scalar aggregate over the value-frequency table (map-side
    # partials, one-row finalize — the fs_weights class); ranks come from
    # the two-phase running sum, no global rank window.
    "lineitem_mannwhitney": frozenset({"Exchange SinglePartition"}),
    # orders_benford: the observed table collapses to <= 9 digit groups
    # before anything else; the total is a one-row finalize of those 9
    # rows broadcast back (bm25-idf pattern) and the summary chi-square is
    # a one-row finalize of 9 rows — nothing row-scale crosses a single
    # partition.
    "orders_benford": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # lineitem_sketch_quantiles: rows collapse to <= ~90·digits sketch
    # buckets in the first partial agg; the totals row is a one-row
    # finalize broadcast onto the 3-row quantile-target literal, and the
    # rank pick is a broadcast range join over the bucket-scale cumsum
    # (two-phase running sum — no global window). Bucket scale only.
    "lineitem_sketch_quantiles": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # lineitem_market_basket: the basket total is a one-row count-distinct
    # finalize broadcast onto the (already support-thresholded) rule rows
    # — the bm25-idf pattern; every other join is a keyed equi-join.
    "lineitem_market_basket": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # doc_collocations: the corpus token total is a one-row finalize of
    # the unigram table broadcast onto the (count-thresholded) bigram rows
    # — the bm25-idf pattern; adjacency is a (doc, pos+1) equi-join.
    "doc_collocations": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # doc_lang_source_assoc: the contingency grid is a cross join of the
    # two CATEGORY-scale total tables (#langs x #sources, tiny by
    # definition) with a broadcast one-row n; the summary is a grid-scale
    # finalize. Rows collapse to category scale in the first partial aggs.
    "doc_lang_source_assoc": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_rule_kappa: ONE global scalar aggregate (4 counters, map-side
    # partials, one-row finalize — the fs_weights class); no joins or
    # windows past the pair build.
    "er_rule_kappa": frozenset({"Exchange SinglePartition"}),
    # relational_integrity_checks: seven one-row check counters (each a
    # map-side partial agg or a key-collapsed anti-join fold) cross-joined
    # into report rows — every BNLJ joins one-row frames, every
    # SinglePartition is a one-row finalize (fs_weights class).
    "relational_integrity_checks": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # embedding_elbow_inertia: one one-row inertia finalize per k
    # (map-side partial sums over shuffle-free literal-codebook folds) —
    # the fs_weights scalar class, unioned into the 3-row sweep.
    "embedding_elbow_inertia": frozenset({"Exchange SinglePartition"}),
    # events_conformance: the transition total is a one-row finalize of
    # the |types|²-bounded transition table broadcast back onto it (the
    # bm25-idf pattern); the model join is a broadcast literal.
    "events_conformance": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # orders_fd_profile: one one-row violation finalize per candidate
    # pair (map-side partials over the value-pair tables — fs_weights
    # class), unioned into the 3-row report.
    "orders_fd_profile": frozenset({"Exchange SinglePartition"}),
    # er_assortativity: the lineitem_spearman class — pair Σd² and n in
    # ONE global scalar aggregate (map-side partials, one-row finalize);
    # distinct counts are one-row finalizes of the degree-value frequency
    # tables broadcast onto that row; ranks via two-phase running sums.
    "er_assortativity": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # doc_norm_ladder_dedup: one one-row dup-yield finalize per tier
    # (map-side partials over md5-fingerprint value tables — fs_weights
    # class), unioned into the 4-row ladder.
    "doc_norm_ladder_dedup": frozenset({"Exchange SinglePartition"}),
    # lineitem_promo_effect: the overall mean is a one-row finalize of
    # the ~11-band table broadcast back onto it (bm25-idf pattern).
    "lineitem_promo_effect": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # orders_aging: the as-of snapshot (max date) is a one-row scalar
    # aggregate broadcast onto the open-order rows (bm25-idf pattern).
    "orders_aging": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # relational_table_digests: one three-counter scalar finalize per
    # table (map-side partial xor/sum/count — fs_weights class), unioned
    # into the 5-row report.
    "relational_table_digests": frozenset({"Exchange SinglePartition"}),
    # events_churn_risk: the as-of snapshot (max ts) is a one-row
    # scalar aggregate broadcast onto the user-scale rows (bm25-idf /
    # orders_aging pattern); everything else is user-keyed.
    "events_churn_risk": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # er_scorer_auc: the lineitem_mannwhitney class — rank-weighted
    # group sums in ONE scalar aggregate over the score-frequency table
    # (map-side partials, one-row finalize); two-phase running-sum ranks.
    "er_scorer_auc": frozenset({"Exchange SinglePartition"}),
    # supplier_nation_hhi: one ≤25-row nation partial agg, then the one-row
    # HHI finalize — the er_fs_weights scalar-aggregate class; nothing
    # supplier-scale crosses the exchange.
    "supplier_nation_hhi": frozenset({"Exchange SinglePartition"}),
    # customer_order_histogram: the ≤6-row bucket histogram's one-row total
    # is broadcast back onto it for ppm shares — the events_gap_histogram
    # scalar-denominator pattern; the customer/order streams never cross
    # either node.
    "customer_order_histogram": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
    # embedding_twonn_id: the all-pairs distance table is the documented
    # exact-baseline crossJoin (ann_bruteforce class — feed from LSH/IVF
    # candidates at scale); the estimate is a one-row finalize broadcast
    # onto the one-row point count.
    "embedding_twonn_id": frozenset(
        {"BroadcastNestedLoopJoin", "Exchange SinglePartition"}
    ),
}

# Exchange SinglePartition is only allowed when feeding a scalar finalize:
# its child line must be a partial aggregation.
_PARTIAL_AGG_MARKER = "functions=[partial_"


def audit_plan(plan: str) -> list[str]:
    """Return the anti-pattern names present in one physical-plan string.
    SinglePartition exchanges are vetted line-by-line: ones whose child is a
    partial aggregation report the benign form (still allowlist-tracked);
    any other occurrence reports the violating ``(non-finalize)`` form."""
    found = [p for p in PATTERNS if p != "Exchange SinglePartition" and p in plan]
    lines = plan.splitlines()
    forms = set()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        nxt = lines[i + 1] if i + 1 < len(lines) else ""
        if _PARTIAL_AGG_MARKER in nxt:
            forms.add("Exchange SinglePartition")
        else:
            forms.add("Exchange SinglePartition (non-finalize)")
    return found + sorted(forms)


def audit(spark, sf_dir: str) -> dict[str, list[str]]:
    import __spark_entry__ as e

    out: dict[str, list[str]] = {}
    for name, fn in e.queries().items():
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        found = audit_plan(plan)
        if found:
            out[name] = found
    return out


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    from blink_spark.session import get_spark

    spark = get_spark()
    findings = audit(spark, sf)
    bad = 0
    for name, pats in sorted(findings.items()):
        allowed = ALLOWLIST.get(name, frozenset())
        for p in pats:
            status = "allowed" if p in allowed else "** VIOLATION **"
            if p not in allowed:
                bad += 1
            print(f"{name}: {p} [{status}]")
    stale = {
        n: sorted(ps - set(findings.get(n, [])))
        for n, ps in ALLOWLIST.items()
        if ps - set(findings.get(n, []))
    }
    for n, ps in sorted(stale.items()):
        print(f"{n}: allowlist entries no longer present {ps} [stale]")
    print(f"{len(findings)} flagged / {bad} violations / {len(stale)} stale")
    return 1 if bad or stale else 0


if __name__ == "__main__":
    raise SystemExit(main())
