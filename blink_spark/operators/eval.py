"""S6 — evaluation aggregations (SURVEY.md §2.7).

- pairwise precision/recall/F1 at shared blocking key — the headline
  criterion (mirror of the reference's *normalized* accuracy, conditional on
  gold-in-candidates: /root/reference/blink/crossencoder/data_process.py:89-112
  and main_dense.py:562-577)
- recall@k curves (/root/reference/blink/main_dense.py:459-477)
- blocking recall (candidate-gen recall,
  /root/reference/blink/candidate_retrieval/evaluator.py:16-90)
- macro vs micro accuracy (/root/reference/blink/crossencoder/
  train_cross.py:104-127)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# mutual-best rounds of greedy_one_to_one
GREEDY_ROUNDS = 3


def pairwise_f1(
    gold_pairs: DataFrame, clusters: DataFrame
) -> DataFrame:
    """gold_pairs(mention_id_a, mention_id_b, same_entity, block_key) ×
    clusters(record_id, cluster_id) → one row of TP/FP/FN/P/R/F1.

    Predicted-positive for a gold pair = both sides in the same predicted
    cluster. Restriction to shared blocking key is inherited from gold_pairs
    (it only contains intra-block pairs).
    """
    ca = clusters.select(
        F.col("record_id").alias("mention_id_a"), F.col("cluster_id").alias("cl_a")
    )
    cb = clusters.select(
        F.col("record_id").alias("mention_id_b"), F.col("cluster_id").alias("cl_b")
    )
    joined = (
        gold_pairs.join(ca, "mention_id_a", "left")
        .join(cb, "mention_id_b", "left")
        .withColumn(
            "pred",
            F.col("cl_a").isNotNull()
            & F.col("cl_b").isNotNull()
            & (F.col("cl_a") == F.col("cl_b")),
        )
    )
    agg = joined.agg(
        F.sum(F.when(F.col("pred") & F.col("same_entity"), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("pred") & ~F.col("same_entity"), 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~F.col("pred") & F.col("same_entity"), 1).otherwise(0)).alias("fn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1))).alias("precision"),
        (F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1))).alias("recall"),
        (
            2.0
            * F.col("tp")
            / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1))
        ).alias("f1"),
    )


def blocking_recall(gold_pairs: DataFrame, cand_pairs: DataFrame) -> DataFrame:
    """Share of gold positive pairs present in the candidate pair set."""
    cand = cand_pairs.select(
        F.col("record_id_a").alias("mention_id_a"),
        F.col("record_id_b").alias("mention_id_b"),
        F.lit(True).alias("covered"),
    ).distinct()
    return (
        gold_pairs.filter("same_entity")
        .join(cand, ["mention_id_a", "mention_id_b"], "left")
        .agg(
            F.count("*").alias("n_gold_pos"),
            F.sum(F.when(F.col("covered"), 1).otherwise(0)).alias("n_covered"),
            F.avg(F.when(F.col("covered"), 1.0).otherwise(0.0)).alias("recall"),
        )
    )


def recall_at_k(ranked: DataFrame, gold_col: str, pred_col: str,
                group_col: str, rank_col: str, ks: list[int]) -> DataFrame:
    """recall@k curve: fraction of groups whose gold appears in top-i.

    ``ranked`` has one row per (group, candidate) with a 1-based rank.
    One pass: rank-of-gold per group, then avg(rank <= k) per k.
    """
    gold_rank = (
        ranked.filter(F.col(gold_col) == F.col(pred_col))
        .groupBy(group_col)
        .agg(F.min(rank_col).alias("gold_rank"))
    )
    total = ranked.select(group_col).distinct()
    per_group = total.join(gold_rank, group_col, "left")
    return per_group.agg(
        *[
            F.round(
                F.avg(
                    F.when(
                        F.col("gold_rank").isNotNull() & (F.col("gold_rank") <= k), 1.0
                    ).otherwise(0.0)
                ),
                6,
            ).alias(f"recall_at_{k}")
            for k in ks
        ]
    )


def macro_micro_accuracy(
    preds: DataFrame, label_col: str, pred_col: str, group_col: str
) -> DataFrame:
    """Per-group (macro) and global (micro) accuracy in one result —
    grouping-sets flavor of the reference's zeshel reporting."""
    hit = F.when(F.col(label_col) == F.col(pred_col), 1.0).otherwise(0.0)
    per_world = preds.groupBy(group_col).agg(F.avg(hit).alias("acc"))
    macro = per_world.agg(F.round(F.avg("acc"), 6).alias("acc")).withColumn(
        "kind", F.lit("macro")
    )
    micro = preds.agg(F.round(F.avg(hit), 6).alias("acc")).withColumn(
        "kind", F.lit("micro")
    )
    return macro.unionByName(micro).select("kind", "acc")


def bcubed(
    clusters: DataFrame,
    labels: DataFrame,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    label_col: str = "label",
) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) of predicted
    clusters against gold class labels — the per-record cluster-quality
    metric ER evaluations report next to pairwise F1 (which conditions on
    a labeled pair sample; B-cubed scores every record).

    Per record r: P(r) = |cluster(r) ∩ class(r)| / |cluster(r)| and
    R(r) = |cluster(r) ∩ class(r)| / |class(r)|; the score is the mean over
    records. Grouping records by (cluster, label) collapses the per-record
    sum into per-group terms n_cl²/n_c and n_cl²/n_l, so the whole metric
    is two aggregations over a table with one row per (cluster, label) —
    at 10^12 records that intermediate is tiny (≤ #clusters × avg label
    spread) and every join onto it is AQE-broadcastable.

    Oracle-parity discipline: the per-group fractions are floored to
    integer nano-units (``n_cl² · 10⁹ div size``) and summed as BIGINT, so
    both engines add exact integers in any order; the only float ops are
    one final division and a 6dp round per metric.
    """
    nano = F.lit(1_000_000_000).cast("long")
    j = clusters.select(
        F.col(id_col).alias("__id"), F.col(cluster_col).alias("__cl")
    ).join(
        labels.select(F.col(id_col).alias("__id"), F.col(label_col).alias("__lb")),
        "__id",
    )
    g = j.groupBy("__cl", "__lb").agg(F.count("*").alias("n_cl"))
    csize = g.groupBy("__cl").agg(F.sum("n_cl").alias("n_c"))
    lsize = g.groupBy("__lb").agg(F.sum("n_cl").alias("n_l"))
    terms = (
        g.join(csize, "__cl")
        .join(lsize, "__lb")
        .select(
            "n_cl",
            (F.col("n_cl") * F.col("n_cl") * nano)
            .cast("long")
            .alias("num"),
            "n_c",
            "n_l",
        )
        .select(
            "n_cl",
            F.expr("num div n_c").alias("pt"),
            F.expr("num div n_l").alias("rt"),
        )
    )
    a = terms.agg(
        F.sum("n_cl").cast("long").alias("n_records"),
        F.sum("pt").cast("long").alias("p_sum"),
        F.sum("rt").cast("long").alias("r_sum"),
    )
    p = F.round(
        F.col("p_sum").cast("double")
        / (F.col("n_records").cast("double") * 1_000_000_000.0),
        6,
    )
    r = F.round(
        F.col("r_sum").cast("double")
        / (F.col("n_records").cast("double") * 1_000_000_000.0),
        6,
    )
    out = a.select(
        "n_records",
        "p_sum",
        "r_sum",
        p.alias("bcubed_precision"),
        r.alias("bcubed_recall"),
    )
    pc, rc = F.col("bcubed_precision"), F.col("bcubed_recall")
    return out.withColumn(
        "bcubed_f1",
        F.when(pc + rc > 0.0, F.round(2.0 * pc * rc / (pc + rc), 6)).otherwise(
            F.lit(0.0)
        ),
    )


def reciprocal_best(
    scored: DataFrame,
    left_col: str,
    right_col: str,
    score_col: str = "sim",
) -> DataFrame:
    """Mutual-best (reciprocal top-1) assignment over scored candidate
    pairs: keep (l, r) iff r is l's best candidate AND l is r's best — the
    classic high-precision 1:1 linkage rule (reciprocal best hit). The
    reference links every mention to its argmax entity
    (/root/reference/blink/main_dense.py:253); the reciprocal filter is the
    symmetric tightening used when each entity should absorb at most one
    mention per context.

    Ties are total-ordered (score DESC, other-id ASC) via
    ``topk_per_group``, so the assignment is deterministic. Scale shape:
    two windows partitioned by the (high-cardinality) record ids — each is
    one hash-partitioned shuffle of the candidate table, no
    SinglePartition — then an id-pair equi-join of two top-1 sets, both
    far smaller than the candidate input.
    """
    best_l = topk_per_group(scored, left_col, score_col, right_col, 1).drop(
        "rank"
    )
    best_r = topk_per_group(scored, right_col, score_col, left_col, 1).select(
        left_col, right_col
    )
    return best_l.join(best_r, [left_col, right_col])


def greedy_one_to_one(
    scored: DataFrame,
    left_col: str,
    right_col: str,
    score_col: str = "sim",
) -> DataFrame:
    """Greedy 1:1 assignment — iterated mutual-best with endpoint removal,
    the bounded-round relational form of greedy weighted bipartite matching
    (the one-to-one constraint of classical record linkage: each left
    record may absorb at most one right record and vice versa). Each round
    keeps every reciprocal-top-1 pair — a set that always contains the
    globally best remaining pair, so every round makes progress — then
    removes BOTH endpoints of each match before re-ranking, letting
    runner-up pairs surface that a single ``reciprocal_best`` pass would
    discard forever. The reference links each mention to its unconstrained
    argmax entity (/root/reference/blink/main_dense.py:253); this is the
    1:1-tightened variant used when sources are known duplicate-free.

    Determinism: the per-round mutual best inherits ``topk_per_group``'s
    total order (score DESC, other-id ASC); ``GREEDY_ROUNDS`` is a fixed
    constant so the whole assignment is a pure function of the input.

    Scale shape per round: two id-partitioned windows (one shuffle each, no
    SinglePartition) plus two left_anti equi-joins against the matched-id
    sets. Each round's matches are ``localCheckpoint``-ed (eager, GC-owned
    per cache-hygiene policy): the checkpoint truncates the otherwise
    2^rounds-branching lineage into a linear chain, and the matched set —
    at most min(|L|,|R|) rows, far below the pair table — is exactly the
    "small side goes local" class the block-store broadcast uses.
    """
    remaining = scored
    out: DataFrame | None = None
    for k in range(1, GREEDY_ROUNDS + 1):
        m = (
            reciprocal_best(remaining, left_col, right_col, score_col)
            .withColumn("match_round", F.lit(k).cast("long"))
            .localCheckpoint()
        )
        out = m if out is None else out.unionByName(m)
        remaining = remaining.join(
            m.select(left_col), left_col, "left_anti"
        ).join(m.select(right_col), right_col, "left_anti")
    assert out is not None
    return out


def _span_lcs_counts(gold: list, pred: list) -> tuple[int, int]:
    """Weak/strong match counts for one document's (entity, start, end)
    triples — the LCS dynamic program of the reference's headline ELQ metric
    (/root/reference/elq/vcg_utils/measures.py:9-88), reimplemented:
    both lists sorted by span end; dp[i][j] = diag+1 on a match else
    max(up, left); a weak match is entity equality + span overlap, a strong
    match is entity equality + exact bounds."""
    if not gold or not pred:
        return 0, 0
    # span-less rows (tuples shorter than 3): everything overlaps by default
    if any(len(e) != 3 for e in gold):
        gold = [(e[0], 0, 1) for e in gold]
        pred = [(e[0], 0, 1) for e in pred]
    # reference sorts by end only and leaves ties to input order; we fix a
    # total order (end, start, entity) so the count is partition-independent
    gold = sorted(((e or "", s, t) for e, s, t in gold), key=lambda x: (x[2], x[1], x[0]))
    pred = sorted(((e or "", s, t) for e, s, t in pred), key=lambda x: (x[2], x[1], x[0]))
    n, m = len(gold), len(pred)
    prev_w = [0] * (m + 1)
    prev_s = [0] * (m + 1)
    for gi in range(1, n + 1):
        cur_w = [0] * (m + 1)
        cur_s = [0] * (m + 1)
        ge, gs, gt = gold[gi - 1]
        for pj in range(1, m + 1):
            pe, ps, pt = pred[pj - 1]
            same_entity = ge.lower() == pe.lower()
            overlaps = not (gs >= pt or ps >= gt)
            if same_entity and overlaps:
                cur_w[pj] = prev_w[pj - 1] + 1
            else:
                cur_w[pj] = max(prev_w[pj], cur_w[pj - 1])
            if same_entity and gs == ps and gt == pt:
                cur_s[pj] = prev_s[pj - 1] + 1
            else:
                cur_s[pj] = max(prev_s[pj], cur_s[pj - 1])
        prev_w, prev_s = cur_w, cur_s
    return prev_w[m], prev_s[m]


def span_f1_weak_strong(
    gold: DataFrame,
    pred: DataFrame,
    group_col: str = "doc_id",
    entity_col: str = "entity",
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """Micro-averaged weak/strong span F1 across documents — the reference's
    ELQ evaluation (/root/reference/elq/main_dense.py:591-602: sum per-doc
    LCS match counts, then P/R/F1 over totals). Per-doc DP runs in a
    cogrouped applyInPandas (tiny n×m state per doc); the cross-doc
    aggregation is a plain sum."""
    import pandas as pd

    cols = [group_col, entity_col, start_col, end_col]
    g = gold.select(*cols)
    p = pred.select(*cols)

    def _triples(pdf: pd.DataFrame) -> list:
        # a side with no rows for this key arrives with ONLY the grouping
        # column (pyspark cogroup quirk) — treat as empty
        if len(pdf) == 0 or entity_col not in pdf.columns:
            return []
        return list(
            zip(pdf[entity_col], pdf[start_col].astype(int), pdf[end_col].astype(int))
        )

    def per_doc(key, gpdf: pd.DataFrame, ppdf: pd.DataFrame) -> pd.DataFrame:
        triples_g = _triples(gpdf)
        triples_p = _triples(ppdf)
        w, s = _span_lcs_counts(triples_g, triples_p)
        return pd.DataFrame(
            [
                {
                    group_col: key[0],
                    "weak_tp": w,
                    "strong_tp": s,
                    "n_gold": len(triples_g),
                    "n_pred": len(triples_p),
                }
            ]
        )

    schema = (
        f"{group_col} string, weak_tp long, strong_tp long, n_gold long, n_pred long"
    )
    per = g.groupBy(group_col).cogroup(p.groupBy(group_col)).applyInPandas(
        per_doc, schema
    )
    tot = per.agg(
        F.sum("weak_tp").alias("weak_tp"),
        F.sum("strong_tp").alias("strong_tp"),
        F.sum("n_gold").alias("n_gold"),
        F.sum("n_pred").alias("n_pred"),
    )

    def f1(tp):
        prec = F.col(tp) / F.greatest(F.col("n_pred"), F.lit(1))
        rec = F.col(tp) / F.greatest(F.col("n_gold"), F.lit(1))
        return F.round(
            2 * prec * rec / F.greatest(prec + rec, F.lit(1e-12)), 6
        )

    return tot.select(
        "weak_tp",
        "strong_tp",
        "n_gold",
        "n_pred",
        f1("weak_tp").alias("weak_f1"),
        f1("strong_tp").alias("strong_f1"),
    )


def topk_per_group(
    scored: DataFrame, group_col: str, score_col: str, tiebreak_col: str, k: int
) -> DataFrame:
    """Deterministic top-k: total order (score DESC, tiebreak ASC) —
    fixes the reference's index-order tie behavior
    (/root/reference/blink/main_dense.py:253) reproducibly."""
    w = Window.partitionBy(group_col).orderBy(
        F.col(score_col).desc(), F.col(tiebreak_col).asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def cluster_purity(
    clusters: DataFrame,
    labels: DataFrame,
    id_col: str = "record_id",
    cluster_col: str = "cluster_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-cluster purity and Gini impurity against gold class labels —
    the cluster-local quality report next to the corpus-level B-cubed /
    ARI aggregates: purity names each cluster's dominant-label share (the
    fraction survivorship would get right), Gini names how mixed the rest
    is. Both exact integer ppm: purity = (1e6 * max_label_count) div size,
    gini = 1e6 - (1e6 * sum(count_i^2)) div size^2 — no float enters the
    parity surface. The squared-size product bounds exactness: size^2 *
    1e6 needs size < ~3e6 records per cluster before BIGINT wraps (guarded
    upstream by the match-graph cap-and-report discipline).

    Shape: one (cluster, label) keyed aggregation then one cluster-keyed
    aggregation — two shuffles on high-cardinality keys, no windows, no
    single-partition anything.
    """
    g = (
        clusters.select(
            F.col(id_col).alias("record_id"), F.col(cluster_col).alias("cluster_id")
        )
        .join(
            labels.select(
                F.col(id_col).alias("record_id"), F.col(label_col).alias("label")
            ),
            "record_id",
        )
        .groupBy("cluster_id", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cl"))
    )
    return (
        g.groupBy("cluster_id")
        .agg(
            F.sum("n_cl").cast("long").alias("n_records"),
            F.count(F.lit(1)).cast("long").alias("n_labels"),
            F.max("n_cl").cast("long").alias("n_dominant"),
            F.sum(F.col("n_cl") * F.col("n_cl")).cast("long").alias("sum_sq"),
        )
        .select(
            "cluster_id",
            "n_records",
            "n_labels",
            "n_dominant",
            F.expr("(1000000 * n_dominant) div n_records")
            .cast("long")
            .alias("purity_ppm"),
            F.expr("1000000 - (1000000 * sum_sq) div (n_records * n_records)")
            .cast("long")
            .alias("gini_ppm"),
        )
    )


def otsu_threshold(scores: DataFrame, score_col: str = "score_milli") -> DataFrame:
    """Unsupervised match-threshold selection by Otsu's method (Otsu 1979,
    transplanted from image binarization to the pair-score histogram): pick
    the cut maximizing the between-class variance of the scores below vs at-
    or-above it — the natural valley of a bimodal match/non-match score
    distribution, needing NO gold labels (the unsupervised counterpart of
    er_pr_curve's labeled sweep and er_reliability_bins' calibration).

    Every candidate threshold is an observed distinct score value; between-
    class variance is computed on exact integers: class means are floor
    divisions of milli sums, between = w0·w1·(μ0−μ1)² — monotone-equivalent
    to the textbook ω0ω1(μ0−μ1)² (the shared 1/n² factor is dropped). Fits
    BIGINT to ~6e6 pairs (n²·(Δμ_milli)² < 2^63); beyond that, bin scores
    first (floor(s/10)) — candidate count, not pair count, is what the
    final ordering touches.

    Scale shape: one keyed partial agg collapses the pair-scale input to
    ≤1001 per-value rows (milli scores); the cumulative windows and the
    argmax ordering run on that bounded histogram only — the
    er_rank_histogram class of benign unpartitioned window.

    Input: one row per scored pair with an integer ``score_col`` (milli
    units, 0..1000). Returns one row per viable threshold (both classes
    non-empty): (threshold_milli, w0, w1, mu0_milli, mu1_milli,
    between_var, is_best) with is_best = argmax, ties to the smallest
    threshold.
    """
    hist = (
        scores.select(F.col(score_col).cast("long").alias("v"))
        .groupBy("v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("v").cast("long").alias("sm"),
        )
    )
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    tot = hist.agg(
        F.sum("cnt").cast("long").alias("n_total"),
        F.sum("sm").cast("long").alias("s_total"),
    )
    cum = (
        hist.withColumn("w0", F.coalesce(F.sum("cnt").over(wv), F.lit(0)).cast("long"))
        .withColumn("s0", F.coalesce(F.sum("sm").over(wv), F.lit(0)).cast("long"))
        .filter(F.col("w0") > 0)
        .crossJoin(F.broadcast(tot))
        .withColumn("w1", F.expr("n_total - w0").cast("long"))
        .withColumn("s1", F.expr("s_total - s0").cast("long"))
        .withColumn("mu0", F.expr("s0 div w0").cast("long"))
        .withColumn("mu1", F.expr("s1 div w1").cast("long"))
        .withColumn(
            "between_var",
            F.expr("w0 * w1 * (mu0 - mu1) * (mu0 - mu1)").cast("long"),
        )
    )
    wbest = Window.orderBy(F.col("between_var").desc(), F.col("v").asc())
    return (
        cum.withColumn("rk", F.row_number().over(wbest))
        .select(
            F.col("v").alias("threshold_milli"),
            "w0",
            "w1",
            F.col("mu0").alias("mu0_milli"),
            F.col("mu1").alias("mu1_milli"),
            "between_var",
            (F.col("rk") == 1).alias("is_best"),
        )
    )


def rater_kappa(df: DataFrame, a_col: str, b_col: str) -> DataFrame:
    """Cohen's kappa between two boolean raters (match rules, annotators,
    model versions) — chance-corrected agreement (Cohen 1960): raw
    agreement po is inflated whenever both raters fire rarely; kappa
    subtracts the agreement pe that base rates alone would produce.

    Exact single-fraction integer form: with n pairs, a1/b1 positive
    counts, g agreements, and P = a1·b1 + (n−a1)·(n−b1),
    kappa = (n·g − P)/(n² − P) — po and pe never materialize as floats.
    Reported in ppm via the spearman staged sign-safe division (kappa CAN
    be negative — worse than chance); exact while n ≤ ~3e9 (n² is the
    binding term). den = 0 (a rater with zero variance) yields NULL, the
    standard undefined-kappa convention.

    Scale notes: ONE global scalar aggregate (4 counters, map-side
    partials, one-row finalize — the fs_weights class). No joins, no
    windows.

    Returns one row: (n_pairs, n_a_pos, n_b_pos, n_agree, po_ppm,
    pe_ppm, kappa_ppm).
    """
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col(a_col), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("a1"),
        F.coalesce(
            F.sum(F.when(F.col(b_col), 1).otherwise(0)), F.lit(0)
        )
        .cast("long")
        .alias("b1"),
        F.coalesce(
            F.sum(
                F.when(F.col(a_col).eqNullSafe(F.col(b_col)), 1).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("g"),
    )
    p = "(a1 * b1 + (n - a1) * (n - b1))"
    num = f"(n * g - {p})"
    den = f"(n * n - {p})"
    sdiv = (
        "CASE WHEN {num} >= 0 THEN ({num}) div ({den})"
        " ELSE -((-({num})) div ({den})) END"
    )
    return agg.select(
        F.col("n").alias("n_pairs"),
        F.col("a1").alias("n_a_pos"),
        F.col("b1").alias("n_b_pos"),
        F.col("g").alias("n_agree"),
        F.expr("CASE WHEN n > 0 THEN (1000000 * g) div n END")
        .cast("long")
        .alias("po_ppm"),
        F.expr(
            "CASE WHEN n = 0 THEN NULL"
            f" WHEN n * n >= 1000000 THEN {p} div ((n * n) div 1000000)"
            f" ELSE (1000000 * {p}) div (n * n) END"
        )
        .cast("long")
        .alias("pe_ppm"),
        F.expr(
            f"CASE WHEN {den} = 0 THEN NULL"
            f" WHEN {den} >= 1000000 THEN "
            + sdiv.format(num=num, den=f"({den} div 1000000)")
            + f" ELSE "
            + sdiv.format(num=f"(1000000 * {num})", den=den)
            + " END"
        )
        .cast("long")
        .alias("kappa_ppm"),
    )


def source_reliability(
    records: DataFrame,
    source_col: str,
    label_col: str,
    value_col,
) -> DataFrame:
    """Truth-discovery-lite source trust (the data-fusion readout,
    Dong & Srivastava's accuracy prior): elect each entity's canonical
    value by majority vote (ties to the lexicographically GREATEST
    value — plain struct-max, deterministic on both engines), then score
    each source by how often its records agree with their entity's
    canonical — the per-source accuracy estimate that weighted-vote
    fusion consumes next.

    Singleton-entity caveat: an entity observed by one source alone
    always "agrees" with itself; n_multi/n_multi_agree restrict to
    entities with ≥ 2 distinct values observed, where disagreement is
    possible — the honest column to rank sources by.

    Scale notes: one (entity, value) partial agg, one entity-keyed
    struct-max election, a broadcast-sized canonical join back (entity
    scale), then a source-keyed finalize. Exact counts and ppm.

    Returns (source, n_records, n_agree, reliability_ppm, n_multi,
    n_multi_agree, multi_reliability_ppm).
    """
    base = records.select(
        F.col(source_col).alias("src"),
        F.col(label_col).alias("ent"),
        (F.col(value_col) if isinstance(value_col, str) else value_col).alias(
            "val"
        ),
    ).filter("ent IS NOT NULL AND val IS NOT NULL")
    vc = base.groupBy("ent", "val").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    canon = vc.groupBy("ent").agg(
        F.max(F.struct(F.col("c"), F.col("val"))).alias("m"),
        F.count(F.lit(1)).cast("long").alias("n_vals"),
    ).select(
        "ent", F.col("m.val").alias("canon"), "n_vals"
    )
    j = base.join(canon, "ent").select(
        "src",
        (F.col("val") == F.col("canon")).alias("agree"),
        (F.col("n_vals") > 1).alias("multi"),
    )
    agg = j.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_records"),
        F.coalesce(F.sum(F.when(F.col("agree"), 1)), F.lit(0))
        .cast("long")
        .alias("n_agree"),
        F.coalesce(F.sum(F.when(F.col("multi"), 1)), F.lit(0))
        .cast("long")
        .alias("n_multi"),
        F.coalesce(
            F.sum(F.when(F.col("multi") & F.col("agree"), 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_multi_agree"),
    )
    return agg.select(
        F.col("src").alias(source_col),
        "n_records",
        "n_agree",
        F.expr(
            "CASE WHEN n_records > 0 THEN (1000000 * n_agree) div n_records"
            " ELSE 0 END"
        )
        .cast("long")
        .alias("reliability_ppm"),
        "n_multi",
        "n_multi_agree",
        F.expr(
            "CASE WHEN n_multi > 0 THEN (1000000 * n_multi_agree) div n_multi"
            " END"
        )
        .cast("long")
        .alias("multi_reliability_ppm"),
    )


def weighted_vote_fusion(
    records: DataFrame,
    source_col: str,
    label_col: str,
    value_col,
) -> DataFrame:
    """Second truth-discovery round: re-elect each entity's canonical
    value with votes WEIGHTED by source reliability (the accuracy-prior
    iteration of Dong & Srivastava — a source that usually agrees with
    consensus counts for more, so one good source can out-vote two
    mirrors of a bad one). Round 1 is ``source_reliability``'s
    majority + trust estimate; this round re-runs the election with
    vote weight = the source's contested-entity reliability (ppm;
    sources never seen on a contested entity get the neutral 500000
    prior). All integers; ties to the lexicographically greatest value,
    the round-1 convention.

    Scale notes: reuses round 1's aggregates (entity-scale + a tiny
    per-source weight table broadcast onto the (entity, value, source)
    vote rows), one weighted partial agg, one entity-keyed struct-max.

    Returns one row per entity: (entity, canon_majority, canon_weighted,
    changed, n_records, n_values).
    """
    base = records.select(
        F.col(source_col).alias("src"),
        F.col(label_col).alias("ent"),
        (F.col(value_col) if isinstance(value_col, str) else value_col).alias(
            "val"
        ),
    ).filter("ent IS NOT NULL AND val IS NOT NULL")
    rel = source_reliability(records, source_col, label_col, value_col).select(
        F.col(source_col).alias("src"),
        F.coalesce("multi_reliability_ppm", F.lit(500000))
        .cast("long")
        .alias("w"),
    )
    vc = base.groupBy("ent", "val").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    maj = vc.groupBy("ent").agg(
        F.max(F.struct(F.col("c"), F.col("val"))).alias("m"),
        F.sum("c").cast("long").alias("n_records"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
    ).select(
        "ent", F.col("m.val").alias("canon_majority"), "n_records", "n_values"
    )
    wv = (
        base.join(F.broadcast(rel), "src")
        .groupBy("ent", "val")
        .agg(F.sum("w").cast("long").alias("score"))
        .groupBy("ent")
        .agg(F.max(F.struct(F.col("score"), F.col("val"))).alias("m"))
        .select("ent", F.col("m.val").alias("canon_weighted"))
    )
    return maj.join(wv, "ent").select(
        F.col("ent").alias(label_col),
        "canon_majority",
        "canon_weighted",
        (F.col("canon_majority") != F.col("canon_weighted")).alias("changed"),
        "n_records",
        "n_values",
    )
