"""ELQ-style span operators: enumeration, bounds conversion, greedy overlap
pruning (SURVEY.md §2.6).

The reference detects mentions by scoring every (start <= end) token span
(/root/reference/elq/biencoder/biencoder.py:64-126), converts exclusive to
inclusive bounds (/root/reference/elq/biencoder/data_process.py:410-411),
sorts spans by (start, end) (/root/reference/elq/biencoder/
data_process.py:202-248) and greedily keeps the best non-overlapping spans
(/root/reference/elq/main_dense.py:451-466). Here spans come pre-delimited
in the documents table, so enumeration is a generator expression and the
only inherently sequential piece — the greedy overlap prune — is a grouped
``applyInPandas`` with one document of state at a time.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enumerate_token_spans(
    df: DataFrame, id_col: str, text_col: str, max_len: int = 3
) -> DataFrame:
    """All token spans of length 1..max_len per row: (id, start, end_excl,
    span_text). Pure generator (sequence + transform + explode), no shuffle —
    the relational form of MentionScoresHead's span enumeration
    (/root/reference/elq/biencoder/biencoder.py:103-119)."""
    toks = F.split(F.trim(df[text_col]), r"[\t\n\x0B\f\r ]+")
    n = F.size(toks)
    spans = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda s: F.transform(
                F.sequence(
                    F.lit(1), F.least(F.lit(max_len), n - s)
                ),
                lambda ln: F.struct(
                    s.alias("start"),
                    (s + ln).alias("end_excl"),
                    F.array_join(F.slice(toks, s + 1, ln), " ").alias("span_text"),
                ),
            ),
        )
    )
    return df.select(df[id_col].alias("record_id"), F.explode(spans).alias("sp")).select(
        "record_id",
        F.col("sp.start").alias("start"),
        F.col("sp.end_excl").alias("end_excl"),
        F.col("sp.span_text").alias("span_text"),
    )


def greedy_overlap_prune(
    scored_spans: DataFrame,
    group_col: str = "record_id",
    score_col: str = "score",
    extra_group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Greedy best-first non-overlap selection per group — accept a span
    unless any of its token positions is already covered. Inherently
    sequential per document (bounded state: one doc), hence grouped-map
    applyInPandas (/root/reference/elq/main_dense.py:451-466,
    ``filter_overlaps`` at /root/reference/scripts/tune_hyperparams_new.py:
    60-73).

    Expects columns (group_col, start, end_excl, score_col). Deterministic
    order: score DESC, start ASC, end_excl ASC.

    ``extra_group_cols`` refines the coverage state: grouping additionally
    by a predicted-entity column gives the reference's
    ``filter_repeat_overlaps`` (tune_hyperparams_new.py:75-87), where each
    entity keeps its own token mask and only same-entity overlaps prune.
    """
    schema = scored_spans.schema

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [score_col, "start", "end_excl"], ascending=[False, True, True]
        )
        covered: set[int] = set()
        keep = []
        for idx, row in pdf.iterrows():
            rng = range(int(row["start"]), int(row["end_excl"]))
            if any(p in covered for p in rng):
                continue
            covered.update(rng)
            keep.append(idx)
        return pdf.loc[keep]

    return scored_spans.groupBy(group_col, *extra_group_cols).applyInPandas(
        prune, schema
    )


def filter_repeats(
    scored_spans: DataFrame,
    group_col: str = "record_id",
    entity_col: str = "entity",
    score_col: str = "score",
    tiebreak_cols: tuple[str, ...] = ("start", "end_excl"),
) -> DataFrame:
    """Keep only the best-scoring span per predicted entity per group — the
    reference's ``filter_repeats`` (/root/reference/scripts/
    tune_hyperparams_new.py:43-59: sort by score desc, keep the first
    occurrence of each entity id). Purely relational: one window
    row_number, no per-group Python."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col, entity_col).orderBy(
        F.col(score_col).desc(), *[F.col(c).asc() for c in tiebreak_cols]
    )
    return (
        scored_spans.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def filter_repeat_overlaps(
    scored_spans: DataFrame,
    group_col: str = "record_id",
    entity_col: str = "entity",
    score_col: str = "score",
) -> DataFrame:
    """Greedy overlap pruning with a PER-ENTITY coverage mask — the
    reference's ``filter_repeat_overlaps`` (/root/reference/scripts/
    tune_hyperparams_new.py:75-87). Spans of different entities may overlap;
    within one entity the usual greedy non-overlap rule applies."""
    return greedy_overlap_prune(
        scored_spans,
        group_col=group_col,
        score_col=score_col,
        extra_group_cols=(entity_col,),
    )


def span_scores_prefix_sum(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Score EVERY (start <= end) span of at most 3 tokens with the
    prefix-sum
    trick of the
    reference's mention score head (/root/reference/elq/biencoder/
    biencoder.py:64-126): span score = start_logit[s] + end_logit[e] +
    sum(inside_logits[s..e]), where the inside sum comes from one running
    cumulative sum per document instead of per-span re-summation.

    Logits are deterministic md5-derived integers in milli-units (the
    model-free stand-in; exact integer arithmetic → oracle-portable).
    Returns (record_id, start, end_excl, span_text, score_milli).
    """
    from pyspark.sql import Window

    toks = F.split(F.trim(df[text_col]), r"[\t\n\x0B\f\r ]+")
    tk = df.select(
        df[id_col].alias("record_id"), F.posexplode(toks).alias("pos", "tok")
    )

    def _milli(kind: str):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(f"{kind}:"), F.col("tok"), F.lit(":"),
                            F.col("pos").cast("string"),
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            % 2001
            - 1000
        )

    w = Window.partitionBy("record_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    scored_toks = (
        tk.select(
            "record_id",
            "pos",
            _milli("st").alias("start_l"),
            _milli("en").alias("end_l"),
            _milli("in").alias("in_l"),
        )
        .withColumn("cum_in", F.sum("in_l").over(w))
        .withColumn("prev_cum", F.col("cum_in") - F.col("in_l"))
    )
    spans = enumerate_token_spans(df, id_col, text_col, max_len=3)
    s_start = scored_toks.select(
        "record_id", F.col("pos").alias("start"), "start_l", "prev_cum"
    )
    s_end = scored_toks.select(
        "record_id", (F.col("pos") + 1).alias("end_excl"), "end_l", "cum_in"
    )
    return (
        spans.join(s_start, ["record_id", "start"])
        .join(s_end, ["record_id", "end_excl"])
        .select(
            "record_id",
            "start",
            "end_excl",
            "span_text",
            (
                F.col("start_l") + F.col("end_l") + F.col("cum_in") - F.col("prev_cum")
            ).alias("score_milli"),
        )
    )


def threshold_prune_topk(
    scored_spans: DataFrame,
    group_col: str = "record_id",
    score_col: str = "score",
    tiebreak_cols: tuple[str, ...] = ("start", "end_excl"),
) -> DataFrame:
    """Threshold pruning with top-2 fallback — the combined semantics of
    /root/reference/elq/biencoder/biencoder.py:318-363 (prune_ctxt_mentions):
    keep spans whose score clears 14.0; for groups where NOTHING clears it,
    fall back to the top-2 spans by score. One window pass, no
    per-group Python."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col)
    wr = w.orderBy(
        F.col(score_col).desc(), *[F.col(c).asc() for c in tiebreak_cols]
    )
    n_pass = F.sum((F.col(score_col) > 14.0).cast("int")).over(w)
    rank = F.row_number().over(wr)
    return (
        scored_spans.withColumn("_np", n_pass)
        .withColumn("_rk", rank)
        .filter(
            (F.col(score_col) > 14.0)
            | ((F.col("_np") == 0) & (F.col("_rk") <= 2))
        )
        .drop("_np", "_rk")
    )
