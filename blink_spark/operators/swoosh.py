"""Bounded R-Swoosh: iterative merge-and-rematch entity consolidation.

R-Swoosh (Benjelloun, Garcia-Molina et al., "Swoosh: a generic approach to
entity resolution", VLDB Journal 2009) alternates MATCH and MERGE until no
two records match: merging two profiles can create a profile that matches
records neither original matched (the transitive-enablement property plain
one-shot match+CC linkage misses). With an ICAR match/merge pair —
idempotent, commutative, associative, representative — the fixed point is
unique and order-independent, so the sequential algorithm admits a
superstep recast: each round is (bounded-fanout pair generation) →
(match) → (connected components) → (profile union-merge), and the
sequential result is reached in a bounded number of rounds.

The match/merge pair here IS ICAR: merge = set union of informative
tokens, match = exact-integer Jaccard over those sets (union can only grow
a profile, and Jaccard vs a union dominates the pigeonhole bound the round
before — representativity). Matching is generated through a token-keyed
equi-join with the corpus-df cap the blocking family uses everywhere
(df > ``df_max`` tokens are stopword-like; they'd produce the mega blocks
cap-and-report exists to prevent), and the token universe is FIXED at
round 0 so every round speaks the same vocabulary.

Scale notes (100 TB): per round, one token-keyed self-join whose fan-out
is bounded by round-0 df (shrinking as profiles merge), one pair-keyed
partial agg, two profile-size hash joins, one CC call (size-gated local /
superstep), one profile-keyed distinct union. localCheckpoint per round
(the CC lineage convention). No windows, no driver collection, no
all-pairs anywhere.

Reference parity note: the reference has no iterative merge (its linkage
is one-shot biencoder + reranker, /root/reference/blink/main_dense.py);
this operator is part of the beyond-reference ER family, next to the
structural-triage graph operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.functions.text import tokens
from blink_spark.operators.cluster import assign_clusters

# match→CC→merge supersteps; round 2 catches the merge-enabled matches
SWOOSH_ROUNDS = 2


def swoosh_merge(
    records: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Run ``SWOOSH_ROUNDS`` match→CC→union-merge supersteps over the
    records' informative-token profiles (tokens in at most 20 records);
    return every record's final profile.

    Match rule: exact-integer Jaccard over kept-token sets,
    ``(n_shared * 1e6) div (sz_a + sz_b - n_shared) >= 500000``.
    Profile ids are component minima (deterministic); records whose tokens
    are all stopword-like keep themselves as singleton profiles with
    ``profile_n_tokens`` counting their kept tokens (0 if none).

    Returns (record_id, profile_id, profile_n_tokens).
    """
    tk = records.select(
        F.col(id_col).alias("record_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    kept = (
        tk.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= 20)
        .select("tok")
    )
    prof = (
        tk.join(kept, "tok")
        .select(F.col("record_id").alias("pid"), "tok")
        .localCheckpoint()
    )
    mapping = records.select(
        F.col(id_col).alias("record_id"), F.col(id_col).alias("pid")
    )
    for _ in range(SWOOSH_ROUNDS):
        sizes = prof.groupBy("pid").agg(F.count(F.lit(1)).cast("long").alias("sz"))
        shared = (
            prof.select(F.col("pid").alias("pid_a"), "tok")
            .join(prof.select(F.col("pid").alias("pid_b"), "tok"), "tok")
            .filter(F.col("pid_a") < F.col("pid_b"))
            .groupBy("pid_a", "pid_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        )
        edges = (
            shared.join(
                sizes.select(F.col("pid").alias("pid_a"), F.col("sz").alias("sz_a")),
                "pid_a",
            )
            .join(
                sizes.select(F.col("pid").alias("pid_b"), F.col("sz").alias("sz_b")),
                "pid_b",
            )
            .filter(
                F.expr("(n_shared * 1000000) div (sz_a + sz_b - n_shared)")
                >= F.lit(500_000)
            )
            .select(F.col("pid_a").alias("src"), F.col("pid_b").alias("dst"))
        )
        relabel = assign_clusters(prof.select("pid"), "pid", edges).select(
            F.col("record_id").alias("pid"), F.col("cluster_id").alias("new_pid")
        )
        prof = (
            prof.join(relabel, "pid")
            .select(F.col("new_pid").alias("pid"), "tok")
            .distinct()
            .localCheckpoint()
        )
        mapping = mapping.join(relabel, "pid", "left").select(
            "record_id", F.coalesce("new_pid", "pid").alias("pid")
        )
    psz = prof.groupBy("pid").agg(
        F.count(F.lit(1)).cast("long").alias("profile_n_tokens")
    )
    return mapping.join(psz, "pid", "left").select(
        "record_id",
        F.col("pid").alias("profile_id"),
        F.coalesce("profile_n_tokens", F.lit(0)).cast("long").alias(
            "profile_n_tokens"
        ),
    )
