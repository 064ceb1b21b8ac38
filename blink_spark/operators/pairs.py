"""S3 — candidate pair generation: skew-aware self-join within block keys.

The reference never faces skew (python dict lookups); at 10^12-doc scale a
stopword-like block key produces a quadratic hot partition, so this module
makes the skew policy explicit (SURVEY.md §4, north rule):

- blocks with size <= ``max_block_size``: plain within-block self-join;
- blocks with size in (max_block_size, hard_cap]: **triangle-salted**
  self-join — rows are bucketed by hash into B sub-buckets and replicated to
  the B tasks of each bucket-pair (p, q), p <= q. Every unordered pair is
  still produced exactly once, but no single task holds a whole hot block;
- blocks beyond ``hard_cap``: dropped and **counted** (metrics), the
  deterministic cap-and-report semantics of SURVEY.md §7.

Output pairs are canonical (id_a < id_b) and globally distinct (the same
pair can arise from many shared keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_MAX_BLOCK = 64
DEFAULT_HARD_CAP = 4096
DEFAULT_N_SALT = 8


def candidate_pairs(
    assignments: DataFrame,
    max_block_size: int = DEFAULT_MAX_BLOCK,
    hard_cap: int = DEFAULT_HARD_CAP,
    n_salt: int = DEFAULT_N_SALT,
) -> tuple[DataFrame, DataFrame]:
    """(block_key, record_id) → canonical distinct (record_id_a, record_id_b).

    Returns (pairs, skew_metrics). skew_metrics has one row per block-size
    class with block/row counts, including dropped oversize blocks.
    """
    # the assignment frame feeds four consumers (sizes, small, medium,
    # metrics) — persist so upstream blocking expressions run once.
    assignments = assignments.persist()

    # Block size via a count window, not groupBy+join-back: one shuffle of
    # the assignment table instead of two, and the resulting hashpartitioning
    # on block_key feeds the within-block self-join below with no further
    # exchange (ReuseExchange dedupes the window shuffle across the
    # small/medium branches of the union). An over-hard_cap block flows
    # through one window partition, but only for a linear count — it is
    # dropped before any quadratic work, exactly as in the join form (which
    # also co-located each block on one join partition).
    a = assignments.withColumn(
        "block_size", F.count("*").over(Window.partitionBy("block_key"))
    )
    small = a.filter(F.col("block_size") <= max_block_size)
    medium = a.filter(
        (F.col("block_size") > max_block_size) & (F.col("block_size") <= hard_cap)
    )

    # --- small blocks: plain self-join -----------------------------------
    left = small.select("block_key", F.col("record_id").alias("record_id_a"))
    right = small.select("block_key", F.col("record_id").alias("record_id_b"))
    small_pairs = left.join(right, "block_key").filter(
        F.col("record_id_a") < F.col("record_id_b")
    )

    # --- medium blocks: triangle-salted self-join ------------------------
    # bucket = stable hash of the id; row replicates to every bucket-pair
    # task that contains its bucket. Pair (x, y) with buckets (p, q) is
    # produced only by task (min(p,q), max(p,q)) → exactly once.
    b = medium.withColumn(
        "bucket", F.pmod(F.xxhash64("record_id"), F.lit(n_salt)).cast("int")
    )
    tasks = b.select(
        "block_key",
        "record_id",
        "bucket",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_salt - 1)),
                lambda o: F.struct(
                    F.least(F.col("bucket"), o).alias("p"),
                    F.greatest(F.col("bucket"), o).alias("q"),
                ),
            )
        ).alias("task"),
    ).select("block_key", "record_id", "bucket", "task.p", "task.q")
    t_left = tasks.filter(F.col("bucket") == F.col("p")).select(
        "block_key", "p", "q", F.col("record_id").alias("record_id_a")
    )
    t_right = tasks.filter(F.col("bucket") == F.col("q")).select(
        "block_key", "p", "q", F.col("record_id").alias("record_id_b")
    )
    medium_pairs = (
        t_left.join(t_right, ["block_key", "p", "q"])
        .filter(
            # same-bucket task: order within; cross-bucket: canonicalize
            F.when(
                F.col("p") == F.col("q"), F.col("record_id_a") < F.col("record_id_b")
            ).otherwise(F.col("record_id_a") != F.col("record_id_b"))
        )
        .select(
            "block_key",
            F.least("record_id_a", "record_id_b").alias("record_id_a"),
            F.greatest("record_id_a", "record_id_b").alias("record_id_b"),
        )
    )

    pairs = (
        small_pairs.select("record_id_a", "record_id_b")
        .unionByName(medium_pairs.select("record_id_a", "record_id_b"))
        .distinct()
    )

    sizes = assignments.groupBy("block_key").agg(F.count("*").alias("block_size"))
    skew_metrics = sizes.select(
        F.when(F.col("block_size") <= max_block_size, F.lit("small"))
        .when(F.col("block_size") <= hard_cap, F.lit("medium_salted"))
        .otherwise(F.lit("dropped_oversize"))
        .alias("size_class"),
        "block_size",
    ).groupBy("size_class").agg(
        F.count("*").alias("n_blocks"),
        F.sum("block_size").alias("n_rows"),
        F.max("block_size").alias("max_block_size"),
    )
    return pairs, skew_metrics


def pairs_with_attrs(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    attr_cols: list[str],
) -> DataFrame:
    """Join pair ids back to record attributes on both sides: two joins on
    the uniform record_id key (no skew by construction — ids are unique);
    at scale these are sort-merge joins.
    """
    a = records.select(
        F.col(id_col).alias("record_id_a"),
        *[F.col(c).alias(f"{c}_a") for c in attr_cols],
    )
    b = records.select(
        F.col(id_col).alias("record_id_b"),
        *[F.col(c).alias(f"{c}_b") for c in attr_cols],
    )
    return pairs.join(a, "record_id_a").join(b, "record_id_b")


def group_linkage(
    member_pairs: DataFrame,
    group_sizes: DataFrame,
) -> DataFrame:
    """Group linkage (On, Koudas, Lee & Srivastava, ICDE 2007): lift
    member-level match scores to GROUP-level similarity — households,
    author blocks, or documents whose mention sets overlap. Each group
    pair's score is a Jaccard over members under a one-to-one member
    matching: ``1e6 * |matched| div (|A| + |B| - |matched|)``, exact
    integers. The matching is reciprocal-best WITHIN the group pair
    (ties: score desc, other-id asc) — the deterministic, relational
    stand-in for the paper's bipartite maximum matching; reciprocal-best
    is a subset of every maximum matching, so the score is a lower bound.

    member_pairs: (group_a, group_b, id_a, id_b, score) — scored CROSS-
    group member pairs (same-group rows are dropped; orientation is
    canonicalized here, swapping the (group, id) tuples together, so
    callers may pass either order).
    group_sizes: (group, n_members) — TOTAL members per group, not just
    members that appear in ``member_pairs``.

    Scale notes (100 TB): two windows partitioned by (group pair, member)
    — high-cardinality keys, one hash shuffle each; the size joins are on
    the group key and the left side is one row per surviving group pair.
    No driver collection.

    Returns (group_a, group_b, n_a, n_b, n_matched, group_sim_ppm) with
    group_a < group_b, n_matched >= 1.
    """
    flip = F.col("group_a") > F.col("group_b")
    p = (
        member_pairs.filter(F.col("group_a") != F.col("group_b"))
        .select(
            F.when(flip, F.col("group_b")).otherwise(F.col("group_a")).alias("ga"),
            F.when(flip, F.col("group_a")).otherwise(F.col("group_b")).alias("gb"),
            F.when(flip, F.col("id_b")).otherwise(F.col("id_a")).alias("la"),
            F.when(flip, F.col("id_a")).otherwise(F.col("id_b")).alias("lb"),
            F.col("score").alias("s"),
        )
    )
    wl = Window.partitionBy("ga", "gb", "la").orderBy(
        F.col("s").desc(), F.col("lb").asc()
    )
    wr = Window.partitionBy("ga", "gb", "lb").orderBy(
        F.col("s").desc(), F.col("la").asc()
    )
    matched = (
        p.withColumn("rl", F.row_number().over(wl))
        .withColumn("rr", F.row_number().over(wr))
        .filter((F.col("rl") == 1) & (F.col("rr") == 1))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    )
    gs = group_sizes.select(F.col("group"), F.col("n_members"))
    return (
        matched.join(
            gs.select(F.col("group").alias("ga"), F.col("n_members").alias("n_a")),
            "ga",
        )
        .join(
            gs.select(F.col("group").alias("gb"), F.col("n_members").alias("n_b")),
            "gb",
        )
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            "n_matched",
            F.expr("(1000000 * n_matched) div (n_a + n_b - n_matched)")
            .cast("long")
            .alias("group_sim_ppm"),
        )
    )
