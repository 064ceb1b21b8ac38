"""Distinct-count sketching (KMV / bottom-k) for corpus-scale cardinality.

A 100 TB curation run constantly needs "roughly how many distinct users /
domains / shingles are in this slice" without paying an exact
count-distinct. The K-Minimum-Values sketch answers it from only the k
smallest hash values per group: if the k-th smallest of n uniform hashes in
[0, M) sits at R, then n ~= (k-1) * M / R (the classic KMV estimator,
Bar-Yossef et al. 2002). Unlike HyperLogLog the whole computation is exact
integer arithmetic — portable bit-for-bit across engines (the house oracle
rule), mergeable (union of bottom-k sets -> bottom-k), and the error is
~1/sqrt(k-2).

Scale notes (100 TB):
- The only corpus-sized shuffle is the ``distinct`` on (group, hash) —
  unavoidable for any distinct-count, and Spark performs it with map-side
  partial dedup. The bottom-k ranking then runs over the already-deduped
  set; at extreme per-group cardinality the window sort is the honest cost,
  and the production escape hatch is a per-partition bottom-k partial
  aggregation (sort only k * n_partitions rows) feeding the same final
  ranking — the estimator is identical because bottom-k is mergeable.
- No floats anywhere: the estimate is ``(k-1) * 2^32 div kth_hash``, exact
  in BIGINT for any k below ~2^21.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_M = 1 << 32  # hash space: first 8 hex digits of md5

# sketch sizes: KMV keeps the KMV_K smallest hashes; HLL has 2^HLL_P
# registers; the count-min grid is CM_DEPTH rows x CM_WIDTH buckets
KMV_K = 8
HLL_P = 4
CM_DEPTH = 4
CM_WIDTH = 64

# milli-alpha bias constants for the HLL raw estimator (Flajolet et al. 2007)
_HLL_MILLI_ALPHA = {16: 673, 32: 697, 64: 709}


def _kmv_hash(col: Column) -> Column:
    """Uniform hash into [0, 2^32): first 8 md5 hex digits as a long
    (DuckDB-portable: ('0x' || substr(md5('kmv:' || x), 1, 8))::BIGINT)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv:"), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")


def kmv_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group KMV distinct-count estimate of ``key_col`` from the
    ``k = KMV_K`` smallest hashes.

    Returns (group, n_exact, kth_hash, est_distinct):
    - ``n_exact``      exact distinct-hash count (the sketch's target; kept
                       so recall/error is auditable in the same scan)
    - ``kth_hash``     the k-th smallest hash (null when the group holds
                       fewer than k distinct values — the sketch is exact
                       there and ``est_distinct = n_exact``)
    - ``est_distinct`` ``(k-1) * 2^32 div kth_hash``, BIGINT

    Deterministic: md5 hashing, integer division, no sampling.
    """
    h = (
        df.select(
            F.col(group_col).alias("grp"),
            _kmv_hash(F.col(key_col)).alias("h"),
        )
        .distinct()
    )
    k = KMV_K
    w = Window.partitionBy("grp").orderBy(F.col("h").asc())
    ranked = h.select("grp", "h", F.row_number().over(w).alias("rn"))
    agg = ranked.groupBy("grp").agg(
        F.count("*").cast("long").alias("n_exact"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).cast("long").alias("kth_hash"),
    )
    est = F.when(F.col("n_exact") < k, F.col("n_exact")).otherwise(
        F.expr(f"cast({(k - 1) * _M} as bigint) div kth_hash")
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_exact",
        "kth_hash",
        est.cast("long").alias("est_distinct"),
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group HyperLogLog distinct-count estimate of ``key_col`` with
    ``m = 2^p`` registers, ``p = HLL_P`` (4, 5 or 6).

    The registers are exact integers end to end: register index = the hash's
    low ``p`` bits, rank = leading-zero run of the remaining ``32 - p`` bits
    + 1, computed as string math on ``bin(w)`` (both engines render identical
    minimal-width binary strings, and ``^0+`` means the same thing to Java
    regex and RE2 — no float log whose last ulp could flip a register).
    The harmonic sum is kept as the exact integer ``S' = sum(2^(32 - M_j))``
    with every empty register contributing ``2^32``, so the only floats are
    the final one-line estimators on identical integer inputs:

    - raw:            ``est = milli_alpha * m^2 * 2^32 div (1000 * S')``
      (pure integer — exact)
    - linear counting ``m * ln(m / V)`` when the raw estimate is below
      ``5/2 * m`` and empty registers remain (the standard small-range
      correction; one libm ``ln`` on a small-integer ratio, floored — the
      same 1-ulp caveat as lm_perplexity's quantization, documented there).

    Returns (group, n_exact, v_empty, s_scaled, est_distinct). ``n_exact``
    is the true distinct-hash count, folded out of the same register
    aggregation (zero extra passes) for in-scan error auditing.

    Shape at 100 TB: identical to ``kmv_distinct`` — one distinct on
    (group, hash) with map-side partial dedup, then a (group, register)
    partial aggregation and an m-row-per-group final aggregation. The
    register table is ``m × n_groups`` rows: tiny and mergeable (max of
    register maxes).
    """
    p = HLL_P
    m = 1 << p
    per_reg = _hll_rho_rows(df, key_col, group_col, p).groupBy("grp", "j").agg(
        F.max("rho").alias("mj"),
        F.count("*").alias("c"),
    )
    agg = per_reg.groupBy("grp").agg(
        F.sum("c").cast("long").alias("n_exact"),
        (F.lit(m) - F.count("*")).cast("long").alias("v_empty"),
        _hll_s_scaled(m).alias("s_scaled"),
    )
    return agg.select(
        F.col("grp").alias(group_col),
        "n_exact",
        "v_empty",
        "s_scaled",
        _hll_est_col(m).alias("est_distinct"),
    )


def _hll_rho_rows(
    df: DataFrame, key_col: str, group_col: str, p: int
) -> DataFrame:
    """(grp, j, rho) rows over the distinct (group, hash) set.

    j = low ``p`` bits; w = high ``32 - p`` bits; rho = leading zeros of w
    + 1. bin(w) has no leading zeros, so rho = width - length(bin(w)) + 1;
    w = 0 renders as "0" -> strip to '' -> rho = width + 1 (all-zero run).
    """
    m = 1 << p
    width = 32 - p
    h = (
        df.select(
            F.col(group_col).alias("grp"),
            _kmv_hash(F.col(key_col)).alias("h"),
        )
        .distinct()
    )
    return h.select(
        "grp",
        (F.col("h") % m).alias("j"),
        F.expr(f"h div {m}").alias("w"),
    ).select(
        "grp",
        "j",
        (
            F.lit(width)
            - F.length(F.regexp_replace(F.expr("bin(w)"), "^0+", ""))
            + F.lit(1)
        ).alias("rho"),
    )


def _hll_s_scaled(m: int):
    """Exact-integer harmonic sum over (grp)-grouped register rows with an
    ``mj`` column: ``sum(2^(32-mj)) + v_empty * 2^32``."""
    return (
        F.sum(F.expr("cast(1 as bigint) << (32 - mj)"))
        + (F.lit(m) - F.count("*")) * F.lit(_M)
    ).cast("long")


def _hll_est_col(m: int):
    """Final estimator over v_empty/s_scaled columns: integer raw estimate
    with the linear-counting small-range correction."""
    milli_alpha = _HLL_MILLI_ALPHA[m]
    raw = F.expr(f"cast({milli_alpha * m * m} as bigint) * {_M} div (1000 * s_scaled)")
    linear = F.floor(
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_empty").cast("double"))
    ).cast("long")
    return (
        F.when((raw <= F.lit((5 * m) // 2)) & (F.col("v_empty") > 0), linear)
        .otherwise(raw)
        .cast("long")
    )


def _cm_hash(col: Column, j: int, w: int) -> Column:
    """Row-j count-min hash into [0, w): first 8 md5 hex digits of the
    salted key as a long, mod w (DuckDB-portable:
    ('0x' || substr(md5('cm{j}:' || x), 1, 8))::BIGINT % w)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cm{j}:"), col.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % w
    )


def _cm_cells(key_col: str) -> Column:
    """One ``jb`` struct (j, bucket) per sketch row ``j``, exploded: the
    counter cell each row of the grid maps the key to."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).cast("int").alias("j"),
                    _cm_hash(F.col(key_col), j, CM_WIDTH).alias("bucket"),
                )
                for j in range(CM_DEPTH)
            ]
        )
    ).alias("jb")


def count_min_counters(df: DataFrame, key_col: str) -> DataFrame:
    """The count-min sketch STATE (Cormode & Muthukrishnan 2005): a
    ``d x w`` counter grid (``CM_DEPTH x CM_WIDTH``) — row ``j`` buckets
    every occurrence of the key under an independently salted hash. This is the
    mergeable form: union counter tables from other partitions / days /
    micro-batches and ``sum(c)`` per (j, bucket); estimates of the merged
    stream fall out of ``count_min_estimate``'s min-over-rows.

    Shape at 100 TB: the explode inflates the scan d-fold but feeds a
    map-side-combinable (j, bucket) partial aggregation whose output is
    exactly ``d * w`` rows — constant, broadcastable, the whole point of
    sketching. No floats, no driver collection.

    Returns (j, bucket, c).
    """
    jb = df.select(_cm_cells(key_col))
    return jb.groupBy(
        F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))


def count_min_estimate(df: DataFrame, key_col: str) -> DataFrame:
    """Per-key count-min frequency estimate with the exact count kept
    alongside for in-scan error auditing (the ``kmv_distinct`` convention):
    ``est = min over rows j of counter[j][h_j(key)]`` — never an
    underestimate, over by at most the collision mass, so ranking by
    ``est_count`` is the standard heavy-hitter readout.

    The counter grid is ``d * w`` rows and joins back BROADCAST — the only
    corpus-sized operations are the two key-grouped partial aggregations.

    Returns (key, n_exact, est_count, overestimate), one row per distinct
    key; ``overestimate = est_count - n_exact >= 0``.
    """
    counters = count_min_counters(df, key_col)
    keys = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    kh = keys.select(
        key_col,
        "n_exact",
        _cm_cells(key_col),
    ).select(key_col, "n_exact", "jb.j", "jb.bucket")
    return (
        kh.join(F.broadcast(counters), ["j", "bucket"])
        .groupBy(key_col, "n_exact")
        .agg(F.min("c").cast("long").alias("est_count"))
        .select(
            key_col,
            "n_exact",
            "est_count",
            (F.col("est_count") - F.col("n_exact"))
            .cast("long")
            .alias("overestimate"),
        )
    )
