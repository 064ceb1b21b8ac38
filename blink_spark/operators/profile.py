"""Data-profiling operators — the per-column quality report every ingest
pipeline runs before trusting a new source (completeness, cardinality,
dominant value, value-distribution entropy). The reference profiles its
inputs ad hoc (row counts and per-field sanity prints during KB ingestion,
/root/reference/blink/candidate_retrieval/process_wiki_extractor_output.py);
this is the systematic relational form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def column_profile(df: DataFrame, cols: dict[str, str]) -> DataFrame:
    """One profile row per column: total rows, nulls, distinct non-null
    values, the most frequent value with its count (ties broken by MAX
    value — deterministic on both engines via lexicographic struct max),
    and the exact value-distribution entropy in integer micro-nats
    (``ln(n) − Σ c·ln(c)/n`` over non-null value counts — 0 for a
    constant column, ln(n) for a unique key; the same floor(ln·1e6)
    closed form as ``char_entropy``).

    ``cols`` maps output column names to STRING-rendered SQL expression
    strings — the caller chooses the rendering (cast dates to date, never
    render raw doubles: float-to-string differs across engines).

    Scale notes (100 TB): the wide table is unpivoted with ``stack``
    (codegen, no shuffle), then everything is two keyed partial aggs —
    (col, value) counts, then per-col finalize. No window over a value
    partition (a rank-per-column window would funnel each column's whole
    distinct-value set through one task); the top value is an O(1)
    struct-max inside the second agg. Output is |cols| rows.
    """
    n = len(cols)
    pairs = ", ".join(f"'{name}', ({expr})" for name, expr in cols.items())
    long = df.select(F.expr(f"stack({n}, {pairs}) as (col, val)"))
    vc = long.groupBy("col", "val").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    nn_struct = F.when(
        F.col("val").isNotNull(), F.struct(F.col("cnt"), F.col("val"))
    )
    p = vc.groupBy("col").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("cnt"))), F.lit(0)
        )
        .cast("long")
        .alias("n_null"),
        F.count(F.when(F.col("val").isNotNull(), F.lit(1)))
        .cast("long")
        .alias("n_distinct"),
        F.max(nn_struct).alias("_top"),
        F.sum(F.when(F.col("val").isNotNull(), F.col("cnt")))
        .cast("long")
        .alias("_n_nn"),
        F.sum(
            F.when(
                F.col("val").isNotNull(),
                F.col("cnt")
                * F.floor(F.log(F.col("cnt").cast("double")) * F.lit(1e6)).cast(
                    "long"
                ),
            )
        )
        .cast("long")
        .alias("_s_micro"),
    )
    return p.select(
        F.col("col").alias("column_name"),
        "n_rows",
        "n_null",
        "n_distinct",
        F.col("_top.val").alias("top_value"),
        F.col("_top.cnt").cast("long").alias("top_freq"),
        F.when(
            F.col("_n_nn") > 0,
            F.floor(F.log(F.col("_n_nn").cast("double")) * F.lit(1e6)).cast(
                "long"
            )
            - F.expr("_s_micro div _n_nn"),
        )
        .cast("long")
        .alias("entropy_micro"),
    )


def numeric_profile(df: DataFrame, cols: dict[str, str]) -> DataFrame:
    """Numeric companion of ``column_profile``: per column min / max /
    sum / mean plus exact quartiles, all in integer milli-units — the
    distribution report for measure columns, where ``column_profile``'s
    top-value/entropy view fits dimensions. ``cols`` maps output names to
    SQL expressions that MUST already yield integer milli-units (e.g.
    ``floor(x * 1000)``): callers quantize explicitly, so no float sum
    or float rendering ever enters the parity surface.

    Quartiles are percentile_disc rank picks from ``grouped_quartiles``
    (per-group window — the honest exact form; the group count here is
    |cols|, and each group holds one column's values). Everything else is
    one keyed partial agg. Mean is ``sum div n`` floor division on
    nonnegative-or-positive sums guarded sign-safe for negative-valued
    columns.

    Returns (column_name, n_rows, n_null, min_milli, max_milli,
    sum_milli, mean_milli, q25_milli, q50_milli, q75_milli).
    """
    from blink_spark.operators.corpus import grouped_quartiles

    n = len(cols)
    pairs = ", ".join(
        f"'{name}', cast(({expr}) as bigint)" for name, expr in cols.items()
    )
    long = df.select(F.expr(f"stack({n}, {pairs}) as (col, vm)"))
    stats = long.groupBy("col").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.sum(F.when(F.col("vm").isNull(), 1)), F.lit(0))
        .cast("long")
        .alias("n_null"),
        F.min("vm").cast("long").alias("min_milli"),
        F.max("vm").cast("long").alias("max_milli"),
        F.coalesce(F.sum("vm"), F.lit(0)).cast("long").alias("sum_milli"),
    )
    q = grouped_quartiles(
        long.filter(F.col("vm").isNotNull()), "col", "vm", "vm"
    ).select(
        F.col("key").alias("col"),
        F.col("q25").alias("q25_milli"),
        F.col("q50").alias("q50_milli"),
        F.col("q75").alias("q75_milli"),
    )
    out = stats.join(q, "col", "left")
    return out.select(
        F.col("col").alias("column_name"),
        "n_rows",
        "n_null",
        "min_milli",
        "max_milli",
        "sum_milli",
        F.expr(
            "CASE WHEN n_rows - n_null > 0 THEN"
            " CASE WHEN sum_milli >= 0"
            "  THEN sum_milli div (n_rows - n_null)"
            "  ELSE -((-sum_milli) div (n_rows - n_null)) END"
            " END"
        )
        .cast("long")
        .alias("mean_milli"),
        "q25_milli",
        "q50_milli",
        "q75_milli",
    )


def spearman_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact Spearman rank-correlation profile over every pair of numeric
    columns — the monotone-dependence report beside ``numeric_profile``'s
    marginals (Pearson needs float sums, which the parity contract bans;
    rank correlation is pure integer arithmetic and robust to the heavy
    skew profiling exists to find).

    Ranks are AVERAGE ranks kept integer by the ×2 trick
    (rank2x = 2·min_rank + ties − 1, an integer even when the average
    rank is a half); rho uses the classic formula
    rho = 1 − 6·Σd²/(n(n²−1)) on those ranks, reported in ppm via staged
    sign-safe division. With heavy ties this formula is a DOWN-biased
    variant of Pearson-on-ranks — the per-column distinct counts are
    emitted so a reader can judge tie density. Rows with a NULL in ANY
    profiled column are dropped first (listwise deletion — NULL ordering
    differs across engines, and partial ranks would skew pairs
    inconsistently).

    Scale notes (100 TB): per column, ranks come from the VALUE-frequency
    table (collapses n rows to distinct values before anything ordered
    happens) cumulated by ``ids.partitioned_running_sum`` — a range
    shuffle, never a global single-task window; the rank map joins back
    on the value (AQE broadcasts the low-cardinality maps). One final
    partial agg computes all pair sums in a single pass.

    Overflow: worst-case Σd²(×4 units) is 16n³/3 and the ppm numerator
    6·Σd² ≤ 32n³ must stay under 2^63, so n ≤ 650_000 (the er_ari loud-
    guard convention — raise, don't wrap; at larger n run per-partition
    samples or compute the ratio in doubles under 2^53).

    Returns one row per unordered column pair:
    (col_a, col_b, n, n_distinct_a, n_distinct_b, sum_d2_4x, rho_ppm).
    """
    from blink_spark.operators.ids import partitioned_running_sum

    base = df.select(*cols)
    for c in cols:
        base = base.filter(F.col(c).isNotNull())
    cur = base
    nds = []
    for c in cols:
        freq = base.groupBy(c).agg(F.count(F.lit(1)).cast("long").alias("_f"))
        # distinct count = the freq table's row count (one-row finalize of
        # partial counts) — NOT countDistinct on the joined table, whose
        # expand rewrite would push distinct-value-scale rows through a
        # single-partition exchange
        nds.append(
            freq.agg(F.count(F.lit(1)).cast("long").alias(f"_nd_{c}"))
        )
        cum = partitioned_running_sum(freq, c, "_f", "_cum")
        rmap = cum.select(
            c,
            (2 * F.col("_cum") - F.col("_f") + 1).cast("long").alias(f"_r_{c}"),
        )
        cur = cur.join(rmap, c)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        aggs.append(
            F.sum(
                (F.col(f"_r_{a}") - F.col(f"_r_{b}"))
                * (F.col(f"_r_{a}") - F.col(f"_r_{b}"))
            )
            .cast("long")
            .alias(f"_d2_{a}_{b}")
        )
    row = cur.agg(*aggs)
    for nd in nds:
        row = row.crossJoin(F.broadcast(nd))
    # loud overflow guard before any cubic term is formed
    row = row.withColumn(
        "_n_ok",
        F.expr(
            "CASE WHEN n <= 650000 THEN n ELSE raise_error("
            "'spearman_matrix: 6*sum_d2 can overflow BIGINT past n=650k; "
            "sample or compute the ratio in doubles at this scale') END"
        ).cast("long"),
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', _nd_{a}, _nd_{b}, _d2_{a}_{b}" for a, b in pairs
    )
    long = row.select(
        "n",
        "_n_ok",
        F.expr(
            f"stack({len(pairs)}, {stack_args})"
            " as (col_a, col_b, n_distinct_a, n_distinct_b, sum_d2_4x)"
        ),
    )
    # rho_ppm = 1e6 - 6e6*sum_d2_4x/(4*n*(n^2-1)), staged so no product
    # exceeds BIGINT: divide the denominator down by 1e6 first when large
    # (relative error ~1e-12 and ENGINE-IDENTICAL), multiply first when
    # small. sum_d2 >= 0 so only the final subtraction can go negative.
    den = "(4 * _n_ok * (_n_ok * _n_ok - 1))"
    return long.select(
        "col_a",
        "col_b",
        "n",
        "n_distinct_a",
        "n_distinct_b",
        "sum_d2_4x",
        F.expr(
            f"CASE WHEN {den} = 0 THEN 0"
            f" WHEN {den} >= 1000000"
            f" THEN 1000000 - (6 * sum_d2_4x) div ({den} div 1000000)"
            f" ELSE 1000000 - (6 * sum_d2_4x * 1000000) div {den} END"
        )
        .cast("long")
        .alias("rho_ppm"),
    )


def mann_whitney_u(
    df: DataFrame, value_expr: str, group_a_expr: str
) -> DataFrame:
    """Exact Mann–Whitney U (Wilcoxon rank-sum) comparing a value's
    distribution between two groups — the nonparametric two-sample
    location test (the t-test needs float means, banned by parity; U is
    pure rank counting and robust to the skew it exists to detect).

    ``group_a_expr`` is a boolean SQL expression naming group A; everything
    else (with a non-NULL value) is group B. With ×2-trick average ranks
    (rank2 = 2·min_rank + ties − 1) over the COMBINED sample,
    2·R_a = Σ ca(v)·rank2(v) is exact BIGINT, U2 = 2·U_a = 2R_a − na(na+1),
    and the common-language effect size AUC = U_a/(na·nb) — the
    probability a random A value exceeds a random B value, ties counting
    half — is ``auc_ppm = (1e6·U2) div (2·na·nb)``; rank-biserial
    correlation is its linear rescale 2·AUC − 1 (Cureton 1956). U2 ≥ 0
    and ≤ 2·na·nb by construction, so every division is on nonnegative
    operands; the ppm numerator 1e6·U2 needs na·nb ≤ 4.6e12 (~2M rows per
    side — the chi2 documented-bound convention). The z significance test
    is deliberately NOT emitted: its tie-corrected variance is cubic in
    tie counts and overflows the exact-integer regime; compute it in
    doubles downstream from (u2_a, n_a, n_b).

    Scale notes: ranks come from the value-frequency table (distinct-value
    scale) cumulated by the two-phase running sum — no global single-task
    window; the rank-weighted group sums collapse in the SAME pass (the
    frequency table already carries per-group counts, so unlike
    spearman_matrix nothing joins back to row scale). One-row finalize.

    Returns one row: (n_a, n_b, n_values, u2_a, auc_ppm,
    rank_biserial_ppm).
    """
    from blink_spark.operators.ids import partitioned_running_sum

    base = df.filter(F.expr(value_expr).isNotNull()).select(
        F.expr(value_expr).alias("vm"),
        F.when(F.expr(group_a_expr), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_a"),
    )
    freq = base.groupBy("vm").agg(
        F.sum("is_a").cast("long").alias("ca"),
        F.sum(F.expr("1 - is_a")).cast("long").alias("cb"),
        F.count(F.lit(1)).cast("long").alias("f"),
    )
    cum = partitioned_running_sum(freq, "vm", "f", "_cum")
    r = cum.withColumn(
        "rank2", (2 * F.col("_cum") - F.col("f") + 1).cast("long")
    )
    agg = r.agg(
        F.coalesce(F.sum("ca"), F.lit(0)).cast("long").alias("na"),
        F.coalesce(F.sum("cb"), F.lit(0)).cast("long").alias("nb"),
        F.coalesce(F.sum(F.expr("ca * rank2")), F.lit(0))
        .cast("long")
        .alias("r2a"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
    )
    return agg.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "n_values",
        F.expr("r2a - na * (na + 1)").cast("long").alias("u2_a"),
        F.expr(
            "CASE WHEN na > 0 AND nb > 0 THEN"
            " (1000000 * (r2a - na * (na + 1))) div (2 * na * nb) END"
        )
        .cast("long")
        .alias("auc_ppm"),
        F.expr(
            "CASE WHEN na > 0 AND nb > 0 THEN"
            " 2 * ((1000000 * (r2a - na * (na + 1))) div (2 * na * nb))"
            " - 1000000 END"
        )
        .cast("long")
        .alias("rank_biserial_ppm"),
    )


# Benford first-digit expectations, floor(log10(1 + 1/d) * 1e6): fixed ppm
# literals (they sum to exactly 1_000_000) so both engines compare against
# the identical integers — no runtime log10.
BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


def benford_first_digit(df: DataFrame, value_expr: str) -> DataFrame:
    """Benford's-law first-significant-digit conformance test — the
    classic fabricated/synthetic-amounts detector (Benford 1938; Nigrini's
    forensic-accounting staple): natural multiplicative amounts lead with
    digit d at probability log10(1+1/d); manufactured numbers don't.

    ``value_expr`` must yield a POSITIVE BIGINT whose leading digit equals
    the value's first significant digit (e.g. amounts pre-scaled to cents
    — power-of-ten scaling never changes the leading digit). The digit is
    the first character of the integer's decimal rendering (identical in
    both engines); expectations are the fixed ppm literals above. The
    chi-square is exact staged-integer: per digit,
    ``dev_ppm = (1e6·obs) div n − exp_ppm`` (|dev_ppm| ≤ 1e6),
    ``q = dev_ppm² div 1000`` (≤ 1e9), and the milli contribution
    ``(n·q) div exp_ppm`` — every floor engine-identical, worst
    case n·q ≤ 1e9·n stays in BIGINT to n ≈ 9e9 rows. The df=8 summary
    row (digit 0) compares the total against the alpha=0.05 critical
    value 15.507 as the integer test chi2_milli > 15507.

    Scale notes: one digit-keyed partial agg (9 groups), a broadcast join
    onto the 9-row expectation literal, a one-row total finalize broadcast
    back — nothing row-scale past the first agg.

    Returns 10 rows: digits 1-9 (significant = false) + the digit-0
    summary row (n_obs = n, obs_ppm = expected_ppm = 1e6, chi2 total,
    significant verdict).
    """
    spark = df.sparkSession
    base = df.select(F.expr(value_expr).alias("c")).filter(
        "c IS NOT NULL AND c > 0"
    )
    obs = (
        base.select(
            F.expr("cast(substring(cast(c as string), 1, 1) as bigint)").alias(
                "digit"
            )
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    exp = spark.createDataFrame(
        sorted(BENFORD_PPM.items()), "digit long, expected_ppm long"
    )
    j = exp.join(obs, "digit", "left").select(
        "digit",
        F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
        "expected_ppm",
    )
    tot = j.agg(F.sum("n_obs").cast("long").alias("n"))
    per = (
        j.crossJoin(F.broadcast(tot))
        .withColumn(
            "obs_ppm",
            F.expr(
                "CASE WHEN n > 0 THEN (1000000 * n_obs) div n ELSE 0 END"
            ).cast("long"),
        )
        .withColumn(
            "chi2_contrib_milli",
            F.expr(
                "CASE WHEN n > 0 THEN"
                " (n * (((obs_ppm - expected_ppm) * (obs_ppm - expected_ppm))"
                " div 1000)) div expected_ppm ELSE 0 END"
            ).cast("long"),
        )
    )
    digits = per.select(
        "digit",
        "n_obs",
        "obs_ppm",
        "expected_ppm",
        "chi2_contrib_milli",
        F.lit(False).alias("significant"),
    )
    summary = per.agg(
        F.max("n").cast("long").alias("n_obs"),
        F.sum("chi2_contrib_milli").cast("long").alias("chi2"),
    ).select(
        F.lit(0).cast("long").alias("digit"),
        "n_obs",
        F.lit(1000000).cast("long").alias("obs_ppm"),
        F.lit(1000000).cast("long").alias("expected_ppm"),
        F.col("chi2").alias("chi2_contrib_milli"),
        (F.col("chi2") > F.lit(15507)).alias("significant"),
    )
    return digits.unionByName(summary)


def decimal_quantile_sketch(
    df: DataFrame,
    value_expr: str,
) -> DataFrame:
    """Mergeable bounded-relative-error quantile sketch — the DDSketch
    idea (Masson/Rim/Lee VLDB 2019) on a DETERMINISTIC base-10 grid: a
    positive BIGINT value lands in the bucket (digit-count m, first two
    digits lead2) of its decimal rendering, whose midpoint representative
    is within 1/(2·lead2) ≤ 5% relative error of every member. Unlike the
    exact rank-pick quartiles (`numeric_profile`), bucket counts are a
    tiny partial agg that merges associatively across partitions, days,
    or clusters — the quantile path that survives 100 TB and streaming
    compaction. No logarithms anywhere: the bucket key and the power of
    ten come from the integer's decimal STRING (rpad('1', m−1, '0') is
    exactly 10^(m−2)) so both engines bucket identically — no float pow,
    no ulp risk.

    Quantile estimate = representative of the first bucket (in value
    order — (m, lead2) is monotone) whose cumulative count reaches
    ceil(q·n) = (q_pct·n + 99) div 100. Exact BIGINT throughout.

    Scale notes: one bucket-keyed partial agg collapses row scale to
    ≤ ~90·digits buckets; the cumulative counts use the two-phase running
    sum over that bucket-scale table; the three rank picks are a
    broadcast 3-row target join + bucket-keyed min agg. Nothing row-scale
    past the first agg.

    Returns one row per quantile (50, 90, 99): (q_pct, n_rows, n_buckets,
    target_rank, est_value).
    """
    from blink_spark.operators.ids import partitioned_running_sum

    spark = df.sparkSession
    base = df.select(F.expr(value_expr).alias("v")).filter(
        "v IS NOT NULL AND v > 0"
    )
    b = base.select(
        F.expr("length(cast(v as string))").cast("long").alias("m"),
        F.expr("cast(substring(cast(v as string), 1, 2) as bigint)").alias(
            "lead2"
        ),
    )
    cnt = b.groupBy("m", "lead2").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # order key monotone in value; p = 10^(m-2) built from the string form
    buck = cnt.withColumn(
        "p",
        F.expr(
            "CASE WHEN m >= 2 THEN cast(rpad('1', cast(m as int) - 1, '0')"
            " as bigint) ELSE 1 END"
        ),
    ).withColumn(
        "rep",
        F.expr(
            "CASE WHEN m >= 2 THEN lead2 * p + (p - 1) div 2 ELSE lead2 END"
        ).cast("long"),
    )
    cum = partitioned_running_sum(buck, "rep", "c", "cum")
    tot = buck.agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    )
    targets = spark.createDataFrame([(50,), (90,), (99,)], "q_pct long")
    t = targets.crossJoin(F.broadcast(tot)).withColumn(
        "target_rank", F.expr("(q_pct * n_rows + 99) div 100").cast("long")
    )
    picked = (
        t.join(cum, F.col("cum") >= F.col("target_rank"), "left")
        .groupBy("q_pct", "n_rows", "n_buckets", "target_rank")
        .agg(F.min("rep").cast("long").alias("est_value"))
    )
    return picked.select(
        "q_pct", "n_rows", "n_buckets", "target_rank", "est_value"
    )


def contingency_chi2(
    df: DataFrame, row_col: str, col_col: str
) -> DataFrame:
    """r×c contingency-table association profile: exact staged-integer
    Pearson chi-square over EVERY cell of the category grid (zero-
    observed cells contribute their full expectation — dropping them
    understates chi², the classic bug) plus Cramér's V² effect size —
    "are these two categorical columns independent?", the profiling
    question beside the 2×2 ``ab_test_chi2``.

    Per cell, dev = n·o − r_i·c_j (exact BIGINT), q = (|dev| div 1000)²,
    and chi²_milli contribution = (1000·q) div ((n·r_i·c_j) div 1e6)
    when the denominator is large, else the exact (1000·dev²) div
    (n·r_i·c_j) (where dev² provably fits: n·min(r_i,c_j) ≤ 1e6 in that
    branch). Engine-identical floors; exact-integer regime while
    n·min(row_total, col_total) ≤ 9.6e10 — pre-scale counts beyond (the
    chi2 documented-bound convention). V² = chi²/(n·min(r−1, c−1)) in
    ppm; the α-verdict is left to the caller (the critical value depends
    on df — emit df, don't bake a table).

    Scale notes: rows collapse to category scale in three partial aggs
    (cells, row totals, column totals); the full grid is a cross join of
    the two CATEGORY-scale total tables (bounded by #categories², tiny
    by definition) with a broadcast one-row n; summary is a grid-scale
    finalize.

    Returns one row per grid cell (df/v2 NULL) + a summary row
    (row='(all)', col='(all)', chi² total, df, v2_ppm):
    (row_value, col_value, n_obs, expected_milli, chi2_contrib_milli,
    df, v2_ppm).
    """
    base = df.filter(
        F.col(row_col).isNotNull() & F.col(col_col).isNotNull()
    ).select(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
    cells = base.groupBy("r", "c").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rt = base.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("rn"))
    ct = base.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("cn"))
    n = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    g = (
        rt.crossJoin(ct)
        .crossJoin(F.broadcast(n))
        .join(cells, ["r", "c"], "left")
        .withColumn("o", F.coalesce("o", F.lit(0)).cast("long"))
        .withColumn("dev", F.expr("n * o - rn * cn").cast("long"))
        .withColumn(
            "contrib",
            F.expr(
                "CASE WHEN n * rn * cn >= 1000000 THEN"
                " (1000 * (abs(dev) div 1000) * (abs(dev) div 1000))"
                " div ((n * rn * cn) div 1000000)"
                " WHEN n * rn * cn > 0 THEN"
                " (1000 * dev * dev) div (n * rn * cn)"
                " ELSE 0 END"
            ).cast("long"),
        )
    )
    detail = g.select(
        F.col("r").alias("row_value"),
        F.col("c").alias("col_value"),
        F.col("o").alias("n_obs"),
        F.expr("(1000 * rn * cn) div n").cast("long").alias("expected_milli"),
        F.col("contrib").alias("chi2_contrib_milli"),
        F.lit(None).cast("long").alias("df"),
        F.lit(None).cast("long").alias("v2_ppm"),
    )
    summary = g.agg(
        F.max("n").cast("long").alias("n"),
        F.count_distinct("r").cast("long").alias("nr"),
        F.count_distinct("c").cast("long").alias("nc"),
        F.sum("contrib").cast("long").alias("chi2"),
    ).select(
        F.lit("(all)").alias("row_value"),
        F.lit("(all)").alias("col_value"),
        F.col("n").alias("n_obs"),
        F.lit(None).cast("long").alias("expected_milli"),
        F.col("chi2").alias("chi2_contrib_milli"),
        F.expr("(nr - 1) * (nc - 1)").cast("long").alias("df"),
        F.expr(
            "CASE WHEN n * least(nr - 1, nc - 1) > 0 THEN"
            " (1000 * chi2) div (n * least(nr - 1, nc - 1)) END"
        )
        .cast("long")
        .alias("v2_ppm"),
    )
    return detail.unionByName(summary)


def skew_report(df: DataFrame, keys: dict[str, str]) -> DataFrame:
    """Shuffle-key skew report — the "does this join/groupBy need
    salting, and how much" planner diagnostic: for each candidate key
    expression, the group-size distribution (quartiles + max), the top
    group's share of all rows, and the recommended salt factor
    ceil(max_size / median_size) — the multiplier that levels the
    hottest key down to a typical partition's work (the factor
    pairs.py's triangle salting consumes).

    Exact integers: sizes are counts; quartiles are the
    ``grouped_quartiles`` percentile_disc rank picks (the group count
    here is |keys|, each group holding one key's size distribution —
    key-scale, not row-scale); NULL keys form a real group (a nullable
    join key's NULL bucket is often THE skew problem, so it must be
    counted, not dropped).

    Scale notes: one groupBy per candidate key collapses rows to key
    scale before the union; everything after runs on (key-name, size)
    rows. No scalar finalizes — per-key-name aggs.

    Returns (key_name, n_rows, n_keys, q25_size, q50_size, q75_size,
    max_size, top_share_ppm, salt_factor).
    """
    from blink_spark.operators.corpus import grouped_quartiles

    long = None
    for name, expr in keys.items():
        sizes = (
            df.groupBy(F.expr(expr).alias("k"))
            .agg(F.count(F.lit(1)).cast("long").alias("size"))
            .select(F.lit(name).alias("col"), "size")
        )
        long = sizes if long is None else long.unionByName(sizes)
    stats = long.groupBy("col").agg(
        F.sum("size").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("size").cast("long").alias("max_size"),
    )
    q = grouped_quartiles(long, "col", "size", "size").select(
        F.col("key").alias("col"),
        F.col("q25").alias("q25_size"),
        F.col("q50").alias("q50_size"),
        F.col("q75").alias("q75_size"),
    )
    return (
        stats.join(q, "col")
        .select(
            F.col("col").alias("key_name"),
            "n_rows",
            "n_keys",
            "q25_size",
            "q50_size",
            "q75_size",
            "max_size",
            F.expr(
                "CASE WHEN n_rows > 0 THEN (1000000 * max_size) div n_rows"
                " ELSE 0 END"
            )
            .cast("long")
            .alias("top_share_ppm"),
            F.expr(
                "CASE WHEN q50_size > 0 THEN"
                " (max_size + q50_size - 1) div q50_size ELSE 1 END"
            )
            .cast("long")
            .alias("salt_factor"),
        )
    )


def fd_profile(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Approximate functional-dependency discovery (the TANE/Papenbrock
    profiling family): for each candidate LHS → RHS column pair, the
    minimum number of rows that must be deleted for the FD to hold
    exactly — Σ over LHS groups of (group size − modal RHS count), the
    g3 error measure (Kivinen & Mannila). fd_strength_ppm = 1 − g3/n;
    1e6 means the dependency holds exactly (a key, a derived column, a
    denormalization check), just-below means dirty data violating a real
    rule — the repair-candidate readout.

    Exact integers: one (lhs, rhs) partial agg per pair collapses rows
    to value-pair scale, the modal count is a struct-max inside the
    lhs-keyed agg, and the violation sum is a pair-name-keyed finalize.
    NULLs: a NULL LHS forms a real group; NULL RHS values count as a
    value (two NULLs agree) — mirrored in SQL via count(*) semantics,
    not count(col).

    Returns (lhs, rhs, n_rows, n_groups, n_violations,
    fd_strength_ppm).
    """
    out = None
    for lhs, rhs in pairs:
        vc = (
            df.groupBy(
                F.col(lhs).alias("l"), F.col(rhs).alias("r")
            )
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        g = vc.groupBy("l").agg(
            F.sum("c").cast("long").alias("gs"),
            F.max("c").cast("long").alias("modal"),
        )
        row = g.agg(
            F.coalesce(F.sum("gs"), F.lit(0)).cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.coalesce(F.sum(F.expr("gs - modal")), F.lit(0))
            .cast("long")
            .alias("n_violations"),
        ).select(
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            "n_rows",
            "n_groups",
            "n_violations",
            F.expr(
                "CASE WHEN n_rows > 0 THEN"
                " 1000000 - (1000000 * n_violations) div n_rows"
                " ELSE 1000000 END"
            )
            .cast("long")
            .alias("fd_strength_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out
