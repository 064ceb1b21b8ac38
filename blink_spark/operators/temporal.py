"""Temporal join operators: as-of join and event-window range semantics.

The reference pipeline orders mentions/sentences by position and attaches
"most recent prior context" during pair construction (reference analogue:
/root/reference/blink/candidate_retrieval/dataset.py:73-110 walks documents
in token order carrying forward the open document header; the as-of join is
that carry-forward expressed relationally over event time).

Scale notes (100 TB):
- ``asof_join`` is the union + ordered-window form, NOT a range join: a
  range-predicate join (l.ts >= r.ts) explodes into O(left x right) rows per
  key before ranking picks one winner. Instead both sides are unioned,
  shuffled ONCE by the equi-key, sorted within partitions by (ts, side,
  seq), and the right payload is carried forward with
  ``last_value(ignore nulls)`` — exactly a streamed merge join: O(n log n)
  per key, no pair materialization, one Exchange total. This is the plan a
  1000-executor run wants; skew is bounded by the busiest key's own row
  count, never by a cross product.
- Determinism: right rows sort BEFORE left rows at equal timestamps (a
  trade occurring at the query instant is visible), and among right rows
  with identical timestamps the largest sequence id wins (window order is
  ascending, last_value takes the latest).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# day 0 of every day-indexed operator (integer days since EPOCH)
EPOCH = "2024-01-01"
# the conversion event type of the funnel/attribution operators
CONVERSION = "purchase"
# window_range_count's look-back, in seconds (6 h)
LOOKBACK_S = 21_600
# gini_concentration's top share: the n div TOP_DIVISOR busiest keys
TOP_DIVISOR = 10


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    seq_col: str = "event_id",
    payload_cols: tuple[str, ...] = (),
    left_cols: tuple[str, ...] = (),
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right.ts <= left.ts`` on the same ``on`` key (ties: latest ``seq_col``).

    Returns ONE ROW PER LEFT ROW, keyed by ``seq_col``: (seq_col, on,
    <left_cols...>, matched_<seq_col>, lag_us, matched_<c>...).
    ``matched_<seq_col>`` and ``lag_us`` (microseconds from match to left
    row) are null when unmatched; ``matched_<c>`` carries each requested
    RIGHT payload column; ``left_cols`` are carried through verbatim (they
    ride the union as nulls on the right side — request only what you
    need, the union schema travels through the big sort).

    NULL semantics match the SQL predicates ``l.k = r.k AND r.ts <= l.ts``:
    a NULL key or NULL timestamp never matches — NULL-key/NULL-ts left rows
    come out unmatched, NULL-key/NULL-ts right rows are dropped before the
    merge (window partitioning would otherwise group NULL keys together,
    and NULLS FIRST ordering would make a NULL-ts right row visible to
    every left row, neither of which ``=``/``<=`` ever does).
    """
    r_struct = F.struct(
        F.col(seq_col).alias("seq"), F.col(ts_col).alias("rts"),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    lp = {c: f"lp_{c}" for c in left_cols}
    l = left.select(
        F.col(on).alias("k"),
        F.col(ts_col).alias("t"),
        F.lit(1).alias("side"),
        F.col(seq_col).alias("seq"),
        *[F.col(c).alias(a) for c, a in lp.items()],
    )
    r = right.filter(F.col(on).isNotNull() & F.col(ts_col).isNotNull()).select(
        F.col(on).alias("k"),
        F.col(ts_col).alias("t"),
        F.lit(0).alias("side"),
        F.col(seq_col).alias("seq"),
        *[F.lit(None).cast(l.schema[a].dataType).alias(a) for a in lp.values()],
        r_struct.alias("pay"),
    )
    l = l.withColumn("pay", F.lit(None).cast(r.schema["pay"].dataType))
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("side").asc(), F.col("seq").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = r.unionByName(l).select(
        "k", "t", "side", "seq", *lp.values(),
        F.last("pay", ignorenulls=True).over(w).alias("m"),
    )
    lag_us = F.expr("timestampdiff(MICROSECOND, m.rts, t)")
    out = carried.filter(F.col("side") == 1).select(
        F.col("seq").alias(seq_col),
        F.col("k").alias(on),
        *[F.col(a).alias(c) for c, a in lp.items()],
        F.col("m.seq").alias(f"matched_{seq_col}"),
        lag_us.cast("long").alias("lag_us"),
        *[F.col(f"m.{c}").alias(f"matched_{c}") for c in payload_cols],
    )
    return out


def window_range_count(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Range-join semantics without the range join: for each left row, the
    COUNT of right rows on the same key within ``[t - LOOKBACK_S, t]``
    (closed on both ends — see marker ordering below).

    The naive form is a banded theta join (r.ts in a window around l.ts) —
    quadratic per key. This uses the standard two-marker trick: every right
    row contributes +1 at its own timestamp and -1 at ``ts + lookback``, and
    a running sum over the unioned, time-ordered stream reads the live count
    at each left row. One shuffle on the key, O(n log n) per key, exact.

    Marker ordering at equal instants: +1 markers (side 0) sort before the
    left probe (side 1), which sorts before -1 expiry markers (side 2) — a
    right row exactly ``LOOKBACK_S`` old is still counted (closed lower
    bound), one landing at the probe instant is counted (closed upper bound).

    NULL semantics match the SQL predicates (``asof_join`` note applies):
    NULL-key or NULL-ts right rows emit no markers; NULL-key/NULL-ts left
    rows count 0.
    """
    right = right.filter(F.col(on).isNotNull() & F.col(ts_col).isNotNull())
    plus = right.select(
        F.col(on).alias("k"),
        F.col(ts_col).alias("t"),
        F.lit(0).alias("side"),
        F.col(seq_col).alias("seq"),
        F.lit(1).alias("delta"),
    )
    minus = right.select(
        F.col(on).alias("k"),
        (F.col(ts_col) + F.expr(f"INTERVAL {LOOKBACK_S} SECOND")).alias("t"),
        F.lit(2).alias("side"),
        F.col(seq_col).alias("seq"),
        F.lit(-1).alias("delta"),
    )
    probe = left.select(
        F.col(on).alias("k"),
        F.col(ts_col).alias("t"),
        F.lit(1).alias("side"),
        F.col(seq_col).alias("seq"),
        F.lit(0).alias("delta"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("side").asc(), F.col("seq").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        plus.unionByName(minus).unionByName(probe)
        .select(
            "k", "side", "seq",
            F.sum("delta").over(w).cast("long").alias("live"),
        )
        .filter(F.col("side") == 1)
        .select(
            F.col("seq").alias(seq_col),
            F.col("k").alias(on),
            F.col("live").alias("n_in_window"),
        )
    )


def funnel_steps(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered-funnel conversion counts: a user reaches step k when they
    have a step-k event STRICTLY after their earliest qualifying
    step-(k-1) event (min-timestamp chaining — the classic sequential
    funnel, and the event-stream analogue of the reference's ordered
    mention -> candidate -> link progression).

    Scale notes (100 TB): every stage is a filter + groupBy(user) + equi-join
    on the SAME key, so the shuffle layout established by step 1 is reused
    down the chain (AQE coalesces; no window over the full event stream, no
    per-user event-list collection, state bounded at one timestamp per
    surviving user per stage).

    Returns one row per step: (step, event_type, n_users).
    """
    cur: DataFrame | None = None
    outs: list[DataFrame] = []
    for i, name in enumerate(steps):
        stage = events.filter(F.col(type_col) == name)
        if cur is None:
            cur = stage.groupBy(user_col).agg(F.min(ts_col).alias("_t"))
        else:
            cur = (
                stage.join(cur, user_col)
                .filter(F.col(ts_col) > F.col("_t"))
                .groupBy(user_col)
                .agg(F.min(ts_col).alias("_t"))
            )
        outs.append(
            cur.agg(F.count("*").alias("n_users")).select(
                F.lit(i + 1).cast("int").alias("step"),
                F.lit(name).alias("event_type"),
                "n_users",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def retention_cohorts(
    events: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Cohort retention table: users bucketed by the period of their FIRST
    event (the cohort), then counted at each later period offset, with
    retention as an exact integer ppm of the cohort's size — the activity
    analogue of the funnel (who comes back, vs who converts).

    Period index = integer days since ``EPOCH`` floor-divided by 7 — pure
    integer date arithmetic, no engine-specific date_trunc('week')
    start-of-week conventions in the parity surface.

    Scale notes (100 TB): the raw stream collapses to distinct
    (user, period) in one keyed partial agg before anything else; cohort
    assignment is a groupBy(user) + same-key equi-join (funnel_steps'
    reusable-layout argument); the final join is cohort-keyed over the
    periods² -bounded retention table. No windows, no driver collection.

    Returns (cohort_week, week_offset, n_users, cohort_size, retention_ppm).
    """
    period = F.expr(f"cast(datediff(to_date({ts_col}), date'{EPOCH}') div 7 as bigint)")
    w = events.select(F.col(user_col).alias("u"), period.alias("wk")).distinct()
    f = w.groupBy("u").agg(F.min("wk").alias("cohort"))
    act = (
        w.join(f, "u")
        .groupBy("cohort", (F.col("wk") - F.col("cohort")).alias("week_offset"))
        .agg(F.count("*").alias("n_users"))
    )
    base = act.filter(F.col("week_offset") == 0).select(
        "cohort", F.col("n_users").alias("cohort_size")
    )
    return (
        act.join(base, "cohort")
        .select(
            F.col("cohort").alias("cohort_week"),
            "week_offset",
            "n_users",
            "cohort_size",
            F.expr("(1000000 * n_users) div cohort_size").alias("retention_ppm"),
        )
    )


def _transition_counts(
    events: DataFrame, user_col: str, ts_col: str, type_col: str, id_col: str
) -> DataFrame:
    """(src_type, dst_type, n_transitions): every adjacent pair of event
    types in each user's (ts, id)-ordered timeline, counted."""
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    s = events.select(
        F.col(type_col).alias("src_type"),
        F.lead(type_col).over(w).alias("dst_type"),
    )
    return (
        s.filter(F.col("dst_type").isNotNull())
        .groupBy("src_type", "dst_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
    )


def markov_transitions(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
) -> DataFrame:
    """First-order Markov transition table over per-user event sequences:
    for every ordered (src_type -> dst_type) adjacency within a user's
    timeline, the transition count and its exact-ppm conditional
    probability P(dst | src) — the sequence-model companion to the funnel
    (which checks ONE prescribed order) and retention (which ignores order
    entirely): this reports ALL observed orders, so drop-off paths and
    loops are visible without pre-declaring them.

    Determinism: the per-user order is (ts, id) — ``id_col`` breaks
    equal-timestamp ties, so both engines enumerate identical adjacencies.
    Probabilities are ``(1e6 * n) div total`` in BIGINT floor division.

    Scale notes (100 TB): one window shuffle keyed on user (the
    sessionize/funnel layout, reusable across the temporal family), then
    two keyed partial aggs over the |types|^2-bounded transition table —
    the wide input collapses before anything global happens. The final
    per-src total join is broadcast-sized by construction.

    Returns (src_type, dst_type, n_transitions, p_ppm).
    """
    t = _transition_counts(events, user_col, ts_col, type_col, id_col)
    tot = t.groupBy("src_type").agg(
        F.sum("n_transitions").cast("long").alias("total")
    )
    return t.join(F.broadcast(tot), "src_type").select(
        "src_type",
        "dst_type",
        "n_transitions",
        F.expr("(1000000 * n_transitions) div total").cast("long").alias("p_ppm"),
    )


def session_paths(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    id_col: str,
) -> DataFrame:
    """Session path mining: gap-sessionize each user's stream (same
    30-minute-gap rule as the sessionization operator), concatenate each
    session's event types in time order into a path string, and count how
    often each exact path occurs — the pattern-mining view of the event
    stream that the funnel (one prescribed order) and the Markov table
    (one-step memory) both project away: full multi-step trajectories,
    loops included, surface here without being pre-declared.

    Determinism: within-session order is (ts, id) — ``id_col`` breaks
    equal-timestamp ties, so both engines concatenate identical paths;
    gap comparison is at full microsecond precision (the sessionize
    parity lesson). Counts are BIGINT.

    Scale notes (100 TB): one user-keyed window pass for the session
    marker + running sum (the sessionize layout, reused as-is), one
    (user, session)-keyed aggregation whose state is bounded by session
    length (sessions are gap-bounded by construction), then a path-keyed
    partial-agg count. No driver collection; path cardinality is bounded
    by session count.

    Returns (path, n_sessions, n_events).
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    gap = F.expr(f"timestampdiff(MICROSECOND, prev_ts, {ts_col})")
    marked = events.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("eid"),
        F.col(type_col).alias("etype"),
        F.lag(ts_col).over(w).alias("prev_ts"),
    ).select(
        "u",
        "ts",
        "eid",
        "etype",
        F.when(gap <= 1800 * 1_000_000, 0).otherwise(1).alias("is_new"),
    )
    sess = marked.select(
        "u",
        "ts",
        "eid",
        "etype",
        F.sum("is_new")
        .over(
            Window.partitionBy("u")
            .orderBy("ts", "eid")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("session_seq"),
    )
    per_session = sess.groupBy("u", "session_seq").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "eid", "etype"))),
                lambda x: x["etype"],
            ),
            ">",
        ).alias("path"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return per_session.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n").cast("long").alias("n_events"),
    )


def value_runs(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    id_col: str,
) -> DataFrame:
    """Run-length encoding of a per-key value stream into SCD2-style
    validity intervals: consecutive equal values collapse into one run with
    ``valid_from`` = the run's first event time and ``valid_to`` = the NEXT
    run's ``valid_from`` (exclusive end, the slowly-changing-dimension
    type-2 convention); the key's current run carries ``valid_to`` NULL.
    This is the dimension-build view of the event stream — sessionize cuts
    on time gaps, this cuts on VALUE CHANGES regardless of gap.

    Determinism: within-key order is (ts, id) — ``id_col`` breaks equal
    timestamps identically on both engines; a change at an equal-timestamp
    boundary is therefore well-defined. Interval endpoints compare at full
    microsecond precision.

    Scale notes (100 TB): two key-partitioned window passes over the raw
    stream (change marker + running run counter — the sessionize layout),
    one (key, run)-keyed partial agg, then one key-partitioned window over
    the RUNS table (≤ one row per change, usually ≪ events) for the lead.
    No driver collection, no unpartitioned window.

    Returns (key, run_seq, state, valid_from, valid_to, n_events).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, id_col)
    marked = events.select(
        F.col(key_col).alias("k"),
        F.col(ts_col).alias("ts"),
        F.col(id_col).alias("eid"),
        F.col(val_col).alias("state"),
        F.when(
            F.lag(val_col).over(w).isNull()
            | (F.lag(val_col).over(w) != F.col(val_col)),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    runs = marked.select(
        "k",
        "ts",
        "state",
        F.sum("is_new")
        .over(
            Window.partitionBy("k")
            .orderBy("ts", "eid")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("run_seq"),
    )
    per_run = runs.groupBy("k", "run_seq").agg(
        F.first("state").alias("state"),
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    w_run = Window.partitionBy("k").orderBy("run_seq")
    return per_run.select(
        F.col("k").alias("key"),
        "run_seq",
        "state",
        "valid_from",
        F.lead("valid_from").over(w_run).alias("valid_to"),
        "n_events",
    )


def _grouped_median(df: DataFrame, key: str, val: str, tie: str) -> DataFrame:
    """Exact per-key median with percentile_disc(0.5) semantics: the value
    at ascending rank ``(n + 1) div 2`` — the smallest value whose
    cumulative fraction reaches 0.5. Pure integer rank arithmetic (both
    engines floor the positive division identically); ``tie`` only fixes
    WHICH row holds a rank — the value at the rank is tie-invariant.

    Returns (key, med) — one row per key.
    """
    w = Window.partitionBy(key).orderBy(F.col(val).asc(), F.col(tie).asc())
    ranked = df.select(
        key,
        F.col(val).alias("_v"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(key)).alias("_n"),
    )
    return ranked.filter(F.col("_rn") == F.expr("(_n + 1) div 2")).select(
        key, F.col("_v").alias("med")
    )


def anomaly_mad(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Robust daily-volume anomaly flags per event type: a day is anomalous
    when its event count deviates from the type's median daily count by
    more than 3 median-absolute-deviations — the classic
    median/MAD detector (Leys et al. 2013), immune to the very outliers it
    hunts, unlike mean/stddev z-scores. When MAD = 0 (a perfectly steady
    series) ANY deviation from the median is flagged — the strictest
    consistent reading of the rule, stated rather than hidden.

    Both medians are exact percentile_disc(0.5) picks in pure integer
    arithmetic — no engine-specific percentile interpolation in the parity
    surface. Day = integer days since ``EPOCH`` (retention_cohorts'
    convention; no timezone/week-start conventions).

    Scale notes (100 TB): the raw stream collapses to the (types × days)-
    bounded daily table in ONE keyed partial agg; every window and join
    after that runs on the bounded table, keyed by type. No driver
    collection, no unpartitioned window, no scan of the raw stream twice.

    Returns (event_type, day, n_events, med, mad, is_anomaly).
    """
    day = F.expr(f"cast(datediff(to_date({ts_col}), date'{EPOCH}') as bigint)")
    daily = (
        events.select(F.col(type_col).alias("event_type"), day.alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    med = _grouped_median(daily, "event_type", "n_events", "day")
    dev = daily.join(med, "event_type").select(
        "event_type",
        "day",
        "n_events",
        "med",
        F.abs(F.col("n_events") - F.col("med")).alias("_dev"),
    )
    mad = _grouped_median(
        dev.select("event_type", F.col("_dev").alias("dev"), "day"),
        "event_type",
        "dev",
        "day",
    ).select("event_type", F.col("med").alias("mad"))
    return dev.join(mad, "event_type").select(
        "event_type",
        "day",
        "n_events",
        "med",
        "mad",
        (F.col("_dev") > F.lit(3) * F.col("mad")).alias("is_anomaly"),
    )


def interval_copresence(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    id_col: str,
) -> DataFrame:
    """Interval co-presence linkage: pairs of keys that were in the SAME
    state over OVERLAPPING time intervals, with the total overlap mass —
    the behavioral-matching signal (two accounts always 'active' on the
    same things at the same times) built on value_runs' SCD2 intervals.
    This is the batch RANGE JOIN Spark lacks natively, done exactly via
    day-bucket banding: intervals overlap iff they share at least one
    day bucket (buckets tile time), so the candidate join is an EQUI-join
    on (state, day) — never an inequality join the planner turns into a
    broadcast-nested-loop — and the strict overlap predicate then verifies
    exactly on integer microseconds.

    Open (current) runs are capped 1µs past the stream's max event time so
    the last run covers through the final event; zero-length runs cannot
    overlap and are dropped before the bucket explode (Spark's sequence()
    would otherwise run DESCENDING on start > stop).

    Scale notes (100 TB): the explode fan-out per run = days spanned
    (bounded by the data's time range); the candidate join is keyed on
    (state, day) — hot (state, day) cells are the same skew class as any
    blocking key and would take the pairs-module salting at extreme scale;
    the verify + agg are pair-keyed.

    Returns (key_a, key_b, state, n_run_pairs, overlap_us).
    """
    runs = value_runs(events, key_col, ts_col, val_col, id_col)
    mx = events.agg(
        F.expr(
            f"timestampdiff(MICROSECOND, timestamp'2024-01-01 00:00:00', max({ts_col}))"
        ).alias("mx_us")
    )
    DAY = 86_400_000_000
    r = (
        runs.crossJoin(F.broadcast(mx))
        .select(
            "key",
            "state",
            F.expr(
                "timestampdiff(MICROSECOND, timestamp'2024-01-01 00:00:00', valid_from)"
            ).alias("f_us"),
            F.coalesce(
                F.expr(
                    "timestampdiff(MICROSECOND, timestamp'2024-01-01 00:00:00', valid_to)"
                ),
                F.col("mx_us") + F.lit(1),
            ).alias("t_us"),
            "run_seq",
        )
        .filter(F.col("t_us") > F.col("f_us"))
    )
    banded = r.select(
        "key",
        "state",
        "f_us",
        "t_us",
        "run_seq",
        F.explode(
            F.sequence(
                F.expr(f"f_us div {DAY}"), F.expr(f"(t_us - 1) div {DAY}")
            )
        ).alias("day"),
    )
    a = banded.select(
        F.col("key").alias("key_a"), "state", "day",
        F.col("f_us").alias("fa"), F.col("t_us").alias("ta"),
        F.col("run_seq").alias("ra"),
    )
    b = banded.select(
        F.col("key").alias("key_b"), "state", "day",
        F.col("f_us").alias("fb"), F.col("t_us").alias("tb"),
        F.col("run_seq").alias("rb"),
    )
    cand = (
        a.join(b, ["state", "day"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("state", "key_a", "ra", "fa", "ta", "key_b", "rb", "fb", "tb")
        .distinct()  # a run pair sharing several days must count once
    )
    verified = cand.filter(
        F.greatest("fa", "fb") < F.least("ta", "tb")
    ).select(
        "key_a",
        "key_b",
        "state",
        (F.least("ta", "tb") - F.greatest("fa", "fb")).alias("ov_us"),
    )
    return verified.groupBy("key_a", "key_b", "state").agg(
        F.count(F.lit(1)).cast("long").alias("n_run_pairs"),
        F.sum("ov_us").cast("long").alias("overlap_us"),
    )


def cusum_drift(
    events: DataFrame,
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """One-sided (upward) CUSUM drift detection on daily event volume per
    type (Page 1954) — the sequential change-point detector next to the
    pointwise median/MAD flags: a SUSTAINED shift above the mean
    accumulates until the statistic crosses the decision band, catching
    slow drifts no single-day outlier test sees.

        S_t = max(0, S_{t-1} + (x_t − mean − slack))

    The clamped recursion is relationalized via the prefix-sum identity
    S_t = R_t − min(0, min_{j≤t} R_j) with R the running sum of the
    deviations — two cumulative windows keyed by event_type, so the raw
    stream collapses to the (types × days)-bounded daily table in one
    keyed partial agg and NOTHING unpartitioned or recursive runs after
    it (the per-type day series lives inside its own hash partition).

    All arithmetic is exact integer milli-units: mean_milli is a floor
    division of positive counts, the slack allowance is 25% of
    the mean (k = 0.25·μ is the classic half-shift-of-half-a-sigma-ish
    default when no sigma is trusted), and the decision band is
    3·mean_milli. Day = integer days since ``EPOCH``
    (retention_cohorts' convention).

    Returns (event_type, day, n_events, mean_milli, cusum_milli,
    is_drift), one row per observed type-day.
    """
    day = F.expr(f"cast(datediff(to_date({ts_col}), date'{EPOCH}') as bigint)")
    daily = (
        events.select(F.col(type_col).alias("event_type"), day.alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    stats = daily.groupBy("event_type").agg(
        F.expr("(1000 * sum(n_events)) div count(*)").cast("long").alias(
            "mean_milli"
        )
    )
    dev = daily.join(stats, "event_type").withColumn(
        "d",
        F.expr(
            f"1000 * n_events - mean_milli - (mean_milli * 25)"
            " div 100"
        ).cast("long"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = dev.withColumn("r", F.sum("d").over(w).cast("long")).withColumn(
        "m", F.least(F.lit(0).cast("long"), F.min("r").over(w)).cast("long")
    )
    return run.select(
        "event_type",
        "day",
        "n_events",
        "mean_milli",
        (F.col("r") - F.col("m")).cast("long").alias("cusum_milli"),
        (
            F.col("r") - F.col("m") > F.lit(3) * F.col("mean_milli")
        ).alias("is_drift"),
    )


def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """RFM user segmentation (Hughes 1994, the classic marketing-analytics
    cut): per user, Recency = days since last event (relative to the
    corpus max day — deterministic, no wall clock), Frequency = event
    count, Monetary = exact milli-unit value sum; each scored 1..4 against
    the EXACT corpus quartiles and mapped to a named segment.

    Quartile cuts come from ``exact_quantiles`` (histogram + two-phase
    running sum — percentile_disc semantics, no global sort, no ntile):
    a per-user global ntile(4) would funnel the user-scale table through
    one window partition, which is exactly the anti-pattern the two-phase
    form avoids; here the user table is reduced to three 1-row quartile
    broadcasts and every score is a per-row comparison. Ties score
    identically (no rank tie-break dependence), unlike ntile.

    Scores: recency quartiles score DESC (rd ≤ q25 → 4, the freshest
    quartile is best); frequency/monetary score ASC (> q75 → 4).
    Segments, first match wins: champion (4/4/4), loyal (r≥3 ∧ f≥3),
    big_spender (m=4), at_risk (r≤2 ∧ f≥3), hibernating (r≤2),
    else regular.

    Returns (user_id, recency_days, frequency, monetary_milli, r_score,
    f_score, m_score, segment) — one row per user.
    """
    from blink_spark.operators.corpus import exact_quantiles

    day = F.expr(f"cast(datediff(to_date({ts_col}), date'{EPOCH}') as bigint)")
    per = (
        events.select(
            F.col(user_col).alias("user_id"),
            day.alias("d"),
            F.floor(F.col(value_col) * 1000).cast("long").alias("vm"),
        )
        .groupBy("user_id")
        .agg(
            F.max("d").cast("long").alias("last_day"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum("vm").cast("long").alias("monetary_milli"),
        )
    )
    mx = per.agg(F.max("last_day").cast("long").alias("max_day"))
    # reused by three quantile passes + the final scoring pass: eager
    # localCheckpoint (GC-owned) instead of persist, per cache hygiene
    base = (
        per.crossJoin(F.broadcast(mx))
        .withColumn(
            "recency_days", F.expr("max_day - last_day").cast("long")
        )
        .localCheckpoint()
    )

    def _cuts(col: str, p: str):
        q = exact_quantiles(base, col, [25, 50, 75])
        return F.broadcast(
            q.agg(
                F.max(F.when(F.col("pct") == 25, F.col("val"))).alias(f"{p}25"),
                F.max(F.when(F.col("pct") == 50, F.col("val"))).alias(f"{p}50"),
                F.max(F.when(F.col("pct") == 75, F.col("val"))).alias(f"{p}75"),
            )
        )

    out = (
        base.crossJoin(_cuts("recency_days", "r"))
        .crossJoin(_cuts("frequency", "f"))
        .crossJoin(_cuts("monetary_milli", "m"))
        .withColumn(
            "r_score",
            F.expr(
                "4 - (CASE WHEN recency_days > r25 THEN 1 ELSE 0 END"
                " + CASE WHEN recency_days > r50 THEN 1 ELSE 0 END"
                " + CASE WHEN recency_days > r75 THEN 1 ELSE 0 END)"
            ).cast("long"),
        )
        .withColumn(
            "f_score",
            F.expr(
                "1 + (CASE WHEN frequency > f25 THEN 1 ELSE 0 END"
                " + CASE WHEN frequency > f50 THEN 1 ELSE 0 END"
                " + CASE WHEN frequency > f75 THEN 1 ELSE 0 END)"
            ).cast("long"),
        )
        .withColumn(
            "m_score",
            F.expr(
                "1 + (CASE WHEN monetary_milli > m25 THEN 1 ELSE 0 END"
                " + CASE WHEN monetary_milli > m50 THEN 1 ELSE 0 END"
                " + CASE WHEN monetary_milli > m75 THEN 1 ELSE 0 END)"
            ).cast("long"),
        )
    )
    return out.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_milli",
        "r_score",
        "f_score",
        "m_score",
        F.expr(
            "CASE WHEN r_score = 4 AND f_score = 4 AND m_score = 4"
            " THEN 'champion'"
            " WHEN r_score >= 3 AND f_score >= 3 THEN 'loyal'"
            " WHEN m_score = 4 THEN 'big_spender'"
            " WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'"
            " WHEN r_score <= 2 THEN 'hibernating'"
            " ELSE 'regular' END"
        ).alias("segment"),
    )


def gini_concentration(
    events: DataFrame,
    key_col: str = "user_id",
) -> DataFrame:
    """Gini coefficient + top-decile share of activity concentration — the
    Lorenz-curve inequality readout (how concentrated is event volume over
    users / traffic over sources), the skew diagnostic that decides whether
    a pipeline needs salting before it needs more executors.

    Exact rank formula G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) with ranks
    ascending by (count, key): tie blocks contribute the same rank sum
    under any permutation, so the result is tie-independent as well as
    deterministic. Ranks come from ``dense_ids`` (range-partition
    two-phase row_number — NO global single-task window over the key
    table). Staged integer division ``(1000·d div n)·1000 div s1`` keeps
    every intermediate ≤ 1000·n·Σx (exact to n·Σx ≈ 9.2e15; beyond, each
    stage truncates ≤ 1 milli-unit — identically on both engines, and
    the total staging error is under (1 + 1000/Σx) ppm). The numerator
    2·Σi·x − (n+1)·Σx is provably ≥ 0 (equality = perfectly uniform), so
    floor and truncation division agree.

    Returns one row: (n_keys, total, gini_ppm, top_share_ppm, n_top) —
    top_share_ppm = fraction of all events produced by the top
    n div ``TOP_DIVISOR`` keys.
    """
    from blink_spark.operators.ids import dense_ids

    d = TOP_DIVISOR
    per = events.groupBy(F.col(key_col).alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    ranked = dense_ids(per, ["x", "k"], "i0").withColumn(
        "i", (F.col("i0") + 1).cast("long")
    )
    sc = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
    )
    agg = (
        ranked.crossJoin(F.broadcast(sc))
        .agg(
            F.max("n").alias("n"),
            F.max("s1").alias("s1"),
            F.sum(F.expr("i * x")).cast("long").alias("s2"),
            F.coalesce(
                F.sum(F.expr(f"CASE WHEN i > n - (n div {d}) THEN x END")),
                F.lit(0),
            )
            .cast("long")
            .alias("top_x"),
        )
    )
    return agg.select(
        F.col("n").alias("n_keys"),
        F.col("s1").alias("total"),
        F.expr(
            "CASE WHEN n > 0 AND s1 > 0 THEN"
            " (1000 * ((1000 * (2 * s2 - (n + 1) * s1)) div n)) div s1"
            " ELSE 0 END"
        )
        .cast("long")
        .alias("gini_ppm"),
        F.expr("CASE WHEN s1 > 0 THEN (1000000 * top_x) div s1 ELSE 0 END")
        .cast("long")
        .alias("top_share_ppm"),
        F.expr(f"n div {d}").cast("long").alias("n_top"),
    )


def ab_test_chi2(
    events: DataFrame,
    user_col: str = "user_id",
    event_col: str = "event_type",
) -> DataFrame:
    """Two-proportion A/B experiment readout with an exact-integer
    chi-square test (Pearson, df=1): users are split into arms by a
    deterministic md5 hash (the assignment any hash-based experiment
    framework uses — reproducible, no wall clock, no RNG), conversion is
    "user emitted >= 1 ``CONVERSION`` event", and significance at
    alpha = 0.05 is the integer comparison chi2_milli > 3841.

    chi2 = n·(ad−bc)² / (r1·r2·c1·c2) is computed in three staged
    integer divisions so no intermediate exceeds |1e6·(ad−bc)| — exact
    BIGINT for experiments up to ~6M users per readout (|ad−bc| ≤ n²/4;
    the same documented-bound regime as er_ari; rescale counts first
    beyond that). Both ppm factors are bounded by ±1e6 by construction
    (|ad−bc| ≤ r1·r2 and ≤ c1·c2), their product is nonnegative (same
    sign), and every division is truncation-toward-zero re-signed —
    Spark div and DuckDB // only agree on nonnegative operands. Staging
    truncation is ≤ a few milli-units of chi², identical on both engines.

    Scale notes: one user-keyed partial agg (conversion flag), then a
    single one-row finalize — no joins, no windows, no driver math.

    Returns one row: (n_users, n_a, n_b, conv_a, conv_b, rate_a_ppm,
    rate_b_ppm, chi2_milli, significant).
    """
    per = events.groupBy(F.col(user_col).alias("k")).agg(
        F.max(F.when(F.col(event_col) == CONVERSION, F.lit(1)).otherwise(0))
        .cast("long")
        .alias("conv")
    )
    g = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ab:"), F.col("k").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    arm = per.select("conv", g.alias("g"))
    cells = arm.agg(
        F.sum(F.expr("CASE WHEN g = 0 AND conv = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("a"),
        F.sum(F.expr("CASE WHEN g = 0 AND conv = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("b"),
        F.sum(F.expr("CASE WHEN g = 1 AND conv = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("c"),
        F.sum(F.expr("CASE WHEN g = 1 AND conv = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("d"),
    )
    t = cells.withColumns(
        {
            "r1": F.expr("a + b"),
            "r2": F.expr("c + d"),
            "c1": F.expr("a + c"),
            "c2": F.expr("b + d"),
            "det": F.expr("a * d - b * c"),
        }
    )
    sdiv = (
        "CASE WHEN {num} >= 0 THEN ({num}) div ({den})"
        " ELSE -((-({num})) div ({den})) END"
    )
    u = t.withColumns(
        {
            "u_ppm": F.expr(
                "CASE WHEN r1 > 0 AND r2 > 0 THEN "
                + sdiv.format(num="1000000 * det", den="r1 * r2")
                + " END"
            ).cast("long"),
            "v_ppm": F.expr(
                "CASE WHEN c1 > 0 AND c2 > 0 THEN "
                + sdiv.format(num="1000000 * det", den="c1 * c2")
                + " END"
            ).cast("long"),
        }
    )
    return u.select(
        F.expr("r1 + r2").cast("long").alias("n_users"),
        F.col("r1").alias("n_a"),
        F.col("r2").alias("n_b"),
        F.col("a").alias("conv_a"),
        F.col("c").alias("conv_b"),
        F.expr("CASE WHEN r1 > 0 THEN (1000000 * a) div r1 END")
        .cast("long")
        .alias("rate_a_ppm"),
        F.expr("CASE WHEN r2 > 0 THEN (1000000 * c) div r2 END")
        .cast("long")
        .alias("rate_b_ppm"),
        F.expr(
            "CASE WHEN u_ppm IS NOT NULL AND v_ppm IS NOT NULL THEN"
            " ((r1 + r2) * u_ppm * v_ppm) div 1000000000 END"
        )
        .cast("long")
        .alias("chi2_milli"),
        F.coalesce(
            F.expr(
                "CASE WHEN u_ppm IS NOT NULL AND v_ppm IS NOT NULL THEN"
                " ((r1 + r2) * u_ppm * v_ppm) div 1000000000 > 3841 END"
            ),
            F.lit(False),
        ).alias("significant"),
    )


def forecast_backtest_naive(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's event volume
    with the volume 7 days earlier (the y_hat(t) = y(t−7) baseline
    every real forecasting system must beat — Hyndman & Athanasopoulos,
    FPP; a pipeline that cannot beat seasonal-naive has no forecast), and
    report the exact backtest error profile per key.

    The backtest runs over OBSERVED day pairs — days where both t and
    t−lag have at least one event (daily counts come from a groupBy, so
    silent zero-volume days are absent from both sides; deterministic and
    documented rather than imputed). Errors are exact integers: MAE in
    milli-events ``(1000·Σ|err|) div n``, MAPE in ppm with per-day floor
    division ``Σ((1e6·|err|) div actual) div n`` (actual ≥ 1 on observed
    days), and signed bias in milli-events (sign-safe division — the
    bias CAN be negative).

    Scale notes: one (key, day) partial agg, one self equi-join on
    (key, day+lag), one key-keyed finalize. No windows, no scalars.

    Returns (key, n_days, total_abs_err, mae_milli, mape_ppm, bias_milli).
    """
    daily = (
        events.select(
            F.col(key_col).alias("k"),
            F.expr(
                f"cast(datediff(to_date({ts_col}), date'{EPOCH}') as bigint)"
            ).alias("day"),
        )
        .groupBy("k", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    pred = daily.select(
        "k",
        (F.col("day") + 7).alias("day"),
        F.col("n").alias("n_hat"),
    )
    j = daily.join(pred, ["k", "day"]).select(
        "k",
        "day",
        "n",
        "n_hat",
        F.expr("n - n_hat").alias("err"),
        F.expr("abs(n - n_hat)").alias("aerr"),
    )
    agg = j.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("aerr").cast("long").alias("total_abs_err"),
        F.sum("err").cast("long").alias("total_err"),
        F.sum(F.expr("(1000000 * aerr) div n")).cast("long").alias("sum_ape_ppm"),
    )
    return agg.select(
        F.col("k").alias(key_col),
        "n_days",
        "total_abs_err",
        F.expr("(1000 * total_abs_err) div n_days").cast("long").alias("mae_milli"),
        F.expr("sum_ape_ppm div n_days").cast("long").alias("mape_ppm"),
        F.expr(
            "CASE WHEN total_err >= 0 THEN (1000 * total_err) div n_days"
            " ELSE -((-(1000 * total_err)) div n_days) END"
        )
        .cast("long")
        .alias("bias_milli"),
    )


def ks_two_sample(
    events: DataFrame,
    group_col: str = "event_type",
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov test: the largest ECDF gap
    between the milli-quantized ``value`` distributions of the purchase (a)
    and click (b) groups — the standard "did this
    segment's metric distribution shift?" readout (a mean/chi-square test
    misses pure shape changes; KS is distribution-free).

    All arithmetic is exact BIGINT on the milli-quantized values: with
    cumulative counts ``cum_a``/``cum_b`` at each distinct value, the gap
    numerator is ``|cum_a·n_b − cum_b·n_a|`` (the ECDF difference
    cross-multiplied onto the common denominator ``n_a·n_b``), ``d_num``
    is its max and ``d_ppm = (1e6·d_num) div (n_a·n_b)``. Significance at
    alpha = 0.05 uses c(0.05) = 1.358 (c² = 1844164 ppm exactly, since
    1358² = 1844164): reject iff D² > c²·(n_a+n_b)/(n_a·n_b), compared as
    ``d_ppm² > (1844164e6·(n_a+n_b)) div (n_a·n_b)`` — the floored
    threshold differs from the real one by < 1 ppm², identically in both
    engines. Exact-integer bounds (documented, chi2-style): ``1e6·d_num``
    needs ``n_a·n_b ≤ 9.2e12`` (~3M rows per side); the threshold
    numerator needs ``n_a+n_b ≤ 5e6`` — rescale counts beyond that.

    Scale notes: one value-keyed partial agg builds the frequency table
    (distinct-value scale, not row scale), the two cumulative counts share
    ONE two-phase range shuffle (``partitioned_running_sums`` — no global
    single-task window), and the max-gap is a map-side partial max with a
    one-row finalize. Totals ride the same frequency table.

    Returns one row: (n_a, n_b, n_values, d_num, d_ppm, significant).
    """
    from .ids import partitioned_running_sums

    vm = F.expr("cast(floor(value * 1000) as bigint)")
    base = events.filter(
        F.col(group_col).isin(["purchase", "click"]) & vm.isNotNull()
    ).select(
        vm.alias("vm"),
        F.when(F.col(group_col) == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("is_a"),
    )
    freq = base.groupBy("vm").agg(
        F.sum("is_a").cast("long").alias("ca"),
        F.sum(F.expr("1 - is_a")).cast("long").alias("cb"),
    )
    tot = freq.agg(
        F.coalesce(F.sum("ca"), F.lit(0)).cast("long").alias("na"),
        F.coalesce(F.sum("cb"), F.lit(0)).cast("long").alias("nb"),
    )
    cums = partitioned_running_sums(freq, "vm", {"cum_a": "ca", "cum_b": "cb"})
    j = cums.crossJoin(F.broadcast(tot))
    d = j.agg(
        F.max(F.expr("abs(cum_a * nb - cum_b * na)")).cast("long").alias("d_num"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.max("na").cast("long").alias("na"),
        F.max("nb").cast("long").alias("nb"),
    )
    return d.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "n_values",
        "d_num",
        F.expr("CASE WHEN na > 0 AND nb > 0 THEN (1000000 * d_num) div (na * nb) END")
        .cast("long")
        .alias("d_ppm"),
        F.coalesce(
            F.expr(
                "CASE WHEN na > 0 AND nb > 0 THEN"
                " ((1000000 * d_num) div (na * nb))"
                " * ((1000000 * d_num) div (na * nb))"
                " > (1844164000000 * (na + nb)) div (na * nb) END"
            ),
            F.lit(False),
        ).alias("significant"),
    )


def market_basket_rules(
    items: DataFrame,
    basket_col: str,
    item_col: str,
) -> DataFrame:
    """Association-rule mining over baskets (Agrawal & Srikant 1994):
    for every DIRECTED item pair (x → y) co-occurring in at least
    2 baskets, exact-integer support, confidence and
    lift — the co-purchase/co-occurrence affinity readout.

    conf(x→y) = c_xy/c_x and lift = N·c_xy/(c_x·c_y) in ppm floor
    division on nonnegative integers (lift staged as
    ``(1e6·N·c_xy) div (c_x·c_y)`` — binding term 1e6·N·c_xy needs
    N·c_xy ≤ 9.2e12; rescale counts past ~3M baskets of hot pairs, the
    chi2 documented-bound convention). No top-k and no global sort: the
    deterministic thresholds (pair support, emitted for every surviving
    rule) keep the output reproducible without a single-task window.

    Scale notes: baskets collapse to DISTINCT (basket, item) first, the
    pair fan-out is a basket-keyed self equi-join (quadratic only in
    ITEMS PER BASKET — bounded in any real basket table; the skew class
    every salting note in pairs.py covers), and counts are partial aggs.
    Item totals broadcast onto pair-scale rows via equi-joins.

    Returns (item_x, item_y, n_xy, n_x, n_y, support_ppm,
    confidence_ppm, lift_ppm) for both directions of each pair.
    """
    bi = items.select(
        F.col(basket_col).alias("b"), F.col(item_col).alias("i")
    ).distinct()
    n = bi.agg(
        F.count_distinct("b").cast("long").alias("n_baskets")
    )
    ic = bi.groupBy("i").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = bi.select("b", F.col("i").alias("item_x"))
    bb = bi.select("b", F.col("i").alias("item_y"))
    pc = (
        a.join(bb, "b")
        .filter("item_x != item_y")
        .groupBy("item_x", "item_y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
        .filter(F.col("n_xy") >= 2)
    )
    out = (
        pc.join(
            ic.select(F.col("i").alias("item_x"), F.col("c").alias("n_x")),
            "item_x",
        )
        .join(
            ic.select(F.col("i").alias("item_y"), F.col("c").alias("n_y")),
            "item_y",
        )
        .crossJoin(F.broadcast(n))
    )
    return out.select(
        "item_x",
        "item_y",
        "n_xy",
        "n_x",
        "n_y",
        F.expr(
            "CASE WHEN n_baskets > 0 THEN (1000000 * n_xy) div n_baskets"
            " ELSE 0 END"
        )
        .cast("long")
        .alias("support_ppm"),
        F.expr("(1000000 * n_xy) div n_x").cast("long").alias(
            "confidence_ppm"
        ),
        F.expr("(1000000 * n_baskets * n_xy) div (n_x * n_y)")
        .cast("long")
        .alias("lift_ppm"),
    )


def attribution_counts(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """First-touch / last-touch attribution: every conversion event
    credits one prior non-conversion touch per model — last-touch the
    most recent touch at or before the conversion (ties: largest seq,
    the as-of visibility convention), first-touch the user's earliest
    touch if it happened at or before the conversion (ties: smallest
    seq). Conversions with no eligible touch credit ``(none)`` — emitted,
    not dropped, so the two models' counts both sum to the conversion
    total (the reconciliation an attribution report lives on).

    Scale notes: last-touch IS ``asof_join`` (one union + one keyed
    window — the streamed-merge form, no range join); first-touch is a
    per-user min-struct partial agg joined back by user. Readout is a
    tiny (model, touch_type) agg. Exact counts, no floats anywhere.

    Returns (model, touch_type, n_conversions).
    """
    conv = events.filter(F.col(type_col) == CONVERSION)
    touch = events.filter(F.col(type_col) != CONVERSION)
    last = asof_join(
        conv,
        touch,
        user_col,
        ts_col=ts_col,
        seq_col=seq_col,
        payload_cols=(type_col,),
    )
    lt = (
        last.select(
            F.coalesce(f"matched_{type_col}", F.lit("(none)")).alias(
                "touch_type"
            )
        )
        .groupBy("touch_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))
        .select(F.lit("last").alias("model"), "touch_type", "n_conversions")
    )
    ft = touch.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    ).groupBy(F.col(user_col).alias("u")).agg(
        F.min(
            F.struct(
                F.col(ts_col).alias("fts"),
                F.col(seq_col).alias("fseq"),
                F.col(type_col).alias("ftype"),
            )
        ).alias("f")
    )
    fj = (
        conv.select(
            F.col(user_col).alias("u"), F.col(ts_col).alias("cts")
        )
        .join(ft, "u", "left")
        .select(
            F.coalesce(
                F.when(F.expr("f.fts <= cts"), F.col("f.ftype")),
                F.lit("(none)"),
            ).alias("touch_type")
        )
        .groupBy("touch_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_conversions"))
        .select(F.lit("first").alias("model"), "touch_type", "n_conversions")
    )
    return lt.unionByName(fj)


def _daily_counts(events: DataFrame, key_col: str, ts_col: str) -> DataFrame:
    """(k, day, x): events per key and observed day, the day counted from
    ``EPOCH``; days without events are absent."""
    return (
        events.select(
            F.col(key_col).alias("k"),
            F.expr(
                f"cast(datediff(to_date({ts_col}), date'{EPOCH}') as bigint)"
            ).alias("day"),
        )
        .groupBy("k", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )


def dispersion_index(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Index of dispersion (variance-to-mean ratio) of daily event
    volume per key — the burstiness classifier beside CUSUM/burst-score:
    a Poisson (memoryless) arrival stream has D = 1; D ≫ 1 is bursty
    (campaigns, incidents, bots), D ≪ 1 is a scheduler. Exact integer
    single fraction: over observed days, D = (n·Q − S²)/((n−1)·S) with
    S = Σx, Q = Σx² (the sample-variance/mean ratio with every float
    cancelled); numerator ≥ 0 by Cauchy–Schwarz so plain floor division
    is engine-identical. Binding term 1000·n·Q ≤ 2^63 — document-scale
    safe to ~10^15 events·days; rescale past that. The ``overdispersed``
    flag uses the practical D > 2 rule of thumb (a formal test is
    chi²_{n−1} on (n−1)·D — df-dependent, left to the caller like the
    contingency profiler's verdict).

    Scale notes: one (key, day) partial agg, one key-keyed finalize.
    Days with zero events are absent from the groupBy (same documented
    convention as ``forecast_backtest_naive``) — D describes the
    observed-day profile.

    Returns (key, n_days, n_events, mean_milli, dispersion_milli,
    overdispersed).
    """
    daily = _daily_counts(events, key_col, ts_col)
    agg = daily.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.expr("x * x")).cast("long").alias("q"),
    )
    return agg.select(
        F.col("k").alias(key_col),
        F.col("n").alias("n_days"),
        F.col("s").alias("n_events"),
        F.expr("CASE WHEN n > 0 THEN (1000 * s) div n END")
        .cast("long")
        .alias("mean_milli"),
        F.expr(
            "CASE WHEN n > 1 AND s > 0 THEN"
            " (1000 * (n * q - s * s)) div ((n - 1) * s) END"
        )
        .cast("long")
        .alias("dispersion_milli"),
        F.coalesce(
            F.expr(
                "CASE WHEN n > 1 AND s > 0 THEN"
                " (1000 * (n * q - s * s)) div ((n - 1) * s) > 2000 END"
            ),
            F.lit(False),
        ).alias("overdispersed"),
    )


def changepoint_days(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Changepoint localization per key: the observed day where the
    cumulative event count deviates most from a uniform rate — the
    exact-integer argmax of |cum_k·K − T·k| over day ranks k (the
    empirical-process form of single-changepoint detection; CUSUM says
    WHETHER the rate drifted, this says WHERE). Ties break to the
    earliest day (deterministic struct-max on (dev, −day)).

    All integers: per-key daily counts, rank-k and cum_k from one keyed
    window over DAY-scale rows (partitioned by key — parallel, bounded
    by days-per-key, never a global funnel), totals joined back from a
    key finalize. dev ≤ T·K needs T·K ≤ 9.2e18 (a trillion events over
    a million days is still in range). ``cp_dev_ppm`` = dev/(T·K) is the
    KS-against-uniform statistic in [0, 1e6]; ``cp_share_ppm`` is how
    much volume had arrived by the break (uniform ⇒ tracks the day
    fraction).

    Returns (key, n_days, n_events, cp_day, cp_dev, cp_dev_ppm,
    cp_share_ppm).
    """
    daily = _daily_counts(events, key_col, ts_col)
    w = (
        Window.partitionBy("k")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = daily.select(
        "k",
        "day",
        F.sum("x").over(w).cast("long").alias("cum"),
        F.count(F.lit(1)).over(w).cast("long").alias("rk"),
    )
    tot = daily.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("t"),
    )
    dev = cum.join(tot, "k").select(
        "k",
        "n_days",
        "t",
        "day",
        "cum",
        F.expr("abs(cum * n_days - t * rk)").cast("long").alias("dev"),
    )
    pick = dev.groupBy("k", "n_days", "t").agg(
        F.max(
            F.struct(
                F.col("dev").alias("d"),
                (-F.col("day")).alias("nd"),
                F.col("cum").alias("c"),
            )
        ).alias("m")
    )
    return pick.select(
        F.col("k").alias(key_col),
        "n_days",
        F.col("t").alias("n_events"),
        (-F.col("m.nd")).cast("long").alias("cp_day"),
        F.col("m.d").cast("long").alias("cp_dev"),
        F.expr(
            "CASE WHEN t * n_days > 0 THEN"
            " (1000000 * m.d) div (t * n_days) END"
        )
        .cast("long")
        .alias("cp_dev_ppm"),
        F.expr("CASE WHEN t > 0 THEN (1000000 * m.c) div t END")
        .cast("long")
        .alias("cp_share_ppm"),
    )


def conversion_lag_histogram(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    seq_col: str = "event_id",
) -> DataFrame:
    """Time-to-convert distribution: for each conversion, the lag in
    seconds since the user's FIRST prior touch (the attribution
    operator's first-touch twin — there it names the channel, here it
    measures the latency), histogrammed on the deterministic base-10
    decimal grid (digit-count, first digit) so bucket edges are exact
    integers at any scale — the funnel-latency readout behind "how long
    does intent take to close".

    Lag = whole seconds of (conversion ts − first touch ts), compared
    and differenced in exact integer MICROSECONDS (the cross-engine
    timestamp convention), bucket
    representative = the bucket floor first_digit·10^(m−1) (built from
    the decimal string — no logs, no float pow). Zero-lag conversions
    (same-second touch) land in bucket 0; conversions with no prior
    touch are counted in the bucket = −1 row so the histogram reconciles
    to the conversion total.

    Scale notes: first-touch is a per-user min-struct partial agg; the
    lag projection is codegen; the histogram is a ≤ ~90-bucket agg.

    Returns (bucket_floor_s, n_conversions) — bucket −1 = untouched,
    0 = sub-second.
    """
    conv = events.filter(F.col(type_col) == CONVERSION).select(
        F.col(user_col).alias("u"), F.col(ts_col).alias("cts")
    )
    ft = (
        events.filter(
            (F.col(type_col) != CONVERSION)
            & F.col(user_col).isNotNull()
            & F.col(ts_col).isNotNull()
        )
        .groupBy(F.col(user_col).alias("u"))
        .agg(
            F.min(
                F.struct(F.col(ts_col).alias("fts"), F.col(seq_col).alias("fseq"))
            ).alias("f")
        )
    )
    lag = (
        conv.join(ft, "u", "left")
        .select(
            F.expr(
                "CASE WHEN f.fts IS NULL OR f.fts > cts THEN NULL"
                " ELSE timestampdiff(MICROSECOND, f.fts, cts)"
                " div 1000000 END"
            ).alias("lag_s")
        )
    )
    b = lag.select(
        F.expr(
            "CASE WHEN lag_s IS NULL THEN -1"
            " WHEN lag_s = 0 THEN 0"
            " ELSE cast(substring(cast(lag_s as string), 1, 1) as bigint)"
            " * cast(rpad('1', cast(length(cast(lag_s as string)) as int),"
            " '0') as bigint) END"
        )
        .cast("long")
        .alias("bucket_floor_s")
    )
    return b.groupBy("bucket_floor_s").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions")
    )


def transition_conformance(
    events: DataFrame,
    allowed: list[tuple[str, str]],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Process-mining conformance check: every observed (src → dst)
    adjacency in the per-user timelines judged against a DECLARED
    transition model — ``markov_transitions`` reports what happens, this
    reports what happens that SHOULDN'T (token-replay conformance,
    van der Aalst): unexpected paths are integration bugs, bot traffic,
    or an outdated process model.

    The model is a literal pair set broadcast against the
    |types|²-bounded transition table; per observed pair the report
    carries the count, the allowed verdict, and the violating share of
    all transitions so the summary reconciles without a second query.
    Determinism: per-user order is (ts, id), the markov convention.

    Scale notes: one user-keyed window shuffle (the shared sessionize
    layout), one partial agg to the |types|² table, a broadcast literal
    join, and a one-row total broadcast back — nothing row-scale past
    the first agg.

    Returns (src_type, dst_type, n_transitions, allowed,
    share_ppm).
    """
    spark = events.sparkSession
    t = _transition_counts(events, user_col, ts_col, type_col, id_col)
    model = spark.createDataFrame(
        sorted(set(allowed)), "src_type string, dst_type string"
    ).withColumn("ok", F.lit(True))
    tot = t.agg(
        F.coalesce(F.sum("n_transitions"), F.lit(0)).cast("long").alias("tt")
    )
    return (
        t.join(F.broadcast(model), ["src_type", "dst_type"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "src_type",
            "dst_type",
            "n_transitions",
            F.coalesce("ok", F.lit(False)).alias("allowed"),
            F.expr(
                "CASE WHEN tt > 0 THEN (1000000 * n_transitions) div tt"
                " ELSE 0 END"
            )
            .cast("long")
            .alias("share_ppm"),
        )
    )


def stickiness(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Engagement stickiness per 28-day period: mean 7-day active users
    over the period divided by the period's 28-day active users — the
    WAU/MAU product-analytics ratio (1.0 = every period-active user is
    active every week; low = drive-by usage). A fixed 28-day grid of
    exactly four 7-day weeks (days since ``EPOCH``, documented
    pseudo-calendar) rather than calendar weeks: ISO week numbering
    differs across engines and splits months unevenly, while the fixed
    grid is engine-identical and every period has the same four weeks.

    Exact integers: wau_sum = Σ distinct (user, week) over the period's
    observed weeks, mau = distinct users in the period,
    stickiness_ppm = (1e6·wau_sum) div (n_weeks·mau) — n_weeks counted
    from OBSERVED weeks so a truncated final period isn't penalized.

    Scale notes: one DISTINCT (user, week) collapse (carrying the
    period), week-keyed and period-keyed partial aggs; per-period
    distinct users is a second collapse from the same distinct table.
    No windows, no scalars.

    Returns (period, n_weeks, wau_sum, mau, stickiness_ppm).
    """
    uw = (
        events.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .select(
            F.col(user_col).alias("u"),
            F.expr(
                f"cast(datediff(to_date({ts_col}), date'{EPOCH}')"
                " as bigint) div 7"
            )
            .cast("long")
            .alias("wk"),
        )
        .distinct()
        .withColumn("period", F.expr("wk div 4").cast("long"))
    )
    wau = uw.groupBy("period", "wk").agg(
        F.count(F.lit(1)).cast("long").alias("wau")
    )
    per_w = wau.groupBy("period").agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        F.sum("wau").cast("long").alias("wau_sum"),
    )
    mau = (
        uw.select("period", "u")
        .distinct()
        .groupBy("period")
        .agg(F.count(F.lit(1)).cast("long").alias("mau"))
    )
    return per_w.join(mau, "period").select(
        "period",
        "n_weeks",
        "wau_sum",
        "mau",
        F.expr(
            "CASE WHEN n_weeks * mau > 0 THEN"
            " (1000000 * wau_sum) div (n_weeks * mau) ELSE 0 END"
        )
        .cast("long")
        .alias("stickiness_ppm"),
    )


def _second_gaps(
    events: DataFrame, user_col: str, ts_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """(base, gaps): the events with a user and a timestamp, and (u, gap),
    the whole seconds between each of a user's events and the one before
    it in (ts, id) order (the µs difference floored)."""
    base = events.filter(
        F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
    )
    g = base.select(
        F.col(user_col).alias("u"),
        F.expr(
            f"timestampdiff(MICROSECOND, lag({ts_col}) OVER (PARTITION BY"
            f" {user_col} ORDER BY {ts_col}, {id_col}), {ts_col})"
            " div 1000000"
        ).alias("gap"),
    ).filter("gap IS NOT NULL")
    return base, g


def bot_flags(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Rule-based bot/abuse screening per user — the three classic
    behavioural tells, each an exact integer feature: (1) RATE — events
    per observed day in milli (humans browse, scripts hammer); (2) LOW
    DIVERSITY — the modal event type's share (a scraper emits one
    verb); (3) METRONOMIC TIMING — the index of dispersion of
    inter-event gaps (the Poisson/burstiness fraction (n·Q − S²)/
    ((n−1)·S) on whole-SECOND gaps — µs would overflow the squared sum —
    spearman-staged, in milli): human gaps are
    overdispersed, cron-like automation sits near zero. Thresholds are
    fixed constants (deterministic — no data-dependent cutoffs), each
    flag is emitted separately plus the 0-3 score so reviewers see WHY.

    Scale notes: one user-keyed window for gaps (the sessionize
    layout), a (user, type) partial agg for the modal share, user-keyed
    finalizes — no scalars, no joins beyond user-keyed merges.

    Returns (user, n_events, n_days, rate_milli, top_share_ppm,
    gap_disp_milli, flag_rate, flag_diversity, flag_metronomic,
    bot_score).
    """
    base, g = _second_gaps(events, user_col, ts_col, id_col)
    gd = g.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("gap").cast("long").alias("s"),
        F.sum(F.expr("gap * gap")).cast("long").alias("q"),
    ).select(
        "u",
        # spearman staging: 1000*(ng*q - s*s) can pass 2^63 on long
        # horizons, (num) div (den div 1000) cannot; exact while
        # ng*max_gap*span_s fits BIGINT (documented bound)
        F.expr(
            "CASE WHEN ng > 1 AND s > 0 THEN"
            " CASE WHEN (ng - 1) * s >= 1000"
            "  THEN (ng * q - s * s) div (((ng - 1) * s) div 1000)"
            "  ELSE (1000 * (ng * q - s * s)) div ((ng - 1) * s) END"
            " END"
        )
        .cast("long")
        .alias("gap_disp_milli"),
    )
    tc = base.groupBy(
        F.col(user_col).alias("u"), F.col(type_col).alias("t")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    per = tc.groupBy("u").agg(
        F.sum("c").cast("long").alias("n_events"),
        F.max("c").cast("long").alias("top_c"),
    )
    nd = (
        base.select(
            F.col(user_col).alias("u"),
            F.expr(f"to_date({ts_col})").alias("day"),
        )
        .distinct()
        .groupBy("u")
        .agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    )
    j = (
        per.join(nd, "u")
        .join(gd, "u", "left")
        .withColumn(
            "rate_milli",
            F.expr("(1000 * n_events) div n_days").cast("long"),
        )
        .withColumn(
            "top_share_ppm",
            F.expr("(1000000 * top_c) div n_events").cast("long"),
        )
    )
    fr = F.col("rate_milli") >= 5000
    fd = F.col("top_share_ppm") >= 800000
    fm = F.coalesce(F.col("gap_disp_milli") <= 100, F.lit(False))
    return j.select(
        F.col("u").alias(user_col),
        "n_events",
        "n_days",
        "rate_milli",
        "top_share_ppm",
        "gap_disp_milli",
        fr.alias("flag_rate"),
        fd.alias("flag_diversity"),
        fm.alias("flag_metronomic"),
        (
            fr.cast("long") + fd.cast("long") + fm.cast("long")
        ).alias("bot_score"),
    )


def aging_report(
    df: DataFrame,
    date_col: str,
    status_col: str,
) -> DataFrame:
    """Open-item aging report at the as-of snapshot max(date): how long
    have still-open items been waiting, bucketed into the operational
    0-30 / 31-90 / 91-365 / 365+ day bands per status — the backlog
    readout every order/case/ticket pipeline runs. The snapshot date is
    the data's own maximum (deterministic — no wall clock, the fixture
    rule), broadcast as a one-row aggregate.

    Exact integers: age = datediff(snapshot, item date); band edges are
    closed-open integer comparisons. Closed items are excluded by the
    status filter; NULL dates are reported in their own bucket (-1)
    rather than dropped — an open order with no date is a data problem
    the report must surface.

    Returns (status, age_bucket, bucket_label, n_items) with
    age_bucket in {-1, 0, 31, 91, 366}.
    """
    base = df.filter(F.col(status_col).isin(["O", "P"]))
    snap = df.agg(F.max(F.col(date_col)).alias("snap"))
    aged = base.crossJoin(F.broadcast(snap)).select(
        F.col(status_col).alias("status"),
        F.expr(
            f"CASE WHEN {date_col} IS NULL THEN NULL"
            f" ELSE cast(datediff(snap, {date_col}) as bigint) END"
        ).alias("age"),
    )
    b = aged.select(
        "status",
        F.expr(
            "CASE WHEN age IS NULL THEN -1"
            " WHEN age <= 30 THEN 0"
            " WHEN age <= 90 THEN 31"
            " WHEN age <= 365 THEN 91"
            " ELSE 366 END"
        )
        .cast("long")
        .alias("age_bucket"),
    )
    lab = F.expr(
        "CASE age_bucket WHEN -1 THEN 'null_date' WHEN 0 THEN '0-30'"
        " WHEN 31 THEN '31-90' WHEN 91 THEN '91-365' ELSE '365+' END"
    )
    return (
        b.groupBy("status", "age_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_items"))
        .select("status", "age_bucket", lab.alias("bucket_label"), "n_items")
    )


def churn_risk(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Cadence-relative churn risk at the data's own as-of snapshot
    (max ts — no wall clock): a user's current silence divided by their
    OWN median inter-event gap — the scale-free inactivity score (3×
    your usual cadence quiet is alarming whether you visit hourly or
    monthly; an absolute days-since threshold misclassifies both).
    Users with fewer than 3 events have no cadence and are
    excluded (documented, not silently scored).

    Exact integers: gaps and silence in whole seconds (µs diff floored,
    the conversion-lag convention), median gap via the grouped-quartiles
    rank pick (user-keyed window — bounded by events per user),
    risk_milli = (1000·silence) div median_gap.

    Returns (user, n_events, median_gap_s, silence_s, risk_milli,
    at_risk).
    """
    from blink_spark.operators.corpus import grouped_quartiles

    base, g = _second_gaps(events, user_col, ts_col, id_col)
    med = grouped_quartiles(g, "u", "gap", "gap").select(
        F.col("key").alias("u"),
        F.col("n").alias("n_gaps"),
        F.col("q50").alias("median_gap_s"),
    )
    last = base.groupBy(F.col(user_col).alias("u")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.max(F.col(ts_col)).alias("last_ts"),
    )
    snap = base.agg(F.max(F.col(ts_col)).alias("snap"))
    j = (
        last.join(med, "u")
        .filter(F.col("n_events") >= 3)
        .crossJoin(F.broadcast(snap))
        .withColumn(
            "silence_s",
            F.expr(
                "timestampdiff(MICROSECOND, last_ts, snap) div 1000000"
            ).cast("long"),
        )
    )
    risk = F.expr(
        "CASE WHEN median_gap_s > 0 THEN"
        " (1000 * silence_s) div median_gap_s END"
    ).cast("long")
    return j.select(
        F.col("u").alias(user_col),
        "n_events",
        F.col("median_gap_s").cast("long"),
        "silence_s",
        risk.alias("risk_milli"),
        F.coalesce(risk >= 3000, F.lit(False)).alias("at_risk"),
    )
