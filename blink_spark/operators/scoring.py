"""S4 — vectorized pairwise scoring (the crossencoder stage).

Candidate pairs + both surface forms → feature columns + blended score +
match decision. Everything except Jaro-Winkler is a JVM Column expression
(whole-stage codegen); Jaro-Winkler and embeddings are Arrow-batched pandas
UDFs (no per-row Python, per BASELINE.json input_hint).

Reference analogue: /root/reference/blink/crossencoder/crossencoder.py:135-144
(joint pair logit) + /root/reference/blink/main_dense.py:541-560 (argmax →
prediction); here the decision is a calibrated threshold rule and the full
feature vector is kept for metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from blink_spark.functions.similarity import (
    JACCARD_THRESHOLD,
    cosine,
    jaro_winkler_udf,
    l2_norm,
    lev_ratio,
    lev_within,
    lev_within_norm,
    pair_score,
    token_jaccard,
    token_jaccard_arrays,
)
from blink_spark.functions.text import normalize_text, tokens


def prepare_records(
    records: DataFrame, id_col: str, text_col: str, with_emb: bool = False,
    pre_normalized: bool = False,
) -> DataFrame:
    """Hoist per-record text prep out of the per-pair hot loop: normalized
    form + distinct token array (+ optional hashing-trick embedding) are
    computed once per record, then carried through the pair join. The
    per-pair scoring becomes pure column ops on prepped values — no regex,
    split, or UDF runs per pair.

    ``pre_normalized=True`` for callers whose text column is already the
    normalized form (the pipeline passes the contraction output's ``norm``):
    normalize_text is idempotent, so skipping the second regex pass over the
    corpus text changes nothing but the plan."""
    src = records[text_col]
    cols = [
        records[id_col].alias("record_id"),
        src.alias("text"),
        (src if pre_normalized else normalize_text(src)).alias("norm"),
        (
            F.array_distinct(F.split(src, " "))
            if pre_normalized
            else tokens(src)
        ).alias("toks"),
    ]
    if with_emb:
        from blink_spark.functions.hashing import embed_text_udf

        cols.append(embed_text_udf(records[text_col]).alias("emb"))
        # the per-record norm that score_pairs_cascade hands to cosine()
        return records.select(*cols).withColumn("emb_n", l2_norm("emb"))
    return records.select(*cols)


def score_pairs(
    pairs_attrs: DataFrame, text_a: str = "text_a", text_b: str = "text_b"
) -> DataFrame:
    """Add feature + decision columns to a pairs-with-attributes frame:
    exact lev_ratio, the match decision (banded Levenshtein, the
    integer-exact equivalent of the ratio threshold) and the Jaro-Winkler +
    Levenshtein ``pair_score`` (short strings: mentions, titles).
    """
    return (
        pairs_attrs.withColumn(
            "norm_eq", normalize_text(text_a) == normalize_text(text_b)
        )
        .withColumn("jaccard", F.round(token_jaccard(text_a, text_b), 6))
        .withColumn("lev_ratio", F.round(lev_ratio(text_a, text_b), 6))
        .withColumn(
            "is_match",
            F.col("norm_eq")
            | (F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
            | lev_within(text_a, text_b),
        )
        .withColumn("score", pair_score(text_a, text_b))
    )


def _base_features(pairs_attrs: DataFrame) -> DataFrame:
    """Cheap JVM features + the match decision over prepped pair columns."""
    return (
        pairs_attrs.withColumn("norm_eq", F.col("norm_a") == F.col("norm_b"))
        .withColumn("jaccard", F.round(token_jaccard_arrays("toks_a", "toks_b"), 6))
        .withColumn(
            "is_match",
            F.col("norm_eq")
            | (F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
            | lev_within_norm("norm_a", "norm_b"),
        )
    )


def score_pairs_cascade(
    pairs_attrs: DataFrame,
    with_emb: bool = False,
    with_jw: bool = False,
) -> DataFrame:
    """Cascade scoring over **prepped** pair attributes (see
    ``prepare_records``: columns norm_a/b, toks_a/b and, ``with_emb``,
    emb_a/b with their per-record norms emb_n_a/b).

    Cheap JVM features (norm equality, token Jaccard, banded Levenshtein)
    decide the match on every row; the expensive crossencoder-style features
    (exact Levenshtein ratio, Jaro-Winkler pandas UDF, embedding cosine) are
    computed only on the plausible rows, NULL on the others, in one pass
    over the pair DAG. Codegen CASE WHEN short-circuits the JVM features. A
    pandas UDF runs as an ArrowEvalPython node on every row whatever guards
    it, so the Jaro-Winkler UDF reads its inputs through ``F.when`` too: a
    cold row hands it two NULLs, one empty-string compare. The decision
    rule never reads the expensive features, so the cascade changes cost,
    never semantics — the Spark translation of the reference's
    filter-before-crossencoder staging
    (/root/reference/blink/crossencoder/data_process.py:89-112).

    A pair must reach 0.9 of the match thresholds to be worth full
    scoring.

    ``with_jw=False`` drops the Jaro-Winkler pandas UDF entirely (the only
    Python in the plan): ``is_match`` never depends on JW, so clustering
    results are identical — it only feeds the diagnostic ``score`` — and
    the whole stage stays in codegen. Default for the clustering pipeline.
    """
    # coalesced: a NULL norm/toks value makes the guard NULL, and the row
    # then takes the cold values
    base = _base_features(pairs_attrs).withColumn(
        "plausible",
        F.coalesce(
            F.col("is_match")
            | (F.col("jaccard") >= F.lit(JACCARD_THRESHOLD * 0.9)),
            F.lit(False),
        ),
    )
    p = F.col("plausible")
    m = F.greatest(F.length("norm_a"), F.length("norm_b"))
    exact_lev = F.when(
        m > 0, 1.0 - F.levenshtein("norm_a", "norm_b").cast("double") / m
    ).otherwise(F.lit(1.0))
    jw, lexical = F.lit(None).cast("double"), F.col("lev_ratio")
    if with_jw:
        # the UDF node sees every row: mask its inputs, not only its output
        na, nb = F.when(p, F.col("norm_a")), F.when(p, F.col("norm_b"))
        jw = F.when(p, F.round(jaro_winkler_udf(na, nb), 6))
        lexical = 0.5 * F.col("jw") + 0.5 * F.col("lev_ratio")
    out = base.withColumn("lev_ratio", F.when(p, F.round(exact_lev, 6))).withColumn(
        "jw", jw
    )
    if with_emb:
        emb_cos = cosine("emb_a", "emb_b", "emb_n_a", "emb_n_b")
        out = out.withColumn("emb_cos", F.when(p, F.round(emb_cos, 6)))
        hot_score = F.round(0.4 * (F.col("emb_cos") + 1.0) / 2.0 + 0.6 * lexical, 6)
    else:
        hot_score = F.round(lexical, 6)
    out = out.withColumn(
        "score", F.when(p, hot_score).otherwise(F.col("jaccard") * 0.5)
    )
    return out.drop("plausible")


def match_edges(scored: DataFrame) -> DataFrame:
    """Thresholded scored pairs → undirected edge list for clustering."""
    return scored.filter(F.col("is_match")).select(
        F.col("record_id_a").alias("src"), F.col("record_id_b").alias("dst")
    )


def fs_weights(
    labeled_pairs: DataFrame,
    feature_cols: list[str],
    label_col: str = "same_entity",
) -> DataFrame:
    """Fellegi-Sunter m/u parameter estimation over labeled pairs.

    For each boolean agreement feature: ``m = P(agree | match)`` and
    ``u = P(agree | non-match)`` — the two conditional probabilities whose
    log-ratio is the classic record-linkage match weight. The reference
    calibrates its pair decision by training a cross-encoder on labeled
    pairs (/root/reference/blink/crossencoder/train_cross.py:62-106,
    eval accuracy over labeled candidate grids); this is the closed-form
    probabilistic-linkage counterpart over the same labeled-pair input, and
    what a production linkage pipeline uses to tune ``score_pairs``
    thresholds from a clerical-review sample.

    Exactness: probabilities and the m/u likelihood ratio are reported in
    integer parts-per-million computed with INTEGER division on exact
    counts (``agree*1e6 div n``) — no float division anywhere, so any SQL
    engine reproduces the values bit-for-bit. The likelihood ratio is the
    monotone equivalent of the log2 match weight (log is engine-libm noise,
    the ratio is exact).

    Scale shape: ONE full pass — a single global aggregate with map-side
    partial aggregation (2 + 2·n_features counters per partition), then a
    driver-sized explode of the one aggregate row into one row per feature.
    Nothing corpus-sized shuffles.
    """
    lbl = F.col(label_col)
    aggs = [
        F.sum(F.when(lbl, 1).otherwise(0)).cast("long").alias("n_m"),
        F.sum(F.when(~lbl, 1).otherwise(0)).cast("long").alias("n_u"),
    ]
    for c in feature_cols:
        agree = F.col(c)
        aggs.append(
            F.sum(F.when(lbl & agree, 1).otherwise(0)).cast("long").alias(f"am_{c}")
        )
        aggs.append(
            F.sum(F.when((~lbl) & agree, 1).otherwise(0)).cast("long").alias(f"au_{c}")
        )
    one = labeled_pairs.agg(*aggs)
    per_feature = one.select(
        "n_m",
        "n_u",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("feature"),
                        F.col(f"am_{c}").alias("agree_match"),
                        F.col(f"au_{c}").alias("agree_nonmatch"),
                    )
                    for c in feature_cols
                ]
            )
        ).alias("s"),
    )
    return per_feature.select(
        F.col("s.feature").alias("feature"),
        F.col("n_m").alias("n_match"),
        F.col("n_u").alias("n_nonmatch"),
        F.col("s.agree_match").alias("agree_match"),
        F.col("s.agree_nonmatch").alias("agree_nonmatch"),
        F.expr("s.agree_match * 1000000 div greatest(n_m, 1)")
        .cast("long")
        .alias("m_ppm"),
        F.expr("s.agree_nonmatch * 1000000 div greatest(n_u, 1)")
        .cast("long")
        .alias("u_ppm"),
        F.expr(
            "(s.agree_match * 1000000 div greatest(n_m, 1)) * 1000000"
            " div greatest(s.agree_nonmatch * 1000000 div greatest(n_u, 1), 1)"
        )
        .cast("long")
        .alias("lr_ppm"),
    )


def match_rule_report(
    scored_labeled: DataFrame, label_col: str = "same_entity"
) -> DataFrame:
    """Per-rule ablation of the match decision: for each of the three rules
    score_pairs ORs together (normalized equality, token-Jaccard threshold,
    banded Levenshtein), how often it fires, how often it is the ONLY rule
    firing (its exclusive contribution — what recall would be lost if it
    were removed), and its precision against labels, in exact integer ppm.
    The linkage-tuning twin of ``fs_weights``: FS asks "how discriminative
    is each feature", this asks "what does each DECISION rule contribute".
    The reference tunes its decision by sweeping thresholds over labeled
    candidates (/root/reference/blink/candidate_ranking/evaluate.py:30-74);
    this is the relational one-pass equivalent.

    Expects the rule booleans as columns ``rule_eq``, ``rule_jacc``,
    ``rule_lev`` (callers derive them with the SAME boundary-exact
    comparisons the decision uses). One global partial-agg pass, one-row
    finalize, 3-row output — nothing corpus-sized shuffles.
    """
    rules = ["rule_eq", "rule_jacc", "rule_lev"]
    lbl = F.col(label_col)
    aggs = []
    for r in rules:
        fire = F.col(r)
        others = [F.col(o) for o in rules if o != r]
        excl = fire & ~(others[0] | others[1])
        aggs.append(F.sum(F.when(fire, 1).otherwise(0)).cast("long").alias(f"f_{r}"))
        aggs.append(F.sum(F.when(excl, 1).otherwise(0)).cast("long").alias(f"x_{r}"))
        aggs.append(
            F.sum(F.when(fire & lbl, 1).otherwise(0)).cast("long").alias(f"t_{r}")
        )
    one = scored_labeled.agg(*aggs)
    per_rule = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("rule"),
                        F.col(f"f_{r}").alias("n_fire"),
                        F.col(f"x_{r}").alias("n_exclusive"),
                        F.col(f"t_{r}").alias("n_true"),
                    )
                    for r in rules
                ]
            )
        ).alias("s")
    )
    return per_rule.select(
        F.col("s.rule").alias("rule"),
        F.col("s.n_fire").alias("n_fire"),
        F.col("s.n_exclusive").alias("n_exclusive"),
        F.col("s.n_true").alias("n_true"),
        F.expr("s.n_true * 1000000 div greatest(s.n_fire, 1)")
        .cast("long")
        .alias("precision_ppm"),
    )


def _pair_dot_norms(pairs: DataFrame, weights: DataFrame, w: str) -> DataFrame:
    """``pairs`` + the exact sparse ``dot`` (0 when no token is shared),
    ``norm_a`` and ``norm_b`` of per-record token weights ``weights``
    (record_id, tok, w): the (pair, token) equi-join and the norm joins
    that token_cosine_pairs and tfidf_cosine_pairs score."""
    norms = weights.groupBy("record_id").agg(
        F.sum(F.col(w) * F.col(w)).cast("long").alias("norm_sq")
    )

    def side(s: str) -> DataFrame:
        return weights.select(
            F.col("record_id").alias(f"record_id_{s}"), "tok", F.col(w).alias(f"{w}_{s}")
        )

    def norm(s: str) -> DataFrame:
        return norms.select(
            F.col("record_id").alias(f"record_id_{s}"),
            F.col("norm_sq").alias(f"norm_{s}"),
        )

    dots = (
        pairs.join(side("a"), "record_id_a")
        .join(side("b"), ["record_id_b", "tok"])
        .groupBy("record_id_a", "record_id_b")
        .agg(F.sum(F.col(f"{w}_a") * F.col(f"{w}_b")).cast("long").alias("dot"))
    )
    return (
        pairs.join(dots, ["record_id_a", "record_id_b"], "left")
        .join(norm("a"), "record_id_a")
        .join(norm("b"), "record_id_b")
        .withColumn("dot", F.coalesce(F.col("dot"), F.lit(0).cast("long")))
    )


def token_cosine_pairs(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Exact sparse token-count cosine for candidate pairs — the bag-of-words
    twin of the embedding cosine the reference's crossencoder approximates
    (/root/reference/blink/crossencoder/crossencoder.py:135-144 scores the
    joint pair; here the lexical vector space is explicit and exact).

    Relational sparse algebra, never a dense vector: token counts are
    (id, token, tf) rows; the dot product is a (pair, token) equi-join with
    a map-side-combinable sum; norms are per-record aggregates joined back
    by id. All intermediates are exact integers; the only float ops are one
    sqrt and one division on identical integer inputs (both correctly
    rounded by IEEE-754, so any engine reproduces the rounded value).

    Scale: the join is keyed by (pair, token) — bounded by pair count ×
    tokens-per-record, NOT vocabulary²; skewed hot tokens only amplify
    pairs that blocking already admitted.

    ``pairs``: (record_id_a, record_id_b). Output: pairs + ``dot``,
    ``norm_a``, ``norm_b`` (exact longs) + ``cosine`` (round 6).
    """
    from blink_spark.functions.text import normalize_text

    tf = (
        records.select(
            F.col(id_col).alias("record_id"),
            F.explode(F.split(normalize_text(records[text_col]), " ")).alias("tok"),
        )
        .groupBy("record_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    out = _pair_dot_norms(pairs, tf, "tf")
    return out.withColumn(
        "cosine",
        F.round(
            F.col("dot").cast("double")
            / F.sqrt((F.col("norm_a") * F.col("norm_b")).cast("double")),
            6,
        ),
    )


def em_fs_weights(
    pairs: DataFrame,
    feature_cols: list[str],
) -> DataFrame:
    """UNSUPERVISED Fellegi-Sunter parameter estimation via EM over boolean
    agreement features — the Splink-style calibration that needs no labeled
    sample (``fs_weights`` is its supervised twin). This is how a real
    linkage tunes its match weights when no clerical review exists: the
    two-component mixture (match / non-match) is fit directly to the
    observed agreement patterns.

    Exactness + scale in one move: with k boolean features every pair falls
    into one of 2^k agreement cells, so the E-step over ANY number of pairs
    is a single distributed ``groupBy(features).count()`` — ONE full pass
    with map-side partial aggregation, collected as <= 2^k rows (the
    documented tiny-aggregate collect class, like the two-phase id
    offsets). All 3 EM iterations then run on the contingency
    counts in pure integer arithmetic: parameters live in ppm, per-feature
    log-weights are floored ONCE per iteration to integer micro-nats, the
    per-cell posterior ``floor(1e6 / (1 + exp(-t/1e6)))`` is the only
    float touch (on identical integer inputs in any engine), and the
    M-step is BIGINT cross-multiplication with floor division. A SQL
    oracle unrolling the same iterations over the same 8-row table
    reproduces every output bit.

    Returns one row per feature (m_ppm, u_ppm, final agreement log-weight
    in micro-nats) plus a ``lambda`` row carrying the estimated match
    prevalence.
    """
    import math

    k = len(feature_cols)
    cells = (
        pairs.groupBy(*feature_cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .collect()
    )
    counts = [
        (tuple(bool(r[c]) for c in feature_cols), int(r["n"])) for r in cells
    ]
    # initial parameters in ppm: lambda 0.5, m 0.9, u 0.1 per feature
    lam = 500_000
    m = [900_000] * k
    u = [100_000] * k

    def _w(num: int, den: int) -> int:
        return math.floor(math.log(num / den) * 1000000.0)

    for _ in range(3):
        lw = _w(lam, 1_000_000 - lam)
        wa = [_w(m[i], u[i]) for i in range(k)]
        wd = [_w(1_000_000 - m[i], 1_000_000 - u[i]) for i in range(k)]
        nn = sw = 0
        swx = [0] * k
        snx = [0] * k
        for x, n in counts:
            t = lw + sum(wa[i] if x[i] else wd[i] for i in range(k))
            w = math.floor(1000000.0 / (1.0 + math.exp(-t / 1000000.0)))
            nn += n
            sw += n * w
            for i in range(k):
                if x[i]:
                    swx[i] += n * w
                    snx[i] += n * (1_000_000 - w)

        def _clamp(v: int) -> int:
            return max(1, min(v, 999_999))

        lam = _clamp(sw // max(nn, 1))
        m = [_clamp((1_000_000 * swx[i]) // max(sw, 1)) for i in range(k)]
        u = [
            _clamp((1_000_000 * snx[i]) // max(1_000_000 * nn - sw, 1))
            for i in range(k)
        ]

    rows = [
        ("lambda", lam, 1_000_000 - lam, _w(lam, 1_000_000 - lam))
    ] + [
        (feature_cols[i], m[i], u[i], _w(m[i], u[i])) for i in range(k)
    ]
    return pairs.sparkSession.createDataFrame(
        rows, "feature string, m_ppm long, u_ppm long, weight_micro long"
    )


def tfidf_weights(records: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-integer sparse tf-idf vectors shared by ``tfidf_cosine_pairs``
    and ``soft_tfidf_pairs``: per (record, token) weight
    ``x = tf * ((1000 * N) div df)`` — the rational idf surrogate (a
    positive integer floor division identical in Spark ``div`` and DuckDB
    ``//``) instead of a libm log whose 1-ulp engine differences could
    flip a floor. N stays lazy (one-row count broadcast onto the
    vocabulary-keyed df table), so no Spark job fires at construction.

    Returns (record_id, tok, x)."""
    from blink_spark.functions.text import normalize_text

    tf = (
        records.select(
            F.col(id_col).alias("record_id"),
            F.explode(F.split(normalize_text(records[text_col]), " ")).alias("tok"),
        )
        .groupBy("record_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n_df = (
        records.select(F.col(id_col))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_rec"))
    )
    df_tok = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .crossJoin(F.broadcast(n_df))
    )
    return tf.join(df_tok, "tok").select(
        "record_id",
        "tok",
        (F.col("tf") * F.expr("(1000 * n_rec) div df"))
        .cast("long")
        .alias("x"),
    )


def soft_tfidf_pairs(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """SoftTFIDF comparator (Cohen, Ravikumar, Fienberg, IIWeb 2003 — the
    best-performing hybrid in their comparator study): TF-IDF cosine
    where tokens need not match EXACTLY — each left token bridges to its
    most-similar right token with string similarity ≥ θ = 0.9, so
    "jon smith" ~ "john smiths" scores high where the exact-token cosine
    scores 0. The canonical measure is directional; both directions are
    returned.

    Exactness: tf-idf weights are the shared integer surrogate
    (``tfidf_weights``); token similarity is integer levenshtein in ppm
    ``((maxlen − lev)·1e6) div maxlen`` (the secondary-sim stand-in for
    Jaro-Winkler — same DP ints on both engines); the bridged
    contribution scales the PARTNER weight first,
    ``x_a · ((x_b·sim) div 1e6)``, so the product stays in the same
    overflow regime as tfidf_cosine's ``x_a·x_b`` dot. Best-match
    selection is a lexicographic struct max on (sim, x_b) — tie-broken
    deterministically, and x_b ties are score-equivalent. Final scores
    are the two IEEE sqrt factors + round(·, 6), mirroring tfidf_cosine.

    Scale notes: the token bridge is pairs × tokens² — tokens-per-record
    is mention-scale (≤ ~10), so the blowup is bounded per pair; all
    joins are record-id / token equi-joins, the best-match argmax is a
    grouped partial agg (never a rank window over the bridge table).

    Output: pairs + norm_a/norm_b (exact longs), soft_dot_ab/soft_dot_ba
    (exact longs), soft_tfidf_ab/soft_tfidf_ba (round 6).
    """
    weighted = tfidf_weights(records, id_col, text_col)
    norms = weighted.groupBy("record_id").agg(
        F.sum(F.col("x") * F.col("x")).cast("long").alias("norm_sq")
    )
    xa = weighted.select(
        F.col("record_id").alias("record_id_a"),
        F.col("tok").alias("tok_a"),
        F.col("x").alias("x_a"),
    )
    xb = weighted.select(
        F.col("record_id").alias("record_id_b"),
        F.col("tok").alias("tok_b"),
        F.col("x").alias("x_b"),
    )
    sim = F.expr(
        "((greatest(length(tok_a), length(tok_b), 1)"
        " - levenshtein(tok_a, tok_b)) * 1000000)"
        " div greatest(length(tok_a), length(tok_b), 1)"
    ).cast("long")
    bridge = (
        pairs.join(xa, "record_id_a")
        .join(xb, "record_id_b")
        .withColumn("sim_ppm", sim)
        .filter(F.col("sim_ppm") >= 900_000)
    )

    def _soft_dot(left_tok: str, left_x: str, right_x: str, out: str) -> DataFrame:
        best = bridge.groupBy(
            "record_id_a", "record_id_b", left_tok, left_x
        ).agg(
            F.max(
                F.struct(F.col("sim_ppm").alias("s"), F.col(right_x).alias("x"))
            ).alias("m")
        )
        return best.groupBy("record_id_a", "record_id_b").agg(
            F.sum(
                F.col(left_x) * F.expr("(m.x * m.s) div 1000000")
            )
            .cast("long")
            .alias(out)
        )

    out = (
        pairs.join(
            _soft_dot("tok_a", "x_a", "x_b", "soft_dot_ab"),
            ["record_id_a", "record_id_b"],
            "left",
        )
        .join(
            _soft_dot("tok_b", "x_b", "x_a", "soft_dot_ba"),
            ["record_id_a", "record_id_b"],
            "left",
        )
        .join(
            norms.select(
                F.col("record_id").alias("record_id_a"),
                F.col("norm_sq").alias("norm_a"),
            ),
            "record_id_a",
        )
        .join(
            norms.select(
                F.col("record_id").alias("record_id_b"),
                F.col("norm_sq").alias("norm_b"),
            ),
            "record_id_b",
        )
        .withColumn("soft_dot_ab", F.coalesce("soft_dot_ab", F.lit(0).cast("long")))
        .withColumn("soft_dot_ba", F.coalesce("soft_dot_ba", F.lit(0).cast("long")))
    )
    score = (
        lambda dot: F.round(
            F.col(dot).cast("double")
            / (
                F.sqrt(F.col("norm_a").cast("double"))
                * F.sqrt(F.col("norm_b").cast("double"))
            ),
            6,
        )
    )
    return out.withColumn("soft_tfidf_ab", score("soft_dot_ab")).withColumn(
        "soft_tfidf_ba", score("soft_dot_ba")
    )


def tfidf_cosine_pairs(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """IDF-weighted sparse token cosine for candidate pairs — the WHIRL /
    soft-join comparator (Cohen, SIGMOD 1998) that token_cosine_pairs
    lacks: rare tokens dominate the score, so shared stopwords stop
    producing false high similarity. The reference's candidate retrieval
    leans on the same inverse-document-frequency arbitration
    (/root/reference/blink/candidate_retrieval/candidate_generators.py
    BM25 boosts); here it is the exact vector-space form.

    Exact cross-engine parity: the idf weight is the RATIONAL surrogate
    ``w(tok) = (1000 * N) div df(tok)`` — a positive integer floor
    division identical in Spark (`div`) and DuckDB (`//`) — instead of a
    libm log whose 1-ulp engine differences could flip a floor. The
    tf-idf component is ``tf * w`` (exact long); dot and squared norms are
    exact long sums; the only float ops are two IEEE-correctly-rounded
    sqrts and one multiply+divide on identical integers (norms stay as
    separate sqrt factors so the product can't overflow BIGINT where
    ``norm_a * norm_b`` would).

    Scale: identical shape to token_cosine_pairs — (pair, token)
    equi-join bounded by pairs × tokens-per-record, map-side-combinable
    sums, df/N computed with one vocabulary-keyed aggregation broadcast
    back onto the tf rows (vocab is corpus-bounded; the join key is the
    token, already shuffled for df anyway).

    Output: pairs + ``dot``, ``norm_a``, ``norm_b`` (exact longs) +
    ``tfidf_cosine`` (round 6).
    """
    weighted = tfidf_weights(records, id_col, text_col)
    out = _pair_dot_norms(pairs, weighted, "x")
    return out.withColumn(
        "tfidf_cosine",
        F.round(
            F.col("dot").cast("double")
            / (
                F.sqrt(F.col("norm_a").cast("double"))
                * F.sqrt(F.col("norm_b").cast("double"))
            ),
            6,
        ),
    )


def monge_elkan_pairs(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Monge-Elkan hybrid similarity (Monge & Elkan 1996; the recursive
    field-matching comparator of the record-linkage literature): for each
    token of A take its BEST match among B's tokens under an inner
    character-level similarity, then average — tolerant of token
    reorderings AND per-token typos at once, which whole-string
    Levenshtein and set Jaccard each miss. The inner similarity is Dice
    over distinct character bigrams, kept in exact integer ppm so the
    oracle reproduces every boundary (no float comparator enters the
    parity surface). Both asymmetric directions plus the symmetric mean
    are returned (ME is famously asymmetric).

    Relational shape: per-token bigram sets are computed ONCE over the
    distinct token vocabulary (position explode → substr → collect_set,
    all codegen; vocabulary-bounded, not pair-bounded) and joined onto the
    (pair, tok_a, tok_b) product, which blocking already bounded. The
    max-per-token and mean-per-pair steps are two keyed aggregations that
    reuse the same product frame. At 100 TB the one extra knob is
    memoizing sims for distinct (tok_a, tok_b) combinations before the
    join-back; at mention-scale tokens-per-record is small so the product
    stays ~|pairs| * t^2.

    Output: record_id_a, record_id_b, me_ab_ppm, me_ba_ppm, me_sym_ppm.
    """
    from blink_spark.functions.text import normalize_text

    t = (
        records.select(
            F.col(id_col).alias("rid"),
            F.explode(
                F.split(normalize_text(records[text_col]), " ")
            ).alias("tok"),
        )
        .distinct()
    )
    bg = (
        t.select("tok")
        .distinct()
        .select(
            "tok",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.length("tok") - 1, F.lit(1))
                )
            ).alias("i"),
        )
        .select("tok", F.col("tok").substr(F.col("i"), F.lit(2)).alias("b2"))
        .groupBy("tok")
        .agg(F.collect_set("b2").alias("bset"))
        .select("tok", "bset", F.size("bset").cast("long").alias("nb"))
    )
    p = pairs.select("record_id_a", "record_id_b")
    tab = (
        p.join(
            t.select(F.col("rid").alias("record_id_a"), F.col("tok").alias("tok_a")),
            "record_id_a",
        )
        .join(
            t.select(F.col("rid").alias("record_id_b"), F.col("tok").alias("tok_b")),
            "record_id_b",
        )
    )
    s = (
        tab.join(
            bg.select(
                F.col("tok").alias("tok_a"),
                F.col("bset").alias("ba"),
                F.col("nb").alias("na"),
            ),
            "tok_a",
        )
        .join(
            bg.select(
                F.col("tok").alias("tok_b"),
                F.col("bset").alias("bb"),
                F.col("nb").alias("nbb"),
            ),
            "tok_b",
        )
        .select(
            "record_id_a",
            "record_id_b",
            "tok_a",
            "tok_b",
            (
                F.lit(2_000_000)
                * F.size(F.array_intersect("ba", "bb")).cast("long")
            ).alias("twice_inter"),
            (F.col("na") + F.col("nbb")).alias("denom"),
        )
        .select(
            "record_id_a",
            "record_id_b",
            "tok_a",
            "tok_b",
            F.expr("twice_inter div greatest(denom, 1)")
            .cast("long")
            .alias("sim_ppm"),
        )
    )
    ma = s.groupBy("record_id_a", "record_id_b", "tok_a").agg(
        F.max("sim_ppm").alias("ms")
    )
    mb = s.groupBy("record_id_a", "record_id_b", "tok_b").agg(
        F.max("sim_ppm").alias("ms")
    )
    ga = ma.groupBy("record_id_a", "record_id_b").agg(
        F.expr("sum(ms) div count(*)").cast("long").alias("me_ab_ppm")
    )
    gb = mb.groupBy("record_id_a", "record_id_b").agg(
        F.expr("sum(ms) div count(*)").cast("long").alias("me_ba_ppm")
    )
    return (
        ga.join(gb, ["record_id_a", "record_id_b"])
        .select(
            "record_id_a",
            "record_id_b",
            "me_ab_ppm",
            "me_ba_ppm",
            F.expr("(me_ab_ppm + me_ba_ppm) div 2")
            .cast("long")
            .alias("me_sym_ppm"),
        )
    )


def bloom_positions(
    records: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """PPRL Bloom-filter encoding (Schnell, Bachteler & Reiher, BMC 2009):
    each record's normalized text is decomposed into character bigrams and
    every bigram sets 3 salted-md5 positions in a 64-bit filter.
    Returned as the relational SET form — one (record_id, pos) row per set
    bit — which is what the Dice join consumes directly; the bit-packed
    integer form is one ``bit_or(1 << pos)`` aggregation away when an
    actual opaque encoding must leave the trust boundary.

    Records shorter than one bigram produce no rows (an empty filter).

    Scale notes (100 TB): a pure projection + explode (bigrams x k) into a
    map-side-combinable distinct — at most 64 rows per record survive.
    No joins, no windows, no driver collection.
    """
    grams = (
        records.select(
            F.col(id_col).alias("rid"), normalize_text(text_col).alias("norm")
        )
        .select(
            "rid",
            F.explode(
                F.when(
                    F.length("norm") >= 2,
                    F.expr(
                        "transform(sequence(1, length(norm) - 1),"
                        " i -> substr(norm, i, 2))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
    )
    pos = grams.select(
        "rid",
        F.explode(
            F.array(
                *[
                    F.conv(
                        F.substring(
                            F.md5(F.concat(F.lit(f"bf{j}:"), F.col("gram"))), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 64
                    for j in range(3)
                ]
            )
        ).alias("pos"),
    )
    return pos.distinct()


def pprl_bloom_dice(
    records: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Privacy-preserving record linkage scoring: Dice similarity between
    the records' Bloom encodings, ``2e6 * |A ∩ B| div (|A| + |B|)`` in
    exact ppm integers over SET-BIT counts — the standard PPRL comparator
    (bigram Dice survives the encoding because shared bigrams set shared
    bits). Pairs whose two filters are both empty score 0.

    pairs: (record_id_a, record_id_b) candidate pairs (from blocking —
    never all-pairs).

    Scale notes (100 TB): the intersection is an equi-join of the two
    sides' (pair, pos) rows — fan-out bounded by 64 bits per record — then
    a pair-keyed partial count; bit counts join back on the record id.
    No driver collection.

    Returns (record_id_a, record_id_b, bits_a, bits_b, inter_bits,
    dice_ppm).
    """
    pos = bloom_positions(records, id_col, text_col)
    bits = pos.groupBy("rid").agg(F.count(F.lit(1)).cast("long").alias("bits"))
    pa = pos.select(F.col("rid").alias("record_id_a"), "pos")
    pb = pos.select(F.col("rid").alias("record_id_b"), "pos")
    inter = (
        pairs.join(pa, "record_id_a")
        .join(pb, ["record_id_b", "pos"])
        .groupBy("record_id_a", "record_id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter_bits"))
    )
    return (
        pairs.join(inter, ["record_id_a", "record_id_b"], "left")
        .join(
            bits.select(F.col("rid").alias("record_id_a"), F.col("bits").alias("bits_a")),
            "record_id_a",
            "left",
        )
        .join(
            bits.select(F.col("rid").alias("record_id_b"), F.col("bits").alias("bits_b")),
            "record_id_b",
            "left",
        )
        .select(
            "record_id_a",
            "record_id_b",
            F.coalesce("bits_a", F.lit(0)).cast("long").alias("bits_a"),
            F.coalesce("bits_b", F.lit(0)).cast("long").alias("bits_b"),
            F.coalesce("inter_bits", F.lit(0)).cast("long").alias("inter_bits"),
            F.expr(
                "CASE WHEN coalesce(bits_a, 0) + coalesce(bits_b, 0) > 0"
                " THEN (2000000 * coalesce(inter_bits, 0))"
                " div (coalesce(bits_a, 0) + coalesce(bits_b, 0))"
                " ELSE 0 END"
            )
            .cast("long")
            .alias("dice_ppm"),
        )
    )


def tf_adjusted_agreements(
    pairs: DataFrame,
    values: DataFrame,
    id_col: str = "record_id",
    val_col: str = "val",
) -> DataFrame:
    """Term-frequency adjustment for exact-agreement comparisons — the
    Splink-documented refinement of Fellegi-Sunter: the global
    u-probability of an exact match on a column averages over ALL values,
    so agreeing on a RARE value (surname "Zabrinsky") is far stronger
    evidence than the average weight credits, and agreeing on a COMMON one
    ("Smith") far weaker. For each pair that agrees on ``val_col`` this
    emits the value's relative frequency and the exact-ppm ratio
    ``u_global / tf(v)`` — the monotone equivalent of Splink's
    ``log2(u/tf)`` additive weight adjustment (>1e6 ⇒ boost, <1e6 ⇒
    penalty), kept as a ratio because log is engine-libm noise while the
    integer ratio is bit-reproducible (the ``fs_weights`` convention).

    ``u_global`` is the pairs-based agreement probability
    ``sum_v C(df_v, 2) / C(N, 2)`` — exactly the chance two random records
    agree, the denominator FS estimates against.

    Overflow bounds: ``sum C(df,2)`` and ``C(N,2)`` stay in BIGINT to
    N ~ 4e9 records; ``1e6 * agree_pairs`` binds first, at agree_pairs
    ~ 9e12 (N ~ 4e6 records if EVERY record shared one value; realistic
    value skew pushes it orders higher).

    Scale shape: one value-keyed partial-agg for df, one scalar aggregate
    (broadcast — the bm25-idf one-row pattern), two record-keyed equi-joins
    to decorate the pair list, one value-keyed join for df (AQE broadcasts
    it while the vocabulary is small). Nothing corpus² ever materializes —
    the pair list is the input's.

    Returns (record_id_a, record_id_b, val, df, tf_ppm, u_global_ppm,
    tf_adj_ratio_ppm).
    """
    v = values.select(F.col(id_col).alias("rid"), F.col(val_col).alias("val"))
    tf = v.groupBy("val").agg(F.count(F.lit(1)).cast("long").alias("df"))
    u = (
        v.agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(
            tf.agg(
                F.sum(F.expr("(df * (df - 1)) div 2"))
                .cast("long")
                .alias("agree_pairs")
            )
        )
        .select(
            "n",
            F.expr(
                "(1000000 * agree_pairs) div greatest((n * (n - 1)) div 2, 1)"
            )
            .cast("long")
            .alias("u_global_ppm"),
        )
    )
    j = (
        pairs.join(
            v.select(F.col("rid").alias("record_id_a"), F.col("val").alias("val")),
            "record_id_a",
        )
        .join(
            v.select(
                F.col("rid").alias("record_id_b"), F.col("val").alias("val_b")
            ),
            "record_id_b",
        )
        .filter(F.col("val") == F.col("val_b"))
        .join(tf, "val")
        .crossJoin(F.broadcast(u))
    )
    return j.select(
        "record_id_a",
        "record_id_b",
        "val",
        "df",
        F.expr("(1000000 * df) div n").cast("long").alias("tf_ppm"),
        "u_global_ppm",
        F.expr(
            "(1000000 * u_global_ppm) div greatest((1000000 * df) div n, 1)"
        )
        .cast("long")
        .alias("tf_adj_ratio_ppm"),
    )


def acronym_matches(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str = "record_id",
    text_col: str = "text",
) -> DataFrame:
    """Acronym⇄expansion comparator: flags pairs where one side's single
    multi-character token equals the other side's token INITIALS
    concatenated ("ibm" ⇄ "international business machines") — a match
    signal edit-distance/Jaccard/Monge-Elkan all score ~0, which is why
    rule cascades carry a dedicated acronym rule. Both directions are
    tested; the expansion must have at least two tokens.

    Scale shape: one projection for the per-record (norm, n_tok, initials)
    features, two record-keyed equi-joins onto the pair list — no new
    shuffle class beyond the pair decoration every comparator pays.

    Returns (record_id_a, record_id_b, acronym, expansion).
    """
    from blink_spark.functions.text import normalize_text

    norm = normalize_text(records[text_col])
    feats = records.select(
        records[id_col].alias("rid"),
        norm.alias("norm"),
        F.split(norm, " ").alias("tk"),
    ).select(
        "rid",
        "norm",
        F.size("tk").alias("n_tok"),
        F.array_join(F.transform("tk", lambda t: F.substring(t, 1, 1)), "").alias(
            "initials"
        ),
    )
    fa = feats.select(
        F.col("rid").alias("record_id_a"),
        F.col("norm").alias("norm_a"),
        F.col("n_tok").alias("n_a"),
        F.col("initials").alias("ini_a"),
    )
    fb = feats.select(
        F.col("rid").alias("record_id_b"),
        F.col("norm").alias("norm_b"),
        F.col("n_tok").alias("n_b"),
        F.col("initials").alias("ini_b"),
    )
    j = pairs.join(fa, "record_id_a").join(fb, "record_id_b")
    a_is_acro = (
        (F.col("n_a") == 1)
        & (F.col("n_b") >= 2)
        & (F.length("norm_a") >= 2)
        & (F.col("norm_a") == F.col("ini_b"))
    )
    b_is_acro = (
        (F.col("n_b") == 1)
        & (F.col("n_a") >= 2)
        & (F.length("norm_b") >= 2)
        & (F.col("norm_b") == F.col("ini_a"))
    )
    return j.filter(a_is_acro | b_is_acro).select(
        "record_id_a",
        "record_id_b",
        F.when(a_is_acro, F.col("norm_a")).otherwise(F.col("norm_b")).alias(
            "acronym"
        ),
        F.when(a_is_acro, F.col("norm_b")).otherwise(F.col("norm_a")).alias(
            "expansion"
        ),
    )


def label_function_votes(
    scored: DataFrame,
    text_a: str = "mention_a",
    text_b: str = "mention_b",
) -> DataFrame:
    """Snorkel-style weak-supervision label model, majority-vote stage
    (Ratner et al. 2017): four independent labeling functions vote
    +1 (match) / −1 (non-match) / 0 (abstain) on every candidate pair, and
    the per-pair vote profile becomes a training label WITHOUT gold data —
    the programmatic-labeling front end whose output trains the pair
    scorer the er_hard_negatives / er_reliability_bins family evaluates.

    The four LFs read the features ``score_pairs`` already computed (all
    boundary-exact across engines — equality on normalized text, 6dp-
    rounded jaccard / lev_ratio comparisons, integer lengths):

      lf_exact    +1 when the normalized forms are equal, else abstains
      lf_jaccard  +1 at ≥ 0.65 (the match-rule bar), −1 at ≤ 0.20
      lf_lev      +1 at ≥ 0.93 (the match-rule bar), −1 at ≤ 0.50
      lf_len      −1 when normalized lengths differ by > 10 (a cheap
                  blocker-style negative signal), else abstains

    Pure column arithmetic over the scored pair table — no shuffle beyond
    what produced the pairs, no Python. Returns one row per pair:
    (record_id_a, record_id_b, lf_exact, lf_jaccard, lf_lev, lf_len,
    n_pos, n_neg, vote_sum, majority_label, agreement_ppm) with
    majority_label ∈ match/non_match/abstain by the sign of vote_sum and
    agreement_ppm = 1e6·max(n_pos, n_neg)/(n_pos+n_neg) over the
    non-abstaining LFs (0 when all four abstain).
    """
    la = F.length(normalize_text(text_a))
    lb = F.length(normalize_text(text_b))
    out = (
        scored.withColumn(
            "lf_exact", F.when(F.col("norm_eq"), 1).otherwise(0).cast("long")
        )
        .withColumn(
            "lf_jaccard",
            F.when(F.col("jaccard") >= 0.65, 1)
            .when(F.col("jaccard") <= 0.20, -1)
            .otherwise(0)
            .cast("long"),
        )
        .withColumn(
            "lf_lev",
            F.when(F.col("lev_ratio") >= 0.93, 1)
            .when(F.col("lev_ratio") <= 0.50, -1)
            .otherwise(0)
            .cast("long"),
        )
        .withColumn(
            "lf_len",
            F.when(F.abs(la - lb) > 10, -1).otherwise(0).cast("long"),
        )
        .withColumn(
            "n_pos",
            sum(
                F.when(F.col(c) == 1, 1).otherwise(0)
                for c in ("lf_exact", "lf_jaccard", "lf_lev", "lf_len")
            ).cast("long"),
        )
        .withColumn(
            "n_neg",
            sum(
                F.when(F.col(c) == -1, 1).otherwise(0)
                for c in ("lf_exact", "lf_jaccard", "lf_lev", "lf_len")
            ).cast("long"),
        )
        .withColumn(
            "vote_sum",
            F.expr("lf_exact + lf_jaccard + lf_lev + lf_len").cast("long"),
        )
    )
    return out.select(
        "record_id_a",
        "record_id_b",
        "lf_exact",
        "lf_jaccard",
        "lf_lev",
        "lf_len",
        "n_pos",
        "n_neg",
        "vote_sum",
        F.when(F.col("vote_sum") > 0, F.lit("match"))
        .when(F.col("vote_sum") < 0, F.lit("non_match"))
        .otherwise(F.lit("abstain"))
        .alias("majority_label"),
        F.expr(
            "CASE WHEN n_pos + n_neg = 0 THEN 0"
            " ELSE (1000000 * greatest(n_pos, n_neg)) div (n_pos + n_neg) END"
        ).cast("long").alias("agreement_ppm"),
    )


def weighted_jaccard_pairs(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Weighted (multiset/Ruzicka) Jaccard for candidate pairs:
    J_w = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a, tf_b) over token BAGS —
    the repetition-aware sibling of the set Jaccard the blocking family
    uses (a surface that repeats a token five times vs once is NOT a
    perfect match to set semantics; bag semantics see it).

    Entirely exact integers, no full-outer join: Σ max = |bag_a| +
    |bag_b| − Σ min, so the intersection Σ least(tf_a, tf_b) comes from
    the SAME (pair, token) inner equi-join as ``token_cosine_pairs`` and
    bag sizes join back per record. jw_ppm = (1e6·Σmin) div (Σmax),
    nonnegative floor division, engine-identical.

    Scale: identical join discipline to token_cosine_pairs — keyed by
    (pair, token), bounded by pair count × tokens-per-record, never
    vocabulary².

    ``pairs``: (record_id_a, record_id_b). Output: pairs + ``inter_min``,
    ``bag_a``, ``bag_b``, ``weighted_jaccard_ppm`` (exact longs).
    """
    from blink_spark.functions.text import normalize_text

    tf = (
        records.select(
            F.col(id_col).alias("record_id"),
            F.explode(
                F.split(normalize_text(records[text_col]), " ")
            ).alias("tok"),
        )
        .groupBy("record_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    bags = tf.groupBy("record_id").agg(
        F.sum("tf").cast("long").alias("bag")
    )
    ta = tf.select(
        F.col("record_id").alias("record_id_a"), "tok", F.col("tf").alias("tf_a")
    )
    tb = tf.select(
        F.col("record_id").alias("record_id_b"), "tok", F.col("tf").alias("tf_b")
    )
    inter = (
        pairs.join(ta, "record_id_a")
        .join(tb, ["record_id_b", "tok"])
        .groupBy("record_id_a", "record_id_b")
        .agg(
            F.sum(F.least("tf_a", "tf_b")).cast("long").alias("inter_min")
        )
    )
    return (
        pairs.join(inter, ["record_id_a", "record_id_b"], "left")
        .join(
            bags.select(
                F.col("record_id").alias("record_id_a"),
                F.col("bag").alias("bag_a"),
            ),
            "record_id_a",
        )
        .join(
            bags.select(
                F.col("record_id").alias("record_id_b"),
                F.col("bag").alias("bag_b"),
            ),
            "record_id_b",
        )
        .select(
            "record_id_a",
            "record_id_b",
            F.coalesce("inter_min", F.lit(0)).cast("long").alias("inter_min"),
            "bag_a",
            "bag_b",
            F.expr(
                "CASE WHEN bag_a + bag_b - coalesce(inter_min, 0) > 0 THEN"
                " (1000000 * coalesce(inter_min, 0))"
                " div (bag_a + bag_b - coalesce(inter_min, 0))"
                " ELSE 0 END"
            )
            .cast("long")
            .alias("weighted_jaccard_ppm"),
        )
    )


# Classic English hypocorism -> canonical given-name map (public-domain
# dictionary knowledge; deliberately small, unambiguous entries only —
# e.g. 'pat' is omitted because patricia/patrick conflict). One flat dict
# so the Spark literal table and the SQL VALUES twin are generated from
# the SAME constant.
NICKNAMES: dict[str, str] = {
    "bill": "william", "billy": "william", "will": "william",
    "bob": "robert", "bobby": "robert", "rob": "robert",
    "dick": "richard", "rick": "richard", "ricky": "richard",
    "liz": "elizabeth", "lizzie": "elizabeth", "beth": "elizabeth",
    "jim": "james", "jimmy": "james",
    "jack": "john", "johnny": "john",
    "peggy": "margaret", "meg": "margaret",
    "tom": "thomas", "tommy": "thomas",
    "tony": "anthony",
    "andy": "andrew", "drew": "andrew",
    "mike": "michael", "mikey": "michael",
    "dave": "david", "davy": "david",
    "dan": "daniel", "danny": "daniel",
    "chris": "christopher",
    "kate": "katherine", "katie": "katherine", "kathy": "katherine",
    "sue": "susan", "susie": "susan",
    "chuck": "charles", "charlie": "charles",
    "hank": "henry",
    "joe": "joseph", "joey": "joseph",
    "sam": "samuel", "sammy": "samuel",
    "steve": "steven",
    "alex": "alexander",
    "ben": "benjamin", "benny": "benjamin",
    "nick": "nicholas",
    "tim": "timothy", "timmy": "timothy",
    "greg": "gregory",
    "ron": "ronald", "ronnie": "ronald",
    "don": "donald", "donnie": "donald",
    "ken": "kenneth", "kenny": "kenneth",
    "larry": "lawrence",
    "walt": "walter", "wally": "walter",
    "gene": "eugene",
    "fred": "frederick", "freddie": "frederick",
    "abby": "abigail",
    "becky": "rebecca",
    "cindy": "cynthia",
    "debbie": "deborah",
    "jen": "jennifer", "jenny": "jennifer",
    "jess": "jessica",
    "mandy": "amanda",
    "vicky": "victoria",
}


def nickname_matches(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Nickname-aware equality for candidate pairs — the dictionary
    comparator every production person-matcher carries (Magellan /
    dedupe.io feature family): each token of the normalized surface is
    canonicalized through the hypocorism map ("Bill Smith" → "william
    smith") and pairs are compared on the canonical form. Emits both the
    raw and canonical equality plus ``bridged`` (matched ONLY thanks to
    the dictionary) — the incremental-recall readout that justifies the
    dictionary.

    Scale notes: tokens explode map-side, the dictionary join is a
    broadcast of the (tiny, constant) nickname table, and the canonical
    surface is re-assembled per record with an order-preserving
    array_sort(collect_list(struct(pos, tok))) — one record-keyed
    shuffle, the same discipline as the tf builders; pair comparison is
    then two equi-joins. No Python, no windows.

    Returns pairs + (norm_eq, nickname_eq, bridged).
    """
    from blink_spark.functions.text import normalize_text

    spark = records.sparkSession
    dict_df = spark.createDataFrame(
        sorted(NICKNAMES.items()), "nick string, canon string"
    )
    toks = records.select(
        F.col(id_col).alias("record_id"),
        F.posexplode(
            F.split(normalize_text(records[text_col]), " ")
        ).alias("pos", "tok"),
    )
    can = (
        toks.join(F.broadcast(dict_df), toks["tok"] == dict_df["nick"], "left")
        .select(
            "record_id",
            "pos",
            F.coalesce("canon", "tok").alias("ct"),
            "tok",
        )
        .groupBy("record_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "ct"))
                    ),
                    lambda s: s["ct"],
                ),
                " ",
            ).alias("can"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("norm"),
        )
    )
    ca = can.select(
        F.col("record_id").alias("record_id_a"),
        F.col("can").alias("can_a"),
        F.col("norm").alias("norm_a"),
    )
    cb = can.select(
        F.col("record_id").alias("record_id_b"),
        F.col("can").alias("can_b"),
        F.col("norm").alias("norm_b"),
    )
    return (
        pairs.join(ca, "record_id_a")
        .join(cb, "record_id_b")
        .select(
            "record_id_a",
            "record_id_b",
            (F.col("norm_a") == F.col("norm_b")).alias("norm_eq"),
            (F.col("can_a") == F.col("can_b")).alias("nickname_eq"),
            (
                (F.col("can_a") == F.col("can_b"))
                & (F.col("norm_a") != F.col("norm_b"))
            ).alias("bridged"),
        )
    )
