"""S2 — blocking: assign (block_key, record_id) so only same-block records
are ever paired. Two strategies, unionable:

1. token-pair blocking — every unordered pair of distinct tokens is a key.
   Guarantees candidate coverage whenever two surfaces share >= 2 tokens
   (our synthetic corruption model, and classic schema-agnostic blocking).
2. MinHash-LSH band blocking — char-shingle minhash signatures banded into
   bucket keys; the scalable analogue of the reference's FAISS ANN index
   (/root/reference/blink/indexer/faiss_indexer.py:71-141).

Both emit (block_key string, record_id string) rows; select those two
columns before a union.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blink_spark.functions.text import tokens

# block-size caps (cap-and-report: larger blocks are dropped whole)
PHONETIC_MAX_BLOCK = 100
META_MAX_BLOCK = 1024
SUFFIX_MAX_BLOCK = 50
# suffix_pairs keys: suffixes of at least SUFFIX_MIN_LEN chars, at most
# SUFFIX_MAX_KEYS per record
SUFFIX_MIN_LEN = 8
SUFFIX_MAX_KEYS = 12
# canopy_assign's informative-token document-frequency ceiling
CANOPY_DF_MAX = 20
# blocks kept per record by block_filter_top_r
BLOCK_FILTER_R = 3
# dynamic_blocking's block-size cap
DYNAMIC_CAP = 32
# blocking_budget_frontier's candidate-pair budget
PAIR_BUDGET = 100_000


def token_pair_blocks(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Emit one row per unordered token pair per record.

    Implemented with a self-cross of the token array inside ``transform``
    (no shuffle — per-row generator), then explode. Records with a single
    distinct token fall back to the token itself as key.
    """
    toks = F.array_sort(tokens(df[text_col]))
    pairs = F.flatten(
        F.transform(
            toks,
            lambda t, i: F.transform(
                F.slice(toks, i + 2, F.greatest(F.size(toks) - i - 1, F.lit(0))),
                lambda u: F.concat(F.lit("tp:"), t, F.lit("|"), u),
            ),
        )
    )
    keys = F.when(F.size(toks) >= 2, pairs).otherwise(
        F.transform(toks, lambda t: F.concat(F.lit("t1:"), t))
    )
    return df.select(
        df[id_col].alias("record_id"),
        df[text_col].alias("text"),
        F.explode(keys).alias("block_key"),
    )


def minhash_blocks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    rows: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH band keys as blocks (near-dup blocking).

    Relational formulation — identical values to
    ``functions.hashing.minhash_band_keys`` but ~10x faster: Spark's
    higher-order array functions (transform/aggregate/zip_with) are
    CodegenFallback, i.e. interpreted per element, so the array fold is
    rewritten as explode → codegen md5/substring columns → groupBy with
    per-component ``min`` (map-side partial agg collapses each partition to
    one row per record before the shuffle). Shingle multiplicity doesn't
    matter (min over multiset == min over set), so no dedup is needed.

    The per-shingle 4-hex windows are parsed to ints before the min agg:
    numeric min over the parsed value equals lexicographic min over
    fixed-width lowercase hex, the agg state and partial-agg shuffle rows
    shrink ~3x, and the hash-agg update loop compares ints instead of
    strings (~18% on the whole stage, interleaved same-JVM A/B,
    bit-identical band keys — the hex is rebuilt with lower(lpad(hex())) on
    the one-row-per-record output only).
    """
    from blink_spark.functions.text import normalize_text

    k = bands * rows
    n_md5 = (k * 4 + 31) // 32
    wins_per_md5 = 32 // 4
    norm = normalize_text(df[text_col])
    sh = df.select(
        df[id_col].alias("record_id"),
        norm.alias("t"),
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length(norm) - (shingle_n - 1), F.lit(1)))
        ).alias("i"),
    ).select(
        "record_id", F.expr(f"substring(t, i, {shingle_n})").alias("g")
    )
    md5s = [F.md5(F.concat(F.lit(f"h{j}:"), F.col("g"))) for j in range(n_md5)]
    windows = sh.select(
        "record_id",
        *[
            F.conv(
                F.substring(md5s[i // wins_per_md5], (i % wins_per_md5) * 4 + 1, 4),
                16,
                10,
            )
            .cast("int")
            .alias(f"w{i}")
            for i in range(k)
        ],
    )
    sig = windows.groupBy("record_id").agg(
        *[F.min(f"w{i}").alias(f"s{i}") for i in range(k)]
    )
    hexs = [F.lower(F.lpad(F.hex(F.col(f"s{i}")), 4, "0")) for i in range(k)]
    band_keys = F.array(
        *[
            F.concat(
                F.lit(f"b{b}:"),
                F.md5(F.concat_ws(",", *[hexs[b * rows + r] for r in range(rows)])),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        "record_id", F.explode(band_keys).alias("block_key")
    )


def df_aware_blocks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    rare_df: int = 64,
    max_df: int = 4096,
    cache_freq: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Document-frequency-aware blocking — the scalable default.

    Classic schema-agnostic token blocking melts down on stopword-like
    tokens (a token in 10% of 10^12 records → a 10^22-pair block). This
    operator computes corpus document frequencies first (one groupBy) and
    classifies tokens:

    - **stop**  (df > max_df): excluded from keys entirely, counted in stats
      (cap-and-report, north rule);
    - **rare**  (df <= rare_df): single-token key — high-precision, tiny
      blocks (the 'title2id exact key' analogue,
      /root/reference/blink/main_dense.py:154-170);
    - **mid**   (otherwise): only *pairs* of non-stop tokens form keys —
      a pair key's block is at most min(df_a, df_b) rows.

    Per record only the 8 least-frequent (most selective) non-stop tokens
    participate in pair keys. Records whose tokens are all stop tokens get
    a least-frequent-token fallback key (their oversized block is then
    capped/logged downstream by candidate_pairs).

    Returns (assignments(block_key, record_id), token_stats).
    """
    recs = df.select(F.col(id_col).alias("record_id"), F.col(text_col).alias("text"))
    tok = recs.select(
        "record_id", F.explode(tokens("text")).alias("tok")
    )
    freq = tok.groupBy("tok").agg(F.count("*").alias("df"))
    if cache_freq:
        # localCheckpoint, not persist: same multi-consumer reuse
        # (stats + join), but the cache entry is owned by the
        # GC/ContextCleaner instead of leaking a persist() the caller
        # can't see or release. ``cache_freq=False`` when the caller
        # won't consume token_stats (fused throughput mode): freq then
        # has ONE consumer and inlining it into the main DAG avoids an
        # eager materialization job — one less barrier, pure serial
        # fraction at high parallelism.
        freq = freq.localCheckpoint()

    token_stats = freq.select(
        F.when(F.col("df") <= rare_df, F.lit("rare"))
        .when(F.col("df") <= max_df, F.lit("mid"))
        .otherwise(F.lit("stop"))
        .alias("token_class")
    ).groupBy("token_class").agg(F.count("*").alias("n_tokens"))

    # one groupBy carries everything per record: sorted (df, tok) pairs with
    # stop tokens included, so key derivation (pair keys over the non-stop
    # selection, rare single keys, all-stop fallback) is a single pure
    # column expression — no second pass, no anti-join.
    sets = (
        tok.join(freq, "tok")
        .groupBy("record_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "tok"))).alias("all_ts"))
    )
    nonstop = F.filter("all_ts", lambda x: x["df"] <= max_df)
    ts = F.slice(nonstop, 1, 8)
    sel = F.transform(ts, lambda x: x["tok"])
    pair_keys = F.flatten(
        F.transform(
            sel,
            lambda t, i: F.transform(
                F.slice(sel, i + 2, F.greatest(F.size(sel) - i - 1, F.lit(0))),
                lambda u: F.concat(
                    F.lit("tp:"), F.least(t, u), F.lit("|"), F.greatest(t, u)
                ),
            ),
        )
    )
    rare_keys = F.transform(
        F.filter(ts, lambda x: x["df"] <= rare_df),
        lambda x: F.concat(F.lit("t1:"), x["tok"]),
    )
    # records with every token above max_df: fall back to their single
    # least-frequent token so they are not silently unblockable.
    fallback = F.array(F.concat(F.lit("t1:"), F.element_at("all_ts", 1)["tok"]))
    keys = F.when(F.size(nonstop) == 0, fallback).otherwise(
        F.array_union(pair_keys, rare_keys)
    )

    keyed = sets.select("record_id", F.explode(keys).alias("block_key"))
    return keyed.select("block_key", "record_id"), token_stats


def union_blocks(*assignments: DataFrame) -> DataFrame:
    out = assignments[0]
    for a in assignments[1:]:
        out = out.unionByName(a)
    return out


def blocking_quality(assignments: DataFrame, records: DataFrame) -> DataFrame:
    """Blocking-quality diagnostics: a log2-bucketed block-size histogram
    with exact within-block pair counts, plus a grand-total row
    (``size_bucket = -1``) whose ``pairs_frac`` is the complement of the
    classic reduction ratio (RR = 1 − candidate_pairs / all_pairs). Read
    alongside ``blocking_recall`` (pairs completeness) this is the standard
    RR/PC trade-off every blocking scheme is tuned on (reference candidate
    generation tuning: /root/reference/blink/candidate_retrieval/
    evaluator.py:16-90 reports candidate-set sizes next to recall).

    Cross-engine exactness: the bucket is ``floor(log2(bs + 0.5))`` — the
    +0.5 pushes every integer at least 2⁻¹³ away from a power-of-two
    boundary (bs ≤ 4096-scale), far beyond libm's 1-ulp log2 noise, so the
    floor is engine-stable; pair counts are exact integers
    (``bs·(bs−1) div 2``); only the final frac against the scalar
    all-pairs denominator touches floats, on identical integer inputs.

    Shape at 100 TB: one block-keyed aggregation (the same shuffle the pair
    generator needs anyway), then a rollup over the ≤ log2(max_bs) histogram
    rows and a one-row scalar broadcast for the denominator — nothing
    corpus-sized moves after the first agg.
    """
    sizes = assignments.groupBy("block_key").agg(F.count("*").alias("bs"))
    hist = (
        sizes.rollup(
            F.floor(F.log2(F.col("bs") + F.lit(0.5))).cast("long").alias("size_bucket")
        )
        .agg(
            F.count("*").cast("long").alias("n_blocks"),
            F.sum("bs").cast("long").alias("n_records"),
            F.sum(F.expr("bs * (bs - 1) div 2")).cast("long").alias("n_pairs"),
        )
        .select(
            F.coalesce("size_bucket", F.lit(-1).cast("long")).alias("size_bucket"),
            "n_blocks",
            "n_records",
            "n_pairs",
        )
    )
    n = records.agg(F.count("*").cast("long").alias("nm"))
    return hist.crossJoin(F.broadcast(n)).select(
        "size_bucket",
        "n_blocks",
        "n_records",
        "n_pairs",
        F.round(
            F.col("n_pairs").cast("double")
            / (F.col("nm").cast("double") * (F.col("nm") - F.lit(1)).cast("double") / F.lit(2.0)),
            6,
        ).alias("pairs_frac"),
    )


def sorted_neighborhood_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Sorted-neighborhood blocking (Hernandez & Stolfo '95): total-order
    records by their normalized surface key and pair each record with its 3
    successors (the window w). The classic complement to token/LSH blocking
    for corruptions that preserve sort order (prefix typos, suffix noise) —
    the same "cheap ordered candidate neighbourhood" role as the reference's
    lexical candidate generators, which rank a small neighbourhood per
    mention surface (/root/reference/blink/candidate_retrieval/
    candidate_generators.py:60-117).

    Scale shape (the two classic SNM scale traps, both avoided):
    - the TOTAL order comes from ``operators.ids.dense_ids`` — two-phase
      range partition + broadcast per-partition offsets, never a
      no-partition ``row_number()`` window (Exchange SinglePartition);
    - the neighbour pairing is a band EQUI-join, not an inequality join:
      bucket ``rank div w``; a pair within distance w spans at most two
      adjacent buckets, so the successor side duplicates into
      (bucket, bucket-1) and the join key is a small dense integer. 2x row
      duplication on one side, zero cross-join, skew-free by construction
      (every bucket holds exactly w ranks).
    """
    from blink_spark.functions.text import normalize_text
    from blink_spark.operators.ids import dense_ids

    keyed = df.select(
        df[id_col].alias("record_id"),
        normalize_text(df[text_col]).alias("snm_key"),
    )
    ranked = dense_ids(
        keyed, [F.col("snm_key").asc(), F.col("record_id").asc()], "rank"
    )
    left = ranked.select(
        F.col("record_id").alias("record_id_a"),
        F.col("rank").alias("rank_a"),
        F.expr("rank div 3").alias("jb"),
    )
    right = ranked.select(
        F.col("record_id").alias("record_id_b"),
        F.col("rank").alias("rank_b"),
        F.explode(
            F.array(
                F.expr("rank div 3"),
                F.expr("rank div 3 - 1"),
            )
        ).alias("jb"),
    )
    return (
        left.join(right, "jb")
        .filter(
            (F.col("rank_b") - F.col("rank_a") >= 1)
            & (F.col("rank_b") - F.col("rank_a") <= 3)
        )
        .select(
            "record_id_a",
            "record_id_b",
            (F.col("rank_b") - F.col("rank_a")).alias("rank_dist"),
        )
    )


def phonetic_pairs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Phonetic blocking: candidate pairs whose simplified-Soundex keys
    (``functions.text.phonetic_key``) collide — the classic third blocking
    strategy next to token/LSH (sound-preserving misspellings like
    "jonson"/"johnson" share no token and often no shingle band). Same
    cheap-canonicalized-neighbourhood role as the reference's lexical
    candidate generators (/root/reference/blink/candidate_retrieval/
    candidate_generators.py:60-117).

    Scale shape: one map-side-combinable groupBy for block sizes, a
    BROADCAST join of the (distinct-key sized) size table to apply the
    cap-and-report discipline every other blocker here follows — blocks
    larger than ``PHONETIC_MAX_BLOCK`` are dropped whole (a degenerate key
    like 'S000' over initials would otherwise go quadratic), then a key
    equi-join bounded by PHONETIC_MAX_BLOCK²/2 per block. No inequality
    join, no skew: the cap IS the skew bound.

    Output: (record_id_a, record_id_b, phonetic_key, block_size) with
    record_id_a < record_id_b, exactly once per colliding pair.
    """
    from blink_spark.functions.text import phonetic_key

    keyed = df.select(
        df[id_col].alias("record_id"),
        phonetic_key(df[text_col]).alias("pkey"),
    )
    sizes = keyed.groupBy("pkey").agg(
        F.count(F.lit(1)).cast("long").alias("block_size")
    )
    capped = keyed.join(
        F.broadcast(sizes.filter(F.col("block_size") <= PHONETIC_MAX_BLOCK)), "pkey"
    )
    left = capped.select(
        "pkey", "block_size", F.col("record_id").alias("record_id_a")
    )
    right = capped.select("pkey", F.col("record_id").alias("record_id_b"))
    return (
        left.join(right, "pkey")
        .filter(F.col("record_id_a") < F.col("record_id_b"))
        .select(
            "record_id_a",
            "record_id_b",
            F.col("pkey").alias("phonetic_key"),
            "block_size",
        )
    )


def meta_block_prune(assignments: DataFrame) -> DataFrame:
    """Meta-blocking: CBS edge weighting + weighted node pruning over a
    block collection (Papadakis et al., "Meta-Blocking: Taking
    Entity Resolution to the Next Level", TKDE 2014). Redundancy in a
    schema-agnostic block collection IS signal: the more blocks two records
    share, the likelier they match. Build the block graph (one edge per
    co-occurring pair, weight = number of common blocks), then keep an edge
    iff its weight reaches the mean incident-edge weight of EITHER endpoint
    — the standard WNP rule that discards the long tail of weakly-connected
    comparisons while retaining almost all matches. Plays the same
    candidate-thinning role as the reference's biencoder top-k cut before
    crossencoder scoring (/root/reference/blink/main_dense.py:479-498): a
    cheap graph statistic spares the expensive pairwise scorer most of the
    candidate volume.

    Exactness: weights/degrees are integer counts and the mean test is a
    cross-multiplication (``w·deg ≥ wsum``), so there is no division
    anywhere and both engines agree at the boundary.

    Scale shape: block purging (size > ``META_MAX_BLOCK`` dropped — canonical
    meta-blocking block-cleaning, same cap-and-report discipline as
    ``pairs.candidate_pairs``) bounds the within-block self-join; the CBS
    weight is a map-side-combinable pair-keyed count; node statistics are
    one node-keyed aggregation over edge endpoints (2|E| rows), joined back
    by endpoint equi-joins. Nothing touches raw text and no step is
    super-linear in the edge count. For skew-heavy collections route the
    pair generation through the triangle-salted ``pairs.candidate_pairs``
    path first and feed (pair, block) rows here.
    """
    from pyspark.sql import Window

    a = assignments.withColumn(
        "bs", F.count("*").over(Window.partitionBy("block_key"))
    ).filter((F.col("bs") >= 2) & (F.col("bs") <= META_MAX_BLOCK))
    left = a.select("block_key", F.col("record_id").alias("record_id_a"))
    right = a.select("block_key", F.col("record_id").alias("record_id_b"))
    edges = (
        left.join(right, "block_key")
        .filter(F.col("record_id_a") < F.col("record_id_b"))
        .groupBy("record_id_a", "record_id_b")
        .agg(F.count("*").cast("long").alias("cbs_weight"))
    )
    ends = edges.select(
        F.col("record_id_a").alias("node"), "cbs_weight"
    ).unionByName(edges.select(F.col("record_id_b").alias("node"), "cbs_weight"))
    stats = ends.groupBy("node").agg(
        F.count("*").cast("long").alias("deg"),
        F.sum("cbs_weight").cast("long").alias("wsum"),
    )
    sa = stats.select(
        F.col("node").alias("record_id_a"),
        F.col("deg").alias("deg_a"),
        F.col("wsum").alias("wsum_a"),
    )
    sb = stats.select(
        F.col("node").alias("record_id_b"),
        F.col("deg").alias("deg_b"),
        F.col("wsum").alias("wsum_b"),
    )
    return (
        edges.join(sa, "record_id_a")
        .join(sb, "record_id_b")
        .filter(
            (F.col("cbs_weight") * F.col("deg_a") >= F.col("wsum_a"))
            | (F.col("cbs_weight") * F.col("deg_b") >= F.col("wsum_b"))
        )
        .select("record_id_a", "record_id_b", "cbs_weight")
    )


def canopy_assign(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Deterministic canopy blocking (McCallum/Nigam/Ungar KDD 2000,
    distributed-relational recast): overlapping canopies grown around
    ELECTED centers under a cheap token-overlap metric, with the classic
    two-radius contract — a LOOSE membership (>= 1 shared informative
    token, the T2 radius: the record must be compared against this
    canopy) and a TIGHT core (>= 2 shared tokens, the T1 radius:
    the record needs no other canopy). The original algorithm picks
    centers by sequential random draws, which no distributed engine can
    reproduce; here each informative token elects the minimum record id
    on its inverted list as a center — deterministic, one pass, and every
    record holding an informative token lands in at least one canopy
    (possibly its own). Plays the reference's coarse-quantizer role
    (/root/reference/elq/index/faiss_indexer.py:71-91: IVF cells =
    canopies under inner-product) for the lexical path.

    "Informative" = document frequency in [2, ``CANOPY_DF_MAX``]:
    df-1 tokens elect only singleton canopies (no pairs — dropped),
    df > ``CANOPY_DF_MAX`` tokens are stopword-like and would produce the mega
    blocks the cap-and-report discipline exists to prevent.

    Exactness: counts and a min-election only — no floats, no order
    dependence.

    Scale notes (100 TB): explode → token-keyed df agg (map-side
    combinable) → min-election on the same key layout → assignment join
    fan-out bounded by ``CANOPY_DF_MAX`` per token → (center, record)-keyed
    partial agg. Every step is keyed; no window, no driver collection,
    no all-pairs.

    Returns (center_id, record_id, n_shared, is_tight).
    """
    tk = df.select(
        df[id_col].alias("record_id"), F.explode(tokens(df[text_col])).alias("tok")
    )
    dfreq = tk.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    kept = dfreq.filter((F.col("df") >= 2) & (F.col("df") <= CANOPY_DF_MAX)).select(
        "tok"
    )
    ktk = tk.join(kept, "tok")
    centers = ktk.groupBy("tok").agg(F.min("record_id").alias("center_id"))
    return (
        ktk.join(centers, "tok")
        .groupBy("center_id", "record_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .select(
            "center_id",
            "record_id",
            "n_shared",
            (F.col("n_shared") >= 2).alias("is_tight"),
        )
    )


def block_filter_top_r(
    blocks: DataFrame,
    block_col: str = "block_key",
    id_col: str = "record_id",
) -> DataFrame:
    """Block filtering (Papadakis et al., "Comparative analysis of
    approximate blocking techniques for entity resolution", PVLDB 2016):
    every record keeps only its ``BLOCK_FILTER_R`` SMALLEST blocks — small
    blocks are the most discriminative, and dropping a record from a mega
    block removes |block|-1 candidate comparisons at the cost of recall only
    if NO small block covers the pair. This is the per-record counterpart of
    the per-edge WNP pruning in ``meta_block_prune``; pipelines run it
    between block building and pair generation.

    Singleton blocks generate no comparisons and are dropped before
    ranking (the standard block-purging precondition). Rank order is
    (block_size asc, block_key asc) — fully deterministic.

    Scale notes (100 TB): one block-keyed partial-agg for sizes, one
    size join back on the same key, then a record-keyed window whose
    partition is bounded by the record's own block memberships (tokens
    per record, not corpus scale). No driver collection.

    Returns (record_id, block_key, block_size, rank).
    """
    sizes = blocks.groupBy(block_col).agg(
        F.count(F.lit(1)).cast("long").alias("block_size")
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("block_size").asc(), F.col(block_col).asc()
    )
    return (
        blocks.join(sizes, block_col)
        .filter(F.col("block_size") >= 2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BLOCK_FILTER_R)
        .select(
            id_col,
            block_col,
            "block_size",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def dynamic_blocking(
    blocks: DataFrame,
    block_col: str = "block_key",
    id_col: str = "record_id",
) -> DataFrame:
    """Size-capped dynamic blocking (McNeill, Kardes & Borthwick, "Dynamic
    record blocking", QDB 2012): blocks within the cap (``DYNAMIC_CAP``)
    are accepted as-is;
    every OVERSIZED block is split by extending its key with each member's
    other blocking tokens, and the sub-blocks are re-measured. One split
    round is unrolled (the paper recurses until all blocks fit; at one
    round the still-oversized leftovers are REPORTED, not silently
    dropped — the house cap-and-report discipline, so recall loss is an
    auditable row, not a mystery).

    Input is the generic (record_id, block_key) membership table — the
    same shape ``block_filter_top_r`` consumes, with keys distinct per
    record (``functions.text.tokens`` guarantees this). The key extension
    needs no second tokenizer pass: sub-keys come from self-joining the
    membership table on the record id, so ANY upstream blocker (tokens,
    phonetic codes, LSH buckets) splits the same way.

    Scale notes (100 TB): sizes are one block-keyed partial agg; the
    split self-join fans out only members of oversized blocks (bounded by
    cap-and-report upstream and by tokens-per-record), keyed on the
    record id; sub-block sizes are a second partial agg. No windows, no
    driver collection.

    Returns (block_key, depth, block_size, status): depth 1 rows are
    accepted originals ('ok'); depth 2 rows are split products —
    'split' when now within the cap, 'over' when a sub-block still
    exceeds it. Singletons at either depth generate no comparisons and
    are dropped (block purging).
    """
    cap = DYNAMIC_CAP
    b1 = blocks.select(F.col(id_col).alias("rid"), F.col(block_col).alias("k"))
    s1 = b1.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    ok1 = s1.filter((F.col("sz") >= 2) & (F.col("sz") <= cap)).select(
        F.col("k").alias(block_col),
        F.lit(1).cast("long").alias("depth"),
        F.col("sz").alias("block_size"),
        F.lit("ok").alias("status"),
    )
    oversized = s1.filter(F.col("sz") > cap).select("k")
    b2 = (
        b1.join(oversized, "k")
        .join(
            b1.select(F.col("rid").alias("rid"), F.col("k").alias("k2")),
            "rid",
        )
        .filter(F.col("k2") != F.col("k"))
        .select("rid", F.concat_ws("|", "k", "k2").alias("k"))
    )
    s2 = b2.groupBy("k").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    ok2 = s2.filter(F.col("sz") >= 2).select(
        F.col("k").alias(block_col),
        F.lit(2).cast("long").alias("depth"),
        F.col("sz").alias("block_size"),
        F.when(F.col("sz") > cap, F.lit("over"))
        .otherwise(F.lit("split"))
        .alias("status"),
    )
    return ok1.unionByName(ok2)


def ppjoin_pairs(
    records: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Prefix-filtered set-similarity join at Jaccard >= 1/2 (PPJoin's
    prefix filter, Xiao et al. WWW'08) — the EXACT complement to MinHash:
    LSH banding trades false negatives for speed, the prefix filter has
    NONE. Under a global rarest-first token order, two sets with
    J(x,y) >= t MUST share a token inside each other's length-``|x| −
    ⌈t·|x|⌉ + 1`` prefix, so only prefix-token collisions are candidates;
    every candidate is then verified with the exact integer Jaccard test
    ``3·|∩| >= |A|+|B|`` (⇔ J >= 1/2, no float).

    Rarest-first ordering (df asc, token asc) minimizes prefix collisions —
    the global token rank comes from ``ids.dense_ids`` (two-phase range
    partition, NOT a single-partition window over the vocabulary).

    Scale notes (100 TB): the candidate join is keyed on single prefix
    TOKENS — df-skew on common tokens is structurally bounded because
    common tokens sit at the END of the order and rarely enter prefixes
    (the whole point of rarest-first); vocabulary rank is vocab-scale,
    verification joins are record-keyed equi-joins on the pair list.

    Returns (record_id_a, record_id_b, n_inter, n_union, jaccard_ppm).
    """
    from blink_spark.functions.text import tokens
    from blink_spark.operators.ids import dense_ids

    tk = records.select(
        records[id_col].alias("record_id"),
        F.explode(tokens(records[text_col])).alias("tok"),
    )
    df_tbl = tk.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("df"))
    ranked = dense_ids(df_tbl, [F.col("df").asc(), F.col("tok").asc()], "trank")
    tkr = tk.join(ranked.select("tok", "trank"), "tok")
    w = Window.partitionBy("record_id").orderBy(F.col("trank").asc())
    pref = (
        tkr.select(
            "record_id",
            "tok",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("record_id")).alias("na"),
        )
        # prefix length for t = 1/2: na − ceil(na/2) + 1
        .filter(F.col("rn") <= F.expr("na - (na + 1) div 2 + 1"))
        .select("record_id", "tok")
    )
    cand = (
        pref.select(F.col("record_id").alias("a"), "tok")
        .join(pref.select(F.col("record_id").alias("b"), "tok"), "tok")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    arrs = records.select(
        records[id_col].alias("rid"), tokens(records[text_col]).alias("tk")
    )
    return (
        cand.join(arrs.select(F.col("rid").alias("a"), F.col("tk").alias("ta")), "a")
        .join(arrs.select(F.col("rid").alias("b"), F.col("tk").alias("tb")), "b")
        .select(
            F.col("a").alias("record_id_a"),
            F.col("b").alias("record_id_b"),
            F.size(F.array_intersect("ta", "tb")).cast("long").alias("n_inter"),
            (F.size("ta") + F.size("tb") - F.size(F.array_intersect("ta", "tb")))
            .cast("long")
            .alias("n_union"),
        )
        .filter(F.expr("3 * n_inter >= n_inter + n_union"))
        .select(
            "record_id_a",
            "record_id_b",
            "n_inter",
            "n_union",
            F.expr("(1000000 * n_inter) div n_union").cast("long").alias(
                "jaccard_ppm"
            ),
        )
    )


def suffix_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Suffix-array blocking (Aizawa & Oyama 2005): two records become
    candidates when any sufficiently-long SUFFIX of their space-stripped
    normalized surfaces collides — the classic blocker for prefix
    corruption (truncated first tokens, dropped honorifics, OCR damage at
    the string head), which token/phonetic/shingle blocks handle poorly
    because the intact evidence is the string TAIL.

    Keys: suffixes starting at positions 1..min(len − SUFFIX_MIN_LEN + 1,
    ``SUFFIX_MAX_KEYS``) — the length floor kills degenerate short keys, the
    position cap bounds the per-record fan-out (the 100-TB lever: blow-up is
    ≤ SUFFIX_MAX_KEYS×, independent of string length). Strings shorter than
    ``SUFFIX_MIN_LEN`` fall back to the whole string as their single key
    (the token_pair_blocks t1: convention). Suffixes of one record are
    distinct by construction (distinct start ⇒ distinct length).

    Scale shape: explode → one map-side-combinable groupBy for block
    sizes, cap-and-report (blocks > ``SUFFIX_MAX_BLOCK`` dropped whole —
    shared long tails like a common company suffix would otherwise go
    quadratic), then a key equi-join bounded by SUFFIX_MAX_BLOCK²/2 per
    block. Unlike
    phonetic_pairs the size table is NOT broadcast: suffix cardinality is
    O(total chars), so the cap filter stays a shuffle equi-join and AQE
    picks the strategy. Nested suffixes of the same pair collapse into one
    output row counting the collisions (deepest shared tail = strongest
    signal).

    Output: (record_id_a, record_id_b, n_shared_suffixes,
    longest_suffix_len) with record_id_a < record_id_b, once per pair.
    """
    from blink_spark.functions.text import normalize_text

    sfx = df.select(
        df[id_col].alias("record_id"),
        F.translate(normalize_text(df[text_col]), " ", "").alias("_s"),
    ).select(
        "record_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(least(length(_s) - {SUFFIX_MIN_LEN}"
                f" + 1, {SUFFIX_MAX_KEYS}), 1)), i -> substring(_s, i, {1 << 18}))"
            )
        ).alias("sfx"),
    )
    sizes = sfx.groupBy("sfx").agg(
        F.count(F.lit(1)).cast("long").alias("block_size")
    )
    capped = sfx.join(
        sizes.filter(
            (F.col("block_size") >= 2) & (F.col("block_size") <= SUFFIX_MAX_BLOCK)
        ),
        "sfx",
    )
    left = capped.select("sfx", F.col("record_id").alias("record_id_a"))
    right = capped.select("sfx", F.col("record_id").alias("record_id_b"))
    return (
        left.join(right, "sfx")
        .filter(F.col("record_id_a") < F.col("record_id_b"))
        .groupBy("record_id_a", "record_id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_suffixes"),
            F.max(F.length("sfx")).cast("long").alias("longest_suffix_len"),
        )
    )


def blocking_budget_frontier(
    records: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Pair-budget frontier for df-capped token blocking: for every
    candidate document-frequency cap (each observed df value), the
    cumulative token types kept and candidate pairs generated if the
    cap were set there — Σ_{df ≤ cap} C(df,2)·(#tokens at df). The
    largest cap still under ``PAIR_BUDGET`` is the data-driven setting
    the df-aware blocker should run with (the planning readout behind
    dynamic blocking's fixed cap: budget first, cap derived).

    Exact integers; cumulative counts via ONE shared two-phase running
    sum over the df-frequency table (df-value scale — tiny), never a
    global window. C(df,2)·n per df value stays in BIGINT while
    df²·n_tokens ≤ 1.8e19 (hot-token regime documented).

    Returns (df_cap, n_token_types, cum_token_types, cum_pairs,
    within_budget) ordered by df_cap ascending.
    """
    from blink_spark.functions.text import normalize_text
    from blink_spark.operators.ids import partitioned_running_sums

    tok = (
        records.select(
            F.col(id_col).alias("rid"),
            F.explode(
                F.array_distinct(
                    F.split(normalize_text(records[text_col]), " ")
                )
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    dfreq = tok.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    per_df = dfreq.groupBy("df").agg(
        F.count(F.lit(1)).cast("long").alias("n_token_types")
    ).withColumn(
        "pairs_here",
        F.expr("(df * (df - 1) div 2) * n_token_types").cast("long"),
    )
    cum = partitioned_running_sums(
        per_df,
        "df",
        {"cum_token_types": "n_token_types", "cum_pairs": "pairs_here"},
    )
    return cum.select(
        F.col("df").alias("df_cap"),
        "n_token_types",
        F.col("cum_token_types").cast("long"),
        F.col("cum_pairs").cast("long"),
        (F.col("cum_pairs") <= F.lit(PAIR_BUDGET)).alias("within_budget"),
    )
