"""Deduplication family for training-data pipelines (build-brief first-class
requirement): exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding-cosine.

All variants share the engine's blocking → pair → score → cluster spine; a
dedup method is just a (blocking strategy, match predicate) pair, so each
function here composes the existing operators rather than reimplementing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from blink_spark.functions.text import fingerprint, normalize_text, shingles
from blink_spark.operators.blocking import band_blocks, minhash_blocks, minhash_sig
from blink_spark.operators.cluster import assign_clusters
from blink_spark.operators.pairs import candidate_pairs, pairs_with_attrs
from blink_spark.operators.scoring import match_edges


# position field width inside the packed winnowing key: supports documents
# up to 2^21 = 2M normalized chars; h < 2^32, so pack < 2^53 (exact in BIGINT
# on both engines, and even in a double — the DuckDB-oracle safety margin).
WINNOW_POS_BITS = 21
# winnowing geometry: WINNOW_K-char grams, windows of WINNOW_W grams
WINNOW_K, WINNOW_W = 5, 4

# document MinHash geometry shared by minhash_dedup and minhash_calibration:
# DOC_BANDS bands of DOC_ROWS rows over DOC_SHINGLE_N-char shingles
DOC_BANDS, DOC_ROWS, DOC_SHINGLE_N = 4, 8, 7
# prefix_jaccard_pairs' Jaccard threshold, in ppm
PREFIX_JACCARD_PPM = 800_000
# edit_distance_pairs: Levenshtein bound and q-gram width
ED_MAX_DIST, ED_Q = 2, 3
# word n-gram width of duplicate_ngram_spans and ngram_novelty
NGRAM_N = 5
# semdedup's codebook size
SEMDEDUP_CELLS = 8


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Winnowing document fingerprints — the rolling-hash fingerprint scheme
    (Schleimer, Wilkerson, Aiken: "Winnowing: Local Algorithms for Document
    Fingerprinting", SIGMOD 2003; the MOSS algorithm).

    Rolling k-gram hashes (k = ``WINNOW_K``, w = ``WINNOW_W``) over the
    normalized text; every window of ``w`` consecutive hashes selects its
    RIGHTMOST MINIMUM; the distinct selected
    (position, hash) pairs are the document's fingerprints. Guarantees: any
    substring match of length >= w + k - 1 between two documents shares at
    least one fingerprint hash, and expected density is 2/(w+1) — the
    local, position-robust dedup key the flat sorted-token ``fingerprint``
    is not (reference analogue: the uniqueness keys of
    /root/reference/blink/main_dense.py:137, upgraded to excerpt-robust).

    Relational form (no UDF, one shuffle): the (id, norm) projection is
    hash-partitioned by id BEFORE the k-gram explode — docs shuffle once as
    compact rows, and the ~len(text)x larger exploded table inherits the
    partitioning, so the per-doc windows need only a partition-local sort.
    The rightmost-min-per-window selection is a single min() over a
    row-frame window of the packed key ``h * 2^21 + (2^21-1 - pos)``:
    lexicographically, min(pack) is (min hash, max position) — exactly the
    robust-winnowing tie rule — and the pack stays in whole-stage codegen.

    Returns distinct (record_id, fp_pos int, fp_hash long).
    """
    from blink_spark.functions.text import normalize_text

    k, w = WINNOW_K, WINNOW_W
    maxp = (1 << WINNOW_POS_BITS) - 1
    base = df.select(
        F.col(id_col).cast("string").alias("record_id"),
        normalize_text(df[text_col]).alias("norm"),
    ).repartition(F.col("record_id"))
    # enforce the documented position cap: beyond 2^21 chars the packed key's
    # position field would borrow from the hash bits and silently corrupt
    # fingerprints (on BOTH engines, so the oracle can't catch it) — fail
    # loudly instead; widen WINNOW_POS_BITS for multi-MB documents.
    base = base.withColumn(
        "norm",
        F.when(F.length("norm") <= F.lit(maxp), F.col("norm")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "winnow_fingerprints: normalized document longer than "
                        f"2^{WINNOW_POS_BITS}-1 chars (widen WINNOW_POS_BITS): "
                    ),
                    F.col("record_id"),
                )
            )
        ),
    )
    packed = base.select(
        "record_id",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("norm") - (k - 1), F.lit(1)))
        ).alias("pos"),
        "norm",
    ).select(
        "record_id",
        "pos",
        (
            F.conv(F.substring(F.md5(F.col("norm").substr(F.col("pos"), F.lit(k))), 1, 8), 16, 10)
            .cast("long")
            * (maxp + 1)
            + (F.lit(maxp) - F.col("pos"))
        ).alias("pack"),
    )
    sel_win = Window.partitionBy("record_id").orderBy("pos").rowsBetween(
        Window.currentRow, w - 1
    )
    sel = packed.select(
        "record_id",
        "pos",
        F.min("pack").over(sel_win).alias("sel"),
        F.count("*").over(Window.partitionBy("record_id")).alias("m"),
    )
    return (
        # keep only rows where a window STARTS (pos <= m-w+1; a doc shorter
        # than w k-grams is one truncated window starting at 1)
        sel.filter(F.col("pos") <= F.greatest(F.col("m") - (w - 1), F.lit(1)))
        .select(
            "record_id",
            (F.lit(maxp) - F.col("sel").bitwiseAND(F.lit(maxp))).cast("int").alias("fp_pos"),
            F.shiftright("sel", WINNOW_POS_BITS).alias("fp_hash"),
        )
        .distinct()
    )


def winnow_excerpt_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Excerpt-duplicate pairs via shared winnowed fingerprints — the
    blocking MinHash cannot provide: a short excerpt inside a long document
    has LOW Jaccard with its container, so MinHash bands rarely collide,
    while winnowing guarantees the shared substring contributes shared
    fingerprints regardless of what surrounds it (the plagiarism-detection
    use the scheme was designed for).

    Plan: distinct per-doc fingerprint hashes → per-hash document
    frequency via a count window (ONE shuffle on fp_hash, whose partitioning
    feeds the self-join below with no further exchange — the candidate_pairs
    trick) → stop-fingerprints (df > 64, boilerplate shared by everything)
    dropped so per-hash pair work is bounded by 64² → pairs sharing >= 3
    fingerprints → verified by asymmetric word-bigram containment
    |A∩B| / min(|A|,|B|) >= 0.8.

    Returns (record_id_a, record_id_b, n_shared, containment).
    """
    from blink_spark.functions.text import word_ngrams

    fph = (
        winnow_fingerprints(df, id_col, text_col)
        .select("record_id", "fp_hash")
        .distinct()
    )
    sized = fph.withColumn(
        "dfh", F.count("*").over(Window.partitionBy("fp_hash"))
    )
    kept = sized.filter(F.col("dfh") <= 64)
    a = kept.select("fp_hash", F.col("record_id").alias("record_id_a"))
    b = kept.select("fp_hash", F.col("record_id").alias("record_id_b"))
    shared = (
        a.join(b, "fp_hash")
        .filter(F.col("record_id_a") < F.col("record_id_b"))
        .groupBy("record_id_a", "record_id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )
    recs = df.select(
        F.col(id_col).cast("string").alias("record_id"),
        word_ngrams(df[text_col], 2).alias("grams"),
    )
    attrs = pairs_with_attrs(shared, recs, "record_id", ["grams"])
    inter = F.size(F.array_intersect("grams_a", "grams_b")).cast("double")
    mn = F.least(F.size("grams_a"), F.size("grams_b"))
    return attrs.select(
        "record_id_a",
        "record_id_b",
        "n_shared",
        F.round(inter / F.greatest(mn, F.lit(1)), 6).alias("containment"),
    ).filter(F.col("containment") >= 0.8)


def simhash_relational(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(record_id, sh): 60-bit token SimHash via explode + 60 conditional-sum
    aggregates, so it stays in whole-stage codegen: per-bit array filters
    over a token array would be interpreted CodegenFallback HOFs. Each bit
    is the majority vote over distinct-token hash bits."""
    from blink_spark.functions.hashing import _hash16
    from blink_spark.functions.text import tokens

    tok = (
        df.select(F.col(id_col).cast("string").alias("record_id"),
                  F.explode(tokens(df[text_col])).alias("tok"))
        .dropDuplicates(["record_id", "tok"])
        .withColumn("h", _hash16(F.col("tok"), 99))
    )
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"c{b}")
        for b in range(60)
    ]
    per = tok.groupBy("record_id").agg(*aggs)
    sh = None
    for b in range(60):
        term = F.when(F.col(f"c{b}") * 2 > F.col("n"), F.lit(1 << b)).otherwise(
            F.lit(0)
        ).cast("long")
        sh = term if sh is None else sh + term
    return per.select("record_id", sh.alias("sh"))


def minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """MinHash-LSH near-dup clustering: band-bucket blocking, exact
    shingle-Jaccard verification (>= 0.8), CC. The verification step makes LSH a
    candidate generator, not the decision — false band collisions are
    filtered by the true Jaccard."""
    recs = df.select(
        F.col(id_col).cast("string").alias("record_id"),
        df[text_col].alias("text"),
        shingles(df[text_col], n=DOC_SHINGLE_N).alias("sh"),
    ).persist()
    blocks = minhash_blocks(
        recs, "record_id", "text",
        bands=DOC_BANDS, rows=DOC_ROWS, shingle_n=DOC_SHINGLE_N,
    ).select("block_key", "record_id")
    pairs, _ = candidate_pairs(blocks)
    attrs = pairs_with_attrs(pairs, recs, "record_id", ["sh"])
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    scored = attrs.withColumn(
        "shingle_jaccard", F.round(F.when(union > 0, inter / union).otherwise(0.0), 6)
    ).withColumn("is_match", F.col("shingle_jaccard") >= 0.8)
    # assign_clusters materializes the edge set eagerly (CC localCheckpoint),
    # so both caches can be released before returning; the returned frame
    # only re-reads recs' pruned id column.
    out = assign_clusters(recs, "record_id", match_edges(scored))
    blocks.unpersist()  # candidate_pairs persisted it
    recs.unpersist()
    return out


SIMHASH_BITS = 60


def simhash_band_splits(max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) per band such that recall is GUARANTEED at the given
    radius: ``max_hamming + 1`` bands partitioning the 60 signature bits —
    by pigeonhole, any pair within hamming <= max_hamming agrees exactly on
    at least one whole band. (4 bands of 15 bits guarantee radius 3 only;
    radius 8 needs 9 bands — the round-1 default silently mixed the two.)"""
    n_bands = max_hamming + 1
    assert 1 <= n_bands <= SIMHASH_BITS
    base, extra = divmod(SIMHASH_BITS, n_bands)
    splits, off = [], 0
    for b in range(n_bands):
        width = base + (1 if b < extra else 0)
        splits.append((off, width))
        off += width
    return splits


def simhash_band_cols(sh_col, max_hamming: int):
    """One block-key Column per band: '<b>:<band bits>'."""
    return [
        F.concat(
            F.lit(f"{b}:"),
            F.shiftright(sh_col, off).bitwiseAND(F.lit((1 << width) - 1)).cast("string"),
        )
        for b, (off, width) in enumerate(simhash_band_splits(max_hamming))
    ]


def prefix_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (the AllPairs/PPJoin
    family, Bayardo et al. WWW'07): every pair of documents whose distinct
    token sets have Jaccard >= t (``PREFIX_JACCARD_PPM``), with ZERO false
    negatives — the exact-guarantee complement to the MinHash/SimHash paths,
    whose recall is only probabilistic.

    Prefix principle: order each doc's distinct tokens canonically by
    (corpus df asc, token asc) — rarest first — and keep only the first
    ``n - ceil(t*n) + 1`` as its PREFIX. Two sets with Jaccard >= t must
    share at least one prefix token, so the candidate join runs
    prefix-to-prefix: hot (frequent) tokens are structurally excluded from
    prefixes, which is what bounds the join fan-out at corpus scale.
    Candidates are then verified with the exact integer test
    ``inter * 1e6 >= t_ppm * (na + nb - inter)`` — no float Jaccard in the
    keep decision.

    Returns (a, b, inter, na, nb, jac) with a < b, jac rounded to 6 dp.

    Shape at 100 TB: one token-keyed shuffle for the df table, one
    doc-keyed rank window, a prefix-token equi-join (prefix length is
    (1-t)*n + 1 — a handful of RARE tokens per doc), and a token-level
    verification join restricted to surviving candidate pairs. No cross
    join, no LSH tuning, deterministic output.
    """
    from blink_spark.functions.text import tokens

    toks = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    df_tbl = toks.groupBy("tok").agg(F.count("*").alias("df"))
    ranked = (
        toks.join(df_tbl, "tok")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("doc").orderBy(
                    F.col("df").asc(), F.col("tok").asc()
                )
            ),
        )
        .withColumn("n", F.count("*").over(Window.partitionBy("doc")))
    )
    # prefix length = n - ceil(t*n) + 1, all integer:
    # ceil(t_ppm*n/1e6) = (t_ppm*n + 999999) div 1e6
    plen = F.expr(f"n - (({PREFIX_JACCARD_PPM} * n + 999999) div 1000000) + 1")
    prefix = ranked.filter(F.col("rnk") <= plen).select("doc", "tok", "n")
    cand = (
        prefix.alias("x")
        .join(prefix.alias("y"), "tok")
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("a"),
            F.col("y.doc").alias("b"),
            F.col("x.n").alias("na"),
            F.col("y.n").alias("nb"),
        )
        .distinct()
    )
    ta = toks.select(F.col("doc").alias("a"), "tok")
    tb = toks.select(F.col("doc").alias("b"), "tok")
    inter = (
        cand.join(ta, "a")
        .join(tb, ["b", "tok"])
        .groupBy("a", "b", "na", "nb")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    kept = inter.filter(
        F.col("inter") * F.lit(1_000_000)
        >= F.lit(PREFIX_JACCARD_PPM) * (F.col("na") + F.col("nb") - F.col("inter"))
    )
    return kept.select(
        "a",
        "b",
        "inter",
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        F.round(
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")),
            6,
        ).alias("jac"),
    )


def edit_distance_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT edit-distance similarity join via q-gram prefix filtering (the
    Ed-Join family, Xiao et al. VLDB'08): every pair of records whose
    normalized texts are within ``d = ED_MAX_DIST`` Levenshtein operations
    (``q = ED_Q``), with
    ZERO false negatives — typo-class duplicates that token/Jaccard joins
    miss (a one-char edit changes no token-set member count enough) and
    phonetic keys only approximate.

    Filter stack, each exact:
    1. q-gram prefix filter — one edit destroys at most ``q`` distinct
       q-grams, so strings within ``d`` share all but ``d·q`` of the longer
       side's grams; ordering grams rarest-first (corpus df asc, gram asc)
       means any such pair must collide inside the first ``d·q + 1`` grams
       of each side (records with fewer grams emit them all, which covers
       short-vs-long pairs).
    2. both-short pairs (``n_grams ≤ d·q`` on both sides, where the gram
       bound is vacuous) go through a LENGTH-BAND equi-join instead: a
       pair within distance d differs by at most d in length, so the right
       side replicates to the 2d+1 bands around its length — bounded
       fan-out, no cross join.
    3. candidates pass ``|len_a − len_b| ≤ d`` and are verified with the
       built-in JVM ``levenshtein`` — only survivors are emitted.

    Texts shorter than ``q`` contribute the whole string as their single
    gram; any edit may replace it entirely, which is exactly the
    both-short case and is covered by the band join.

    Returns (record_id_a, record_id_b, lev_dist) with a < b.

    Shape at 100 TB: one gram-keyed shuffle for the df table, one
    record-keyed rank window, a prefix equi-join on RARE grams (hot grams
    are structurally excluded), a short-strings band equi-join (2d+1
    replication), then a verify projection on the surviving pairs only.
    """
    from blink_spark.functions.text import normalize_text

    d, q = ED_MAX_DIST, ED_Q
    plen = d * q + 1
    norm = normalize_text(docs[text_col])
    base = docs.select(
        docs[id_col].alias("rid"),
        norm.alias("norm"),
        F.length(norm).alias("len"),
    )
    # relationalized gram stream (HOFs are CodegenFallback): explode the
    # start positions, substring in codegen, distinct per (rid, gram).
    # len < q collapses to one start position whose substring is the whole
    # string — the single-gram semantics the both-short path expects.
    grams = (
        base.select(
            "rid",
            "len",
            "norm",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.col("len") - (q - 1), F.lit(1))
                )
            ).alias("i"),
        )
        .select("rid", "len", F.expr(f"substring(norm, i, {q})").alias("g"))
        .distinct()
    )
    df_tbl = grams.groupBy("g").agg(F.count("*").alias("df"))
    ranked = (
        grams.join(df_tbl, "g")
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("rid").orderBy(F.col("df").asc(), F.col("g").asc())
            ),
        )
        .withColumn("n_grams", F.count("*").over(Window.partitionBy("rid")))
    )
    prefix = ranked.filter(F.col("rnk") <= plen).select(
        "rid", "g", "len", "n_grams"
    )
    cand_long = (
        prefix.alias("x")
        .join(prefix.alias("y"), "g")
        .filter(
            (F.col("x.rid") < F.col("y.rid"))
            # at least one side long: the gram bound holds for the pair
            & ((F.col("x.n_grams") > d * q) | (F.col("y.n_grams") > d * q))
        )
        .select(
            F.col("x.rid").alias("record_id_a"),
            F.col("y.rid").alias("record_id_b"),
        )
    )
    shorts = ranked.filter(F.col("n_grams") <= d * q).select("rid", "len").distinct()
    s_left = shorts.select(
        F.col("rid").alias("record_id_a"), F.col("len").alias("band")
    )
    s_right = shorts.select(
        F.col("rid").alias("record_id_b"),
        F.explode(
            F.sequence(F.col("len") - d, F.col("len") + d)
        ).alias("band"),
    )
    cand_short = (
        s_left.join(s_right, "band")
        .filter(F.col("record_id_a") < F.col("record_id_b"))
        .select("record_id_a", "record_id_b")
    )
    cand = cand_long.unionByName(cand_short).distinct()
    na = base.select(
        F.col("rid").alias("record_id_a"),
        F.col("norm").alias("norm_a"),
        F.col("len").alias("len_a"),
    )
    nb = base.select(
        F.col("rid").alias("record_id_b"),
        F.col("norm").alias("norm_b"),
        F.col("len").alias("len_b"),
    )
    return (
        cand.join(na, "record_id_a")
        .join(nb, "record_id_b")
        .filter(F.abs(F.col("len_a") - F.col("len_b")) <= d)
        .withColumn("lev_dist", F.levenshtein("norm_a", "norm_b").cast("long"))
        .filter(F.col("lev_dist") <= d)
        .select("record_id_a", "record_id_b", "lev_dist")
    )


def line_dedup_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Cross-document LINE-level exact dedup statistics — the CCNet /
    RefinedWeb paragraph-dedup unit (Wenzek et al. 2020 dedups normalized
    lines corpus-wide; Penedo et al. 2023 reports the removed mass): per
    document, how many of its normalized non-empty lines are NOT the
    corpus's first occurrence of that line content, plus the character
    mass those duplicate lines carry. Boilerplate headers/footers shared
    across a site dominate this measure, which chunk-level dedup
    (``chunk_dedup_stats``, fixed 16-token windows) deliberately ignores.

    First occurrence = smallest (doc_id, line_pos) packed into one BIGINT
    (doc_id * 2^20 + pos) so a plain integer min window elects it
    identically in both engines; blank-after-normalization lines are
    excluded (they would "duplicate" everywhere). Docs with ≥ 2^20 lines
    fail fast instead of corrupting the pack.

    Shape at 100 TB: zero-shuffle line explode → ONE line-hash-keyed
    window (the unavoidable content shuffle of exact dedup) → doc-keyed
    aggregation. No joins, no collect; skew is bounded by the most
    repeated boilerplate line — the thing being measured.

    Output: doc_id, n_lines, n_dup_lines, dup_line_frac (round 6),
    n_line_chars, dup_char_ppm (integer ppm of normalized char mass).
    """
    from blink_spark.functions.text import normalize_text

    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).select(
        "doc_id", "pos", normalize_text(F.col("line")).alias("norm")
    ).filter(F.length("norm") > 0)
    # guard BOTH pack fields: pos >= 2^20 or doc_id >= 2^43 would wrap the
    # long multiply silently in Spark while DuckDB raises — fail loudly on
    # both engines instead (the er_ari/winnow overflow discipline)
    pack = F.when(
        (F.col("pos") < F.lit(1 << 20))
        & (F.col("doc_id").cast("long") < F.lit(1 << 43)),
        F.col("doc_id") * F.lit(1 << 20) + F.col("pos"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "line_dedup_stats: (doc_id, line pos) overflows the "
                    "packed key for doc "
                ),
                F.col("doc_id").cast("string"),
            )
        )
    )
    marked = lines.select(
        "doc_id",
        F.length("norm").cast("long").alias("nchars"),
        F.md5("norm").alias("line_hash"),
        pack.alias("pk"),
    ).select(
        "doc_id",
        "nchars",
        (F.col("pk") != F.min("pk").over(Window.partitionBy("line_hash")))
        .alias("is_dup"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.count(F.when(F.col("is_dup"), F.lit(1)))
            .cast("long")
            .alias("n_dup_lines"),
            F.sum("nchars").cast("long").alias("n_line_chars"),
            F.sum(F.when(F.col("is_dup"), F.col("nchars")).otherwise(F.lit(0)))
            .cast("long")
            .alias("dup_chars"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_dup_lines",
            F.round(
                F.col("n_dup_lines").cast("double") / F.col("n_lines"), 6
            ).alias("dup_line_frac"),
            "n_line_chars",
            F.expr("(1000000 * dup_chars) div greatest(n_line_chars, 1)")
            .cast("long")
            .alias("dup_char_ppm"),
        )
    )


def minhash_calibration(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash estimator calibration over the LSH-blocked candidate pairs:
    per signature-agreement level, how far the sketch estimate
    (agreeing slots / k) sits from the TRUE shingle Jaccard — the error
    table an operator reads before trusting a signature width / threshold
    choice (Broder's estimator is unbiased with sd ~ sqrt(j(1-j)/k); this
    measures the realized error on the corpus, including banding bias).

    Same blocks and pairs as ``minhash_dedup`` (``band_blocks`` over the
    bands x rows ``minhash_sig``, ``candidate_pairs``), so the measured
    pairs are exactly the pairs the dedup path would verify. All
    quantities exact integer ppm with floor means — no float enters the
    parity surface.

    Shape: signature + shingle set computed once per doc; the LSH pair
    generation of ``candidate_pairs``, one attribute join per side, one
    33-row aggregation. Slot agreement is a sum of k codegen comparisons;
    null-safe, so two NULL texts (all-NULL signatures) agree on every slot.

    Output: n_equal_slots, n_pairs, mean_true_ppm, mean_abs_err_ppm,
    max_abs_err_ppm.
    """
    k = DOC_BANDS * DOC_ROWS
    recs = df.select(
        F.col(id_col).cast("string").alias("record_id"),
        F.col(text_col).alias("text"),
        shingles(df[text_col], n=DOC_SHINGLE_N).alias("sh"),
    )
    slots = [f"s{i}" for i in range(k)]
    # localCheckpoint (eager, GC-owned — cache-hygiene rule): the signature
    # feeds the band keys and both sides of the pair attribute join; without
    # it the per-shingle explode and min aggregate run once per consumer.
    base = recs.join(
        minhash_sig(recs, "record_id", "text", k, DOC_SHINGLE_N), "record_id"
    ).select("record_id", "sh", *slots).localCheckpoint()
    blocks = band_blocks(base, DOC_BANDS, DOC_ROWS)
    pairs, _ = candidate_pairs(blocks)
    attrs = pairs_with_attrs(pairs, base, "record_id", ["sh", *slots])
    n_eq = sum(
        F.col(f"{c}_a").eqNullSafe(F.col(f"{c}_b")).cast("long") for c in slots
    )
    per = attrs.select(
        n_eq.alias("n_equal_slots"),
        F.expr(
            "(1000000 * size(array_intersect(sh_a, sh_b)))"
            " div greatest(size(array_distinct(concat(sh_a, sh_b))), 1)"
        ).cast("long").alias("true_ppm"),
    ).withColumn(
        "est_ppm", F.expr(f"(1000000 * n_equal_slots) div {k}").cast("long")
    ).withColumn("abs_err", F.abs(F.col("est_ppm") - F.col("true_ppm")))
    out = (
        per.groupBy("n_equal_slots")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("sum(true_ppm) div count(*)").cast("long").alias(
                "mean_true_ppm"
            ),
            F.expr("sum(abs_err) div count(*)").cast("long").alias(
                "mean_abs_err_ppm"
            ),
            F.max("abs_err").cast("long").alias("max_abs_err_ppm"),
        )
    )
    blocks.unpersist()  # candidate_pairs persisted it; base stays checkpointed
    return out


def duplicate_ngram_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Maximal cross-document duplicated word-n-gram spans (n = ``NGRAM_N``)
    —
    the relational
    form of exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better": suffix-array ExactSubstr, recast as
    gram-hash document-frequency counting + gaps-and-islands interval merge).
    Complements ``winnow_fingerprints``: winnowing samples a sparse
    fingerprint set for candidate detection; this reports the exact token
    extent of every shared passage (the part you'd actually cut).

    Reference analogue: the reference dedups training mentions by exact
    context-window equality (/root/reference/blink/biencoder/data_process.py
    builds fixed windows and drops exact repeats); this generalizes that to
    arbitrary-length shared passages across documents.

    Scale notes (100 TB): one shuffle keyed by the 16-byte gram hash for the
    document-frequency count (partial aggregation applies — per-partition
    distinct collapses before the exchange), one shuffle keyed by doc for
    the per-doc windows (bounded partitions: a doc's own token count). No
    suffix array, no sort of the global token stream, no Python in the plan.

    Returns one row per maximal duplicated span:
    (record_id, span_start, span_end, n_dup_grams) — token offsets, 0-based
    inclusive. Spans are the merged extents of duplicated-gram starts whose
    [pos, pos + n - 1] windows overlap OR touch, so two duplicated passages
    shared with DIFFERENT partner docs coalesce when token-adjacent: every
    token in the span is covered by some gram in >= 2 docs, but interior
    gram STARTS between two touching islands need not themselves be
    duplicated (``n_dup_grams`` counts the starts that are).
    """
    n = NGRAM_N
    grams = word_ngram_hashes(docs, id_col, text_col, n)
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct("record_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    hits = grams.join(dup, "gh").select("record_id", "pos")
    w = Window.partitionBy("record_id").orderBy("pos")
    # gaps-and-islands: two starts merge when their [pos, pos+n-1] extents
    # overlap or touch, i.e. pos <= prev_max_pos + n
    prev_end = (
        F.max("pos").over(w.rowsBetween(Window.unboundedPreceding, -1)) + (n - 1)
    )
    marked = hits.withColumn(
        "brk", F.when(F.col("pos") <= prev_end + 1, F.lit(0)).otherwise(F.lit(1))
    )
    island = F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        marked.withColumn("island", island)
        .groupBy("record_id", "island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + (n - 1)).cast("int").alias("span_end"),
            F.count("*").alias("n_dup_grams"),
        )
        .drop("island")
    )


def word_ngram_hashes(
    docs: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """Positional word-n-gram md5 stream (record_id, pos, gh) — shared gram
    builder for exact-substring spans and novelty profiling. Per-doc lead
    windows (doc-keyed partitions, codegen); no HOF array folds."""
    toks = docs.select(
        F.col(id_col).alias("record_id"),
        F.split(normalize_text(text_col), " ").alias("tk"),
    ).select(
        "record_id", F.size("tk").alias("m"), F.posexplode("tk").alias("pos", "tok")
    )
    w = Window.partitionBy("record_id").orderBy("pos")
    gram_parts = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, n)]
    return (
        toks.withColumn("gram", F.concat_ws(" ", *gram_parts))
        .filter(F.col("pos") <= F.col("m") - n)
        .select("record_id", "pos", F.md5("gram").alias("gh"))
    )


def ngram_novelty(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document n-gram novelty profile (n = ``NGRAM_N``): the share of a
    doc's distinct
    word-n-grams whose corpus-FIRST occurrence (minimum record id — the
    deterministic "earlier document" order) is this document. The curation
    signal behind novelty-ordered data mixing: low-novelty docs restate
    what earlier corpus already covers (boilerplate, syndication), and the
    corpus-level novelty curve flattens exactly where incremental crawl
    stops adding information.

    Same corpus-first election as ``line_dedup_stats`` (min over the gram
    group), at gram rather than line granularity. Scale notes (100 TB): one
    gram-keyed shuffle for the min-id election (partial agg applies), one
    doc-keyed count — no window over the global gram stream.

    Docs with fewer than ``n`` tokens emit no grams and no row (documented:
    novelty is undefined for them).

    Returns (record_id, n_grams, n_novel, novelty_ppm) — distinct-gram
    counts, ppm in BIGINT floor division.
    """
    g = (
        word_ngram_hashes(docs, id_col, text_col, NGRAM_N)
        .select("record_id", "gh")
        .distinct()
    )
    first = g.groupBy("gh").agg(F.min("record_id").alias("first_id"))
    return (
        g.join(first, "gh")
        .groupBy("record_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("record_id") == F.col("first_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "record_id",
            "n_grams",
            "n_novel",
            F.expr("(1000000 * n_novel) div n_grams").alias("novelty_ppm"),
        )
    )


def semdedup(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "q",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by clustering the
    embedding space into ``SEMDEDUP_CELLS`` cells, finding near-duplicate
    pairs WITHIN each cell (cosine >= 0.95), and keeping ONE representative
    per duplicate group — the member with the LOWEST cosine to its cell
    centroid (the paper's keep rule: retain the least prototypical example;
    it preserves diversity where random-keep would not). Cross-cell
    near-dups are missed by construction — the paper's own stated
    approximation.

    Deterministic codebook: the lowest-id vectors (the ``ivf_topk``
    convention — bit-reproducible on any engine). Assignment is the
    shuffle-free literal-codebook argmax fold; all cosines are exact
    integer dots over quantized embeddings with one sqrt/divide on identical
    doubles, rounded to 6 — the established cross-engine parity surface.

    Scale notes (100 TB): cell assignment is one projection (no join, no
    Exchange); the within-cell pair join is an equi-join on cid whose cost
    is sum(cell²) — at real scale n_cells grows with the corpus (SemDeDup
    uses ~10k clusters for LAION) precisely to bound cells, the same
    block-size discussion as candidate_pairs; per-record norms are hoisted
    so each pair does one dot, not three. The dup graph is far smaller
    than the corpus (only pairs >= 0.95), so CC runs on the match edges
    only; the keep window partitions by dup group (bounded by cell size).

    Returns (``id_col``, cid, group_id, cos_centroid, keep).
    """
    from blink_spark.functions.hashing import int_dot
    from blink_spark.operators.ann import assign_cells
    from blink_spark.operators.cluster import connected_components

    def _cos(dot: F.Column, n2a: F.Column, n2b: F.Column) -> F.Column:
        denom = F.sqrt(n2a.cast("double")) * F.sqrt(n2b.cast("double"))
        return F.round(
            F.when(denom > 0, dot.cast("double") / denom).otherwise(F.lit(0.0)), 6
        )

    from blink_spark.functions.hashing import cosine_exact

    scorer = lambda a, b: F.round(cosine_exact(a, b), 6)  # noqa: E731
    it = vectors.select(F.col(id_col).alias("item_id"), F.col(vec_col).alias("iv"))
    cents = (
        it.orderBy(F.col("item_id").asc())
        .limit(SEMDEDUP_CELLS)
        .select(F.col("item_id").alias("cid"), F.col("iv").alias("cv"))
    )
    assigned = assign_cells(it, cents, scorer)
    wc = (
        assigned.join(F.broadcast(cents), "cid")
        .select(
            "item_id",
            "iv",
            "cid",
            scorer(F.col("iv"), F.col("cv")).alias("cos_centroid"),
            int_dot("iv", "iv").alias("n2"),
        )
        .localCheckpoint()  # one pass feeds both pair sides + the output
    )
    a = wc.select(
        F.col("item_id").alias("ia"), F.col("iv").alias("va"),
        F.col("n2").alias("n2a"), "cid",
    )
    b = wc.select(
        F.col("item_id").alias("ib"), F.col("iv").alias("vb"),
        F.col("n2").alias("n2b"), "cid",
    )
    dup_edges = (
        a.join(b, "cid")
        .filter(F.col("ia") < F.col("ib"))
        .select(
            F.col("ia").alias("src"),
            F.col("ib").alias("dst"),
            _cos(int_dot("va", "vb"), F.col("n2a"), F.col("n2b")).alias("cos"),
        )
        .filter(F.col("cos") >= F.lit(0.95))
        .select("src", "dst")
    )
    comp = connected_components(dup_edges).withColumnRenamed(
        "record_id", "item_id"
    )
    grouped = wc.join(comp, "item_id", "left").select(
        "item_id",
        "cid",
        "cos_centroid",
        F.coalesce("cluster_id", "item_id").alias("group_id"),
    )
    w = Window.partitionBy("group_id").orderBy(
        F.col("cos_centroid").asc(), F.col("item_id").asc()
    )
    return grouped.select(
        F.col("item_id").alias(id_col),
        "cid",
        "group_id",
        "cos_centroid",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def dedup_ensemble_report(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multi-strategy dedup ensemble report — er_blocking_ensemble's
    question asked of the DEDUP stack: which near-duplicate pairs does each
    detector contribute EXCLUSIVELY, and where do they agree? Strategies:
    ``exact`` (fingerprint star pairs: every member to its group min — the
    linear pair set CC induces, never the quadratic all-pairs), ``minhash``
    (4×4 char-3-shingle LSH bands, exact integer shingle-Jaccard >= 1/2
    verify: ``3·|∩| >= |A|+|B|``), ``simhash`` (pigeonhole bands, exact
    hamming <= 3). A pair only one strategy finds is that
    strategy's reason to exist; pairs all three find are the safe core.

    Scale notes (100 TB): each strategy is its production shape (keyed
    partial aggs, band equi-joins, star pairs); the flag table is one
    (a,b)-keyed agg over the union of found pairs (≪ corpus²); the final
    4-row readout is a one-row scalar finalize exploded per strategy (the
    fs_weights pattern).

    Returns (strategy, n_pairs, n_exclusive, n_in_all) for the three
    strategies plus a 'union' row (n_exclusive there counts single-strategy
    pairs; n_in_all the three-way core).
    """
    from blink_spark.functions.hashing import hamming64

    d = docs.select(
        F.col(id_col).cast("long").alias("id"), F.col(text_col).alias("text")
    )
    # exact: star pairs to the group minimum
    fp = d.select("id", fingerprint("text").alias("fp"))
    root = fp.groupBy("fp").agg(F.min("id").alias("root"))
    p_exact = (
        fp.join(root, "fp")
        .filter(F.col("id") != F.col("root"))
        .select(
            F.col("root").alias("a"),
            F.col("id").alias("b"),
            F.lit("exact").alias("strategy"),
        )
    )
    # minhash: 4x4 band candidates + exact integer shingle-jaccard >= 1/2
    bands = minhash_blocks(d, "id", "text").select(
        F.col("record_id").alias("id"), F.col("block_key").alias("bk")
    )
    cand = (
        bands.select(F.col("id").alias("a"), "bk")
        .join(bands.select(F.col("id").alias("b"), "bk"), "bk")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sh = d.select("id", shingles("text", 3).alias("sh"))
    p_minhash = (
        cand.join(sh.select(F.col("id").alias("a"), F.col("sh").alias("sha")), "a")
        .join(sh.select(F.col("id").alias("b"), F.col("sh").alias("shb")), "b")
        .filter(
            F.lit(3) * F.size(F.array_intersect("sha", "shb"))
            >= F.size("sha") + F.size("shb")
        )
        .select("a", "b", F.lit("minhash").alias("strategy"))
    )
    # simhash: pigeonhole bands + exact hamming verify
    shs = (
        simhash_relational(d, "id", "text")
        .select(F.col("record_id").cast("long").alias("id"), "sh")
        .localCheckpoint()
    )
    sbanded = shs.select(
        "id",
        "sh",
        F.explode(F.array(*simhash_band_cols(F.col("sh"), 3))).alias("band"),
    )
    p_simhash = (
        sbanded.select(F.col("id").alias("a"), F.col("sh").alias("sha"), "band")
        .join(
            sbanded.select(F.col("id").alias("b"), F.col("sh").alias("shb"), "band"),
            "band",
        )
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", hamming64("sha", "shb").alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= 3)
        .select("a", "b", F.lit("simhash").alias("strategy"))
    )
    flags = (
        p_exact.unionByName(p_minhash)
        .unionByName(p_simhash)
        .groupBy("a", "b")
        .agg(
            F.max(F.when(F.col("strategy") == "exact", 1).otherwise(0)).alias("fe"),
            F.max(F.when(F.col("strategy") == "minhash", 1).otherwise(0)).alias(
                "fm"
            ),
            F.max(F.when(F.col("strategy") == "simhash", 1).otherwise(0)).alias(
                "fs"
            ),
        )
        .withColumn("n_strats", F.col("fe") + F.col("fm") + F.col("fs"))
    )
    one = flags.agg(
        F.count(F.lit(1)).cast("long").alias("u_pairs"),
        F.sum(F.when(F.col("n_strats") == 1, 1).otherwise(0))
        .cast("long")
        .alias("u_excl"),
        F.sum(F.when(F.col("n_strats") == 3, 1).otherwise(0))
        .cast("long")
        .alias("u_all"),
        F.sum("fe").cast("long").alias("e_pairs"),
        F.sum(F.when((F.col("fe") == 1) & (F.col("n_strats") == 1), 1).otherwise(0))
        .cast("long")
        .alias("e_excl"),
        F.sum("fm").cast("long").alias("m_pairs"),
        F.sum(F.when((F.col("fm") == 1) & (F.col("n_strats") == 1), 1).otherwise(0))
        .cast("long")
        .alias("m_excl"),
        F.sum("fs").cast("long").alias("s_pairs"),
        F.sum(F.when((F.col("fs") == 1) & (F.col("n_strats") == 1), 1).otherwise(0))
        .cast("long")
        .alias("s_excl"),
    )
    rows = one.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("exact").alias("strategy"),
                    F.col("e_pairs").alias("n_pairs"),
                    F.col("e_excl").alias("n_exclusive"),
                    F.col("u_all").alias("n_in_all"),
                ),
                F.struct(
                    F.lit("minhash").alias("strategy"),
                    F.col("m_pairs").alias("n_pairs"),
                    F.col("m_excl").alias("n_exclusive"),
                    F.col("u_all").alias("n_in_all"),
                ),
                F.struct(
                    F.lit("simhash").alias("strategy"),
                    F.col("s_pairs").alias("n_pairs"),
                    F.col("s_excl").alias("n_exclusive"),
                    F.col("u_all").alias("n_in_all"),
                ),
                F.struct(
                    F.lit("union").alias("strategy"),
                    F.col("u_pairs").alias("n_pairs"),
                    F.col("u_excl").alias("n_exclusive"),
                    F.col("u_all").alias("n_in_all"),
                ),
            )
        ).alias("s")
    )
    return rows.select("s.strategy", "s.n_pairs", "s.n_exclusive", "s.n_in_all")


# packed-word width for the relational Bloom bitmap: 62 bits keeps every
# word value < 2^62, so 1 << bit never touches the BIGINT sign bit on
# either engine (DuckDB raises on signed overflow where Spark would wrap)
BLOOM_WORD_BITS = 62
BLOOM_M_BITS = 4096


def bloom_novelty(
    reference: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bloom-filter novelty check of an incoming snapshot against a
    reference corpus — the membership primitive an at-scale ingest pipeline
    runs BEFORE any pairwise dedup (Bloom 1970; the CCNet/Dolma "have we
    seen this page" gate): 3 deterministic md5-derived probe positions into
    ``BLOOM_M_BITS`` bits per order-insensitive document fingerprint; a
    document whose every probe bit is set is *possibly seen* (exact
    duplicates are NEVER missed — no false negatives by construction),
    anything else is certainly novel.

    Relational bitmap, no driver state: the reference's set bits are packed
    into 62-bit words (``pos div 62`` → ``bit_or(1 << pos % 62)``), so the
    filter is a table of at most ``BLOOM_M_BITS/62`` rows — for a
    1e9-document reference at 1% FP (m ≈ 1.2e10) that is ~190M words ≈ 3 GB,
    a plain shuffle equi-join; at fixture m it is AQE-broadcast. Probes join
    on the word index only (no inequality, no crossJoin) and the verdict is
    a per-(doc, fp) bool_and. The exact-duplicate flag (for the
    false-positive readout) is one more fp equi-join against the distinct
    reference fingerprints. The reference scan is read twice (words + exact
    side) rather than checkpointed — both reads reduce immediately to
    distinct fingerprints, and at 100 TB a localCheckpoint of an n-row table
    would cost more than the second pruned column scan.

    Returns (doc_id, bloom_hit, exact_dup, verdict) per incoming document,
    verdict ∈ {true_dup, false_positive, novel}.
    """
    W = BLOOM_WORD_BITS

    def _probes(df: DataFrame) -> DataFrame:
        probed = df.select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(2))).alias("i"),
        )
        pos = F.conv(
            F.substring(
                F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("fp"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long") % F.lit(BLOOM_M_BITS)
        return (
            probed.withColumn("pos", pos)
            .withColumn("word_idx", F.expr(f"pos div {W}"))
            .withColumn("bit", (F.col("pos") % W).cast("int"))
        )

    ref_fp = reference.select(
        fingerprint(reference[text_col]).alias("fp")
    ).distinct()
    words = (
        _probes(ref_fp)
        .groupBy("word_idx")
        .agg(F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).alias("w"))
    )
    inc = incoming.select(
        F.col(id_col).alias("doc_id"),
        fingerprint(incoming[text_col]).alias("fp"),
    )
    hits = (
        _probes(inc)
        .join(words, "word_idx", "left")
        .groupBy("doc_id", "fp")
        .agg(
            F.bool_and(
                F.col("w").isNotNull()
                & (F.expr("shiftright(w, bit) & CAST(1 AS BIGINT)") == 1)
            ).alias("bloom_hit")
        )
    )
    return (
        hits.join(ref_fp.withColumn("is_ref", F.lit(True)), "fp", "left")
        .select(
            "doc_id",
            "bloom_hit",
            F.coalesce("is_ref", F.lit(False)).alias("exact_dup"),
            F.when(F.coalesce("is_ref", F.lit(False)), F.lit("true_dup"))
            .when(F.col("bloom_hit"), F.lit("false_positive"))
            .otherwise(F.lit("novel"))
            .alias("verdict"),
        )
    )


def cross_source_dup_matrix(
    df: DataFrame, id_col: str, text_col: str, source_col: str
) -> DataFrame:
    """Cross-source exact-duplicate matrix: for every unordered pair of
    sources, how many bag-of-words fingerprints they share and how many
    duplicate document PAIRS that implies — the provenance readout a
    corpus curator reads before dropping a source ("is crawl-B just a
    mirror of crawl-A?") and the dedup planner reads to decide which
    source pairs need the expensive near-dup pass at all (reference
    analogue: the per-source uniqueness accounting around
    /root/reference/blink/main_dense.py:137, lifted to pairs of sources).

    Same-source cells count within-source pairs C(c,2); cross-source
    cells count c_a*c_b (every duplicate crosses the boundary). Exact
    BIGINT arithmetic throughout.

    Scale shape: one (fp, source) partial-agg shuffle, then a self
    equi-join on fp over the aggregated table — per-fp group sizes are
    #distinct sources at most, so the join fan-out is bounded by
    sources^2 per fingerprint, never by document count; the output is a
    #sources x #sources matrix. No windows, no crossJoin.
    """
    counts = (
        df.select(
            fingerprint(df[text_col]).alias("fp"),
            F.col(source_col).alias("src"),
        )
        .groupBy("fp", "src")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    a = counts.select("fp", F.col("src").alias("src_a"), F.col("c").alias("c_a"))
    b = counts.select("fp", F.col("src").alias("src_b"), F.col("c").alias("c_b"))
    per_fp = (
        a.join(b, "fp")
        .filter(F.col("src_a") <= F.col("src_b"))
        .select(
            "src_a",
            "src_b",
            F.when(
                F.col("src_a") == F.col("src_b"),
                F.expr("(c_a * (c_a - 1)) div 2"),
            )
            .otherwise(F.expr("c_a * c_b"))
            .cast("long")
            .alias("n_pairs"),
        )
        .filter(F.col("n_pairs") > 0)
    )
    return per_fp.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_fp_shared"),
        F.sum("n_pairs").cast("long").alias("n_dup_pairs"),
    )


# normalization ladder shared by both engines: name -> (spark column fn,
# DuckDB sql expr over placeholder {c}). Spark patterns go through the
# PYTHON column API, not F.expr — SQL string-literal escape handling would
# silently mangle '\x0B'. Each tier strictly coarsens the previous one, so
# duplicate yield is monotone — the readout a dedup pipeline uses to decide
# how aggressive its canonical form should be.
NORM_LADDER = [
    ("raw", lambda c: F.col(c), "{c}"),
    ("casefold", lambda c: F.lower(F.col(c)), "lower({c})"),
    (
        "ws_collapse",
        lambda c: F.trim(
            F.regexp_replace(F.lower(F.col(c)), "[\t\n\x0B\f\r ]+", " ")
        ),
        "trim(regexp_replace(lower({c}), '[\t\n\x0B\f\r ]+', ' ', 'g'))",
    ),
    (
        "alnum_only",
        lambda c: F.regexp_replace(F.lower(F.col(c)), "[^a-z0-9]+", ""),
        "regexp_replace(lower({c}), '[^a-z0-9]+', '', 'g')",
    ),
]


def norm_ladder_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Normalization-ladder duplicate yield: exact-duplicate counts at
    four successively coarser canonical forms (raw → casefold →
    whitespace-collapse → alphanumeric-only) — each tier's EXTRA
    duplicates quantify what that normalization step alone buys, which
    is how a dedup pipeline picks its canonical form (too coarse merges
    distinct docs, too fine misses trivial variants). Tiers strictly
    coarsen, so n_distinct is non-increasing down the ladder — emitted
    so the monotonicity is itself a checkable invariant.

    Scale notes: per tier one md5-fingerprint partial agg (value scale)
    + a one-row finalize; the ladder is a 4-row union. No joins.

    Returns (tier, tier_rank, n_docs, n_distinct, n_dup_rows).
    """
    out = None
    for rank, (name, spark_fn, _sql) in enumerate(NORM_LADDER):
        fp = docs.select(F.md5(spark_fn(text_col)).alias("fp"))
        per = fp.groupBy("fp").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        row = per.agg(
            F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.coalesce(F.sum(F.expr("CASE WHEN c > 1 THEN c END")), F.lit(0))
            .cast("long")
            .alias("n_dup_rows"),
        ).select(
            F.lit(name).alias("tier"),
            F.lit(rank).cast("long").alias("tier_rank"),
            "n_docs",
            "n_distinct",
            "n_dup_rows",
        )
        out = row if out is None else out.unionByName(row)
    return out
