"""Corpus-level statistics and sampling operators for training-data pipelines.

Gopher-style repetition filters, TF-IDF-style salient-term extraction and
deterministic stratified domain sampling — the pretraining-data curation
family next to the dedup operators (reference quality-filter analogue:
/root/reference/blink/candidate_retrieval/data_ingestion.py:118-155 filters
documents by token statistics before ingestion; these operators generalize
that to corpus-scale quality/repetition/sampling decisions).

Scale notes (100 TB):
- ``repetition_features`` relationalizes every n-gram count as
  posexplode → one per-doc Window (lead chain) → a single stacked
  (doc, kind, gram) aggregation feeding one conditional doc-level agg.
  Spark HOF folds are interpreted (CodegenFallback), so gram construction
  stays in codegen via ``lead``; all three granularities share the one
  window pass and two keyed shuffles — no join-backs, no skew (per-doc
  cardinality is bounded by doc length), no collect.
- ``tfidf_top_terms`` computes the global document-frequency table with one
  token-keyed shuffle and joins it back; the df table is vocabulary-sized
  (≪ corpus) and AQE will broadcast it when small. The per-doc top-k is a
  doc-keyed window over per-doc-distinct tokens. Ranking is integer-only
  (tf desc, df asc, term asc) — no float log whose last-ulp could differ
  across engines or hardware.
- ``stratified_sample`` is a pure projection + filter (zero shuffles): the
  keep decision is ``md5(doc_id) % 1e6 < threshold(source)``, deterministic
  and reproducible across runs/cluster sizes, with per-stratum thresholds
  derived from md5(source) so adding a stratum never reshuffles others
  (the standard hash-sampling property salt-and-hash samplers rely on).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from blink_spark.functions.text import normalize_text, tokens

# curation_pipeline keeps a document when its md5 sample draw (ppm) is
# below CURATION_SAMPLE_PPM
CURATION_SAMPLE_PPM = 800_000
# top-V vocabulary vocab_coverage elects
VOCAB_SIZE = 16
# pack_sequences: tokens per training sequence, shards per stratum
PACK_BUDGET = 128
PACK_SHARDS = 4
# mix_plan's total training-token budget
MIX_BUDGET_TOKENS = 25_000
# dsir_weights' bigram hash buckets
DSIR_BUCKETS = 1024
# domain_keyness ignores tokens in fewer than KEYNESS_MIN_DF documents
KEYNESS_MIN_DF = 3
# heaps_fit samples at most HEAPS_MAX_POINTS points
HEAPS_MAX_POINTS = 64
# zipf_fit fits the ZIPF_TOP_R most frequent tokens
ZIPF_TOP_R = 100
# chunk_windows' chunk length, in tokens
CHUNK_SIZE = 16


def _hex_long(col: Column, n_hex: int) -> Column:
    """First ``n_hex`` hex digits of an md5 as a non-negative long
    (DuckDB-portable: ('0x' || substr(md5(x), 1, n))::BIGINT)."""
    return F.conv(F.substring(col, 1, n_hex), 16, 10).cast("long")


def _token_stream(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, pos, tok) rows of the normalized whitespace tokens,
    duplicates preserved (counts matter for repetition measures)."""
    toks = F.split(normalize_text(text_col), " ")
    return docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )


def repetition_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition/quality features per document.

    Columns (all ratios rounded to 6 dp):
    - ``ttr``             distinct tokens / total tokens (type-token ratio)
    - ``top_token_frac``  occurrences of the most frequent token / tokens
    - ``top_2gram_frac``  occurrences of the most frequent word bigram /
                          bigram count
    - ``dup_5gram_frac``  fraction of 5-gram occurrences whose gram occurs
                          more than once in the document

    Ties for "most frequent" resolve to the lexicographically largest gram
    (struct-max on (count, gram)), keeping the result deterministic.
    """
    t = _token_stream(docs, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    seq = t.select(
        "doc_id",
        "tok",
        *[F.lead("tok", i).over(w).alias(f"nxt{i}") for i in range(1, 5)],
    )

    # One window pass feeds all three granularities via a stack (unigram /
    # bigram / 5-gram rows share ONE keyed aggregation instead of a window
    # recomputation + per-granularity shuffle + join-back each).
    grams = seq.select(
        "doc_id",
        F.stack(
            F.lit(3),
            F.lit("tok"),
            F.col("tok"),
            F.lit("bg"),
            F.when(
                F.col("nxt1").isNotNull(), F.concat_ws(" ", "tok", "nxt1")
            ),
            F.lit("fg"),
            F.when(
                F.col("nxt4").isNotNull(),
                F.concat_ws(" ", "tok", "nxt1", "nxt2", "nxt3", "nxt4"),
            ),
        ).alias("kind", "gram"),
    ).filter(F.col("gram").isNotNull())

    gc = grams.groupBy("doc_id", "kind", "gram").agg(F.count("*").alias("c"))

    def _k(kind: str) -> Column:
        return F.col("kind") == kind

    agg = gc.groupBy("doc_id").agg(
        F.sum(F.when(_k("tok"), F.col("c"))).alias("n_toks"),
        F.count(F.when(_k("tok"), F.lit(1))).alias("n_types"),
        F.max(F.when(_k("tok"), F.struct("c", "gram"))).alias("top"),
        F.coalesce(F.sum(F.when(_k("bg"), F.col("c"))), F.lit(0)).alias("n_bg"),
        F.max(F.when(_k("bg"), F.struct("c", "gram"))).alias("top_bg"),
        F.coalesce(F.sum(F.when(_k("fg"), F.col("c"))), F.lit(0)).alias("n_fg"),
        F.coalesce(
            F.sum(F.when(_k("fg") & (F.col("c") >= 2), F.col("c"))), F.lit(0)
        ).alias("dup_fg"),
    )

    return agg.select(
        "doc_id",
        F.round(F.col("n_types").cast("double") / F.col("n_toks"), 6).alias("ttr"),
        F.round(F.col("top.c").cast("double") / F.col("n_toks"), 6).alias(
            "top_token_frac"
        ),
        F.round(
            F.coalesce(F.col("top_bg.c"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_bg"), F.lit(1)),
            6,
        ).alias("top_2gram_frac"),
        F.round(
            F.col("dup_fg").cast("double") / F.greatest(F.col("n_fg"), F.lit(1)), 6
        ).alias("dup_5gram_frac"),
    )


def tfidf_top_terms(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document top-3 salient terms by a tf-idf-style integer rank.

    Rank order is (tf desc, df asc, term asc): a term beats another when it
    is more frequent in the doc, then rarer in the corpus, then smaller
    lexicographically. This is the tf-idf ordering without the float
    ``log(N/df)`` (which is monotone-decreasing in df for fixed N, so the
    top-k set per tf tie-class is identical) — and it hash-matches across
    engines because every compared value is an integer or a string.
    """
    tc = (
        _token_stream(docs, id_col, text_col)
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df_tbl = tc.groupBy("tok").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("tok").asc()
    )
    return (
        tc.join(df_tbl, "tok")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", F.col("tok").alias("term"), "tf", "df", "rank")
    )


def curation_pipeline(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Composed training-data curation — the canonical 100 TB cleaning job:
    length floor (>= 5 tokens) AND repetition floor (Gopher-style: type-token
    ratio >= 0.3, duplicated-5-gram fraction <= 0.5) AND exact-duplicate
    keeper election AND deterministic hash downsampling, in one plan.

    Returns the kept documents with their quality features
    (doc_id, n_toks, ttr, dup_5gram_frac). Every stage is a composition of
    the operators in this module plus the exact-dup fingerprint; the whole
    job is scan → two doc-keyed aggregations (features) → one fp-keyed
    window (keeper election) → narrow filters. Deterministic end to end:
    re-running on any subset keeps exactly the rows the full run kept,
    except keeper election which is corpus-relative by design (the kept
    copy of a duplicate group depends on which copies are present).
    """
    from blink_spark.functions.text import fingerprint, normalize_text

    feats = repetition_features(docs, id_col, text_col)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(normalize_text(text_col), " ")).alias("n_toks"),
        fingerprint(text_col).alias("fp"),
        (
            _hex_long(
                F.md5(F.concat(F.lit("cur:"), F.col(id_col).cast("string"))), 8
            )
            % F.lit(1_000_000)
        ).alias("smp"),
    )
    keeper = F.min("doc_id").over(Window.partitionBy("fp"))
    return (
        base.withColumn("keeper", keeper)
        .join(feats, "doc_id")
        .filter(
            (F.col("n_toks") >= 5)
            & (F.col("ttr") >= 0.3)
            & (F.col("dup_5gram_frac") <= 0.5)
            & (F.col("doc_id") == F.col("keeper"))
            & (F.col("smp") < CURATION_SAMPLE_PPM)
        )
        .select("doc_id", "n_toks", "ttr", "dup_5gram_frac")
    )


def chunk_windows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-size token chunks (training-sequence
    construction). Returns (doc_id, chunk_idx, start_pos, n_chunk_toks,
    chunk_hash); the last chunk per doc is ragged.

    Pure narrow projection — ``sequence`` + ``explode`` + ``slice`` over the
    token array, zero shuffles — so at 100 TB this is a map-only pass that
    AQE never has to re-plan. ``chunk_hash`` (md5 of the space-joined chunk)
    makes the output joinable against chunk-level dedup/decontamination
    without re-materializing chunk text.
    """
    size = CHUNK_SIZE
    toks = F.split(normalize_text(text_col), " ")
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("tk"))
    n_chunks_last = ((F.size("tk") - F.lit(1)) / F.lit(size)).cast("int")
    chunk = F.slice("tk", F.col("ci") * size + 1, size)
    return (
        base.select(
            "doc_id", "tk",
            F.explode(F.sequence(F.lit(0), n_chunks_last)).alias("ci"),
        )
        .select(
            "doc_id",
            F.col("ci").cast("long").alias("chunk_idx"),
            (F.col("ci") * size).cast("long").alias("start_pos"),
            F.size(chunk).cast("long").alias("n_chunk_toks"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
    )


def vocab_coverage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer-coverage analysis: elect the top-``VOCAB_SIZE`` corpus
    vocabulary (by total count desc, token asc — deterministic ties), then
    report each document's out-of-vocabulary token count and fraction.

    Shape at scale: one token-keyed shuffle for the global counts, a
    ``TakeOrderedAndProject`` for the top-V election (V is small by
    definition — no global sort materializes), a broadcast hash probe of the
    vocabulary against the token stream, and one doc-keyed aggregation.
    The corpus-sized stream is never shuffled by token for the probe.
    """
    t = _token_stream(docs, id_col, text_col)
    counts = t.groupBy("tok").agg(F.count("*").alias("c"))
    vocab = (
        counts.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(VOCAB_SIZE)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        t.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.count(F.when(F.col("in_vocab").isNull(), F.lit(1))).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_toks",
            "n_oov",
            F.round(F.col("n_oov").cast("double") / F.col("n_toks"), 6).alias(
                "oov_frac"
            ),
        )
    )


def lm_perplexity(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style statistical-LM quality scoring: train an add-one-smoothed
    bigram model on the corpus itself and score every document by its
    perplexity under that model — the classic "does this read like the rest
    of the corpus" filter (low ppl = fluent/typical, high ppl = noise)
    (reference quality-gate analogue:
    /root/reference/blink/candidate_retrieval/data_ingestion.py:118-155
    filters documents on token statistics before ingestion; this is the
    distribution-aware generalization CCNet applies at web scale).

    Cross-engine float parity per the house rule (never float-sum): each
    bigram TYPE's log-probability ``ln((cb+1)/(cu+V))`` is quantized ONCE in
    the model table to micro-nats (``floor(x*1e6)::BIGINT``), so the per-doc
    aggregation sums exact integers; only the final
    ``ppl = exp(-sum/(n*1e6))`` touches floats, on identical integer inputs
    in both engines (libm 1-ulp differences land ~1e-9 below the 6-dp
    rounding grid).

    Shape at 100 TB: one window pass builds the bigram stream (doc-keyed,
    same shuffle the repetition features ride); the model tables are
    vocabulary²-bounded (≪ corpus) — one (tok,nxt)-keyed and one tok-keyed
    aggregation — and join back onto the stream where AQE broadcasts them
    when small; the smoothing denominator V is a one-row scalar broadcast
    (the bm25-idf pattern). With a PRE-trained model table the corpus side
    never shuffles by token at all — only the doc-keyed window and the final
    doc-keyed agg remain.
    """
    t = _token_stream(docs, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = t.select("doc_id", "tok", F.lead("tok", 1).over(w).alias("nxt")).filter(
        F.col("nxt").isNotNull()
    )
    bgc = bg.groupBy("tok", "nxt").agg(F.count("*").alias("cb"))
    ctx = bg.groupBy("tok").agg(F.count("*").alias("cu"))
    vocab = t.agg(F.countDistinct("tok").alias("v"))
    model = (
        bgc.join(ctx, "tok")
        .crossJoin(F.broadcast(vocab))
        .select(
            "tok",
            "nxt",
            F.floor(
                F.log(
                    (F.col("cb") + F.lit(1)).cast("double")
                    / (F.col("cu") + F.col("v")).cast("double")
                )
                * F.lit(1000000.0)
            )
            .cast("long")
            .alias("logp_micro"),
        )
    )
    scored = (
        bg.join(model, ["tok", "nxt"])
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("logp_micro").cast("long").alias("sum_logp_micro"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "sum_logp_micro",
        F.round(
            F.exp(
                -F.col("sum_logp_micro").cast("double")
                / (F.col("n_bigrams").cast("double") * F.lit(1000000.0))
            ),
            6,
        ).alias("ppl"),
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """Greedy next-fit sequence packing: within each (stratum, shard), walk
    documents in doc_id order and append each to the current training
    sequence until its token budget (``PACK_BUDGET``) would overflow, then
    open a new one.
    Returns (doc_id, stratum, shard, seq_id, n_toks).

    Packing is inherently sequential (the bin a doc lands in depends on every
    prior doc), so it runs as a grouped ``applyInPandas`` — the standard
    hierarchical-packing factoring: shard BOUNDS the group (``PACK_SHARDS``
    scales with corpus size so each group fits one task), and packing quality
    is unaffected because next-fit never looks across bins anyway. The only
    shuffle is the (stratum, shard) grouping; state per task is O(1).
    Oversized docs (n_toks > budget) get a sequence of their own rather than
    being dropped — budget enforcement is the chunker's job, not the packer's.
    """
    import pandas as pd

    budget, n_shards = PACK_BUDGET, PACK_SHARDS
    sid = F.col(id_col).cast("string")
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(strata_col).alias("stratum"),
        (_hex_long(F.md5(F.concat(F.lit("pk:"), sid)), 8) % n_shards).alias("shard"),
        F.size(F.split(normalize_text(text_col), " ")).cast("long").alias("n_toks"),
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        seq_ids = []
        seq, acc = 0, 0
        for n in pdf["n_toks"]:
            if seq == 0 or acc + n > budget:
                seq += 1
                acc = int(n)
            else:
                acc += int(n)
            seq_ids.append(seq)
        pdf["seq_id"] = pd.Series(seq_ids, dtype="int64")
        return pdf[["doc_id", "stratum", "shard", "seq_id", "n_toks"]]

    return base.groupBy("stratum", "shard").applyInPandas(
        _pack,
        "doc_id long, stratum string, shard long, seq_id long, n_toks long",
    )


def chunk_dedup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document span-level exact dedup (the "Deduplicating Training
    Data Makes Language Models Better" finding, at fixed-chunk granularity):
    per document, how many of its ``CHUNK_SIZE``-token chunks are NOT the
    corpus's first occurrence of that chunk content — the repeated-span mass
    a span-level deduper would cut, measured without cutting anything.

    First occurrence = the smallest (doc_id, chunk_idx), packed into one
    BIGINT (``doc_id * 2^20 + chunk_idx``) so a plain integer ``min`` window
    elects it identically in both engines. Intra-document repeats count as
    duplicates too — span dedup removes those as well. Docs longer than
    2^20 chunks fail fast (raise_error) rather than silently corrupting the
    pack; ids above 2^43 would need a wider pack.

    Shape at 100 TB: the zero-shuffle chunker feeds ONE chunk-hash-keyed
    window (the unavoidable content-key shuffle of any exact dedup) and a
    doc-keyed aggregation. No joins, no collect; skew is bounded by the most
    repeated chunk, which is exactly the thing being measured.
    """
    ch = chunk_windows(docs, id_col, text_col)
    pack = F.when(
        F.col("chunk_idx") < F.lit(1 << 20),
        F.col("doc_id") * F.lit(1 << 20) + F.col("chunk_idx"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("chunk_dedup_stats: chunk_idx overflows the pack for doc "),
                F.col("doc_id").cast("string"),
            )
        )
    )
    owner = F.min("pk").over(Window.partitionBy("chunk_hash"))
    marked = ch.select("doc_id", "chunk_hash", pack.alias("pk")).select(
        "doc_id", (F.col("pk") != owner).alias("is_dup")
    )
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.count(F.when(F.col("is_dup"), F.lit(1))).cast("long").alias("n_dup_chunks"),
    ).select(
        "doc_id",
        "n_chunks",
        "n_dup_chunks",
        F.round(
            F.col("n_dup_chunks").cast("double") / F.col("n_chunks"), 6
        ).alias("dup_chunk_frac"),
    )


def mix_plan(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """Domain-mixing plan (the DoReMi-style reweighting step, uniform
    target):
    given a total training token budget (``MIX_BUDGET_TOKENS``), compute each
    stratum's deterministic sampling rate so every stratum contributes an equal
    share, capped at keep-everything for strata smaller than their share.

    Returns (stratum, n_docs, n_toks, rate_ppm, exp_toks) where
    ``rate_ppm = min(1e6, (budget div n_strata) * 1e6 div n_toks)`` and
    ``exp_toks = n_toks * rate_ppm div 1e6`` — all BIGINT, no floats, so the
    plan is reproducible and feeds ``stratified_sample`` thresholds directly.

    Overflow-safe at corpus scale: ``exp_toks`` is computed with the
    split-multiply identity ``(q*1e6 + r)*rate div 1e6 = q*rate +
    r*rate div 1e6`` (exact; every intermediate ≤ max(n_toks, 1e12)), and
    the rate product only evaluates on the uncapped branch where the
    per-stratum share is below the stratum's token count — shares above
    2^43 on that branch (a >9.2e12-token budget share) fail fast with
    raise_error rather than silently wrapping.

    Shape at 100 TB: one stratum-keyed aggregation over a narrow projection
    (the only corpus-sized shuffle), then a one-row scalar broadcast for the
    stratum count — the same bm25-idf scalar pattern. The plan table is
    strata-sized: tiny.
    """
    per = (
        docs.select(
            F.col(strata_col).alias("stratum"),
            F.size(F.split(normalize_text(text_col), " ")).cast("long").alias("nt"),
        )
        .groupBy("stratum")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_toks"),
        )
    )
    n_strata = per.agg(F.count("*").alias("ns"))
    share = F.expr(f"{MIX_BUDGET_TOKENS} div ns")
    rate = (
        F.when(share >= F.col("n_toks"), F.lit(1_000_000).cast("long"))
        .when(
            share <= F.lit(1 << 43),
            F.expr(f"(({MIX_BUDGET_TOKENS} div ns) * 1000000) div greatest(n_toks, 1)"),
        )
        .otherwise(
            F.raise_error(
                F.lit("mix_plan: per-stratum share exceeds 2^43 tokens")
            ).cast("long")
        )
    )
    return (
        per.crossJoin(F.broadcast(n_strata))
        .withColumn("rate_ppm", rate.cast("long"))
        .select(
            "stratum",
            "n_docs",
            "n_toks",
            "rate_ppm",
            F.expr(
                "(n_toks div 1000000) * rate_ppm"
                " + ((n_toks % 1000000) * rate_ppm) div 1000000"
            )
            .cast("long")
            .alias("exp_toks"),
        )
    )


def embedding_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    emb_col: str = "embedding",
) -> DataFrame:
    """Semantic outlier scoring for embedding-based curation (the
    SemDeDup-style pruning step): per-label centroid direction, per-vector
    cosine to it, and an ascending outlier rank within each label — rank 1
    is the label's farthest vector, the first candidate to prune or audit.

    Exact cross-engine parity, no floats until the final cosine: embeddings
    are micro-quantized (floor(v*1e6) → BIGINT), and the centroid is a
    division-free floor-average — ``(sum + n*2^20) div n − 2^20`` — where the
    non-negative shift makes truncating (Spark ``div``) and flooring (DuckDB
    ``//``) integer division agree. Requires components > −1.048 (any
    normalized embedding qualifies). Overflow headroom: |v|,|cv| ≤ ~1e6 so
    per-dim products ≤ 1e12 and 512-dim dots ≤ 5e14 < 2^53; label sums stay
    exact to ~1e9 vectors per label.

    Shape at 100 TB: explode → (label, dim) partial-agg (the only
    corpus-sized shuffle), broadcast of the labels×dims centroid table back
    onto the stream, per-vector aggregation, then a label-keyed rank window.
    The rank orders by the ROUNDED cosine (ties → vec_id) so both engines
    rank identical values.
    """
    from blink_spark.functions.hashing import quantize_emb

    q = emb.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        quantize_emb(emb_col).alias("q"),
    )
    ex = q.select("vec_id", "label", F.posexplode("q").alias("dim", "v"))
    cent = (
        ex.groupBy("label", "dim")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .select(
            "label",
            "dim",
            F.expr("(s + n * 1048576) div n - 1048576").alias("cv"),
        )
    )
    d = (
        ex.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("v") * F.col("cv")).alias("dot"),
            F.sum(F.col("v") * F.col("v")).alias("n2v"),
            F.sum(F.col("cv") * F.col("cv")).alias("n2c"),
        )
    )
    cos = F.when(
        (F.col("n2v") > 0) & (F.col("n2c") > 0),
        F.col("dot").cast("double")
        / (F.sqrt(F.col("n2v").cast("double")) * F.sqrt(F.col("n2c").cast("double"))),
    ).otherwise(F.lit(0.0))
    scored = d.select("vec_id", "label", F.round(cos, 6).alias("cos_centroid"))
    w = Window.partitionBy("label").orderBy(
        F.col("cos_centroid").asc(), F.col("vec_id").asc()
    )
    return scored.withColumn("outlier_rank", F.row_number().over(w).cast("long"))


def length_profile(
    docs: DataFrame,
    stratum_col: str = "source",
    value_col: str = "n_chars",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum length-distribution profile — the data-profiling report a
    curation run opens with (and re-checks after every filter stage): doc
    count, min/max and EXACT lower-quartile/median/upper-quartile of the
    value column.

    Quantiles are the deterministic discrete form: the value at sorted
    index ``floor((n-1)·q)`` with ties broken by id — pure integer window
    math, identical in both engines (Spark ``percentile_approx`` or
    DuckDB ``quantile_cont`` interpolation could never hash-match).

    Shape at 100 TB: one stratum-keyed shuffle feeding a window sort, then
    a per-stratum conditional aggregation. The per-stratum sort is the
    honest cost of EXACT quantiles — sorts spill, so it scales, but for
    sketch-grade profiling at extreme per-stratum cardinality you'd swap in
    percentile_approx (t-digest) and give up oracle parity.
    """
    w = Window.partitionBy("stratum").orderBy(F.col("v").asc(), F.col("id").asc())
    wc = Window.partitionBy("stratum")
    r = docs.select(
        F.col(stratum_col).alias("stratum"),
        F.col(value_col).cast("long").alias("v"),
        F.col(id_col).alias("id"),
    ).select(
        "stratum",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )

    def _q_at(num: int, den: int) -> Column:
        idx = F.expr(f"(n - 1) * {num} div {den}") + F.lit(1)
        return F.max(F.when(F.col("rn") == idx, F.col("v")))

    return r.groupBy("stratum").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.min("v").cast("long").alias("min_v"),
        _q_at(1, 4).cast("long").alias("p25"),
        _q_at(2, 4).cast("long").alias("p50"),
        _q_at(3, 4).cast("long").alias("p75"),
        F.max("v").cast("long").alias("max_v"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    4-gram with a held-out evaluation set.

    Returns (doc_id, n_shared_grams) for contaminated corpus docs. The eval
    gram set is broadcast — benchmark suites are small by construction
    (thousands of documents), so the corpus side is a map-side hash probe
    with no corpus-sized shuffle; the only shuffle is the per-doc count of
    an already-filtered (tiny) hit set. At 100 TB this is the shape you
    want: scan + broadcast semi-probe + sparse aggregation.

    Gram construction deliberately uses the ``word_ngrams`` array HOF even
    though Spark HOFs are interpreted (CodegenFallback): the relational
    lead-window form would Exchange the entire exploded corpus by doc_id
    just to build grams, destroying the no-corpus-shuffle property that
    makes this operator viable at scale. Interpreted-but-narrow beats a
    full shuffle here — the opposite trade from ``repetition_features``,
    whose aggregations need the per-doc shuffle anyway.
    """
    from blink_spark.functions.text import word_ngrams

    grams = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(text_col, 4)).alias("gram"),
    )
    eval_grams = (
        eval_docs.select(F.explode(word_ngrams(text_col, 4)).alias("gram")).distinct()
    )
    return (
        grams.join(F.broadcast(eval_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_grams"))
    )


def stratified_sample(
    docs: DataFrame,
    id_col: str = "doc_id",
    strata_col: str = "source",
) -> DataFrame:
    """Deterministic hash-based stratified sampling (domain mixing).

    Each row's sampling key is ``md5('smp:' || id) % 1e6`` — uniform, stable
    across runs and cluster sizes. Each stratum's keep-threshold (parts per
    million) is ``250000 + md5('rate:' || stratum) % 500001``, so every
    stratum gets a deterministic rate in [250000, 750001) ppm
    without a hand-maintained rate table. Pure narrow projection + filter:
    no shuffle, no state, re-runnable on any subset with identical decisions
    (the property that makes hash sampling composable with incremental
    ingestion).
    """
    sid = F.col(id_col).cast("string")
    bucket = _hex_long(F.md5(F.concat(F.lit("smp:"), sid)), 8) % F.lit(1_000_000)
    # 8 hex digits (2^32 range), not 4: a 4-digit window caps the hash at
    # 65535 and `% 500001` would never wrap for spreads above that,
    # silently shrinking the documented rate range.
    thr = F.lit(250_000) + _hex_long(
        F.md5(F.concat(F.lit("rate:"), F.col(strata_col))), 8
    ) % F.lit(500_001)
    return (
        docs.withColumn("smp_bucket", bucket)
        .withColumn("keep_thr", thr)
        .filter(F.col("smp_bucket") < F.col("keep_thr"))
        .select(
            F.col(id_col).alias("doc_id"),
            F.col(strata_col).alias("stratum"),
            "smp_bucket",
            "keep_thr",
        )
    )


# PII scrub patterns: (name, regex, replacement). The regex dialect is the
# RE2/Java COMMON SUBSET — no lookarounds, no \s (Java's includes \x0B,
# RE2's doesn't), explicit {m,n} quantifiers and ASCII classes only — so a
# DuckDB/Trino oracle replays the scrub byte-identically.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_scrub(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Count and redact PII spans (emails, IPv4s) — the curation stage every
    web-scale training corpus runs before anything else ships. Pure codegen:
    per-pattern counts via ``regexp_extract_all`` on the ORIGINAL text (so
    counts are independent of redaction order), then a sequential
    ``regexp_replace`` chain producing the clean text. Zero shuffles — a
    projection the scan fuses into; at 100 TB this is a map-only pass.

    Reference analogue: the ingestion pipeline strips markup/noise spans
    before indexing (/root/reference/blink/candidate_retrieval/
    data_ingestion.py:118-155); PII classes are the production counterpart.

    Output: input columns + ``n_<name>`` long per pattern + ``clean`` text.
    """
    t = docs[text_col]
    counts = [
        F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = t
    for _, pat, repl in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, repl)
    return docs.select(
        docs[id_col].alias("doc_id"), *counts, clean.alias("clean")
    )


def c4_filters(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """C4-style page/line cleaning (Raffel et al. 2020, §2.2): keep only
    lines that end in terminal punctuation AND have ≥ 3 words; flag pages
    containing ``{`` (code) or "lorem ipsum" (placeholder); require ≥ 3
    sentences in the retained text. Complements the Gopher repetition
    filters (statistical) with C4's structural rules — together they are
    the standard first-pass web-corpus cleaning stack.

    Shape: the per-line rules are relationalized (posexplode → codegen
    flags → one doc-keyed aggregation) rather than folded with interpreted
    higher-order functions; the retained text is rebuilt from a null-
    skipping ``collect_list(struct(pos, line))`` sorted per doc, so line
    order is exact and docs whose every line is dropped still emit a row.
    One shuffle (the doc-keyed agg), everything before it whole-stage
    codegen; page-level flags ride the group key.

    Exactness: the line test is a last-character IN-list + a space-split
    word count — no regex classes whose semantics differ across engines;
    sentence count is ``length − length(translate(text, '.!?', ''))``.
    """
    did = F.col(id_col)
    has_brace = F.col(text_col).contains("{")
    has_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    lines = docs.select(
        did.alias("doc_id"),
        has_brace.alias("has_brace"),
        has_lorem.alias("has_lorem"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    last = F.substring("line", -1, 1)
    kept = last.isin(".", "!", "?", '"') & (
        F.size(F.split("line", " ")) >= 3
    )
    agg = lines.groupBy("doc_id", "has_brace", "has_lorem").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_lines_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(kept, F.struct(F.col("pos"), F.col("line")))
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean"),
    )
    n_sent = (
        F.length("clean") - F.length(F.translate("clean", ".!?", ""))
    ).cast("long")
    return agg.select(
        "doc_id",
        "n_lines",
        "n_lines_kept",
        n_sent.alias("n_sentences"),
        "has_brace",
        "has_lorem",
        (
            ~F.col("has_brace") & ~F.col("has_lorem") & (n_sent >= 3)
        ).alias("keep"),
        F.length("clean").cast("long").alias("clean_len"),
        F.md5("clean").alias("clean_hash"),
    )


def dsir_weights(
    docs: DataFrame,
    is_target: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"): score
    every document by how much more likely its hashed-bigram features are
    under the TARGET distribution (rows where ``is_target``) than under the
    background — the standard way to up-sample domain-relevant web data
    into a training mix without a trained classifier.

    Model: bigram occurrences hash into ``DSIR_BUCKETS`` buckets
    (md5-derived, engine-portable); each bucket's weight is the add-one-
    smoothed log-likelihood ratio

        w(b) = ln((ct+1)/(Tt+B)) − ln((cb+1)/(Tb+B))

    quantized ONCE to integer micro-nats per the house float rule (each ln
    floored independently, so the per-doc aggregation sums exact BIGINTs);
    a document's score is the sum of its occurrences' bucket weights.

    Shape at 100 TB: one doc-keyed window builds the bigram stream (the
    same shuffle the repetition/perplexity features ride); the model is a
    ``DSIR_BUCKETS``-row aggregation (constant-size, broadcast back); totals
    are a one-row scalar crossJoin. With the hashed model pre-trained the
    corpus side is a pure map + one doc-keyed partial agg — the property
    that makes DSIR run as a side pass over an ingest scan.
    """
    t = _token_stream(docs, id_col, text_col)
    w = Window.partitionBy("doc_id").orderBy("pos")
    flags = docs.select(
        F.col(id_col).alias("doc_id"), is_target.alias("is_target")
    )
    occ = (
        t.select("doc_id", "tok", F.lead("tok", 1).over(w).alias("nxt"))
        .filter(F.col("nxt").isNotNull())
        .select(
            "doc_id",
            (
                _hex_long(
                    F.md5(F.concat(F.col("tok"), F.lit("\x1f"), F.col("nxt"))), 8
                )
                % F.lit(DSIR_BUCKETS)
            ).alias("bucket"),
        )
        .join(flags, "doc_id")
    )
    cnt = occ.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).cast("long").alias("ct"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).cast("long").alias("cb"),
    )
    tot = occ.agg(
        F.sum(F.when(F.col("is_target"), 1).otherwise(0)).cast("long").alias("tt"),
        F.sum(F.when(F.col("is_target"), 0).otherwise(1)).cast("long").alias("tb"),
    )
    model = cnt.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.floor(
                F.log(
                    (F.col("ct") + F.lit(1)).cast("double")
                    / (F.col("tt") + F.lit(DSIR_BUCKETS)).cast("double")
                )
                * F.lit(1000000.0)
            ).cast("long")
            - F.floor(
                F.log(
                    (F.col("cb") + F.lit(1)).cast("double")
                    / (F.col("tb") + F.lit(DSIR_BUCKETS)).cast("double")
                )
                * F.lit(1000000.0)
            ).cast("long")
        ).alias("w_micro"),
    )
    scored = (
        occ.join(model, "bucket")
        .groupBy("doc_id", "is_target")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("w_micro").cast("long").alias("dsir_micro"),
        )
    )
    return scored.select(
        "doc_id",
        "is_target",
        "n_bigrams",
        "dsir_micro",
        F.round(
            F.col("dsir_micro").cast("double")
            / (F.col("n_bigrams").cast("double") * F.lit(1000000.0)),
            6,
        ).alias("avg_w"),
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, §A1.1) — the word-statistic
    document filters next to the repetition filters (same paper, separate
    table): word count bounds, mean word length bounds, symbol-to-word
    ratio (# and ellipsis), fraction of words with an alphabetic
    character, and the ≥2-distinct-stopwords rule. The structural C4 rules
    and the statistical repetition rules are implemented separately
    (``c4_filters`` / ``repetition_features``); this completes the
    standard three-stage web-corpus quality stack.

    Shape: one posexplode over normalized words → codegen per-word flags →
    ONE doc-keyed aggregation (single shuffle). Ellipsis/hash counts are
    non-regex ``replace`` length deltas on the raw text (left-to-right
    non-overlapping in both engines); all ratios are exact integer ppm via
    positive floor division, so the oracle reproduces every boundary.

    Output: doc_id, n_words, mean_word_len_ppm, symbol_ratio_ppm,
    alpha_word_ppm, n_stopwords_distinct, keep.
    """
    did = F.col(id_col)
    norm = normalize_text(F.col(text_col))
    n_ellipsis = (
        (F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit("..."))))
        / 3
    ).cast("long")
    n_hash = (
        F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit("#")))
    ).cast("long")
    words = docs.select(
        did.alias("doc_id"),
        n_ellipsis.alias("n_ellipsis"),
        n_hash.alias("n_hash"),
        F.explode(F.split(norm, " ")).alias("w"),
    )
    flags = words.select(
        "doc_id",
        "n_ellipsis",
        "n_hash",
        F.length("w").alias("wlen"),
        F.col("w").rlike("[a-z]").alias("is_alpha"),
        F.when(F.col("w").isin(*GOPHER_STOPWORDS), F.col("w")).alias("sw"),
    )
    agg = flags.groupBy("doc_id", "n_ellipsis", "n_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum("wlen").cast("long").alias("n_word_chars"),
        F.sum(F.when(F.col("is_alpha"), 1).otherwise(0))
        .cast("long")
        .alias("n_alpha_words"),
        F.countDistinct("sw").cast("long").alias("n_stopwords_distinct"),
    )
    mean_len = F.expr("(1000000 * n_word_chars) div n_words")
    symbol = F.expr("(1000000 * (n_ellipsis + n_hash)) div n_words")
    alpha = F.expr("(1000000 * n_alpha_words) div n_words")
    return agg.select(
        "doc_id",
        "n_words",
        mean_len.cast("long").alias("mean_word_len_ppm"),
        symbol.cast("long").alias("symbol_ratio_ppm"),
        alpha.cast("long").alias("alpha_word_ppm"),
        "n_stopwords_distinct",
        (
            F.col("n_words").between(50, 100_000)
            & mean_len.between(3_000_000, 10_000_000)
            & (symbol <= 100_000)
            & (alpha >= 800_000)
            & (F.col("n_stopwords_distinct") >= 2)
        ).alias("keep"),
    )


def exact_quantiles(
    docs: DataFrame, value_col: Column | str, pcts: list[int]
) -> DataFrame:
    """Exact distributed percentiles with percentile_disc semantics (the
    smallest value whose cumulative count reaches ceil(p*N/100)) — the
    corpus-profiling statistic (token-length percentiles drive chunk-size
    and packing decisions) computed WITHOUT an approx sketch and WITHOUT a
    single-task global sort.

    Scale notes (100 TB): groupBy(value) collapses N rows to the distinct
    value count before anything ordered happens; the cumulative count is the
    range-partitioned two-phase running sum (ids.partitioned_running_sum —
    parallel shuffle, one tiny per-partition-prefix broadcast); the
    percentile/threshold table (len(pcts) rows) is broadcast against it.
    Total: one shuffle + one O(distinct-values) pass, where a naive global
    row_number() funnels all N rows through one task.

    Returns (pct, val) — val in the integer domain of ``value_col``.
    """
    from blink_spark.operators.ids import partitioned_running_sum

    c = F.col(value_col) if isinstance(value_col, str) else value_col
    vals = docs.select(c.cast("long").alias("val"))
    h = vals.groupBy("val").agg(F.count("*").alias("cnt"))
    cum = partitioned_running_sum(h, "val", "cnt", "cum")
    tot = h.agg(F.sum("cnt").alias("n"))
    p = docs.sparkSession.createDataFrame([(int(x),) for x in pcts], "pct int")
    thr = F.expr("cast((pct * n + 99) div 100 as bigint)")
    return (
        cum.crossJoin(F.broadcast(p.crossJoin(tot)))
        .filter(F.col("cum") >= thr)
        .groupBy("pct")
        .agg(F.min("val").alias("val"))
    )


def domain_keyness(
    docs: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain keyness table: the 10 tokens most over-represented in
    each domain relative to the whole corpus, by document-frequency lift —
    the domain-shift / data-mixing diagnostic a curation pipeline runs
    before deciding per-source sampling weights (which tokens make src X
    different from the mix ``mix_plan`` is about to compose).

    Lift is computed in two exact integer stages so NO intermediate
    exceeds ~1e15 at any corpus size (unlike a single
    ``a*n*1e6/(d_tot*t_tot)`` product, which overflows BIGINT past ~3M
    docs): ``rate_in_ppm = a*1e6 div d_tot`` (token's doc-frequency rate
    inside the domain), ``rate_all_ppm = t_tot*1e6 div n`` (corpus-wide
    rate), ``lift_ppm = rate_in_ppm*1e6 div max(rate_all_ppm, 1)``. The
    double rounding costs <= 1 ulp per stage, identically on both engines
    (integer div throughout, nonnegative operands). ``excess_milli`` =
    observed-minus-expected in-domain df in milli-docs, same regime.

    Tokens with global df < ``KEYNESS_MIN_DF`` are noise-suppressed. Rank
    order is (lift_ppm desc, rate_in_ppm desc, token asc) — fully
    deterministic.

    Scale notes (100 TB): distinct-token explode → (domain, token) partial
    agg; the global token table derives from it by a second partial agg on
    the token key; the domain totals and the corpus total are a
    |domains|-row broadcast and a one-row scalar crossJoin. The final
    top-k window partitions by domain over the (domains x vocab)-bounded
    keyness table, far smaller than the corpus. No driver collection.

    Returns (domain, term, df_domain, df_rest, lift_ppm, excess_milli,
    rank).
    """
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(domain_col).alias("domain"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    a_tbl = base.groupBy("domain", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("df_domain")
    )
    t_tot = a_tbl.groupBy("tok").agg(F.sum("df_domain").cast("long").alias("t_tot"))
    d_tot = docs.groupBy(F.col(domain_col).alias("domain")).agg(
        F.count(F.lit(1)).cast("long").alias("d_tot")
    )
    n = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    keyed = (
        a_tbl.join(t_tot, "tok")
        .filter(F.col("t_tot") >= KEYNESS_MIN_DF)
        .join(F.broadcast(d_tot), "domain")
        .crossJoin(F.broadcast(n))
        .withColumn("rate_in_ppm", F.expr("(df_domain * 1000000) div d_tot"))
        .withColumn("rate_all_ppm", F.expr("(t_tot * 1000000) div n"))
        .withColumn(
            "lift_ppm",
            F.expr("(rate_in_ppm * 1000000) div greatest(rate_all_ppm, 1)"),
        )
        .withColumn(
            "excess_milli",
            F.expr("df_domain * 1000 - (d_tot * rate_all_ppm) div 1000"),
        )
    )
    w = Window.partitionBy("domain").orderBy(
        F.col("lift_ppm").desc(), F.col("rate_in_ppm").desc(), F.col("tok").asc()
    )
    return (
        keyed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "domain",
            F.col("tok").alias("term"),
            "df_domain",
            (F.col("t_tot") - F.col("df_domain")).cast("long").alias("df_rest"),
            F.col("lift_ppm").cast("long").alias("lift_ppm"),
            F.col("excess_milli").cast("long").alias("excess_milli"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def stratified_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    strata_col: str = "source",
) -> DataFrame:
    """EXACT deterministic train/val/test split, stratified per stratum —
    the eval-hygiene counterpart of ``stratified_sample``: sampling tunes
    the corpus mix, this pins the holdout so no stratum leaks train rows
    into test when the corpus regenerates. Rows are ranked inside each
    stratum by ``md5('split:' || id)`` (a stable total order independent
    of ingestion order and cluster size); the first 80 percent by rank go
    to train, the next 10 to val, the rest to test.
    Boundaries are exact integer comparisons (``rank * 100 <= n * pct``),
    so per-stratum counts are the floor-exact quotas, not rates in
    expectation — a 9-row stratum still yields a non-empty test split.

    Scale notes (100 TB): one window partitioned by the stratum plus a
    stratum-keyed count join. A pathological mega-stratum makes that
    window's sort the honest cost (exact quotas need a total order within
    the stratum); at that scale the escape hatch is ``stratified_sample``
    -style pure-projection hash thresholds — approximate quotas, zero
    shuffle. No driver collection either way.

    Returns (doc_id, stratum, split_rank, split).
    """
    sid = F.col(id_col).cast("string")
    h = F.md5(F.concat(F.lit("split:"), sid))
    w = Window.partitionBy(strata_col).orderBy(h)
    n = Window.partitionBy(strata_col)
    ranked = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(strata_col).alias("stratum"),
        F.row_number().over(w).cast("long").alias("split_rank"),
        F.count(F.lit(1)).over(n).cast("long").alias("n"),
    )
    return ranked.select(
        "doc_id",
        "stratum",
        "split_rank",
        F.when(F.col("split_rank") * 100 <= F.col("n") * 80, F.lit("train"))
        .when(
            F.col("split_rank") * 100 <= F.col("n") * 90,
            F.lit("val"),
        )
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def ccnet_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    strata_col: str = "source",
) -> DataFrame:
    """CC-Net's head/middle/tail partition (Wenzek et al., LREC 2020):
    within each stratum (CC-Net uses the language; here the source
    domain), documents are split into perplexity terciles under the
    corpus bigram LM — "head" reads most like the reference distribution
    and is what pretraining keeps first. Ranking never divides the
    integer micro-nat sums (Spark ``div`` truncates toward zero while
    DuckDB ``//`` floors — divergent on the NEGATIVE sums a log-prob
    yields): the tercile order key is the raw IEEE double ratio
    ``sum_logp_micro / n_bigrams`` descending (correctly-rounded division
    on identical integers in both engines), doc id ascending on ties.

    Single-token documents have no bigrams and no perplexity — they drop
    out, as in ``lm_perplexity``.

    Scale notes (100 TB): everything up to the per-doc sums is
    ``lm_perplexity``'s shape; the tercile itself is one window per
    stratum — exact quantiles need the within-stratum total order, the
    same honest cost (and the same mega-stratum escape hatch) as
    ``stratified_split``.

    Returns (doc_id, stratum, n_bigrams, sum_logp_micro, bucket).
    """
    ppl = lm_perplexity(docs, id_col, text_col)
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(strata_col).alias("stratum")
    )
    w = Window.partitionBy("stratum").orderBy(
        (F.col("sum_logp_micro").cast("double") / F.col("n_bigrams")).desc(),
        F.col("doc_id").asc(),
    )
    return (
        ppl.join(src, "doc_id")
        .select(
            "doc_id",
            "stratum",
            "n_bigrams",
            "sum_logp_micro",
            F.ntile(3).over(w).alias("tercile"),
        )
        .select(
            "doc_id",
            "stratum",
            "n_bigrams",
            "sum_logp_micro",
            F.when(F.col("tercile") == 1, F.lit("head"))
            .when(F.col("tercile") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


def char_entropy(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document character-level Shannon entropy — the cheap gibberish /
    keyboard-mash / repeated-filler detector that complements the word-level
    Gopher rules: natural prose sits in a band (~2.5-4 nats over
    [a-z0-9 ]); low entropy ⇒ repetition ("aaaa…"), max entropy ⇒ uniform
    noise. H = ln(n) − Σ c·ln(c)/n over the per-character counts.

    Parity surface: characters are the EXPLICIT class ``[a-z0-9 ]`` of the
    normalized text (cross-engine regex classes like \\w or \\s diverge;
    a spelled-out class cannot), and the entropy is assembled from
    ``floor(ln(k)·1e6)`` integer micro-nats on identical integers — the
    lm_perplexity convention (ln of the same integer is the same IEEE
    double everywhere; only floor'd products and integer division follow).
    Documents with no in-class characters drop out (no entropy exists).

    Scale notes (100 TB): one explode → (doc, char)-keyed partial agg
    (64-ary alphabet bounds the per-doc group count), one doc-keyed agg.
    No windows, no driver collection, nothing quadratic.

    Returns (doc_id, n_chars, n_distinct, entropy_micro).
    """
    from blink_spark.functions.text import normalize_text

    ch = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.regexp_extract_all(
                normalize_text(F.col(text_col)), F.lit("[a-z0-9 ]"), F.lit(0)
            )
        ).alias("ch"),
    )
    c = ch.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).cast("long").alias("c"))
    d = c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(
            F.col("c") * F.floor(F.log(F.col("c").cast("double")) * F.lit(1000000.0)).cast("long")
        )
        .cast("long")
        .alias("s_micro"),
    )
    return d.select(
        "doc_id",
        "n_chars",
        "n_distinct",
        (
            F.floor(F.log(F.col("n_chars").cast("double")) * F.lit(1000000.0)).cast("long")
            - F.expr("s_micro div n_chars")
        )
        .cast("long")
        .alias("entropy_micro"),
    )


def _int_least_squares(s: DataFrame) -> DataFrame:
    """Sign-safe exact-integer least-squares finalize shared by ``zipf_fit``
    and ``heaps_fit``: input is a one-row frame with (r, sx, sy, sxy, sxx)
    plus any passthrough columns; appends ``slope_ppm`` and
    ``intercept_milli``. All divisions are truncation-toward-zero re-signed
    (Spark div truncates, DuckDB // floors — they only agree on
    nonnegative operands, and the slope numerator CAN be negative)."""
    return (
        s.withColumn("_num_s", F.expr("1000000 * (r * sxy - sx * sy)"))
        .withColumn("_den", F.expr("r * sxx - sx * sx"))
        .withColumn(
            "slope_ppm",
            F.expr(
                "CASE WHEN _den = 0 THEN 0"
                " WHEN _num_s >= 0 THEN _num_s div _den"
                " ELSE -((-_num_s) div _den) END"
            ).cast("long"),
        )
        .withColumn(
            "intercept_milli",
            F.expr(
                "CASE WHEN 1000000 * sy - slope_ppm * sx >= 0 THEN"
                " (1000000 * sy - slope_ppm * sx) div (1000000 * r)"
                " ELSE -((-(1000000 * sy - slope_ppm * sx)) div (1000000 * r)) END"
            ).cast("long"),
        )
        .drop("_num_s", "_den")
    )


def heaps_fit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (Heaps 1978): V(N) ≈ K·N^β, the
    least-squares slope of ln(vocab-so-far) on ln(tokens-so-far) over
    corpus prefixes in doc_id order — the companion diagnostic to
    ``zipf_fit`` (natural text: β ≈ 0.4-0.6; a template-heavy or
    synthetic corpus saturates its vocabulary early and drifts low; a
    corpus of random strings drifts toward 1).

    The "distinct words seen so far" curve is relationalized with NO
    running distinct state: each token's FIRST document (token-keyed
    min agg) converts vocabulary growth into a per-doc new-word count,
    and both cumulative curves (tokens, vocabulary) plus the doc
    sequence number come from ONE ``partitioned_running_sums`` pass —
    one range shuffle, no single-task global window. Checkpoints are
    every ceil(n/HEAPS_MAX_POINTS)-th document, so the fit always runs on
    at most ``HEAPS_MAX_POINTS`` points.

    Overflow bound: ln values are floor(ln·1000) milli-nats ≤ 41,447
    for any corpus under e^41.4 ≈ 1e18 tokens, so the binding
    least-squares term 1e6·P²·x·y at P = 64 points is ≤ 7.1e18 < 2^63 —
    exact BIGINT on both engines (P = 100 would overflow here, unlike
    zipf_fit where x ≤ ln(rank 100)·1000 is tiny).

    Returns one row: (n_points, slope_ppm, intercept_milli,
    tokens_total, vocab_total).
    """
    from blink_spark.functions.text import normalize_text
    from blink_spark.operators.ids import partitioned_running_sums

    t = docs.select(
        F.col(id_col).alias("d"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    nv = (
        t.groupBy("tok")
        .agg(F.min("d").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("new_v"))
    )
    nt = t.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    per = (
        docs.select(F.col(id_col).alias("d"))
        .join(nt, "d", "left")
        .join(nv, "d", "left")
        .select(
            "d",
            F.coalesce("n_tok", F.lit(0)).cast("long").alias("n_tok"),
            F.coalesce("new_v", F.lit(0)).cast("long").alias("new_v"),
            F.lit(1).cast("long").alias("one"),
        )
    )
    cum = partitioned_running_sums(
        per,
        "d",
        {"tokens_so_far": "n_tok", "vocab_so_far": "new_v", "doc_seq": "one"},
    )
    n = per.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    step = f"(n_docs + {HEAPS_MAX_POINTS - 1}) div {HEAPS_MAX_POINTS}"
    cp = (
        cum.crossJoin(F.broadcast(n))
        .filter(F.expr(f"doc_seq % ({step}) = 0"))
        .filter((F.col("tokens_so_far") > 0) & (F.col("vocab_so_far") > 0))
    )
    xy = cp.select(
        F.floor(F.log(F.col("tokens_so_far").cast("double")) * F.lit(1000.0))
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("vocab_so_far").cast("double")) * F.lit(1000.0))
        .cast("long")
        .alias("y"),
        "tokens_so_far",
        "vocab_so_far",
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("r"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.max("tokens_so_far").cast("long").alias("tokens_total"),
        F.max("vocab_so_far").cast("long").alias("vocab_total"),
    )
    return _int_least_squares(s).select(
        F.col("r").alias("n_points"),
        "slope_ppm",
        "intercept_milli",
        "tokens_total",
        "vocab_total",
    )


def zipf_fit(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: the least-squares
    slope of ln(freq) on ln(rank) for the ``ZIPF_TOP_R`` most frequent
    tokens — natural language sits near −1; synthetic/boilerplate-heavy
    corpora drift shallower, a one-number drift diagnostic next to
    domain_keyness.

    Exactness: ln values are ``floor(ln(k)·1000)`` integer MILLI-nats
    (milli, not the usual micro, keeps every closed-form product inside
    BIGINT: the binding term ``1e6·R²·x_max·y_max`` reaches ~2e18 at
    R=100 even for an 1e18-token corpus); the slope/intercept are exact
    integer-arithmetic least squares on those integers. Rank order is
    freq DESC, token ASC — tie-deterministic on both engines.

    Scale notes (100 TB): token counting is one explode + token-keyed
    partial agg; the top-R cut is a sort+limit (TakeOrdered — no full
    exchange); everything after runs on R rows.

    Returns one row: (n_ranks, slope_ppm, intercept_milli).
    """
    from blink_spark.functions.text import normalize_text

    tok = docs.select(
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    top = counts.orderBy(F.col("freq").desc(), F.col("tok").asc()).limit(ZIPF_TOP_R)
    w = Window.orderBy(F.col("freq").desc(), F.col("tok").asc())
    xy = top.select(
        F.floor(
            F.log(F.row_number().over(w).cast("double")) * F.lit(1000.0)
        )
        .cast("long")
        .alias("x"),
        F.floor(F.log(F.col("freq").cast("double")) * F.lit(1000.0))
        .cast("long")
        .alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("r"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    # the fit finalize (sign-safe integer divisions) is shared with
    # heaps_fit — see _int_least_squares
    return _int_least_squares(s).select(
        F.col("r").alias("n_ranks"), "slope_ppm", "intercept_milli"
    )


def grouped_quartiles(
    df: DataFrame,
    key_col: str,
    val_col: str,
    tie_col: str,
) -> DataFrame:
    """Exact per-group quartiles with percentile_disc semantics: the values
    at ascending ranks ceil(n/4) / ceil(n/2) / ceil(3n/4), all in pure
    integer rank arithmetic ((n+3) div 4, (n+1) div 2, (3n+3) div 4 — both
    engines floor the positive divisions identically). ``tie_col`` fixes
    which row holds a rank; the value AT the rank is tie-invariant.

    Scale notes (100 TB): one group-keyed window (the honest exact-quantile
    sort, same cost discussion as stratified_split's mega-stratum note) +
    one group-keyed conditional agg. For the GLOBAL single-group case use
    exact_quantiles (two-phase running sum, no single-partition window).

    Returns (key, n, q25, q50, q75).
    """
    w = Window.partitionBy(key_col).orderBy(
        F.col(val_col).asc(), F.col(tie_col).asc()
    )
    ranked = df.select(
        F.col(key_col).alias("key"),
        F.col(val_col).alias("v").cast("long"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(key_col)).alias("n"),
    )
    return ranked.groupBy("key").agg(
        F.max("n").cast("long").alias("n"),
        F.max(F.when(F.expr("rn = (n + 3) div 4"), F.col("v")))
        .cast("long")
        .alias("q25"),
        F.max(F.when(F.expr("rn = (n + 1) div 2"), F.col("v")))
        .cast("long")
        .alias("q50"),
        F.max(F.when(F.expr("rn = (3 * n + 3) div 4"), F.col("v")))
        .cast("long")
        .alias("q75"),
    )


def simpson_diversity(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Simpson/Herfindahl lexical concentration per corpus group: the
    probability two tokens drawn without replacement are the SAME type,
    λ = Σ f·(f−1) / (N·(N−1)) (Simpson 1949, unbiased form) — the
    repetitiveness readout beside ``heaps_fit``/``zipf_fit``: template or
    boilerplate-heavy sources spike λ while natural text stays low. The
    modal-type share rides along as the single-term version.

    Exact integers throughout: Σ f·(f−1) and N are BIGINT; the ppm ratio
    uses the spearman staging convention (divide the denominator down by
    1e6 first when large — relative error ~1e-12 and engine-identical;
    multiply first when small), so exactness holds to N ≈ 3e9 tokens per
    group rather than the naive 3e6 of 1e6·Σf(f−1).

    Scale notes: token explode is map-side; one (group, token) partial
    agg collapses to type scale, one group-keyed finalize — no windows,
    no scalar aggregates, no joins.

    Returns one row per group: (group, n_tokens, n_types, simpson_ppm,
    top_share_ppm).
    """
    from blink_spark.functions.text import normalize_text

    t = docs.select(
        F.col(group_col).alias("g"),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tf = t.groupBy("g", "tok").agg(F.count(F.lit(1)).cast("long").alias("f"))
    agg = tf.groupBy("g").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.expr("f * (f - 1)")).cast("long").alias("sum_ff"),
        F.max("f").cast("long").alias("top_f"),
    )
    den = "(n_tokens * (n_tokens - 1))"
    return agg.select(
        F.col("g").alias(group_col),
        "n_tokens",
        "n_types",
        F.expr(
            f"CASE WHEN {den} = 0 THEN 0"
            f" WHEN {den} >= 1000000"
            f" THEN sum_ff div ({den} div 1000000)"
            f" ELSE (1000000 * sum_ff) div {den} END"
        )
        .cast("long")
        .alias("simpson_ppm"),
        F.expr(
            "CASE WHEN n_tokens > 0 THEN (1000000 * top_f) div n_tokens"
            " ELSE 0 END"
        )
        .cast("long")
        .alias("top_share_ppm"),
    )


def collocations(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Collocation detection over adjacent token bigrams: lift =
    T·c_xy/(c_x·c_y) (the pointwise-mutual-information RATIO without the
    log — monotone in PMI, so ordering and thresholds agree, and it stays
    in exact integer ppm where PMI's log would drag libm into the parity
    surface). Bigrams at lift ≫ 1e6 are phrases ("new york"); lift ≈ 1e6
    is chance co-occurrence — the phrase-mining readout a tokenizer/
    stopword pipeline consumes.

    Deterministic output discipline: every bigram with count ≥ 5 is
    emitted (no top-k, no global sort — thresholds
    reproduce; a rank would need a single-task window). Staged lift:
    binding term 1e6·T·c_xy needs T·c_xy ≤ 9.2e12 — past that (hot
    bigram × trillion-token corpus) divide the denominator down first,
    the spearman convention, applied automatically here.

    Scale notes: position explode is map-side; the adjacency pairing is
    a (doc, pos+1) equi-join (never quadratic — each token joins its one
    successor); bigram and unigram counts are partial aggs; the token
    total is a one-row finalize broadcast onto the thresholded bigram
    rows.

    Returns (tok_a, tok_b, n_bigram, n_a, n_b, lift_ppm).
    """
    from blink_spark.functions.text import normalize_text

    ex = docs.select(
        F.col(id_col).alias("d"),
        F.posexplode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    uni = ex.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = uni.agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("t"))
    a = ex.select("d", "pos", F.col("tok").alias("tok_a"))
    b = ex.select(
        "d", (F.col("pos") - 1).alias("pos"), F.col("tok").alias("tok_b")
    )
    bg = (
        a.join(b, ["d", "pos"])
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_bigram"))
        .filter(F.col("n_bigram") >= 5)
    )
    out = (
        bg.join(
            uni.select(F.col("tok").alias("tok_a"), F.col("c").alias("n_a")),
            "tok_a",
        )
        .join(
            uni.select(F.col("tok").alias("tok_b"), F.col("c").alias("n_b")),
            "tok_b",
        )
        .crossJoin(F.broadcast(tot))
    )
    den = "(n_a * n_b)"
    return out.select(
        "tok_a",
        "tok_b",
        "n_bigram",
        "n_a",
        "n_b",
        F.expr(
            f"CASE WHEN {den} = 0 THEN 0"
            f" WHEN t * n_bigram > 9000000000000"
            f" THEN (t * n_bigram) div (greatest({den} div 1000000, 1))"
            f" ELSE (1000000 * t * n_bigram) div {den} END"
        )
        .cast("long")
        .alias("lift_ppm"),
    )


def readability(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Flesch reading-ease surrogate per document — the classic
    readability quality signal (Flesch 1948; a standard feature in LLM
    training-data quality filters): 206.835 − 1.015·(words/sentence)
    − 84.6·(syllables/word), with syllables approximated by VOWEL GROUPS
    (maximal [aeiou]+ runs — the standard regex surrogate; no dictionary
    in the parity surface). Sentences use the same marker-replace split
    as the sentence family (portable to RE2 — no lookbehind); words are
    the normalized whitespace tokens.

    Exact integer milli-points: wps_milli = (1000·W) div S, spw_milli =
    (1000·Y) div W, flesch_milli = 206835 − (1015·wps_milli) div 1000 −
    (84600·spw_milli) div 1000 — every division on nonnegative operands,
    engine-identical; NULL when a document has no sentences or words.
    Flesch CAN go negative for dense text — reached by exact
    subtraction, never signed division.

    Scale notes: a pure per-row projection — zero shuffles, whole-stage
    codegen end to end; counts come from split/regexp_extract_all sizes.

    Returns (id, n_sentences, n_words, n_vowel_groups, wps_milli,
    spw_milli, flesch_milli).
    """
    from blink_spark.functions.text import normalize_text, sentences

    c = F.col(text_col)
    n_sent = F.size(sentences(c)).cast("long")
    n_words = F.size(
        F.filter(
            F.split(normalize_text(c), " "), lambda t: t != F.lit("")
        )
    ).cast("long")
    n_vg = F.size(
        F.expr(f"regexp_extract_all(lower({text_col}), '[aeiou]+', 0)")
    ).cast("long")
    out = docs.select(
        F.col(id_col).alias("id"),
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_vg.alias("n_vowel_groups"),
    )
    return out.select(
        "id",
        "n_sentences",
        "n_words",
        "n_vowel_groups",
        F.expr(
            "CASE WHEN n_sentences > 0 THEN"
            " (1000 * n_words) div n_sentences END"
        )
        .cast("long")
        .alias("wps_milli"),
        F.expr(
            "CASE WHEN n_words > 0 THEN"
            " (1000 * n_vowel_groups) div n_words END"
        )
        .cast("long")
        .alias("spw_milli"),
        F.expr(
            "CASE WHEN n_sentences > 0 AND n_words > 0 THEN"
            " 206835 - (1015 * ((1000 * n_words) div n_sentences)) div 1000"
            " - (84600 * ((1000 * n_vowel_groups) div n_words)) div 1000"
            " END"
        )
        .cast("long")
        .alias("flesch_milli"),
    )


def source_vocab_overlap(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Vocabulary-overlap matrix between corpus groups: exact set
    Jaccard of each unordered source pair's TYPE sets (|V_a ∩ V_b| via a
    token self-join, union by inclusion-exclusion) — the source-level
    companion of the doc-level cross-source duplicate matrix: near-1
    overlap says two crawls share a lexicon (mirror/sibling), near-0
    says a genuinely new domain arrived.

    Scale notes: rows collapse to DISTINCT (group, token) first (type
    scale); the pair intersection is a token-keyed self equi-join whose
    fan-out per token is bounded by #groups² (tiny by definition);
    vocabulary sizes join back from a group finalize. Exact integer ppm.

    Returns one row per unordered group pair (src_a < src_b):
    (src_a, src_b, n_inter, n_vocab_a, n_vocab_b, jaccard_ppm).
    """
    from blink_spark.functions.text import normalize_text

    gt = (
        docs.select(
            F.col(group_col).alias("g"),
            F.explode(
                F.split(normalize_text(F.col(text_col)), " ")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    vs = gt.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("v"))
    a = gt.select(F.col("g").alias("src_a"), "tok")
    b = gt.select(F.col("g").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter("src_a < src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        inter.join(
            vs.select(F.col("g").alias("src_a"), F.col("v").alias("n_vocab_a")),
            "src_a",
        )
        .join(
            vs.select(F.col("g").alias("src_b"), F.col("v").alias("n_vocab_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_inter",
            "n_vocab_a",
            "n_vocab_b",
            F.expr(
                "CASE WHEN n_vocab_a + n_vocab_b - n_inter > 0 THEN"
                " (1000000 * n_inter)"
                " div (n_vocab_a + n_vocab_b - n_inter) ELSE 0 END"
            )
            .cast("long")
            .alias("jaccard_ppm"),
        )
    )


def rake_keywords(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — stopword-delimited
    candidate phrases scored by their words' degree/frequency ratio:
    words that appear inside longer multi-word phrases (high degree)
    and rarely alone (low frequency) mark domain keyphrases. The
    segmentation is PURELY relational: a per-doc running count of
    stopword positions numbers the phrase segments (no word-boundary
    regex — cross-engine \\b semantics stay out of the parity surface);
    candidate phrases longer than 4 words are dropped before
    scoring (the RAKE convention — degenerate runs otherwise dominate
    degree).

    Exact integers: deg(w) = Σ phrase-length over w's occurrences,
    freq(w) = occurrence count, word score = (1000·deg) div freq,
    phrase score = Σ word scores — identical for identical phrase text,
    so the final text-keyed collapse takes max = min. Deterministic
    threshold (2 occurrences) instead of top-k.

    Scale notes: one doc-keyed window (the sessionize layout), phrase
    and vocabulary partial aggs, a vocabulary-keyed score join back —
    nothing row-scale after segmentation, no scalar finalizes.

    Returns (phrase, n_words, n_occurrences, score_milli).
    """
    from blink_spark.functions.text import STOPWORDS, normalize_text

    ex = docs.select(
        F.col(id_col).alias("d"),
        F.posexplode(
            F.split(normalize_text(F.col(text_col)), " ")
        ).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    stops = sorted(STOPWORDS["en"])
    ex = ex.withColumn(
        "is_stop", F.col("tok").isin(stops).cast("long")
    )
    w = (
        Window.partitionBy("d")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seg = ex.withColumn("seg", F.sum("is_stop").over(w).cast("long"))
    words = seg.filter("is_stop = 0").select("d", "seg", "pos", "tok")
    ph = (
        words.groupBy("d", "seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("plen"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("phrase"),
        )
        .filter(F.col("plen") <= 4)
    )
    wk = words.join(ph.select("d", "seg", "plen"), ["d", "seg"])
    ws = wk.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("deg"),
    ).select(
        "tok",
        F.expr("(1000 * deg) div freq").cast("long").alias("wscore"),
    )
    ps = (
        wk.join(ws, "tok")
        .groupBy("d", "seg")
        .agg(F.sum("wscore").cast("long").alias("score_milli"))
        .join(ph, ["d", "seg"])
    )
    return (
        ps.groupBy("phrase")
        .agg(
            F.max("plen").cast("long").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.max("score_milli").cast("long").alias("score_milli"),
        )
        .filter(F.col("n_occurrences") >= 2)
    )
