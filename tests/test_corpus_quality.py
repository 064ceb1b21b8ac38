"""Planted-case properties of the corpus quality/sampling operators that the
oracle comparison can't express: exact feature values on constructed
repetition patterns, df-aware term ranking, the subset-stability /
determinism guarantees of hash-stratified sampling, and a seeded-random
cross-check of every operator against an independent pure-Python reference
(the third implementation next to Spark and the DuckDB oracle)."""

from __future__ import annotations

import hashlib
import random
import re

from pyspark.sql import functions as F

_WS = re.compile(r"[\t\n\x0B\f\r ]+")


def _py_norm_tokens(text: str) -> list[str]:
    return _WS.sub(" ", text.lower()).strip().split(" ")


def _py_ngrams(toks: list[str], n: int) -> list[str]:
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


def _random_corpus(seed: int = 7, n_docs: int = 60) -> list[tuple[int, str]]:
    """Small vocab + mixed whitespace to force collisions and normalization
    work; a few empty/whitespace-only docs."""
    rng = random.Random(seed)
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    seps = [" ", "  ", "\t", " \t ", "\n"]
    docs = []
    for i in range(n_docs):
        if i % 17 == 0:
            docs.append((i, rng.choice(["", "   ", "\t\n"])))
            continue
        toks = [rng.choice(vocab) for _ in range(rng.randint(1, 30))]
        text = toks[0]
        for t in toks[1:]:
            text += rng.choice(seps) + t
        docs.append((i, text))
    return docs


def _collect_map(df, key, *cols):
    return {r[key]: tuple(r[c] for c in cols) for r in df.collect()}


def test_repetition_features_planted(spark):
    from blink_spark.operators.corpus import repetition_features

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),          # all distinct
            (2, "x y x y x y x y x y"),          # pure 2-cycle
            (3, "solo"),                          # single token
            (4, "p q r s"),                       # too short for 5-grams
        ],
        "doc_id bigint, text string",
    )
    out = _collect_map(
        repetition_features(docs),
        "doc_id", "ttr", "top_token_frac", "top_2gram_frac", "dup_5gram_frac",
    )
    assert out[1] == (1.0, 0.1, round(1 / 9, 6), 0.0)
    # doc 2: 2 types / 10 tokens; 'x' 5/10; bigrams 'x y'x5 'y x'x4 -> 5/9;
    # all six 5-grams repeat ('x y x y x'x3, 'y x y x y'x3) -> 1.0
    assert out[2] == (0.2, 0.5, round(5 / 9, 6), 1.0)
    assert out[3] == (1.0, 1.0, 0.0, 0.0)
    assert out[4] == (1.0, 0.25, round(1 / 3, 6), 0.0)


def test_repetition_tie_breaks_to_largest_gram(spark):
    """Equal-count top token/bigram must resolve to the lexicographically
    largest gram (struct-max), matching the oracle's ORDER BY c DESC,
    gram DESC window."""
    from blink_spark.operators.corpus import repetition_features

    docs = spark.createDataFrame([(1, "b a b a")], "doc_id bigint, text string")
    row = repetition_features(docs).collect()[0]
    # counts tie at 2/2 ('a','b') and bigrams 'b a'x2? no: b a, a b, b a ->
    # 'b a' 2, 'a b' 1 -> top bigram 2/3
    assert row["top_token_frac"] == 0.5
    assert row["top_2gram_frac"] == round(2 / 3, 6)


def test_tfidf_rank_prefers_rare_terms(spark):
    from blink_spark.operators.corpus import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana"),
            (2, "banana cherry"),
            (3, "banana date"),
        ],
        "doc_id bigint, text string",
    )
    out = tfidf_top_terms(docs)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tf"], r["df"]))
    for v in by_doc.values():
        v.sort()
    # doc 1: apple wins on tf; banana (df=3) second
    assert [t[1] for t in by_doc[1]] == ["apple", "banana"]
    # docs 2/3: tf ties at 1 -> rarer term (df=1) outranks banana (df=3)
    assert [t[1] for t in by_doc[2]] == ["cherry", "banana"]
    assert [t[1] for t in by_doc[3]] == ["date", "banana"]


def test_stratified_sample_deterministic_and_subset_stable(spark):
    from blink_spark.operators.corpus import stratified_sample

    docs = spark.createDataFrame(
        [(i, f"doc {i}", f"src{i % 4}") for i in range(2000)],
        "doc_id bigint, text string, source string",
    )
    kept1 = {r["doc_id"] for r in stratified_sample(docs).collect()}
    kept2 = {r["doc_id"] for r in stratified_sample(docs).collect()}
    assert kept1 == kept2 and len(kept1) > 0

    # subset stability: sampling a filtered slice makes the SAME per-row
    # decisions as the full run restricted to that slice
    sub = docs.filter(F.col("doc_id") % 3 == 0)
    kept_sub = {r["doc_id"] for r in stratified_sample(sub).collect()}
    assert kept_sub == {d for d in kept1 if d % 3 == 0}


def test_stratified_sample_rates_match_thresholds(spark):
    """Per-stratum keep fraction must track its md5-derived threshold
    (binomial tolerance at n=500 per stratum)."""
    from blink_spark.operators.corpus import stratified_sample

    docs = spark.createDataFrame(
        [(i, "t", f"src{i % 4}") for i in range(2000)],
        "doc_id bigint, text string, source string",
    )
    out = stratified_sample(docs)
    stats = {
        r["stratum"]: (r["n_kept"], r["thr"])
        for r in out.groupBy("stratum")
        .agg(F.count("*").alias("n_kept"), F.first("keep_thr").alias("thr"))
        .collect()
    }
    assert len(stats) == 4
    for stratum, (n_kept, thr) in stats.items():
        expect = 500 * thr / 1_000_000
        # 4 sigma of Binomial(500, p<=0.75) is < 49
        assert abs(n_kept - expect) < 50, (stratum, n_kept, expect)


def test_repetition_features_vs_python_reference(spark):
    from blink_spark.operators.corpus import repetition_features

    docs = _random_corpus()
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = _collect_map(
        repetition_features(sdf),
        "doc_id", "ttr", "top_token_frac", "top_2gram_frac", "dup_5gram_frac",
    )
    for doc_id, text in docs:
        toks = _py_norm_tokens(text)
        tc: dict[str, int] = {}
        for t in toks:
            tc[t] = tc.get(t, 0) + 1
        # tie -> lexicographically largest gram, like the struct-max
        top = max(tc.items(), key=lambda kv: (kv[1], kv[0]))
        bg = _py_ngrams(toks, 2)
        bgc: dict[str, int] = {}
        for g in bg:
            bgc[g] = bgc.get(g, 0) + 1
        fg = _py_ngrams(toks, 5)
        fgc: dict[str, int] = {}
        for g in fg:
            fgc[g] = fgc.get(g, 0) + 1
        expect = (
            round(len(tc) / len(toks), 6),
            round(top[1] / len(toks), 6),
            round(max(bgc.values(), default=0) / max(len(bg), 1), 6),
            round(sum(c for c in fgc.values() if c >= 2) / max(len(fg), 1), 6),
        )
        assert got[doc_id] == expect, (doc_id, text, got[doc_id], expect)


def test_tfidf_vs_python_reference(spark):
    from blink_spark.operators.corpus import tfidf_top_terms

    docs = _random_corpus(seed=11)
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    got: dict[int, list] = {}
    for r in tfidf_top_terms(sdf).collect():
        got.setdefault(r["doc_id"], []).append((r["rank"], r["term"], r["tf"], r["df"]))
    for v in got.values():
        v.sort()

    tf = {
        doc_id: {t: _py_norm_tokens(text).count(t) for t in set(_py_norm_tokens(text))}
        for doc_id, text in docs
    }
    df: dict[str, int] = {}
    for d in tf.values():
        for t in d:
            df[t] = df.get(t, 0) + 1
    for doc_id, d in tf.items():
        ranked = sorted(d.items(), key=lambda kv: (-kv[1], df[kv[0]], kv[0]))[:3]
        expect = [(i + 1, t, c, df[t]) for i, (t, c) in enumerate(ranked)]
        assert got[doc_id] == expect, (doc_id, got[doc_id], expect)


def test_stratified_sample_vs_python_reference(spark):
    from blink_spark.operators.corpus import stratified_sample

    docs = [(i, "t", f"s{i % 5}") for i in range(1000)]
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string, source string")
    got = {(r["doc_id"], r["smp_bucket"], r["keep_thr"])
           for r in stratified_sample(sdf).collect()}

    def h(s: str, ndig: int) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:ndig], 16)

    expect = set()
    for i, _, src in docs:
        bucket = h(f"smp:{i}", 8) % 1_000_000
        thr = 250_000 + h(f"rate:{src}", 8) % 500_001
        if bucket < thr:
            expect.add((i, bucket, thr))
    assert got == expect


def test_decontaminate_vs_python_reference(spark):
    from blink_spark.operators.corpus import decontaminate

    docs = _random_corpus(seed=23)
    ev = [(i, t) for i, t in docs if i % 7 == 0]
    corpus = [(i, t) for i, t in docs if i % 7 != 0]
    out = {
        r["doc_id"]: r["n_shared_grams"]
        for r in decontaminate(
            spark.createDataFrame(corpus, "doc_id bigint, text string"),
            spark.createDataFrame(ev, "doc_id bigint, text string"),
        ).collect()
    }
    ev_grams = set()
    for _, t in ev:
        ev_grams |= set(_py_ngrams(_py_norm_tokens(t), 4))
    expect = {}
    for i, t in corpus:
        shared = set(_py_ngrams(_py_norm_tokens(t), 4)) & ev_grams
        if shared:
            expect[i] = len(shared)
    assert out == expect


def test_decontaminate_planted(spark):
    """A corpus doc sharing a full 4-gram with the eval set is flagged with
    the right shared-gram count; a doc overlapping only 3 tokens is not."""
    from blink_spark.operators.corpus import decontaminate

    eval_docs = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id bigint, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "x alpha beta gamma delta y"),   # shares 'alpha beta gamma delta'
            (2, "alpha beta gamma zeta"),         # only a 3-token overlap
            (3, "beta gamma delta epsilon"),      # shares the other 4-gram
            (4, "totally unrelated text here"),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["n_shared_grams"] for r in decontaminate(corpus, eval_docs).collect()}
    assert out == {1: 1, 3: 1}


def test_decontaminate_probe_is_broadcast(spark):
    """The eval gram set must probe the corpus via a broadcast join — a
    corpus-sized shuffle here would be the 100-TB anti-pattern."""
    from blink_spark.operators.corpus import decontaminate

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = decontaminate(
        d.filter(F.col("doc_id") % 31 != 0), d.filter(F.col("doc_id") % 31 == 0)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_curation_pipeline_planted(spark, monkeypatch):
    """Each curation stage drops exactly its targets: short docs, repetitive
    docs, non-keeper duplicates; survivors keep their feature values."""
    import hashlib

    from blink_spark.operators.corpus import curation_pipeline

    long_clean = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, long_clean),                     # keeper of the dup group
        (2, long_clean),                     # dropped: duplicate of 1
        (3, "too short"),                    # dropped: n_toks < 5
        (4, "x y x y x y x y x y x y"),      # dropped: dup_5gram_frac = 1
        (5, "one two three four five six"),  # kept (unless sampled out)
    ]
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    # disable sampling first so only the quality/dedup stages act
    monkeypatch.setattr("blink_spark.operators.corpus.CURATION_SAMPLE_PPM", 1_000_000)
    kept = {r["doc_id"] for r in curation_pipeline(sdf).collect()}
    assert kept == {1, 5}

    # sampling stage: keep decisions must follow the md5 rule exactly
    def smp(i: int) -> int:
        return int(hashlib.md5(f"cur:{i}".encode()).hexdigest()[:8], 16) % 1_000_000

    monkeypatch.setattr("blink_spark.operators.corpus.CURATION_SAMPLE_PPM", 500_000)
    kept_sampled = {
        r["doc_id"] for r in curation_pipeline(sdf).collect()
    }
    assert kept_sampled == {i for i in (1, 5) if smp(i) < 500_000}


def test_curation_pipeline_vs_python_reference(spark):
    from blink_spark.operators.corpus import curation_pipeline

    docs = _random_corpus(seed=31)
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r["doc_id"] for r in curation_pipeline(sdf).collect()}

    fp_min: dict[str, int] = {}
    for i, t in docs:
        fp = " ".join(sorted(set(_py_norm_tokens(t))))
        fp_min[fp] = min(fp_min.get(fp, i), i)
    expect = set()
    for i, t in docs:
        toks = _py_norm_tokens(t)
        if len(toks) < 5:
            continue
        if round(len(set(toks)) / len(toks), 6) < 0.3:
            continue
        fg = _py_ngrams(toks, 5)
        fgc: dict[str, int] = {}
        for g in fg:
            fgc[g] = fgc.get(g, 0) + 1
        dup5 = round(sum(c for c in fgc.values() if c >= 2) / max(len(fg), 1), 6)
        if dup5 > 0.5:
            continue
        if fp_min[" ".join(sorted(set(toks)))] != i:
            continue
        if int(hashlib.md5(f"cur:{i}".encode()).hexdigest()[:8], 16) % 1_000_000 >= 800_000:
            continue
        expect.add(i)
    assert got == expect


def test_chunk_windows_planted(spark, monkeypatch):
    """Chunk boundaries, ragged last chunk, and empty-doc behavior are exact."""
    from blink_spark.operators.corpus import chunk_windows

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "")], "doc_id bigint, text string"
    )
    monkeypatch.setattr("blink_spark.operators.corpus.CHUNK_SIZE", 2)
    rows = {
        (r.doc_id, r.chunk_idx): (r.start_pos, r.n_chunk_toks, r.chunk_hash)
        for r in chunk_windows(docs).collect()
    }
    assert rows == {
        (1, 0): (0, 2, md5("a b")),
        (1, 1): (2, 2, md5("c d")),
        (1, 2): (4, 1, md5("e")),
        # normalized empty text splits to [''] — one chunk hashing ""
        (2, 0): (0, 1, md5("")),
    }


def test_chunk_windows_vs_python_reference(spark, monkeypatch):
    from blink_spark.operators.corpus import chunk_windows

    docs = _random_corpus(seed=43)
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    monkeypatch.setattr("blink_spark.operators.corpus.CHUNK_SIZE", 7)
    got = {
        (r.doc_id, r.chunk_idx): (r.start_pos, r.n_chunk_toks, r.chunk_hash)
        for r in chunk_windows(sdf).collect()
    }
    expect = {}
    for i, t in docs:
        toks = _py_norm_tokens(t)
        for ci in range((len(toks) - 1) // 7 + 1):
            chunk = toks[ci * 7 : ci * 7 + 7]
            expect[(i, ci)] = (
                ci * 7,
                len(chunk),
                hashlib.md5(" ".join(chunk).encode()).hexdigest(),
            )
    assert got == expect


def test_chunk_windows_plan_is_narrow(spark):
    """Chunking is a map-only pass: no Exchange, no Python eval nodes."""
    from blink_spark.operators.corpus import chunk_windows

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = chunk_windows(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, bad


def test_vocab_coverage_planted(spark, monkeypatch):
    """Top-V election breaks count ties by token asc; OOV fraction exact."""
    from blink_spark.operators.corpus import vocab_coverage

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c")], "doc_id bigint, text string"
    )
    # counts: a=2, b=2, c=1; V=1 elects 'a' (tie → lexicographically first)
    monkeypatch.setattr("blink_spark.operators.corpus.VOCAB_SIZE", 1)
    got = _collect_map(vocab_coverage(docs), "doc_id", "n_toks", "n_oov", "oov_frac")
    assert got == {1: (3, 1, 0.333333), 2: (2, 2, 1.0)}


def test_vocab_coverage_vs_python_reference(spark, monkeypatch):
    from blink_spark.operators.corpus import vocab_coverage

    docs = _random_corpus(seed=47)
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string")
    V = 3
    monkeypatch.setattr("blink_spark.operators.corpus.VOCAB_SIZE", V)
    got = _collect_map(vocab_coverage(sdf), "doc_id", "n_toks", "n_oov", "oov_frac")
    counts: dict[str, int] = {}
    for _, t in docs:
        for tok in _py_norm_tokens(t):
            counts[tok] = counts.get(tok, 0) + 1
    vocab = {t for t, _ in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:V]}
    expect = {}
    for i, t in docs:
        toks = _py_norm_tokens(t)
        oov = sum(1 for tok in toks if tok not in vocab)
        expect[i] = (len(toks), oov, round(oov / len(toks), 6))
    assert got == expect


def test_vocab_probe_is_broadcast(spark):
    """The vocabulary probe must be a broadcast hash join — the corpus-sized
    token stream is never shuffled by token for the membership test."""
    from blink_spark.operators.corpus import vocab_coverage

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = vocab_coverage(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan  # top-V election, not a global sort


def test_pack_sequences_planted(spark, monkeypatch):
    """Next-fit packing: budget overflow opens a new sequence; oversize docs
    get a sequence of their own; order is doc_id within the group."""
    from blink_spark.operators.corpus import pack_sequences

    toks = {1: 4, 2: 5, 3: 3, 4: 11, 5: 2}
    docs = spark.createDataFrame(
        [(i, " ".join(f"t{i}x{j}" for j in range(n)), "s0") for i, n in toks.items()],
        "doc_id bigint, text string, source string",
    )
    monkeypatch.setattr("blink_spark.operators.corpus.PACK_BUDGET", 10)
    monkeypatch.setattr("blink_spark.operators.corpus.PACK_SHARDS", 1)
    got = _collect_map(
        pack_sequences(docs),
        "doc_id", "stratum", "shard", "seq_id", "n_toks",
    )
    # 4+5=9 fits; +3 would overflow → seq2; +11 overflows → seq3 (oversize
    # alone); +2 overflows the oversize bin → seq4
    assert got == {
        1: ("s0", 0, 1, 4),
        2: ("s0", 0, 1, 5),
        3: ("s0", 0, 2, 3),
        4: ("s0", 0, 3, 11),
        5: ("s0", 0, 4, 2),
    }


def test_pack_sequences_vs_python_reference(spark, monkeypatch):
    from blink_spark.operators.corpus import pack_sequences

    rng = random.Random(53)
    docs = [
        (i, " ".join(rng.choice("aa bb cc dd".split()) for _ in range(rng.randint(1, 40))),
         f"s{i % 3}")
        for i in range(80)
    ]
    sdf = spark.createDataFrame(docs, "doc_id bigint, text string, source string")
    budget, n_shards = 64, 4
    monkeypatch.setattr("blink_spark.operators.corpus.PACK_BUDGET", budget)
    monkeypatch.setattr("blink_spark.operators.corpus.PACK_SHARDS", n_shards)
    got = _collect_map(
        pack_sequences(sdf),
        "doc_id", "stratum", "shard", "seq_id", "n_toks",
    )
    groups: dict[tuple[str, int], list[tuple[int, int]]] = {}
    for i, t, src in docs:
        shard = int(hashlib.md5(f"pk:{i}".encode()).hexdigest()[:8], 16) % n_shards
        groups.setdefault((src, shard), []).append((i, len(_py_norm_tokens(t))))
    expect = {}
    for (src, shard), members in groups.items():
        seq, acc = 0, 0
        for i, n in sorted(members):
            if seq == 0 or acc + n > budget:
                seq, acc = seq + 1, n
            else:
                acc += n
            expect[i] = (src, shard, seq, n)
    assert got == expect


def test_embedding_outliers_planted(spark):
    """A planted far-away vector gets outlier_rank 1; aligned vectors rank
    by cosine then vec_id."""
    from blink_spark.operators.corpus import embedding_outliers

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [-1.0, 0.0], 0),   # opposes the centroid → rank 1
        (4, [0.0, 1.0], 1),    # singleton label: cos 1 with itself
    ]
    sdf = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = _collect_map(embedding_outliers(sdf), "vec_id", "label", "outlier_rank")
    assert got[3] == (0, 1)
    assert got[4] == (1, 1)
    assert {got[1][1], got[2][1]} == {2, 3}


def test_embedding_outliers_vs_python_reference(spark):
    """Exact-integer parity against an independent pure-Python replica of
    the quantize → shift-div centroid → integer-dot cosine → rank chain."""
    import math

    from blink_spark.operators.corpus import embedding_outliers

    rng = random.Random(59)
    rows = [
        (i, [rng.uniform(-0.9, 0.9) for _ in range(6)], i % 3) for i in range(90)
    ]
    sdf = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = _collect_map(
        embedding_outliers(sdf), "vec_id", "label", "cos_centroid", "outlier_rank"
    )

    # python replica — NB quantization happens on the float32 values Spark
    # stores, so round-trip through struct to match
    import struct

    def f32(x: float) -> float:
        return struct.unpack("f", struct.pack("f", x))[0]

    by_label: dict[int, list[tuple[int, list[int]]]] = {}
    for i, v, lab in rows:
        q = [math.floor(f32(x) * 1_000_000) for x in v]
        by_label.setdefault(lab, []).append((i, q))
    expect = {}
    for lab, vecs in by_label.items():
        n = len(vecs)
        cv = [
            (sum(q[d] for _, q in vecs) + n * 1048576) // n - 1048576
            for d in range(6)
        ]
        scored = []
        for i, q in vecs:
            dot = sum(a * b for a, b in zip(q, cv))
            n2v = sum(a * a for a in q)
            n2c = sum(b * b for b in cv)
            cos = dot / (math.sqrt(n2v) * math.sqrt(n2c)) if n2v and n2c else 0.0
            scored.append((i, round(cos, 6)))
        for rank, (i, cos) in enumerate(sorted(scored, key=lambda t: (t[1], t[0])), 1):
            expect[i] = (lab, cos, rank)
    assert got == expect


def test_embedding_outliers_centroid_is_broadcast(spark):
    """The labels×dims centroid table must broadcast back onto the exploded
    stream — no corpus-sized shuffle for the join."""
    from blink_spark.operators.corpus import embedding_outliers

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = embedding_outliers(emb)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, bad


def test_lm_perplexity_planted(spark):
    """A doc made of the corpus's dominant bigram scores lower perplexity
    than a doc of once-only bigrams; counts line up with token counts."""
    from blink_spark.operators.corpus import lm_perplexity

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b a b"),  # rides the dominant bigrams
            (2, "a b a b a b a b a b"),
            (3, "a b a b a b a b a b"),
            (4, "q r s t u v w x y z"),  # every bigram occurs once
        ],
        "doc_id bigint, text string",
    )
    got = _collect_map(lm_perplexity(docs), "doc_id", "n_bigrams", "ppl")
    assert all(v[0] == 9 for v in got.values())
    assert got[1] == got[2] == got[3]
    assert got[1][1] < got[4][1]


def test_lm_perplexity_vs_python_reference(spark):
    """Exact parity against an independent pure-Python replica of the
    bigram-count → add-one smoothing → micro-nat floor → integer-sum chain."""
    import math

    from blink_spark.operators.corpus import lm_perplexity

    rng = random.Random(61)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(2, 30))))
        for i in range(80)
    ]
    sdf = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = _collect_map(
        lm_perplexity(sdf), "doc_id", "n_bigrams", "sum_logp_micro", "ppl"
    )

    from collections import Counter

    doc_toks = {i: t.split(" ") for i, t in rows}
    bigrams = {
        i: list(zip(tk, tk[1:])) for i, tk in doc_toks.items() if len(tk) > 1
    }
    cb = Counter(b for bs in bigrams.values() for b in bs)
    cu = Counter(b[0] for bs in bigrams.values() for b in bs)
    vocab = len({w for tk in doc_toks.values() for w in tk})
    logp = {
        b: math.floor(math.log((c + 1) / (cu[b[0]] + vocab)) * 1_000_000)
        for b, c in cb.items()
    }
    expect = {}
    for i, bs in bigrams.items():
        s = sum(logp[b] for b in bs)
        expect[i] = (len(bs), s, round(math.exp(-s / (len(bs) * 1_000_000.0)), 6))
    assert got == expect


def test_length_profile_planted(spark):
    """Exact discrete quartiles at known indices: for n=5 sorted values
    [10,20,30,40,50] the (p25,p50,p75) indices are floor(4q)=(1,2,3) →
    values (20,30,40); a singleton stratum reports its value everywhere."""
    from blink_spark.operators.corpus import length_profile

    rows = [(i, "x", "en", "a", v) for i, v in enumerate([30, 10, 50, 20, 40])]
    rows.append((9, "x", "en", "b", 7))
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    got = {
        r.stratum: (r.n_docs, r.min_v, r.p25, r.p50, r.p75, r.max_v)
        for r in length_profile(docs).collect()
    }
    assert got["a"] == (5, 10, 20, 30, 40, 50)
    assert got["b"] == (1, 7, 7, 7, 7, 7)


def test_length_profile_vs_python_reference(spark):
    """Cross-check against an independent pure-Python replica of the
    sorted-index rule, including tie-heavy values."""
    from blink_spark.operators.corpus import length_profile

    rng = random.Random(73)
    rows = [
        (i, "x", "en", rng.choice(["s1", "s2", "s3"]), rng.randint(1, 20))
        for i in range(97)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    got = {
        r.stratum: (r.n_docs, r.min_v, r.p25, r.p50, r.p75, r.max_v)
        for r in length_profile(docs).collect()
    }
    by_src: dict[str, list[tuple[int, int]]] = {}
    for i, _, _, s, v in rows:
        by_src.setdefault(s, []).append((v, i))
    expect = {}
    for s, vs in by_src.items():
        vs.sort()
        vals = [v for v, _ in vs]
        n = len(vals)
        q = lambda num: vals[(n - 1) * num // 4]  # noqa: E731
        expect[s] = (n, vals[0], q(1), q(2), q(3), vals[-1])
    assert got == expect


def test_corpus_plans_stay_jvm_side(spark):
    """No Python eval nodes in any corpus-operator plan; the sampler is a
    pure narrow projection+filter (no Exchange at all)."""
    from blink_spark.operators.corpus import (
        repetition_features,
        stratified_sample,
        tfidf_top_terms,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rep_plan = repetition_features(docs)._jdf.queryExecution().executedPlan().toString()
    tfidf_plan = tfidf_top_terms(docs)._jdf.queryExecution().executedPlan().toString()
    for plan in (rep_plan, tfidf_plan):
        for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert bad not in plan, bad

    # all three gram granularities share ONE window pass and one stacked
    # aggregation — no per-granularity window recomputation or join-back
    assert rep_plan.count("Window") == 1
    assert "Join" not in rep_plan

    plan = stratified_sample(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, bad


def test_c4_filters_planted_rules(spark):
    import pandas as pd

    from blink_spark.operators.corpus import c4_filters

    rows = [
        # 2 kept lines, 3 sentences, clean page -> keep
        (1, 'intro line no punct\ngood long sentence here.\nanother one stays! ok fine?'),
        # line ends right but too short -> dropped; no sentences -> not keep
        (2, 'word word\nab c.'),
        # lorem ipsum page flag
        (3, 'fine sentence stays here.\nlorem ipsum dolor sit amet.\nmore good text here.'),
        # brace page flag
        (4, 'css { x } done here.\nsecond fine line stays.'),
        # every line dropped -> empty clean, still one output row
        (5, 'nothing\nto keep'),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    out = {r["doc_id"]: r.asDict() for r in c4_filters(df, "doc_id", "text").collect()}
    assert len(out) == 5
    r1 = out[1]
    assert (r1["n_lines"], r1["n_lines_kept"], r1["n_sentences"]) == (3, 2, 3)
    assert r1["keep"] and not r1["has_brace"] and not r1["has_lorem"]
    r2 = out[2]
    assert (r2["n_lines_kept"], r2["keep"]) == (0, False)
    assert out[3]["has_lorem"] and not out[3]["keep"]
    assert out[4]["has_brace"] and not out[4]["keep"]
    r5 = out[5]
    assert (r5["n_lines_kept"], r5["clean_len"]) == (0, 0)
    # clean text preserves original line order
    import hashlib
    want = "good long sentence here.\nanother one stays! ok fine?"
    assert r1["clean_hash"] == hashlib.md5(want.encode()).hexdigest()


def test_dsir_weights_equals_bruteforce(spark):
    import hashlib
    import math

    import pandas as pd

    from blink_spark.operators.corpus import dsir_weights
    from pyspark.sql import functions as F

    rows = [
        (1, True, "alpha beta alpha beta"),
        (2, True, "alpha beta gamma"),
        (3, False, "delta epsilon delta"),
        (4, False, "alpha beta zeta"),
    ]
    B = 1024

    def bucket(a, b):
        h = hashlib.md5(f"{a}\x1f{b}".encode()).hexdigest()
        return int(h[:8], 16) % B

    occ = []
    for did, tgt, text in rows:
        tk = text.split(" ")
        occ += [(did, tgt, bucket(a, b)) for a, b in zip(tk, tk[1:])]
    ct = {}
    cb = {}
    for _, tgt, bk in occ:
        (ct if tgt else cb)[bk] = (ct if tgt else cb).get(bk, 0) + 1
    tt, tb = sum(ct.values()), sum(cb.values())
    w = {
        bk: math.floor(math.log((ct.get(bk, 0) + 1) / (tt + B)) * 1e6)
        - math.floor(math.log((cb.get(bk, 0) + 1) / (tb + B)) * 1e6)
        for bk in {o[2] for o in occ}
    }
    want = {}
    for did, tgt, bk in occ:
        n, s = want.get(did, (0, 0))
        want[did] = (n + 1, s + w[bk])

    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "tgt", "text"])
    )
    got = {
        r.doc_id: (r.n_bigrams, r.dsir_micro, r.is_target)
        for r in dsir_weights(df, F.col("tgt")).collect()
    }
    assert got == {d: (n, s, d in (1, 2)) for d, (n, s) in want.items()}
    # target-distinctive docs must outrank background ones
    assert got[1][1] > got[3][1] and got[2][1] > got[3][1]


def test_gopher_quality_hand_computed(spark):
    import pandas as pd

    from blink_spark.operators.corpus import gopher_quality

    long_good = " ".join(
        ["the quick brown fox jumps over that lazy dog with style and grace"]
        * 5
    )  # 65 words, all alphabetic, stopwords {the, that, with, and} -> 4
    symbolic = "short doc ... with ## symbols #"  # 7 words, 1 ellipsis, 3 hash
    df = spark.createDataFrame(
        pd.DataFrame(
            [(1, long_good), (2, symbolic)], columns=["doc_id", "text"]
        )
    )
    out = {r.doc_id: r.asDict() for r in
           gopher_quality(df, "doc_id", "text").collect()}

    g = out[1]
    assert g["n_words"] == 65
    chars = sum(len(w) for w in long_good.split())
    assert g["mean_word_len_ppm"] == (1_000_000 * chars) // 65
    assert g["symbol_ratio_ppm"] == 0
    assert g["alpha_word_ppm"] == 1_000_000
    assert g["n_stopwords_distinct"] == 4
    assert bool(g["keep"]) is True

    s = out[2]
    assert s["n_words"] == 7
    # 1 ellipsis + 3 '#' chars over 7 words
    assert s["symbol_ratio_ppm"] == (1_000_000 * 4) // 7
    # '...', '##', '#' carry no [a-z]
    assert s["alpha_word_ppm"] == (1_000_000 * 4) // 7
    assert s["n_stopwords_distinct"] == 1  # 'with'
    assert bool(s["keep"]) is False  # word count below 50
