"""Unit tests for the scalar/vectorized function layer."""

from __future__ import annotations

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from blink_spark.functions.hashing import EMB_DIM, _embed_batch
from blink_spark.functions.similarity import _jaro_winkler


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def test_normalize_and_tokens(spark):
    from blink_spark.functions.text import normalize_text, tokens

    assert _one(spark, normalize_text(F.lit("  Foo   BAR \t baz "))) == "foo bar baz"
    assert _one(spark, tokens(F.lit("a b a c b"))) == ["a", "b", "c"]


def test_token_jaccard(spark):
    from blink_spark.functions.similarity import token_jaccard

    assert _one(spark, token_jaccard(F.lit("a b c"), F.lit("b c d"))) == pytest.approx(0.5)
    assert _one(spark, token_jaccard(F.lit("x"), F.lit("x"))) == 1.0


def test_lev_ratio_and_banded_equivalence(spark):
    from blink_spark.functions.similarity import lev_ratio, lev_within

    cases = [
        ("alpha bravo cedar eaaab", "alpha bravo cedar eaaab"),
        ("alpha bravo cedar eaaab", "alpha brXvo cedar eaaab"),
        ("alpha bravo cedar eaaab", "alpha bravo cedar ebbba"),
        ("short", "completely different text"),
        ("", ""),
    ]
    df = spark.createDataFrame(cases, "a string, b string")
    rows = df.select(
        lev_ratio("a", "b").alias("r"), lev_within("a", "b", 0.93).alias("w")
    ).collect()
    for (a, b), row in zip(cases, rows):
        assert row.w == (row.r >= 0.93), f"banded != exact for {a!r}/{b!r}"


def test_dot_and_cosine(spark):
    from blink_spark.functions.similarity import cosine, dot, l2_norm

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0]), ([0.0, 0.0, 0.0], [4.0, 5.0, 6.0])],
        "a array<double>, b array<double>",
    )
    normed = df.withColumn("na", l2_norm("a")).withColumn("nb", l2_norm("b"))
    r, z = normed.select(
        dot("a", "b").alias("d"),
        cosine("a", "b").alias("c"),
        cosine("a", "b", l2_norm("a"), l2_norm("b")).alias("ch"),
        cosine("a", "b", "na", "nb").alias("cn"),
    ).collect()
    assert r.d == pytest.approx(32.0)
    assert r.c == pytest.approx(32.0 / (math.sqrt(14) * math.sqrt(77)))
    # given norms (as columns or names) change nothing, bit for bit
    assert r.c == r.ch == r.cn
    assert z.c == z.ch == z.cn == 0.0


def test_jaro_winkler_reference_values():
    assert _jaro_winkler("martha", "marhta") == pytest.approx(0.9611, abs=1e-4)
    assert _jaro_winkler("dwayne", "duane") == pytest.approx(0.84, abs=1e-2)
    assert _jaro_winkler("abc", "abc") == 1.0
    assert _jaro_winkler("abc", "xyz") == 0.0
    assert _jaro_winkler("", "x") == 0.0


def test_embedding_deterministic_unit_norm():
    def embed(text):
        return _embed_batch(pd.Series([text]), EMB_DIM).iloc[0]

    a = embed("alpha bravo cedar")
    b = embed("alpha bravo cedar")
    assert a == b
    assert sum(x * x for x in a) == pytest.approx(1.0, abs=1e-5)
    # order-insensitive by construction (bag of tokens)
    c = embed("cedar bravo alpha")
    assert a == c


def test_minhash_similar_texts_share_bands(spark):
    from blink_spark.functions.hashing import minhash_band_keys

    df = spark.createDataFrame(
        [
            ("a", "the quick brown fox jumps over the lazy dog"),
            ("b", "the quick brown fox jumps over the lazy dot"),
            ("c", "completely unrelated text about spark engines"),
        ],
        "id string, t string",
    )
    rows = df.select("id", minhash_band_keys("t").alias("k")).collect()
    keys = {r.id: set(r.k) for r in rows}
    assert keys["a"] & keys["b"], "near-identical texts must share a band"
    assert not (keys["a"] & keys["c"])


def test_simhash_hamming(spark):
    from blink_spark.functions.hashing import hamming64
    from blink_spark.operators.dedup import simhash_relational

    df = spark.createDataFrame(
        [
            ("dog", "the quick brown fox jumps over the lazy dog"),
            ("dot", "the quick brown fox jumps over the lazy dot"),
            ("far", "totally different words entirely unrelated here"),
        ],
        "id string, t string",
    )
    sh = {r.record_id: r.sh for r in simhash_relational(df, "id", "t").collect()}
    near = _one(spark, hamming64(F.lit(sh["dog"]), F.lit(sh["dot"])))
    far = _one(spark, hamming64(F.lit(sh["dog"]), F.lit(sh["far"])))
    assert near < far


def test_quality_and_lang(spark):
    from blink_spark.functions.text import lang_id, quality_features

    df = spark.createDataFrame(
        [("the cat is on the mat and it is happy",),
         ("el gato que en los tejados canta y baila",)],
        "t string",
    )
    feats = quality_features("t")
    rows = df.select(lang_id("t").alias("lang"), feats["stopword_ratio"].alias("sr")).collect()
    assert rows[0].lang == "en" and rows[0].sr > 0
    assert rows[1].lang == "es"


def test_bpe_pretokens_classes(spark):
    """BPE-ish pretokenizer: maximal letter/digit/symbol runs — punctuation
    and digits become tokens whitespace splitting hides, and the classes are
    disjoint so no alternation-order ambiguity exists between engines."""
    from blink_spark.functions.text import bpe_pretokens, bpe_token_count, token_count

    df = spark.createDataFrame(
        # the \x0B row pins the explicit-whitespace-class choice: Java \s
        # includes vertical tab, RE2 \s does not — both engines must treat
        # it as a separator here
        [("What topic?!", ), ("abc123 x-9", ), ("", ), ("   ", ), ("a\x0bb", )],
        "t string",
    )
    import pyspark.sql.functions as F

    rows = df.select(
        bpe_pretokens("t").alias("p"),
        bpe_token_count("t").alias("n"),
        token_count("t").alias("ws"),
    ).collect()
    assert rows[0].p == ["What", "topic", "?!"] and rows[0].n == 3 and rows[0].ws == 2
    assert rows[1].p == ["abc", "123", "x", "-", "9"]
    assert rows[2].p == [] and rows[2].n == 0
    assert rows[3].p == []
    assert rows[4].p == ["a", "b"]

    import duckdb
    from blink_spark.functions.text import BPE_PRETOKEN_RE

    # cross-engine agreement on the VT case (the reason \s is spelled out)
    dd = duckdb.sql(
        "SELECT regexp_extract_all('a' || chr(11) || 'b', ?)",
        params=[BPE_PRETOKEN_RE],
    ).fetchone()[0]
    assert dd == ["a", "b"], dd


def test_no_default_arg_lambda_closures_in_source():
    """Guard against the arity trap that has now bitten twice: Spark HOFs
    (F.transform / F.filter) dispatch on the LAMBDA'S ARITY, so a
    `lambda x, s=s:` default-arg closure is a 2-arg lambda and receives
    (element, array_index) — the loop variable is silently replaced by the
    index. Legitimate 2-arg lambdas (aggregate folds, zip_with) never use
    defaults, so any `lambda a, b=...:` in source is the bug. Use a 1-arg
    factory function instead (see _dists_for_sub in operators/ann.py)."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    offenders = []
    for src in [root / "__spark_entry__.py", *sorted((root / "blink_spark").rglob("*.py"))]:
        tree = ast.parse(src.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.Lambda) and node.args.defaults:
                offenders.append(f"{src.name}:{node.lineno}")
    assert not offenders, offenders
