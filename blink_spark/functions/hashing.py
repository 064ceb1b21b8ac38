"""Hash-based primitives: SimHash token hashes, hashing-trick embeddings,
exact-integer sign-LSH. (MinHash lives in ``operators/blocking.py``.)

Token hashes are built on ``md5`` so the exact same SimHash is computable
in ANSI SQL (DuckDB oracle parity) — no dependence on Spark's non-portable
``hash()``/``xxhash64``. The embedding UDF replaces the
reference's biencoder (/root/reference/blink/common/ranker_base.py:28-44)
with a seeded, model-free hashing-trick featurizer: a pure function of the
text, stable across machines and partitionings (SURVEY.md §7 determinism).
"""

from __future__ import annotations

import functools
import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hash16(c: Column, salt: int) -> Column:
    """First 15 hex chars of md5(salt || value) as a bigint (portable)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"s{salt}:"), c)), 1, 15), 16, 10).cast(
        "long"
    )


def hamming64(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


# --- hashing-trick embeddings (the biencoder stand-in) ---------------------

EMB_DIM = 64
# seed of the sign-LSH hyperplanes (both the float and the integer forms)
LSH_SEED = 7


# token -> (64-bit hash int, sign). The featurizer is a pure function of the
# token, so memoizing is semantics-free; the cache lives in the (reused)
# Python worker process and evicts least-recently-used tokens past its
# bound. blake2b per token OCCURRENCE was the dominant cost of the old row
# loop — now it runs once per DISTINCT token per process.
@functools.lru_cache(maxsize=4_000_000)
def _tok_feature(tok: str) -> tuple[int, float]:
    d = hashlib.blake2b(tok.encode(), digest_size=9).digest()
    return int.from_bytes(d[:8], "big"), 1.0 if d[8] & 1 else -1.0


def _embed_batch(texts: pd.Series, dim: int) -> pd.Series:
    """Vectorized hashing-trick embedding — bit-identical to the original
    per-token loop: each cell accumulates an exact integer (±1 sums in
    float64 are order-independent), and the per-row ``np.linalg.norm(v)`` /
    divide / float32 cast call path is unchanged."""
    toks_list = [(t or "").lower().split() for t in texts]
    n_rows = len(toks_list)
    mat = np.zeros((n_rows, dim), dtype=np.float64)
    flat = [tok for tl in toks_list for tok in tl]
    if flat:
        rows = np.repeat(
            np.arange(n_rows, dtype=np.int64),
            np.fromiter((len(tl) for tl in toks_list), dtype=np.int64, count=n_rows),
        )
        codes, uniques = pd.factorize(pd.Series(flat, dtype=object))
        uidx = np.empty(len(uniques), dtype=np.int64)
        usign = np.empty(len(uniques), dtype=np.float64)
        for j, tok in enumerate(uniques):
            h, s = _tok_feature(tok)
            uidx[j] = h % dim
            usign[j] = s
        np.add.at(mat, (rows, uidx[codes]), usign[codes])
    out = []
    for i in range(n_rows):
        v = mat[i]
        n = np.linalg.norm(v)
        if n > 0:
            v = v / n
        out.append(v.astype(np.float32).tolist())
    return pd.Series(out)


@F.pandas_udf(T.ArrayType(T.FloatType()))
def embed_text_udf(texts: pd.Series) -> pd.Series:
    """Arrow-batched deterministic text embedding (unit-norm, dim 64)."""
    return _embed_batch(texts, EMB_DIM)


# --- exact-arithmetic (oracle-portable) sign-LSH + cosine -------------------
#
# Float dot products are order-sensitive at the last ulp, so a bucket sign or
# a 6dp-rounded cosine can differ between engines exactly at a boundary. The
# *_exact family removes that: embeddings are quantized to integers
# (floor(v * 10^6)), hyperplanes are integer-valued, and every dot product is
# an exact integer in both Spark (long fold) and DuckDB (list_dot_product —
# values stay < 2^53, exactly representable in double). The only float ops
# left are one sqrt and one division on identical inputs — IEEE-deterministic.

QUANT_SCALE = 1_000_000
_PLANE_INT_SCALE = 1 << 20


def int_plane(seed: int, p: int, dim: int) -> list[int]:
    """Deterministic integer hyperplane, components in [-2^20, 2^20)."""
    vals = []
    for i in range(dim):
        d = hashlib.blake2b(f"iplane:{seed}:{p}:{i}".encode(), digest_size=8).digest()
        u = int.from_bytes(d, "big") % (2 * _PLANE_INT_SCALE)
        vals.append(u - _PLANE_INT_SCALE)
    return vals


def quantize_emb(emb: Column | str) -> Column:
    """array<float> → array<long>: floor(v * 10^6) (floor is unambiguous
    across engines, unlike half-even/half-up rounding)."""
    c = F.col(emb) if isinstance(emb, str) else emb
    return F.transform(c, lambda x: F.floor(x.cast("double") * QUANT_SCALE).cast("long"))


def int_dot(a: Column | str, b: Column | str) -> Column:
    """Exact integer inner product of two array<long> columns."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def int_l2(a: Column | str, b: Column | str) -> Column:
    """Exact integer squared L2 distance of two array<long> columns."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ca, cb, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine_exact(a_q: Column | str, b_q: Column | str) -> Column:
    """Cosine over quantized (array<long>) embeddings — bit-reproducible:
    three exact integer dots, then sqrt/divide on identical doubles."""
    ca = F.col(a_q) if isinstance(a_q, str) else a_q
    cb = F.col(b_q) if isinstance(b_q, str) else b_q
    denom = F.sqrt(int_dot(ca, ca).cast("double")) * F.sqrt(
        int_dot(cb, cb).cast("double")
    )
    return F.when(denom > 0, int_dot(ca, cb).cast("double") / denom).otherwise(
        F.lit(0.0)
    )


def sign_lsh_bucket_exact(
    emb_q: Column | str, n_planes: int = 8, dim: int = EMB_DIM
) -> Column:
    """Sign-LSH bucket over a QUANTIZED embedding with integer hyperplanes —
    the sign test is exact integer arithmetic (no float-boundary flips), so
    the identical bucket is computable in ANSI SQL."""
    c = F.col(emb_q) if isinstance(emb_q, str) else emb_q
    acc = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(x).cast("long") for x in int_plane(LSH_SEED, p, dim)])
        proj = F.aggregate(
            F.zip_with(c, plane, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        )
        acc = acc + F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return acc


def int_plane_sql_literal(seed: int, p: int, dim: int) -> str:
    """The same hyperplane as a DuckDB BIGINT[] literal (oracle side)."""
    return "[" + ",".join(str(x) for x in int_plane(seed, p, dim)) + "]::BIGINT[]"


def sq8_codes(quantized_col: str) -> "Column":
    """8-bit scalar quantization of a quantized (array<long>, micro-unit)
    embedding — the FAISS IndexScalarQuantizer QT_8bit analogue: each
    dimension affine-mapped from the fixed [-1, 1] range onto 0..254.
    Integer-only (clamp → scale → positive floor div), so both engines
    produce identical codes; values outside [-1, 1] saturate, as a fixed
    trained range does in FAISS. Takes the COLUMN NAME (the expression is
    a SQL `transform` so the floor `div` stays integer; Column-lambda
    arithmetic would force a float division)."""
    return F.expr(
        f"transform({quantized_col}, "
        "x -> (least(greatest(x + 1000000, 0), 2000000) * 254) div 2000000)"
    )
