"""Scalar / vectorized functions. JVM Column expressions wherever possible
(whole-stage codegen); Arrow-batched pandas UDFs only where Spark lacks the
primitive (Jaro-Winkler, hashing-trick embeddings)."""

from blink_spark.functions.text import (  # noqa: F401
    fingerprint,
    lang_id,
    normalize_text,
    quality_features,
    shingles,
    token_count,
    tokens,
)
from blink_spark.functions.similarity import (  # noqa: F401
    cosine,
    dot,
    jaro_winkler_udf,
    l2_norm,
    lev_ratio,
    pair_score,
    token_jaccard,
)
from blink_spark.functions.hashing import (  # noqa: F401
    embed_text_udf,
    minhash_signature,
)
