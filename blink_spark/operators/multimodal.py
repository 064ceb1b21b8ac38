"""Multimodal columns: opaque media refs with typed metadata (SURVEY.md §2;
'multimodal columns' requirement of the build brief).

Media payloads are opaque ``binary``/ref columns; decode / feature-extract /
resize / frame-sample are Arrow-batched ``mapInPandas`` stages.
``decode_media_stub`` produces a deterministic md5-derived fake so the
plumbing — schema, batch shape, partitioning — is oracle-checkable end to
end. A real codec would replace ``_fake_decode`` behind the same
``MEDIA_META`` contract; nothing upstream changes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# resize_plan's bound on a visual's longest side, in pixels
MAX_DIM = 700

MEDIA_META = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("span_idx", T.IntegerType(), False),
        # nullable: a NULL media_ref row decodes to all-NULL fields (the
        # oracle's md5(NULL) propagation) rather than an UnsafeWriter NPE
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("media_kind", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _fake_decode(ref: str | None) -> tuple:
    """Deterministic md5-derived fake decode — same bytes on every machine.

    The arithmetic (ascii of md5 hex chars) is chosen to be replicable in
    ANSI SQL so the plumbing is oracle-checkable end to end. A NULL ref
    decodes to all-NULL fields — the SQL twin's md5(NULL) propagation —
    instead of crashing the Arrow batch.
    """
    import hashlib

    if ref is None or (isinstance(ref, float) and pd.isna(ref)):
        return None, None, None, None, None
    h = hashlib.md5(ref.encode()).hexdigest()
    kind = ["image", "audio", "video"][ord(h[0]) % 3]
    width = 640 + ord(h[1])
    height = 360 + ord(h[2])
    n_frames = 1 if kind == "image" else 1 + ord(h[3])
    feature = [round((ord(c) % 16) / 15.0, 6) for c in h[:8]]
    return kind, width, height, n_frames, feature


def decode_media_stub(media_spans: DataFrame) -> DataFrame:
    """mapInPandas decode stage over (doc_id, span_idx, media_ref) rows.

    Real Arrow batch plumbing; fake codec (see module docstring).
    """
    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [_fake_decode(r) for r in pdf["media_ref"]]
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "span_idx": pdf["span_idx"].astype("int32").values,
                    "media_ref": pdf["media_ref"].values,
                    "media_kind": [d[0] for d in decoded],
                    "width": pd.array([d[1] for d in decoded], dtype="Int32"),
                    "height": pd.array([d[2] for d in decoded], dtype="Int32"),
                    "n_frames": pd.array([d[3] for d in decoded], dtype="Int32"),
                    "feature": [d[4] for d in decoded],
                }
            )
            yield out

    return media_spans.select("doc_id", "span_idx", "media_ref").mapInPandas(
        decode, MEDIA_META
    )


def resize_plan(decoded: DataFrame) -> DataFrame:
    """Resize metadata for visual rows whose longest side exceeds
    ``MAX_DIM``: integer-exact target dims preserving aspect ratio
    (new = dim * MAX_DIM // longest). The pixel work would live in a further
    mapInPandas stage; this is the plan/metadata half, fully relational."""
    longest = F.greatest("width", "height")
    vis = decoded.filter(F.col("media_kind").isin("image", "video"))
    return vis.select(
        "doc_id",
        "span_idx",
        "media_ref",
        "width",
        "height",
        F.when(longest <= MAX_DIM, F.col("width"))
        .otherwise(F.floor(F.col("width") * MAX_DIM / longest).cast("int"))
        .alias("target_w"),
        F.when(longest <= MAX_DIM, F.col("height"))
        .otherwise(F.floor(F.col("height") * MAX_DIM / longest).cast("int"))
        .alias("target_h"),
        (longest > MAX_DIM).alias("needs_resize"),
    )


def frame_sample(decoded: DataFrame) -> DataFrame:
    """Frame-sampling plan for video rows: one row per 10th frame index.

    Pure relational (sequence + explode) — the expensive pixel work would
    live in a further mapInPandas stage.
    """
    return decoded.filter(F.col("media_kind") == "video").select(
        "doc_id",
        "span_idx",
        "media_ref",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(10))
        ).alias("frame_idx"),
    )
