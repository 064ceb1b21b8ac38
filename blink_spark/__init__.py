"""blink_spark — a PySpark-native entity-resolution / record-linkage engine.

Brand-new implementation of the query and data-processing capabilities of
facebookresearch/BLINK (reference read-only at /root/reference/), recast as
Spark-first blocking → pairwise scoring → transitive clustering over tables of
interleaved text+media documents.

Layout
------
- ``session``    SparkSession factory tuned for the pipeline
- ``synth``      deterministic synthetic fixture generator (seed=42)
- ``functions``  scalar/vectorized text, hashing, similarity functions
- ``operators``  relational operators: extract, blocking, pairs, scoring,
                 clustering, top-k, dedup, ANN, skew handling, eval
- ``sources``    scans for jsonl / conll / wiki-extractor shaped inputs
- ``pipeline``   end-to-end staged pipeline with checkpointed stage tables
"""

__version__ = "0.1.0"
