"""End-to-end test of the spark-submit --py-files surface (north rule: the
whole job runs via spark-submit on a cluster manager — here local[N] on the
host's cores as the sandbox stand-in). Builds blink_spark.zip, submits
tools/submit_pipeline.py in a FRESH JVM with the library available only
through --py-files, then
checks the produced cluster assignments against the same DuckDB
recursive-CTE closure oracle the driver uses for er_clusters."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"


@pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)
def test_spark_submit_pipeline_matches_oracle(tmp_path):
    # materialize tests/fixtures/ if a clean checkout hasn't yet (the
    # generator is an exists-guarded no-op when they're already there)
    sys.path.insert(0, REPO)
    from blink_spark.session import DEFAULT_CPUS
    from blink_spark.synth import write_fixtures

    write_fixtures(os.path.join(REPO, "tests", "fixtures"))
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
        check=True,
        cwd=REPO,
    )
    out_dir = str(tmp_path / "out")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", f"local[{DEFAULT_CPUS}]",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.ui.enabled=false",
            "--py-files", os.path.join(REPO, "blink_spark.zip"),
            os.path.join(REPO, "tools", "submit_pipeline.py"),
            os.path.join(REPO, "tests", "fixtures", "documents.parquet"),
            out_dir,
        ],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
        cwd=str(tmp_path),  # NOT the repo: the zip must provide the package
    )
    assert r.returncode == 0, r.stdout[-2000:] + r.stderr[-2000:]
    assert "clusters written: 6000 rows" in r.stdout, r.stdout[-500:]
    assert os.path.exists(os.path.join(out_dir, "lineage.jsonl"))

    # the north-rule gate, evaluated on the submitted job's output: pairwise
    # F1 vs gold links at the shared blocking key must be >= 0.99. (Exact
    # cluster-table equality vs the er_clusters oracle would be wrong here:
    # the full pipeline also matches blocked non-gold pairs, e.g. identical
    # surfaces inside one document via exact contraction.)
    gold = os.path.join(REPO, "tests", "fixtures", "gold_pairs.parquet")
    con = duckdb.connect()
    tp, fp, fn = con.sql(
        f"""
        SELECT
          sum(CASE WHEN same_entity AND a.cluster_id = b.cluster_id
              THEN 1 ELSE 0 END),
          sum(CASE WHEN NOT same_entity AND a.cluster_id = b.cluster_id
              THEN 1 ELSE 0 END),
          sum(CASE WHEN same_entity AND a.cluster_id != b.cluster_id
              THEN 1 ELSE 0 END)
        FROM read_parquet('{gold}') g
        JOIN read_parquet('{out_dir}/clusters/*.parquet') a
          ON a.record_id = g.mention_id_a
        JOIN read_parquet('{out_dir}/clusters/*.parquet') b
          ON b.record_id = g.mention_id_b
        """
    ).fetchall()[0]
    # an empty join (fixture/id-scheme drift) yields NULL sums — fail with
    # the real cause, not a TypeError on arithmetic
    assert tp and tp > 0, (tp, fp, fn)
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, (tp, fp, fn, f1)
