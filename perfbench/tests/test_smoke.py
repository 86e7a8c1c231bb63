"""Fast end-to-end runs of every workload on tiny inputs (``--smoke``).

Each run must exit 0, print every end-to-end metric (or, traced, every
per-layer metric) with its unit, and report no failed op.  Run from the
repository root: ``python3 -m pytest perfbench/tests``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from layers import MEASURES  # noqa: E402
from run import E2E_UNITS, ROLES  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPANS = {
    "etl_daily": [
        "session.get_session",
        "pipelines.run_extract",
        "pipelines.run_transform",
        "pipelines.run_load",
        "queries.analytics_pass",
    ],
    "curation_batch": [
        "session.get_session",
        "pipelines.curation_funnel_capstone",
        "dedup.minhash_lsh_candidates",
        "dedup.jaccard_prefix_filter_pairs",
        "dedup.simhash_idf_near_dup_pairs",
        "similarity.text_hashed_idf_near_dups",
    ],
    "index_serve_ingest": [
        "session.get_session",
        "similarity.build_ivfpq_index",
        "dedup.build_stores",
        "similarity.ivfpq_index_serve",
        "streaming.ingest_vectors_batch",
        "dedup.incremental_keepers",
    ],
}


def _run(workload: str, trace: int):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_untraced_run_prints_every_end_to_end_metric(workload):
    detail, result = _run(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, detail["problems"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == E2E_UNITS
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert detail["metrics"]["failed_op_frac"] == {"value": 0.0, "unit": "fraction"}
    assert all("unit" in v for v in detail["metrics"].values())


def test_traced_run_attributes_every_job_and_reports_every_layer():
    detail, result = _run("index_serve_ingest", trace=1)
    assert result["correct"] is True and result["failed"] == 0, detail["problems"]
    expected = {"session.wall_s": "s", "io.table_files": "count"}
    for role in ("setup", *ROLES):
        expected.update({f"{role}.{m}": u for m, u in MEASURES.items()})
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    assert set(SPANS["index_serve_ingest"]) <= set(detail["spans"])
    for span in SPANS["index_serve_ingest"]:
        assert set(detail["spans"][span]) == set(MEASURES)
    assert detail["spans"]["similarity.ivfpq_index_serve"]["jobs"] > 0
    assert detail["io.table_files"] > 0
    assert 0.0 < detail["similarity.recall_at_k"] <= 1.0


def test_run_without_the_package_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_daily", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
