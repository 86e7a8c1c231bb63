"""The serve check's DuckDB replay of IVFPQ serving, on a small seeded corpus.

Needs no Spark session.  Run from the repository root:
``python3 -m pytest perfbench/tests/test_serve_oracle.py``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
from workloads import K, ivfpq_oracle_topk  # noqa: E402


def test_replay_answers_off_corpus_queries_by_their_own_ids():
    emb = gen.embeddings(5, 300)
    live = {int(i): v for i, v in zip(emb["vec_id"], emb["embedding"])}
    rng = np.random.default_rng(5)
    src = [3, 150, 299]
    q = np.stack([live[i] for i in src]) + 0.03 * gen.unit_vectors(rng, len(src))
    q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype("float32")
    ids = np.arange(len(src), dtype="int64") + 1_000_000_000
    out = ivfpq_oracle_topk(live, pd.DataFrame({"vec_id": ids, "embedding": list(q)}))

    assert sorted(set(out["query_id"])) == list(ids)
    for qid, qv in zip(ids, q):
        got = out[out["query_id"] == qid].sort_values("rank")
        assert list(got["rank"]) == list(range(1, K + 1))
        assert set(got["neighbor_id"]) <= set(live)
        qv = qv.astype("float64")
        for nb, s in zip(got["neighbor_id"], got["similarity"]):
            v = live[int(nb)].astype("float64")
            assert abs(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv)) - s) <= 1e-6
        assert list(got["similarity"]) == sorted(got["similarity"], reverse=True)
