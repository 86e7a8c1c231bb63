"""The three benchmark workloads.

Each workload drives the package only through its public functions and
exposes:

- ``setup()``: inputs and persisted artifacts (inside set-up spans);
- ``warmup()``: the untimed ops run before the first timed op;
- ``schedule()``: the endless, seeded sequence of timed ops;
- ``final_check()``: checks that run once, after the timed loop.

An op is ``Op(role, name, run, check)``: ``run()`` performs the timed work and
returns its collected output, ``check(output)`` returns a list of problems
and runs outside the timed region.  ``role`` is ``ingest`` (the write side)
or ``query`` (the read side); the end-to-end metrics are per-role medians.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import hashlib
import itertools
import os
import statistics
import time
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

RUN_DATE = dt.date(2026, 1, 1)
READ_SET = [
    "attack_shape_metrics",
    "defense_shape_metrics",
    "discipline_shape_metrics",
    "flagship_revenue_by_nation",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "tpch_q9_profit_by_nation_year",
    "tpch_q18_large_volume_customers",
    "window_rank_orders_in_segment",
]
NEAR_DUP = [
    ("dedup.minhash_lsh_candidates", "minhash_lsh_candidates"),
    ("dedup.jaccard_prefix_filter_pairs", "jaccard_prefix_filter_pairs"),
    ("dedup.simhash_idf_near_dup_pairs", "simhash_idf_near_dup_pairs"),
    ("similarity.text_hashed_idf_near_dups", "text_hashed_idf_near_dups"),
]
# serve request shape (k, n_probe, shortlist) and the per-request recall
# floor against exact top-k.  The index's quantizers are fixed literals, not
# trained on these vectors, so the search is approximate: a query's exact
# nearest neighbour can fall outside the ADC shortlist and be missed, and
# recall@5 varies by request (0.55-1.0 over 160 requests of seeds
# 1000-1039).  Each serve must equal the catalog's DuckDB replay of the same
# IVFPQ path over the live vectors; the floor also catches serving that
# matches a broken replay (a random top-5 scores about 0.01).
K, N_PROBE, SHORTLIST = 5, 4, 50
RECALL_FLOOR = 0.3

# sizes: full runs and the fast ``--smoke`` runs of the benchmark's tests
SIZES = {
    False: {"sf": 0.001, "docs": 600, "vectors": 1000, "serve_docs": 600, "teams": 40},
    True: {"sf": 0.001, "docs": 200, "vectors": 300, "serve_docs": 200, "teams": 12},
}


@dataclasses.dataclass
class Op:
    role: str
    name: str
    run: Callable[[], object]
    check: Callable[[object], list[str]]


def ivfpq_oracle_topk(live: dict[int, np.ndarray], request: pd.DataFrame) -> pd.DataFrame:
    """The catalog's DuckDB replay of IVFPQ serving (fixed-literal cells and
    codebooks, ADC shortlist, exact rerank) of ``request`` against the
    ``live`` vectors.  The replay takes its queries from the same table as
    the corpus, by id below a bound: queries go in as ids -1, -2, ... and
    the corpus is restricted to ids >= 0."""
    import duckdb
    import pyarrow as pa

    from bigdata_rags_spark.queries.llm_ops import _ivfpq_oracle

    ids = sorted(live)
    qids = list(request["vec_id"])
    table = pa.table(
        {
            "vec_id": pa.array(ids + [-1 - j for j in range(len(qids))], pa.int64()),
            "embedding": pa.array(
                [live[i] for i in ids] + list(request["embedding"]), pa.list_(pa.float32())
            ),
        }
    )
    sql = _ivfpq_oracle(
        k=K, n_queries=0, n_probe=N_PROBE, shortlist=SHORTLIST, corpus_pred="vec_id >= 0"
    )
    con = duckdb.connect()
    try:
        con.register("embeddings", table)
        out = con.execute(sql).df()
    finally:
        con.close()
    out["query_id"] = [qids[-1 - int(q)] for q in out["query_id"]]
    return out


def _frame_hash(pdf: pd.DataFrame) -> str:
    from bigdata_rags_spark.testing import canonical_rows

    return hashlib.sha256(repr(canonical_rows(pdf)).encode()).hexdigest()


class _Oracle:
    """DuckDB oracle results of registry queries, computed once per run."""

    def __init__(self, sf_dir: str) -> None:
        self.sf_dir, self.cache = sf_dir, {}

    def problems(self, name: str, got: pd.DataFrame) -> list[str]:
        from bigdata_rags_spark.queries.catalog import REGISTRY
        from bigdata_rags_spark.testing import compare_frames, duckdb_oracle

        if name not in self.cache:
            self.cache[name] = duckdb_oracle(REGISTRY[name].oracle, self.sf_dir)
        return [f"{name}: {p}" for p in compare_frames(got, self.cache[name])]


class Workload:
    name = ""
    role_names: dict[str, str] = {}  # detail-line name of each role's median
    min_samples = 1  # timed ops per role, at least, whatever ``--seconds`` is

    def __init__(self, ctx) -> None:
        self.ctx, self.spark, self.span = ctx, ctx.spark, ctx.spans.span
        self.size = SIZES[ctx.smoke]
        self.rng = np.random.default_rng([ctx.seed, 99])

    def setup(self) -> None:
        pass

    def warmup(self) -> list[Op]:
        raise NotImplementedError

    def schedule(self) -> Iterator[Op]:
        raise NotImplementedError

    def final_check(self) -> list[str]:
        return []

    def named_metrics(self) -> dict:
        """Workload-specific end-to-end metrics beyond the role medians."""
        return {}

    def layer_report(self) -> dict:
        """Workload-specific layer facts reported by traced runs."""
        return {}

    def _write_inputs(self, documents: pd.DataFrame) -> None:
        """All tables the registry queries and their oracles read."""
        tables = gen.star_schema(self.ctx.seed, self.size["sf"])
        tables["documents"] = documents
        tables["embeddings"] = gen.embeddings(self.ctx.seed, 100)
        self.sf_dir = gen.write_tables(os.path.join(self.ctx.work, "sf"), tables)
        self.oracle = _Oracle(self.sf_dir)

    def _query(self, name: str) -> pd.DataFrame:
        from bigdata_rags_spark.queries.catalog import REGISTRY

        return REGISTRY[name].spark(self.spark, self.sf_dir).toPandas()


# ---------------------------------------------------------------------------


class EtlDaily(Workload):
    """Football extract -> transform -> load into fresh zones (ingest) and
    one pass of the reference-shape / TPC-H analog read set (query)."""

    name = "etl_daily"
    role_names = {"ingest": "etl_cycle_s", "query": "analytics_pass_s"}

    def setup(self) -> None:
        from bigdata_rags_spark.pipelines.driver import TRANSFORMS
        from bigdata_rags_spark.schemas import FOOTBALL

        seed = self.ctx.seed
        self._write_inputs(gen.documents(seed, 100))
        fb = gen.football(seed, n_teams=self.size["teams"])
        self.sources = {
            n: self.spark.createDataFrame(p, schema=FOOTBALL[n]) for n, p in fb.items()
        }
        # inner joins on Team: a pipeline's rows are the teams in all inputs
        self.expected_teams = {
            prefix: sorted(set.intersection(*(set(fb[t]["Team"]) for t in inputs)))
            for prefix, (inputs, _) in TRANSFORMS.items()
        }
        self.cycle, self.ref_hash = 0, {}

    def _etl_cycle(self):
        from bigdata_rags_spark.io.zones import ZoneLayout
        from bigdata_rags_spark.pipelines.driver import run_extract, run_load, run_transform

        self.cycle += 1
        layout = ZoneLayout(os.path.join(self.ctx.work, "lake", f"cycle{self.cycle}"))

        def write_table(df, name):
            df.write.mode("overwrite").parquet(layout.table_dir("exploration", name, RUN_DATE))

        with self.span("pipelines.run_extract"):
            status = run_extract(self.sources, layout, RUN_DATE)
        with self.span("pipelines.run_transform"):
            transformed = run_transform(self.spark, layout, RUN_DATE)
        with self.span("pipelines.run_load"):
            loaded = run_load(self.spark, layout, RUN_DATE, write_table)
        return status, transformed, loaded, layout

    def _check_cycle(self, out) -> list[str]:
        status, transformed, loaded, layout = out
        probs = [f"extract {n}: {s}" for n, s in status.items() if s != "SUCCESS"]
        if not transformed or sorted(loaded) != sorted(self.expected_teams):
            return probs + [f"transform={transformed} loaded={loaded}"]
        for name, teams in self.expected_teams.items():
            pdf = pq.read_table(layout.table_dir("exploration", name, RUN_DATE)).to_pandas()
            if sorted(pdf["Team"]) != teams:
                probs.append(f"{name}: {len(pdf)} rows, expected {len(teams)} teams")
            h = self.ref_hash.setdefault(name, _frame_hash(pdf))
            if _frame_hash(pdf) != h:
                probs.append(f"{name}: value hash differs from the first cycle")
        return probs

    def _analytics_pass(self):
        with self.span("queries.analytics_pass"):
            return {n: self._query(n) for n in READ_SET}

    def _check_pass(self, out) -> list[str]:
        return [p for n in READ_SET for p in self.oracle.problems(n, out[n])]

    def warmup(self) -> list[Op]:
        return [Op("ingest", "etl_cycle", self._etl_cycle, self._check_cycle)]

    def schedule(self) -> Iterator[Op]:
        return itertools.cycle(
            [
                Op("query", "analytics_pass", self._analytics_pass, self._check_pass),
                Op("ingest", "etl_cycle", self._etl_cycle, self._check_cycle),
            ]
        )


# ---------------------------------------------------------------------------


class CurationBatch(Workload):
    """One batch curation of a seeded corpus (rows permuted by the seed):
    the curation funnel (ingest) and one near-dup pass (query)."""

    name = "curation_batch"
    role_names = {"ingest": "curation_funnel_s", "query": "neardup_pass_s"}

    def setup(self) -> None:
        docs = gen.documents(self.ctx.seed, self.size["docs"])
        self._write_inputs(docs.iloc[self.rng.permutation(len(docs))])

    def _funnel(self):
        with self.span("pipelines.curation_funnel_capstone"):
            return self._query("curation_funnel_capstone")

    def _near_dup_pass(self):
        out = {}
        for span, q in NEAR_DUP:
            with self.span(span):
                out[q] = self._query(q)
        return out

    def _funnel_op(self) -> Op:
        return Op(
            "ingest",
            "curation_funnel",
            self._funnel,
            lambda out: self.oracle.problems("curation_funnel_capstone", out),
        )

    def warmup(self) -> list[Op]:
        return [self._funnel_op()]

    def schedule(self) -> Iterator[Op]:
        near_dup = Op(
            "query",
            "neardup_pass",
            self._near_dup_pass,
            lambda out: [p for _, q in NEAR_DUP for p in self.oracle.problems(q, out[q])],
        )
        return itertools.cycle([near_dup, self._funnel_op()])


# ---------------------------------------------------------------------------


class IndexServeIngest(Workload):
    """Closed loop over persisted artifacts: IVFPQ serves (query), and
    ingest steps of one vector upsert plus one text-dedup batch through the
    winnow, MinHash and PPJoin stores (ingest)."""

    name = "index_serve_ingest"
    role_names = {"ingest": "ingest_step_p50_s", "query": "serve_p50_s"}
    # one untimed serve and ingest step take each op's first-use cost (the
    # first serve is about 1.5x a warm one); three timed of each fit the run
    # budget
    min_samples = 3
    REQUESTS = 4  # distinct requests; the mix repeats them
    UPSERT_NEW, UPSERT_UPDATES = 48, 12
    DOC_BATCH = 60

    def setup(self) -> None:
        from bigdata_rags_spark.dedup.minhash import build_minhash_store
        from bigdata_rags_spark.dedup.ppjoin import build_ppjoin_store
        from bigdata_rags_spark.dedup.winnow import build_winnow_store
        from bigdata_rags_spark.similarity.pq import build_ivfpq_index

        rng, seed = self.rng, self.ctx.seed
        self.prefix = f"pb{seed}_{os.getpid()}"
        emb = gen.embeddings(seed, self.size["vectors"])
        self.centers = gen.cluster_centers(seed)
        vecs = np.stack(emb["embedding"].to_numpy())
        perm = rng.permutation(len(emb))
        cut = len(emb) * 3 // 4
        self.live = {int(i): vecs[i] for i in perm[:cut]}
        self.held_out = [int(i) for i in perm[cut:]]
        self.version = 0  # bumps on every upsert

        docs = gen.documents(seed, self.size["serve_docs"])
        dperm = rng.permutation(len(docs))
        dcut = len(docs) * 4 // 5
        store = docs.iloc[np.sort(dperm[:dcut])]
        rest = np.sort(dperm[dcut:])
        self.doc_batches = [
            docs.iloc[rest[i : i + self.DOC_BATCH]][["doc_id", "text"]]
            for i in range(0, len(rest), self.DOC_BATCH)
        ]
        self.store_docs = self.spark.createDataFrame(store[["doc_id", "text"]])
        self.expected_drops = [self._planted_drops(docs, store, b) for b in self.doc_batches]

        # requests: 4 query vectors near live corpus vectors, ids off-corpus;
        # upserts never update those sources, so every request keeps its
        # near-copies in the corpus
        live_ids = np.array(sorted(self.live))
        self.requests, self.sources = [], set()
        for r in range(self.REQUESTS):
            src = rng.choice(live_ids, 4, replace=False)
            self.sources.update(int(i) for i in src)
            q = np.stack([self.live[int(i)] for i in src]) + 0.03 * gen.unit_vectors(rng, 4)
            q = (q / np.linalg.norm(q, axis=1, keepdims=True)).astype("float32")
            ids = np.arange(4, dtype="int64") + 1_000_000_000 + 10 * r
            self.requests.append(pd.DataFrame({"vec_id": ids, "embedding": list(q)}))
        self.mix = rng.integers(0, self.REQUESTS, 10_000)
        self.n_serves, self.n_ingests, self.last_served = 0, 0, {}
        self.oracle_served: dict[tuple[int, int], pd.DataFrame] = {}
        self.keepers_ref: dict[int, dict] = {}
        self.recalls: list[float] = []
        self.part_times: dict[str, list[float]] = {"upsert": [], "dedup_ingest": []}

        corpus = pd.DataFrame(
            {"vec_id": np.array(sorted(self.live), dtype="int64"),
             "embedding": [self.live[i] for i in sorted(self.live)]}
        )
        with self.span("similarity.build_ivfpq_index"):
            build_ivfpq_index(
                self.spark.createDataFrame(corpus), table_prefix=f"{self.prefix}_idx"
            )
        with self.span("dedup.build_stores"):
            build_winnow_store(self.store_docs, f"{self.prefix}_win")
            build_minhash_store(self.store_docs, f"{self.prefix}_mh")
            build_ppjoin_store(self.store_docs, f"{self.prefix}_pp")

    @staticmethod
    def _planted_drops(docs, store, batch) -> dict[str, set[int]]:
        """Per keeper family, the batch docs it must drop: planted copies
        (text + `` dup``) of a stored or lower-id batch doc, and originals
        of such copies.  MinHash and the prefix filter drop every one
        (Jaccard >= 6/7 > 0.5).  Winnowing needs two shared selected
        fingerprints, which its window guarantee gives only for texts of
        at least 2 * w + k - 1 = 13 tokens; it is held to copies of 20+."""
        text = dict(zip(docs["doc_id"], docs["text"]))
        earlier = set(store["doc_id"])
        out = {"winnow": set(), "minhash": set(), "prefix_filter": set()}
        for d in sorted(batch["doc_id"]):
            t = text[d]
            for e in earlier:
                u = text[e]
                if t == u + " dup" or u == t + " dup" or t == u:
                    out["minhash"].add(int(d))
                    out["prefix_filter"].add(int(d))
                    if min(len(t.split()), len(u.split())) >= 20:
                        out["winnow"].add(int(d))
                    break
            earlier.add(d)
        return out

    # -- serve ------------------------------------------------------------
    def _serve(self):
        from bigdata_rags_spark.similarity.pq import ivfpq_index_serve

        r = int(self.mix[self.n_serves])
        self.n_serves += 1
        qdf = self.spark.createDataFrame(self.requests[r])
        with self.span("similarity.ivfpq_index_serve"):
            out = ivfpq_index_serve(
                qdf, k=K, table_prefix=f"{self.prefix}_idx", n_probe=N_PROBE, shortlist=SHORTLIST
            ).toPandas()
        return r, self.version, out

    def _check_serve(self, res) -> list[str]:
        r, version, out = res
        req = self.requests[r]
        ids = np.array(sorted(self.live))
        mat = np.stack([self.live[i] for i in ids]).astype("float64")
        probs, hits = [], 0
        for qid, q in zip(req["vec_id"], req["embedding"]):
            q = np.asarray(q, dtype="float64")
            got = out[out["query_id"] == qid].sort_values("rank")
            if list(got["rank"]) != list(range(1, K + 1)):
                probs.append(f"serve {qid}: ranks {list(got['rank'])}")
                continue
            sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
            exact = ids[np.argsort(-sims, kind="stable")[:K]]
            hits += len(set(exact) & set(got["neighbor_id"]))
            for nb, s in zip(got["neighbor_id"], got["similarity"]):
                if nb not in self.live:
                    probs.append(f"serve {qid}: neighbor {nb} is not live")
                    continue
                v = self.live[int(nb)].astype("float64")
                want = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
                if abs(want - s) > 2e-6:
                    probs.append(f"serve {qid}: similarity {s} for {nb}, expected {want:.6f}")
        from bigdata_rags_spark.testing import compare_frames

        want = self.oracle_served.get((r, version))
        if want is None:
            want = self.oracle_served[(r, version)] = ivfpq_oracle_topk(self.live, req)
        probs.extend(f"serve request {r}: {p}" for p in compare_frames(out, want))
        recall = hits / (K * len(req))
        self.recalls.append(recall)
        if recall < RECALL_FLOOR:
            probs.append(f"serve request {r}: recall@{K} {recall:.2f} < {RECALL_FLOOR}")
        key = _frame_hash(out)
        prev = self.last_served.get(r)
        if prev is not None and prev[0] == version and prev[1] != key:
            probs.append(f"serve request {r}: repeated request returned different results")
        self.last_served[r] = (version, key)
        return probs

    # -- ingest -----------------------------------------------------------
    def _upsert_batch(self) -> pd.DataFrame:
        new = self.held_out[: self.UPSERT_NEW]
        self.held_out = self.held_out[self.UPSERT_NEW :]
        upd = list(
            self.rng.choice(sorted(set(self.live) - self.sources), self.UPSERT_UPDATES, replace=False)
        )
        ids = np.array(sorted(int(i) for i in new + upd), dtype="int64")
        labels = self.rng.integers(0, len(self.centers), len(ids))
        vecs = gen.clustered_vectors(self.rng, self.centers, labels)
        return pd.DataFrame({"vec_id": ids, "embedding": list(vecs)})

    def _keepers(self, batch: pd.DataFrame, inline: bool) -> dict[str, set]:
        from bigdata_rags_spark.dedup.minhash import incremental_minhash_keepers
        from bigdata_rags_spark.dedup.ppjoin import incremental_prefix_filter_keepers
        from bigdata_rags_spark.dedup.winnow import incremental_winnow_keepers

        bdf = self.spark.createDataFrame(batch)
        fns = {
            "winnow": (incremental_winnow_keepers, "_win"),
            "minhash": (incremental_minhash_keepers, "_mh"),
            "prefix_filter": (incremental_prefix_filter_keepers, "_pp"),
        }
        out = {}
        for fam, (fn, suffix) in fns.items():
            kw = {"existing": self.store_docs} if inline else {"store_prefix": self.prefix + suffix}
            out[fam] = set(fn(bdf, **kw).select("doc_id").toPandas()["doc_id"])
        return out

    def _ingest_step(self):
        from bigdata_rags_spark.streaming.ingest import ingest_vectors_batch

        upsert = self._upsert_batch()
        b = self.n_ingests % len(self.doc_batches)
        self.n_ingests += 1
        udf = self.spark.createDataFrame(upsert)
        t0 = time.perf_counter()
        with self.span("streaming.ingest_vectors_batch"):
            ingest_vectors_batch(udf, table_prefix=f"{self.prefix}_idx")
        t1 = time.perf_counter()
        with self.span("dedup.incremental_keepers"):
            keep = self._keepers(self.doc_batches[b], inline=False)
        t2 = time.perf_counter()
        if self.ctx.spans.phase == "timed":
            self.part_times["upsert"].append(t1 - t0)
            self.part_times["dedup_ingest"].append(t2 - t1)
        for i, v in zip(upsert["vec_id"], upsert["embedding"]):
            self.live[int(i)] = v
        self.version += 1
        return b, keep

    def _check_ingest(self, res) -> list[str]:
        b, keep = res
        probs = []
        ref = self.keepers_ref.setdefault(b, keep)
        batch_ids = set(self.doc_batches[b]["doc_id"])
        for fam, kept in keep.items():
            if kept != ref[fam]:
                probs.append(f"{fam} keepers of batch {b} changed between ingests")
            if not kept <= batch_ids:
                probs.append(f"{fam} keepers of batch {b} are not batch docs")
            missed = kept & self.expected_drops[b][fam]
            if missed:
                probs.append(f"{fam} kept planted duplicates {sorted(missed)[:5]}")
        return probs

    def _ops(self):
        serve = Op("query", "serve", self._serve, self._check_serve)
        ingest = Op("ingest", "ingest_step", self._ingest_step, self._check_ingest)
        return serve, ingest

    def warmup(self) -> list[Op]:
        return list(self._ops())

    def schedule(self) -> Iterator[Op]:
        return itertools.cycle(self._ops())

    def final_check(self) -> list[str]:
        """Store-path keepers equal the inline path (defaults), batch 0."""
        with self.span("bench.check"):
            inline = self._keepers(self.doc_batches[0], inline=True)
        stored = self.keepers_ref.get(0)
        if stored is None:
            return ["no store-path result for batch 0"]
        return [
            f"{fam}: store path kept {len(stored[fam])}, inline path {len(inline[fam])}"
            for fam in inline
            if inline[fam] != stored[fam]
        ]

    def named_metrics(self) -> dict:
        serves = [t1 - t0 for t0, t1 in self.ctx.timed_ops("serve")]
        out = {
            f"{part}_p50_s": {"value": statistics.median(ts), "unit": "s"}
            for part, ts in self.part_times.items()
            if ts
        }
        t = tail(serves)
        if t is not None:
            out["serve_tail_s"] = {"value": t.pop("value"), "unit": "s", **t}
        return out

    def layer_report(self) -> dict:
        recall = float(np.mean(self.recalls)) if self.recalls else None
        return {"similarity.recall_at_k": recall}


def tail(values: list[float], min_beyond: int = 10) -> dict | None:
    """The highest whole percentile with at least ``min_beyond`` samples
    above it, or None when there are too few samples for any."""
    n = len(values)
    pct = (100 * (n - min_beyond)) // n if n else 0
    if pct < 50:
        return None
    ordered = sorted(values)
    k = -(-pct * n // 100) - 1  # nearest-rank percentile
    return {"percentile": pct, "samples": n, "beyond": n - k - 1, "value": ordered[k]}


WORKLOADS = {w.name: w for w in (EtlDaily, CurationBatch, IndexServeIngest)}
