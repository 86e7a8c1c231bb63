"""Self-scaling width rules vs the pinned oracle constants.

Every banded/bucketed family derives its width from a runtime corpus count
(auto_n_planes, auto_n_cells, auto_minhash_params) while the DuckDB oracle
SQL pins the HISTORICAL constant (8 planes / 16 cells / 12 hashes x 2 rows).
Parity therefore holds only while the driver fixtures stay inside each
rule's calibration band — this file is the loud guard (ADVICE r8 #1): if a
fixture ever grows past a band, the failure points here first, naming the
oracles that must be regenerated, instead of a silent wall of hash
mismatches in the driver CORRECTNESS file."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from bigdata_rags_spark.dedup.minhash import auto_minhash_params
from bigdata_rags_spark.similarity.ivf import auto_n_cells
from bigdata_rags_spark.similarity.knn import auto_n_planes

# widest corpus count at which each rule still resolves to its pinned value
PLANES_BAND = 2048  # auto_n_planes(N) == 8  iff N <= 8 * 2^8
CELLS_BAND = 2048  # auto_n_cells(N)  == 16 iff N <= 128 * 16
MINHASH_BAND = 8192  # auto_minhash_params(N) == (12, 2) iff N <= 8 * 2^10


def test_auto_rules_resolve_to_pinned_constants_on_fixture_counts():
    # driver fixtures: embeddings N=500 (sf0.01) / N=2000 (sf0.1),
    # documents N=500 (sf0.01) / N=5000 (sf0.1)
    for n in (1, 500, 2000, PLANES_BAND):
        assert auto_n_planes(n) == 8, n
        assert auto_n_cells(n) == 16, n
    for n in (1, 500, 5000, MINHASH_BAND):
        assert auto_minhash_params(n) == (12, 2), n


def test_auto_rules_grow_past_their_bands():
    assert auto_n_planes(PLANES_BAND + 1) > 8
    assert auto_n_cells(CELLS_BAND + 1) > 16
    assert auto_minhash_params(MINHASH_BAND + 8) != (12, 2)
    # the 10x probe corpus values SCALE.md records
    assert auto_n_planes(20000) == 12
    assert auto_n_cells(20000) == 256
    assert auto_minhash_params(20000) == (45, 3)


def test_minhash_band_count_tracks_historical_threshold():
    # b = ceil(6^(r/2)) keeps t = (1/b)^(1/r) within ~2% of the historical
    # (1/6)^(1/2) ~ 0.408 until the width cap bites
    for n, (nh, r) in ((500, (12, 2)), (20000, (45, 3)), (10**6, (144, 4))):
        got_nh, got_r = auto_minhash_params(n)
        assert (got_nh, got_r) == (nh, r), n
        t = (1.0 / (got_nh // got_r)) ** (1.0 / got_r)
        assert abs(t - 6 ** -0.5) < 0.01, (n, t)


@pytest.mark.parametrize("table,band,rule", [
    ("embeddings", PLANES_BAND, "auto_n_planes -> 8-plane LSH oracles"),
    ("embeddings", CELLS_BAND, "auto_n_cells -> 16-cell IVF/SemDeDup oracles"),
    ("documents", MINHASH_BAND, "auto_minhash_params -> 12/2 MinHash oracles"),
    # text_hashed_{,idf_}near_dups size their planes from the documents count
    ("documents", PLANES_BAND, "auto_n_planes -> 8-plane text LSH oracles"),
])
def test_driver_fixtures_inside_calibration_bands(sf_smoke, sf_oracle, table, band, rule):
    for sf_dir in (sf_smoke, sf_oracle):
        n = pq.read_metadata(f"{sf_dir}/{table}.parquet").num_rows
        assert n <= band, (
            f"{sf_dir}/{table}.parquet has {n} rows, outside the calibration "
            f"band (N <= {band}) for {rule}: the self-scaled Spark width no "
            "longer matches the constant pinned in the oracle SQL — "
            "regenerate those oracles (or re-calibrate the rule) before the "
            "driver runs, or every query in that family goes red at once."
        )


def test_incremental_family_widths_pinned_on_fixture_roles(sf_smoke, sf_oracle):
    """The incremental dedup family sizes TWO widths (SCALE.md finding #5):
    the vs-index rule from the STORED corpus count, the intra-batch rule
    from the BATCH count.  Both must resolve to the pinned oracle constants
    on the driver fixtures' role splits (stored = id % 5 == 0; batch = rest
    + every-7th rekeyed) — and genuinely diverge at probe scale, or the
    two-widths design is dead code."""
    import pyarrow.parquet as pqt

    for sf_dir in (sf_smoke, sf_oracle):
        ids = pqt.read_table(f"{sf_dir}/embeddings.parquet", columns=["vec_id"])[
            "vec_id"
        ].to_pylist()
        existing = sum(1 for i in ids if i % 5 == 0)
        batch = len(ids) - existing + sum(1 for i in ids if i % 7 == 0)
        assert auto_n_cells(existing) == 16, (sf_dir, existing)
        assert auto_n_cells(batch) == 16, (sf_dir, batch)
        dids = pqt.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id"])[
            "doc_id"
        ].to_pylist()
        d_existing = sum(1 for i in dids if i % 5 == 0)
        assert auto_minhash_params(d_existing) == (12, 2), (sf_dir, d_existing)
    # at the 10x probe corpus the index and batch widths diverge — the
    # batch-scaled intra quantizer is what cut the probe ratio 18x -> 5.7x
    assert auto_n_cells(10_000) < auto_n_cells(45_600)
