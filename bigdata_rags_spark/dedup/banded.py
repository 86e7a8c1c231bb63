"""Banded candidate join — the one kernel behind every near-dup family that
bands rows into keys: MinHash LSH (`dedup/minhash.py`), SimHash and the
perceptual-Hamming fingerprints (`dedup/simhash.py`, `dedup/hamming.py`)
and hyperplane LSH (`similarity/knn.py`).  Every band-keyed join in the
package goes through ``band_candidates``, so a plan fix lands once.

1. ``band_candidates``: explode each row into its ``(band, key)`` entries,
   equi-join on ``(band, key)``, keep each distinct ``(id_a, id_b)`` once.
   SELF mode (no ``b`` frame) keeps ``id_a < id_b``; PROBE mode (a query or
   batch against a corpus or store) applies no id filter — a caller that
   must not pair a row with itself adds ``id_a != id_b``.  When both sides
   use the same key list the explode runs ONCE and joins with itself, so
   Spark reuses its exchange.  Multi-probe LSH is a different key list per
   side: ``(t, sig_t ^ mask)`` for every mask on the a-side, ``(t, sig_t)``
   on the b-side (equal iff the signatures differ by exactly ``mask``).
2. ``join_sides``: attach each side's verify columns by id as ``a_<col>`` /
   ``b_<col>``; the caller supplies only its verify or score Column
   (``hamming_distance`` for the fingerprint families).

Never join on an OR of band equalities: Catalyst plans it as a
BroadcastNestedLoopJoin, the all-pairs scan banding exists to avoid.

EXACTNESS (pigeonhole): with ``B`` disjoint bands and ``max_hamming <=
B - 1`` a qualifying pair matches exactly in some band, so banded
candidates + exact verify EQUAL the all-pairs predicate the DuckDB
oracles state.  Scale: ``len(keys)`` narrow rows per input row cross one
exchange; non-matching collisions are ~N^2/2^key_bits per band, and data-
correlated bucket skew is the failure mode to price first
(`similarity/knn.lsh_bucket_skew_report`).  A DERIVED input feeds the
explode and both verify joins, so the caller ``localCheckpoint``s it (a
lazy cache does not protect multi-branch reuse); the kernel never
materializes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: ``(band_id, key Column)`` entries; every key in one list has one type.
BandKeys = Sequence[tuple[int, Column]]


def band_rows(frame: DataFrame, keys: BandKeys, id_col: str = "doc_id") -> DataFrame:
    """(id, band, key): one row per band entry of each row of ``frame``."""
    entries = F.array(*[F.struct(F.lit(b).alias("band"), k.alias("key")) for b, k in keys])
    return frame.select(F.col(id_col).alias("id"), F.explode(entries).alias("bk")).select(
        "id", "bk.band", "bk.key"
    )


def band_candidates(
    a: DataFrame,
    keys: BandKeys,
    id_col: str = "doc_id",
    b: DataFrame | None = None,
    b_keys: BandKeys | None = None,
) -> DataFrame:
    """Distinct (id_a, id_b) pairs sharing at least one ``(band, key)``.

    Self mode (``b`` omitted) pairs ``a`` with itself and keeps
    ``id_a < id_b``; ``b_keys`` then gives the b-side its own key list
    (multi-probe).  Probe mode pairs ``a`` rows with ``b`` rows (keyed by
    ``b_keys``, default ``keys``) and applies no id filter.  Both sides
    carry their id in ``id_col``."""
    rows_a = band_rows(a, keys, id_col)
    rows_b = (
        rows_a
        if b is None and b_keys is None
        else band_rows(a if b is None else b, keys if b_keys is None else b_keys, id_col)
    )
    cand = rows_a.withColumnRenamed("id", "id_a").join(
        rows_b.withColumnRenamed("id", "id_b"), ["band", "key"]
    )
    if b is None:
        cand = cand.filter(F.col("id_a") < F.col("id_b"))
    return cand.select("id_a", "id_b").distinct()


def join_sides(
    cand: DataFrame,
    a: DataFrame,
    cols: Sequence[str],
    id_col: str = "doc_id",
    b: DataFrame | None = None,
) -> DataFrame:
    """``cand`` (id_a, id_b) with ``a``'s ``cols`` attached as ``a_<col>``
    and ``b``'s (default ``a``'s) as ``b_<col>``, matched on ``id_col``."""
    for side, frame in (("a", a), ("b", a if b is None else b)):
        cand = cand.join(
            frame.select(
                F.col(id_col).alias(f"id_{side}"), *[F.col(c).alias(f"{side}_{c}") for c in cols]
            ),
            f"id_{side}",
        )
    return cand


def hamming_distance(word_cols: Sequence[str]) -> Column:
    """Exact multi-word Hamming distance between ``join_sides``' a/b words."""
    return sum(F.bit_count(F.col(f"a_{c}").bitwiseXOR(F.col(f"b_{c}"))) for c in word_cols)
