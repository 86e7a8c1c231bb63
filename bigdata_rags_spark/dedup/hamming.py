"""Banded-Hamming near-dup pairs and probes on the kernel in
`dedup/banded.py`: the perceptual fingerprints (image 128-bit aHash, audio
126-bit, video 128-bit temporal, the retrieve-BY-modality capstones) and
the SimHash pairs.  A family is only its word columns and its band-key SQL
expressions (``words128_band_exprs``, ``FP126_BAND_EXPRS``,
``simhash.SIMHASH64_BANDS`` / ``SIMHASH16_BAND_EXPRS``); the verify
(``hamming_verify``) is the exact multi-word ``bit_count``.  ``banded_*`` functions assert the
pigeonhole precondition ``max_hamming <= bands - 1`` (kernel docstring)
instead of silently going lossy, so they EQUAL the all-pairs predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_rags_spark.dedup.banded import BandKeys, band_candidates, hamming_distance, join_sides


def words128_band_exprs(n_words: int = 4, bits_per_key: int = 16) -> list[str]:
    """The standard banding of ``n_words`` 32-bit words ``w0..w{n-1}`` into
    ``2 * n_words`` keys of ``bits_per_key`` bits — the image/video 128-bit
    family's layout."""
    return [
        f"shiftright(w{b // 2}, {bits_per_key * (b % 2)}) & {(1 << bits_per_key) - 1}"
        for b in range(2 * n_words)
    ]


#: band-key expressions for the 126-bit (fp_lo, fp_hi) audio fingerprint:
#: three 16-bit keys + one 15-bit key per 63-bit word.
FP126_BAND_EXPRS: list[str] = [
    *[f"(fp_lo >> {16 * k}) & 65535" for k in range(3)],
    "(fp_lo >> 48) & 32767",
    *[f"(fp_hi >> {16 * k}) & 65535" for k in range(3)],
    "(fp_hi >> 48) & 32767",
]


def _layout(
    word_cols: list[str] | None, band_exprs: list[str] | None, max_hamming: int
) -> tuple[list[str], list[str]]:
    word_cols = word_cols if word_cols is not None else [f"w{j}" for j in range(4)]
    band_exprs = band_exprs if band_exprs is not None else words128_band_exprs()
    if max_hamming > len(band_exprs) - 1:
        raise ValueError(
            f"pigeonhole exactness needs max_hamming <= bands-1; got "
            f"{max_hamming} with {len(band_exprs)} bands"
        )
    return word_cols, band_exprs


def band_keys(band_exprs: list[str]) -> BandKeys:
    """Kernel band keys from a family's band-key SQL expressions."""
    return [(b, F.expr(e).cast("bigint")) for b, e in enumerate(band_exprs)]


def hamming_verify(
    cand: DataFrame,
    a: DataFrame,
    word_cols: list[str],
    max_hamming: int,
    id_col: str = "doc_id",
    b: DataFrame | None = None,
) -> DataFrame:
    """``join_sides``' (id_a, id_b, a_<word>.., b_<word>..) plus the exact
    ``hamming`` distance, kept where it is <= ``max_hamming``."""
    return (
        join_sides(cand, a, word_cols, id_col, b=b)
        .withColumn("hamming", hamming_distance(word_cols).cast("int"))
        .filter(F.col("hamming") <= max_hamming)
    )


def hamming_pairs(
    h: DataFrame,
    word_cols: list[str],
    band_exprs: list[str],
    max_hamming: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_a < doc_b, hamming <= max_hamming) pairs of a fingerprint frame
    with no pigeonhole check: exact for ``max_hamming <= bands - 1``, a
    high-recall heuristic above it."""
    cand = band_candidates(h, band_keys(band_exprs), id_col)
    return hamming_verify(cand, h, word_cols, max_hamming, id_col).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"), "hamming"
    )


def banded_hamming_pairs(
    h: DataFrame,
    word_cols: list[str] | None = None,
    band_exprs: list[str] | None = None,
    max_hamming: int = 7,
    id_col: str = "doc_id",
) -> DataFrame:
    """All near-dup PAIRS (doc_a < doc_b, hamming <= max_hamming) of a
    fingerprint frame — the self-join form shared by the image/audio/video
    near-dup queries.  Defaults to the 128-bit w0..w3 family layout.

    The fingerprint frame feeds three plan branches (the band explode and
    both verify sides) — callers must localCheckpoint it first (the
    CLAUDE.md multi-branch rule; each near-dup query documents which)."""
    word_cols, band_exprs = _layout(word_cols, band_exprs, max_hamming)
    return hamming_pairs(h, word_cols, band_exprs, max_hamming, id_col)


def banded_hamming_probe(
    qh: DataFrame,
    ch: DataFrame,
    word_cols: list[str] | None = None,
    band_exprs: list[str] | None = None,
    max_hamming: int = 7,
    k: int = 5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Asymmetric QUERY-vs-CORPUS serving form of ``banded_hamming_pairs``
    (the retrieve-documents-BY-image/audio capstone probe): the kernel's
    probe mode joins query bands against corpus bands, the exact
    multi-word bit_count verifies, and each query keeps its top ``k`` at
    hamming <= ``max_hamming`` (rank by hamming then match id; a doc never
    matches itself).  Same pigeonhole exactness; candidates ~|Q| x
    N/2^key_bits per band."""
    word_cols, band_exprs = _layout(word_cols, band_exprs, max_hamming)
    cand = band_candidates(qh, band_keys(band_exprs), id_col, b=ch).filter(
        F.col("id_a") != F.col("id_b")
    )
    verified = hamming_verify(cand, qh, word_cols, max_hamming, id_col, b=ch).select(
        F.col("id_a").alias("query_doc"), F.col("id_b").alias("match_doc"), "hamming"
    )
    w = Window.partitionBy("query_doc").orderBy("hamming", "match_doc")
    return (
        verified.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_doc", "rank", "match_doc", "hamming")
    )
