"""SimHash document fingerprinting (Charikar 2002 / Manku et al. WWW'07 shape).

16-bit variant, fully declarative and oracle-portable: each token's hash is
the first 4 hex chars of md5 (16 bits, identical in every engine); bit b of
the fingerprint is 1 iff more token-hashes have bit b set than not (strictly
positive majority).  Near-dup candidates = fingerprint collisions or low
Hamming distance.

The per-(doc, bit) vote is expressed as an explode over 16 bit positions —
|docs| x distinct-tokens x 16 narrow rows, one shuffle to aggregate votes,
one to assemble fingerprints.  No UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_rags_spark.dedup.banded import band_candidates
from bigdata_rags_spark.dedup.hamming import band_keys, hamming_pairs, hamming_verify
from bigdata_rags_spark.functions.text import ws_tokens

SIMHASH_BITS = 16


def simhash16(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash) with simhash in [0, 65535]."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(ws_tokens(F.col(text_col)))).alias("token"),
    )
    # 16-bit token hash from the md5 hex prefix (conv: hex -> decimal string)
    th = toks.withColumn(
        "token_hash", F.conv(F.substring(F.md5(F.col("token")), 1, 4), 16, 10).cast("int")
    )
    bits = th.select(
        "doc_id",
        "token_hash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
    )
    # expr form: the SQL shift functions take a column shift amount (the
    # Python F.shiftright/shiftleft helpers only accept literal ints)
    votes = bits.withColumn(
        "vote", F.expr("CASE WHEN (shiftright(token_hash, bit) & 1) = 1 THEN 1 ELSE -1 END")
    )
    bit_sums = votes.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    return bit_sums.groupBy("doc_id").agg(
        F.sum(F.expr("CASE WHEN v > 0 THEN shiftleft(1, bit) ELSE 0 END"))
        .cast("bigint")
        .alias("simhash")
    )


BANDS = 4
BAND_BITS = 16
#: the 64-bit fingerprint's layout: each 16-bit band column is its own
#: band key and its own verify word
SIMHASH64_BANDS = [f"band{k}" for k in range(BANDS)]
#: the 16-bit fingerprint's layout: two 8-bit halves (lo, hi)
SIMHASH16_BAND_EXPRS = ["simhash & 255", "shiftright(simhash, 8)"]


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash as four 16-bit bands + a hex rendering.

    (doc_id, band0..band3, simhash_hex): band k's token hash is md5 hex
    chars [4k+1, 4k+4], so the concatenation is a true 64-bit simhash of
    the md5-prefix token hash.  Banding is the point (Manku et al. WWW'07):
    two 64-bit fingerprints within Hamming distance 3 MUST agree on at
    least one of the 4 bands, so the near-dup join is one equi-join on
    (band, 16-bit key) instead of an all-pairs scan — and, unlike the r1 16-bit
    variant whose 8-bit halves saturate past ~10^5 docs, 16-bit bands give
    65536 buckets per table on corpus-scale data.  Keeping the four bands
    as separate 32-bit-safe ints sidesteps signed-64 overflow in BOTH
    engines (the top md5 hex digit can set bit 63).

    One shuffle to vote (doc, bit), one to assemble — no UDFs.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(ws_tokens(F.col(text_col)))).alias("token"),
    )
    md = F.md5(F.col("token"))
    th = toks.select(
        "doc_id",
        *[
            F.conv(F.substring(md, 1 + 4 * k, 4), 16, 10).cast("int").alias(f"h{k}")
            for k in range(BANDS)
        ],
    )
    bits = th.select(
        "doc_id",
        *[f"h{k}" for k in range(BANDS)],
        F.explode(F.sequence(F.lit(0), F.lit(BAND_BITS - 1))).alias("bit"),
    )
    votes = bits.groupBy("doc_id", "bit").agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN (shiftright(h{k}, bit) & 1) = 1 THEN 1 ELSE -1 END")
            ).alias(f"v{k}")
            for k in range(BANDS)
        ]
    )
    fp = votes.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"CASE WHEN v{k} > 0 THEN shiftleft(1, bit) ELSE 0 END"))
            .cast("int")
            .alias(f"band{k}")
            for k in range(BANDS)
        ]
    )
    hex_col = F.concat(
        *[
            F.lpad(F.lower(F.conv(F.col(f"band{k}").cast("string"), 10, 16)), 4, "0")
            for k in range(BANDS)
        ]
    )
    return fp.withColumn("simhash_hex", hex_col)


def rarity_weight(df_col) -> F.Column:
    """Integer idf surrogate: w = max(1, 16 - floor(log2(df))), df = doc
    frequency.  floor(log2) is computed EXACTLY as length(bin(df)) - 1 —
    float log2 differs by 1 ulp between engines at powers of two (Spark
    evaluates log(x)/log(2)), which would flip the floor, so no float ever
    enters the weight.  Range [1, 16]: hapax tokens weigh 16, tokens in
    >= 2^15 docs weigh 1."""
    return F.greatest(F.lit(1), F.lit(16) - (F.length(F.bin(df_col)) - F.lit(1)))


def simhash64_idf(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash with RARITY-WEIGHTED votes — the band-skew mitigation
    of SCALE.md round-11 finding #6: unweighted SimHash lets ubiquitous
    tokens dominate every document's majority votes, concentrating
    fingerprints into a few band buckets (largest bucket 1,639 of 5,000
    docs at sf0.1) and making the banded self-join hot-partition-bound at
    scale.  Weighting each distinct token's +/-1 vote by the integer idf
    surrogate ``rarity_weight`` (Charikar 2002 §4 allows arbitrary
    non-negative token weights; idf is the standard choice) decorrelates
    the bits: rare tokens — the ones that actually distinguish near-dups —
    decide them.  On the sf0.1 fixture the largest band bucket barely moves
    (1,639 -> 1,627) because that skew is TRUE duplication (a 249-doc group
    with identical distinct-token sets, which any correct fingerprint must
    collide); the planted test shows the mechanism — docs sharing only a
    ubiquitous backbone conflate unweighted and separate weighted.

    Same banding/output shape as ``simhash64`` (four 16-bit bands + hex);
    one extra vocab-keyed join to attach document frequencies, everything
    else identical.  All weights are integers, so the majority votes stay
    engine-exact."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(ws_tokens(F.col(text_col)))).alias("token"),
    )
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    md = F.md5(F.col("token"))
    th = toks.join(dfreq, "token").select(
        "doc_id",
        rarity_weight(F.col("df")).cast("int").alias("w"),
        *[
            F.conv(F.substring(md, 1 + 4 * k, 4), 16, 10).cast("int").alias(f"h{k}")
            for k in range(BANDS)
        ],
    )
    bits = th.select(
        "doc_id",
        "w",
        *[f"h{k}" for k in range(BANDS)],
        F.explode(F.sequence(F.lit(0), F.lit(BAND_BITS - 1))).alias("bit"),
    )
    votes = bits.groupBy("doc_id", "bit").agg(
        *[
            F.sum(
                F.expr(f"CASE WHEN (shiftright(h{k}, bit) & 1) = 1 THEN w ELSE -w END")
            ).alias(f"v{k}")
            for k in range(BANDS)
        ]
    )
    fp = votes.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"CASE WHEN v{k} > 0 THEN shiftleft(1, bit) ELSE 0 END"))
            .cast("int")
            .alias(f"band{k}")
            for k in range(BANDS)
        ]
    )
    hex_col = F.concat(
        *[
            F.lpad(F.lower(F.conv(F.col(f"band{k}").cast("string"), 10, 16)), 4, "0")
            for k in range(BANDS)
        ]
    )
    return fp.withColumn("simhash_hex", hex_col)


def simhash_idf_near_pairs64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """``simhash_near_pairs64`` over the rarity-weighted fingerprint: same
    4x16-bit banded candidate join (pigeonhole-exact for hamming <= 3),
    skew-resistant band keys."""
    fp = simhash64_idf(df, id_col, text_col)
    return hamming_pairs(fp, SIMHASH64_BANDS, SIMHASH64_BANDS, max_hamming)


def simhash_near_pairs64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, hamming) for pairs within ``max_hamming`` of the
    64-bit fingerprint, found via the banded candidate join.

    Exact (full recall) for max_hamming <= 3 by the pigeonhole argument:
    4 bands, <= 3 differing bits => some band is untouched.  For larger
    thresholds the band join is a high-recall heuristic; both engines in
    the oracle check apply the SAME candidate generation, so parity tests
    the whole pipeline, not just the filter.
    """
    fp = simhash64(df, id_col, text_col)
    return hamming_pairs(fp, SIMHASH64_BANDS, SIMHASH64_BANDS, max_hamming)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 2,
) -> DataFrame:
    """(doc_a, doc_b, sim_a, sim_b, hamming) for pairs whose 16-bit
    fingerprints differ in <= max_hamming bits.

    Candidates share at least one of the fingerprint's two 8-bit halves
    (bands ``lo`` and ``hi`` of the banded kernel).  Recall is exact for
    ``max_hamming <= 1``: one differing bit leaves one half untouched.
    Above that the candidate set is lossy — two differing bits can touch
    both halves; use ``simhash_near_pairs64`` (4 x 16-bit bands, exact
    for hamming <= 3) when that matters.
    """
    # the fingerprint feeds the band explode and both verify sides: read
    # the documents once (a lazy cache does not protect multi-branch reuse)
    sh = simhash16(df, id_col, text_col).localCheckpoint()
    cand = band_candidates(sh, band_keys(SIMHASH16_BAND_EXPRS))
    return hamming_verify(cand, sh, ["simhash"], max_hamming).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.col("a_simhash").alias("sim_a"),
        F.col("b_simhash").alias("sim_b"),
        "hamming",
    )
