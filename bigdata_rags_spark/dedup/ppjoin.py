"""Prefix-filtered exact set-similarity self-join (All-Pairs / PPJoin).

Bayardo, Ma & Srikant 2007 ("Scaling Up All Pairs Similarity Search") and
Xiao et al. 2008 (PPJoin): for Jaccard >= t under ANY global total order
on set elements, two qualifying sets must share an element within their
first ``|x| - ceil(t * |x|) + 1`` elements (the "prefix") — so candidate
generation only needs a self-join of PREFIXES, not of whole sets.  With
the canonical rarest-first order (document frequency asc, element asc)
the prefixes hold each set's rarest elements, making prefix collisions —
and therefore candidate volume — as small as the data allows.

This is the EXACT-answer sibling of the MinHash-LSH candidate route
(`dedup/minhash.py`): LSH trades recall for candidate volume; the prefix
filter is lossless (every Jaccard >= t pair provably survives) and still
subquadratic on real corpora.  Verification computes the true Jaccard on
candidates only, via each doc's sorted distinct-shingle array — one
equi-join, one ``array_intersect``.

100-TB shape: shingling is row-local; the df table is a vocab-keyed agg
(the TF-IDF join shape, SCALE.md "Vocabulary joins"); the per-doc rank is
a doc-partitioned window; candidates shuffle on the prefix-shingle key
only.  Nothing is ever all-pairs, and unlike LSH there is no recall knob
to tune — the filter is exact by theorem.

Proof sketch of the prefix property (why this never misses a pair):
J(A,B) >= t implies |A∩B| >= ceil(t·|A|) and >= ceil(t·|B|).  If A's
prefix (its first |A| - ceil(t·|A|) + 1 elements in the global order)
shared nothing with B, all intersection elements would sit in A's
remaining suffix of ceil(t·|A|) - 1 elements — fewer than the
intersection requires.  Symmetrically for B, and because both prefixes
end at or past the first shared element under one total order, the two
PREFIXES must intersect.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.text import word_shingles, ws_tokens


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """All (doc_a < doc_b) pairs with exact k-gram-shingle Jaccard >=
    ``threshold``, candidates generated by the rarest-first prefix filter.

    Same semantics and output schema as
    ``dedup/minhash.ngram_jaccard_pairs`` — (doc_a, doc_b, intersection,
    jaccard) with the rounded-double threshold rule — but the candidate
    join touches only each doc's ``|S| - ceil(t·|S|) + 1`` rarest
    shingles instead of all of them.
    """
    shingled = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_shingles(ws_tokens(F.col(text_col)), k))
        ).alias("shingle"),
    )
    dfreq = shingled.groupBy("shingle").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    w_doc = Window.partitionBy("doc_id")
    ranked = (
        shingled.join(dfreq, "shingle")
        .withColumn("n", F.count(F.lit(1)).over(w_doc))
        .withColumn(
            "rnk",
            F.row_number().over(w_doc.orderBy(F.col("df"), F.col("shingle"))),
        )
    )
    # prefix length |S| - ceil(t*|S|) + 1; ceil(a/b) for a >= 0 as
    # (a + b - 1) DIV b (Spark div truncates toward zero, so the negate
    # trick would floor — this form is exact in both engines).
    # FLOOR, never round, for the milli approximation (ADVICE r13): a
    # t_milli rounded UP (0.4516 -> 452) makes ceil(t_milli*n/1000)
    # exceed ceil(t*n) at large n, shortening the prefix below the
    # theorem's bound and silently dropping qualifying pairs at candidate
    # generation.  Flooring only LENGTHENS the prefix (and weakens the
    # size filter) — extra candidates, but verification still applies the
    # raw threshold, so losslessness is preserved for ANY threshold.
    t_milli = math.floor(threshold * 1000)
    prefix = ranked.filter(
        F.col("rnk") <= F.col("n") - F.expr(f"({t_milli} * n + 999) DIV 1000") + 1
    ).select("doc_id", "shingle", "n")

    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # size filter: t*|A| <= |B| and t*|B| <= |A| is necessary for
            # J >= t; prunes length-skewed collisions before the distinct
            & (F.col("a.n") * t_milli <= F.col("b.n") * 1000)
            & (F.col("b.n") * t_milli <= F.col("a.n") * 1000),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    sets = shingled.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("shingle")).alias("sh"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("doc_a"),
                F.col("sh").alias("sa"),
                F.col("n").alias("na"),
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"),
                F.col("sh").alias("sb"),
                F.col("n").alias("nb"),
            ),
            "doc_b",
        )
        .withColumn("intersection", F.size(F.array_intersect("sa", "sb")).cast("long"))
        .withColumn(
            "jaccard",
            F.round(
                F.col("intersection")
                / (F.col("na") + F.col("nb") - F.col("intersection")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "intersection", "jaccard")
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.array_distinct(word_shingles(ws_tokens(F.col(text_col)), k))
        ).alias("shingle"),
    )


def _prefix_frame(sh: DataFrame, dfreq: DataFrame, t_milli: int) -> DataFrame:
    """(doc_id, shingle, n): each doc's rarest-first prefix under the
    FROZEN global order carried by ``dfreq`` (unseen shingles rank at df 0,
    rarest; ties by shingle)."""
    w_doc = Window.partitionBy("doc_id")
    ranked = (
        sh.join(dfreq, "shingle", "left")
        .withColumn("df", F.coalesce(F.col("df"), F.lit(0)))
        .withColumn("n", F.count(F.lit(1)).over(w_doc))
        .withColumn(
            "rnk",
            F.row_number().over(w_doc.orderBy(F.col("df"), F.col("shingle"))),
        )
    )
    return ranked.filter(
        F.col("rnk") <= F.col("n") - F.expr(f"({t_milli} * n + 999) DIV 1000") + 1
    ).select("doc_id", "shingle", "n")


def _sets_frame(sh: DataFrame) -> DataFrame:
    return sh.groupBy("doc_id").agg(
        F.array_sort(F.collect_set("shingle")).alias("sh"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


def build_ppjoin_store(
    existing: DataFrame,
    table_prefix: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
    num_buckets: int = 8,
) -> tuple[str, str, str, str]:
    """Persist the stored corpus's prefix-filter dedup index — the
    build-once half of the build-once/ingest-many lifecycle (VERDICT r16
    #5).  Until r17 every incremental call re-shingled the whole stored
    corpus TWICE (prefix + sets) and re-derived the df order — three full
    corpus passes per ingest batch for tables that never change between
    builds.

    Writes and returns four managed tables:

    - ``{prefix}_df`` (shingle, df): the FROZEN rarest-first element order
      (the order-freeze rule — the dedup-index analogue of the two-widths
      doctrine), bucketed on ``shingle`` (the batch ranking's join key);
    - ``{prefix}_prefix`` (doc_id, shingle, n): stored-side prefixes,
      bucketed on ``shingle`` (the candidate join key);
    - ``{prefix}_sets`` (doc_id, sh, n): sorted distinct-shingle arrays for
      verification, bucketed on ``doc_id`` (the verify point-lookup key);
    - ``{prefix}_meta``: k, t_micro (``round(t*1e6)`` — exact
      round-trip for <= 6-decimal thresholds), num_buckets.  Ingest reloads
      these and never re-derives them (`io/tablesets.py`).
    """
    from bigdata_rags_spark.io.tablesets import write_table_set

    t_milli = math.floor(threshold * 1000)
    # the shingle explode feeds three consumers (df agg, prefix, sets) and
    # dfreq feeds two (its own table + the prefix ranking) — materialize
    # both (CLAUDE.md multi-branch rule)
    ex_sh = _shingled(existing, id_col, text_col, k).localCheckpoint()
    dfreq = (
        ex_sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
        .localCheckpoint()
    )
    write_table_set(
        existing.sparkSession,
        table_prefix,
        {
            "df": (dfreq, "shingle"),
            "prefix": (_prefix_frame(ex_sh, dfreq, t_milli), "shingle"),
            "sets": (_sets_frame(ex_sh), "doc_id"),
        },
        num_buckets,
        params={
            "k": k,
            "t_micro": round(threshold * 1_000_000),
            "num_buckets": num_buckets,
        },
    )
    return tuple(f"{table_prefix}_{s}" for s in ("df", "prefix", "sets", "meta"))


def incremental_prefix_filter_keepers(
    batch: DataFrame,
    existing: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    threshold: float = 0.5,
    store_prefix: str | None = None,
) -> DataFrame:
    """Rows of ``batch`` that survive EXACT-Jaccard near-dedup against the
    stored corpus and against lower-id batch members — the prefix-filter
    member of the incremental-ingest family (exact hashes:
    `dedup/exact.py`; MinHash-LSH: `dedup/minhash.py`; embeddings:
    `dedup/semantic.py`).  Unlike the LSH sibling this one is LOSSLESS:
    every true Jaccard >= t duplicate is provably caught.

    Drop rules (greedy-by-id, non-cascading — the family contract): a
    batch doc dies if its exact k-gram Jaccard with (a) ANY stored doc or
    (b) any lower-id batch doc reaches ``threshold``.

    Order-freeze rule (the index analogue of the two-widths doctrine):
    the global rarest-first element order comes from the STORED corpus's
    df table only — batch-unseen shingles order at df 0 (rarest), ties by
    shingle.  Both sides of every candidate pair rank under this ONE
    total order, which is all the prefix theorem needs; re-deriving df
    per batch would rank stored prefixes incompatibly with the
    (precomputable) stored-side prefix index.

    Returns the surviving batch keys: (id_col, n_shingles bigint).
    Pass ``store_prefix`` (a ``build_ppjoin_store`` prefix) INSTEAD of
    ``existing`` to ingest against the PERSISTED dedup index: the stored
    side's (df order, prefixes, sorted shingle sets) become bucketed-table
    scans — zero scans of the raw store documents — with k/threshold
    reloaded from the store's meta (the frozen-parameter rule; caller
    literals are ignored on the store path).  Per batch the cost is then
    shingling the batch + two prefix equi-joins + verification on
    candidates only.
    """
    if (existing is None) == (store_prefix is None):
        raise ValueError(
            "pass exactly one of existing (inline store derivation) or "
            "store_prefix (persisted prefix-filter index)"
        )
    if store_prefix is not None:
        from bigdata_rags_spark.io.tablesets import read_params

        spark = batch.sparkSession
        meta = read_params(spark, store_prefix)
        k = meta["k"]
        threshold = meta["t_micro"] / 1_000_000
        t_milli = math.floor(threshold * 1000)
        dfreq = spark.table(f"{store_prefix}_df")
        e_pre = spark.table(f"{store_prefix}_prefix")
        e_sets = spark.table(f"{store_prefix}_sets")
    else:
        # conservative floor — see prefix_filter_jaccard_pairs (ADVICE r13)
        t_milli = math.floor(threshold * 1000)
        ex_sh = _shingled(existing, id_col, text_col, k)
        # the frozen-order df table is read by BOTH prefix calls —
        # vocab-sized, so the checkpoint is free and saves one full
        # store-side shingle pass (r16, multi-branch rule; the persisted
        # form of this index is build_ppjoin_store)
        dfreq = (
            ex_sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
            .localCheckpoint()
        )
        e_pre = _prefix_frame(ex_sh, dfreq, t_milli)
        e_sets = _sets_frame(ex_sh)

    b_sh = _shingled(batch, id_col, text_col, k)
    # b_pre is a DERIVED subtree (shingle explode + df join + two windows)
    # feeding the vs-index join AND both sides of the intra-batch join —
    # without the materialization it re-executed 3x (r16, CLAUDE.md
    # multi-branch rule).  e_pre is read once: leave lazy.
    b_pre = _prefix_frame(b_sh, dfreq, t_milli).localCheckpoint()
    b_sets = _sets_frame(b_sh).localCheckpoint()  # read from 3 verify branches

    def _size_ok(na, nb):
        return (na * t_milli <= nb * 1000) & (nb * t_milli <= na * 1000)

    def _dead(cand: DataFrame, other_sets: DataFrame) -> DataFrame:
        return (
            cand.join(
                b_sets.select(
                    F.col("doc_id").alias("bid"), F.col("sh").alias("sa"), F.col("n").alias("na")
                ),
                "bid",
            )
            .join(
                other_sets.select(
                    F.col("doc_id").alias("oid"), F.col("sh").alias("sb"), F.col("n").alias("nb")
                ),
                "oid",
            )
            .withColumn("i", F.size(F.array_intersect("sa", "sb")).cast("long"))
            .filter(
                F.round(F.col("i") / (F.col("na") + F.col("nb") - F.col("i")).cast("double"), 6)
                >= threshold
            )
            .select("bid")
            .distinct()
        )

    cand_ex = (
        b_pre.alias("a")
        .join(
            e_pre.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & _size_ok(F.col("a.n"), F.col("b.n")),
        )
        .select(F.col("a.doc_id").alias("bid"), F.col("b.doc_id").alias("oid"))
        .distinct()
    )
    cand_intra = (
        b_pre.alias("a")
        .join(
            b_pre.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("b.doc_id") < F.col("a.doc_id"))
            & _size_ok(F.col("a.n"), F.col("b.n")),
        )
        .select(F.col("a.doc_id").alias("bid"), F.col("b.doc_id").alias("oid"))
        .distinct()
    )
    dead = _dead(cand_ex, e_sets).unionByName(_dead(cand_intra, b_sets)).distinct()
    keys = batch.select(F.col(id_col).alias("doc_id")).distinct()
    return (
        keys.join(dead.select(F.col("bid").alias("doc_id")), "doc_id", "left_anti")
        .join(b_sets.select("doc_id", F.col("n").alias("n_shingles")), "doc_id", "left")
        .select(
            F.col("doc_id").alias(id_col),
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("bigint").alias("n_shingles"),
        )
    )
