"""Winnowing document fingerprints — Schleimer/Wilkerson/Aiken, SIGMOD 2003
(the MOSS local fingerprinting algorithm).

Extension-tier operator (no counterpart in the reference's 868-line ETL
core): robust substring fingerprinting for plagiarism/clone detection over
a training corpus.  Guarantees (paper §3): any shared token run of length
>= w + k - 1 between two documents shares at least one SELECTED
fingerprint, while the expected selected density is only 2/(w+1) of the
gram stream — so matching is exact above the threshold but the index is a
small fraction of the corpus.

Spark-first shape: one `posexplode` of k-gram hashes (partitioned by doc),
one partition-local window-min — no shuffle beyond the per-doc hash
partitioning, because the window is `partitionBy(doc)` and the grams of a
doc are co-located by construction.  The window-min carries BOTH the hash
and the paper's "rightmost minimal hash" tie rule in a single bigint key
``h * 2^24 + (2^24 - 1 - pos)``: equal hashes at later positions get
strictly smaller keys, so `min(key)` over the w-row window IS the paper's
selection rule — one expression, engine-exact (all md5-derived integers,
no floats anywhere).

At 100 TB the pair-matching stage joins docs on selected-hash buckets with
a document-frequency cap (`max_df`) dropping boilerplate fingerprints —
the same ubiquitous-key guard the MinHash/SimHash families use — so the
join is bucketed and never all-pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.text import word_shingles, ws_tokens

# position field width: 2^24 positions per doc; with 32-bit gram hashes the
# packed key tops out below 2^56, comfortably inside a signed bigint.
POS_M = 1 << 24


def gram_hashes(
    df: DataFrame, k: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, pos, h): 1-based k-gram positions with 32-bit md5-derived
    gram hashes (md5 so the DuckDB oracle recomputes them bit-exactly)."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(word_shingles(ws_tokens(F.col(text_col)), k)).alias("pos0", "gram"),
    )
    return toks.select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("bigint").alias("h"),
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, sel_pos, sel_hash): the winnowed fingerprint set.

    Every full window of w consecutive gram hashes selects its minimum
    (rightmost occurrence on ties — the paper's rule, encoded in the packed
    key, see module docstring); duplicate selections collapse.  A document
    with fewer than w grams keeps the minimum of what it has (its single
    truncated window at pos 1), so every doc with >= k tokens gets >= 1
    fingerprint.
    """
    g = gram_hashes(df, k, id_col, text_col)
    # loud width guard IN the key expression (a separate dropped assert
    # column would be pruned by Catalyst): a doc with >= 2^24 grams would
    # borrow the position field into the hash field and silently corrupt
    # every selection for that doc (wrong min order, off-by-one sel_hash,
    # wrapped sel_pos) — raise on the first violating row instead (the
    # repo's loud-failure convention; same class as the minhash
    # half-params ValueError).  One comparison per gram.
    key = F.when(
        F.col("pos") < F.lit(POS_M),
        F.col("h") * F.lit(POS_M) + (F.lit(POS_M - 1) - F.col("pos")),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"winnowing position >= 2^24 ({POS_M}) would corrupt the packed "
                "window-min key; split documents over ~16.7M grams before fingerprinting"
            )
        ).cast("bigint")
    ).alias("key")
    win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(Window.currentRow, w - 1)
    cnt = Window.partitionBy("doc_id")
    sel = (
        g.select("doc_id", "pos", key, F.count(F.lit(1)).over(cnt).alias("n_grams"))
        .withColumn("wkey", F.min("key").over(win))
        # only window STARTS where the full w-row window fits (pos 1 always
        # qualifies so short docs keep their truncated single window)
        .filter(F.col("pos") <= F.greatest(F.lit(1), F.col("n_grams") - F.lit(w - 1)))
        .select("doc_id", "wkey")
        .distinct()
    )
    return sel.select(
        "doc_id",
        (F.lit(POS_M - 1) - F.col("wkey") % F.lit(POS_M)).cast("bigint").alias("sel_pos"),
        F.expr(f"wkey DIV {POS_M}").cast("bigint").alias("sel_hash"),
    )


def winnowed_shared_pairs(
    df: DataFrame,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    max_df: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_a, doc_b, n_shared): document pairs sharing >= min_shared
    distinct selected fingerprint hashes, after dropping hashes selected by
    more than max_df documents (boilerplate guard — the bucketed join's
    candidate volume is sum(df_h^2) over surviving hashes, bounded by
    max_df * |fingerprints|, never N^2)."""
    sel = (
        winnow_fingerprints(df, k, w, id_col, text_col)
        .select("doc_id", "sel_hash")
        .distinct()
    )
    dfreq = sel.groupBy("sel_hash").agg(F.count(F.lit(1)).alias("dfh"))
    kept = sel.join(dfreq.filter(F.col("dfh") <= max_df), "sel_hash").select(
        "doc_id", "sel_hash"
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), "sel_hash")
    b = kept.select(F.col("doc_id").alias("doc_b"), "sel_hash")
    return (
        a.join(b, "sel_hash")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def _capped_fingerprints(
    df: DataFrame, k: int, w: int, max_df: int, id_col: str, text_col: str
) -> DataFrame:
    """The boilerplate-capped distinct fingerprint set of ``df``:
    (doc_id, sel_hash) with hashes selected by > max_df of df's OWN docs
    dropped.  The fingerprint subtree is materialized first — it feeds the
    df aggregate AND the join (the CLAUDE.md multi-branch rule)."""
    fp = (
        winnow_fingerprints(df, k, w, id_col, text_col)
        .select("doc_id", "sel_hash")
        .distinct()
        .localCheckpoint()
    )
    dfreq = fp.groupBy("sel_hash").agg(F.count(F.lit(1)).alias("dfh"))
    return fp.join(dfreq.filter(F.col("dfh") <= max_df), "sel_hash").select(
        "doc_id", "sel_hash"
    )


def build_winnow_store(
    existing: DataFrame,
    table_prefix: str,
    k: int = 4,
    w: int = 5,
    max_df: int = 64,
    num_buckets: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[str, str]:
    """Persist the stored corpus's winnow fingerprint index — the
    build-once half of the build-once/ingest-many text-dedup lifecycle
    (VERDICT r16 #5; `similarity/pq.build_ivfpq_index` is the same split
    for ANN).  Until r17 every incremental call re-derived the store's
    fingerprints from the raw documents — at 100 TB that is a full corpus
    tokenize+fingerprint pass per ingest batch for a table that never
    changes between builds.

    Writes and returns two managed tables:

    - ``{prefix}_fp`` (doc_id, sel_hash): the boilerplate-capped distinct
      fingerprint set, bucketed AND sorted on ``sel_hash`` — the vs-index
      join key, so every ingest's band join reads co-located buckets with
      no store-side exchange.  The cap (df > max_df dropped) is a FROZEN
      property of the stored population, pre-applied here exactly as the
      inline path applies it.
    - ``{prefix}_meta``: k, w, max_df, num_buckets — ingest
      reloads these and never re-derives them (`io/tablesets.py`).
    """
    from bigdata_rags_spark.io.tablesets import write_table_set

    ke = _capped_fingerprints(existing, k, w, max_df, id_col, text_col)
    write_table_set(
        existing.sparkSession,
        table_prefix,
        {"fp": (ke, "sel_hash")},
        num_buckets,
        params={"k": k, "w": w, "max_df": max_df, "num_buckets": num_buckets},
    )
    return f"{table_prefix}_fp", f"{table_prefix}_meta"


def incremental_winnow_keepers(
    batch: DataFrame,
    existing: DataFrame | None = None,
    k: int = 4,
    w: int = 5,
    min_shared: int = 2,
    max_df: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
    store_prefix: str | None = None,
) -> DataFrame:
    """Rows of ``batch`` that survive winnowing-fingerprint dedup against
    the stored corpus and against lower-id batch members — the winnowing
    member of the incremental-ingest family (`dedup/exact.py:
    incremental_new_keepers` exact hashes, `dedup/minhash.py:
    incremental_minhash_keepers` MinHash, `dedup/semantic.py` embeddings).

    Drop rules (greedy-by-id, non-cascading — the family contract): a
    batch doc dies if it shares >= min_shared distinct SELECTED hashes
    with (a) ANY single stored doc or (b) any single lower-id batch doc.

    Boilerplate caps are DUAL on the vs-index join: the index side drops
    hashes selected by > max_df stored docs (frozen property of the
    stored fingerprint table) AND the batch side drops hashes selected by
    > max_df batch docs — the per-hash join fan-out is df_batch x
    df_index, so capping only one side would let a batch-internal
    template hash (huge df_batch, tiny df_index) blow the join up anyway.
    Per-hash candidate volume is therefore bounded by max_df^2 on the
    vs-index join and C(max_df, 2) intra-batch.  Each side's cap is
    computed on its OWN population (the two-widths spirit of SCALE.md
    finding #5: index properties frozen, batch properties self-scaling);
    note a hash ubiquitous in the batch is excluded from BOTH joins —
    boilerplate is evidence of template reuse, not of being the same
    document, which is the same judgement the banded families make.

    Pass ``store_prefix`` (a ``build_winnow_store`` prefix) INSTEAD of
    ``existing`` to ingest against the PERSISTED fingerprint index: the
    store side becomes one bucketed-table scan — zero scans of the raw
    store documents — with k/w/max_df reloaded from the store's meta (the
    frozen-parameter rule; caller literals are ignored on the store path).
    Docs with < k tokens have no fingerprints and survive by construction.
    """
    if (existing is None) == (store_prefix is None):
        raise ValueError(
            "pass exactly one of existing (inline store derivation) or "
            "store_prefix (persisted fingerprint index)"
        )
    if store_prefix is not None:
        from bigdata_rags_spark.io.tablesets import read_params

        spark = batch.sparkSession
        meta = read_params(spark, store_prefix)
        k, w, max_df = meta["k"], meta["w"], meta["max_df"]
        ke = spark.table(f"{store_prefix}_fp")
    else:
        ke = _capped_fingerprints(existing, k, w, max_df, id_col, text_col)
    # the batch fingerprint frame is a DERIVED subtree (tokenize -> k-gram
    # hash -> window min-select) read from multiple branches — without the
    # materialization the fingerprint pass re-executed ~6x (measured r16:
    # 60 parquet scans in one plan; CLAUDE.md multi-branch rule); kb then
    # feeds the vs-index join plus BOTH sides of the intra-batch join
    kb = _capped_fingerprints(batch, k, w, max_df, id_col, text_col).localCheckpoint()

    def drops(pairs: DataFrame) -> DataFrame:
        return (
            pairs.groupBy("doc_id", "other")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .select("doc_id")
            .distinct()
        )

    vs_index = (
        kb.alias("b")
        .join(ke.alias("e"), "sel_hash")
        .select(F.col("b.doc_id").alias("doc_id"), F.col("e.doc_id").alias("other"))
    )
    intra = (
        kb.alias("hi")
        .join(
            kb.alias("lo"),
            (F.col("hi.sel_hash") == F.col("lo.sel_hash"))
            & (F.col("lo.doc_id") < F.col("hi.doc_id")),
        )
        .select(F.col("hi.doc_id").alias("doc_id"), F.col("lo.doc_id").alias("other"))
    )
    return batch.join(drops(vs_index), id_col, "left_anti").join(
        drops(intra), id_col, "left_anti"
    )
