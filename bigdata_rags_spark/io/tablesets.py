"""Persisted table sets: the one write path for multi-table artifacts.

The IVFPQ index (`similarity/pq.py`) and the winnow, MinHash and PPJoin
dedup stores (`dedup/`) are each a set of managed tables
``{prefix}_{suffix}`` plus a ``{prefix}_meta`` table holding the FROZEN
parameters the other tables are only meaningful under: codes encoded
under one codebook, or fingerprints taken at one k-gram width, join
incompatibly against a batch processed with any other.  So every ingest
or serve call reloads its parameters from ``_meta`` (``read_params``) and
never trusts caller literals or re-derives them.

``write_table_set`` is staged and swaps on success:

1. every table is written to ``staging_name(table)``, overlapped with an
   optional validation thunk on driver threads (``io/jobs.run_overlapped``);
2. only when every write AND the thunk succeeded is each staged table
   swapped in (drop the live table, ``ALTER TABLE ... RENAME``);
3. on any failure the staging tables are dropped and the live tables are
   untouched — a failed write or merge leaves the previous artifact
   servable.

Recovery (``finish_interrupted_swap``): a staging table whose live table
is missing is the only copy of that table — the swap drops a live table
only after every staged write returned, and ``saveAsTable`` registers a
table in the metastore only after its data is written.  So a rerun first
renames such a staging table into place, and only then drops the other
(stale) staging tables.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from bigdata_rags_spark.io.bucketing import drop_managed_table, write_bucketed
from bigdata_rags_spark.io.jobs import run_overlapped


def staging_name(table: str) -> str:
    """Where ``table``'s next version is written before the swap."""
    return f"{table}__staging"


def _swap_in(spark: SparkSession, table: str) -> None:
    drop_managed_table(spark, table)
    spark.sql(f"ALTER TABLE {staging_name(table)} RENAME TO {table}")


def finish_interrupted_swap(spark: SparkSession, tables: Iterable[str]) -> None:
    """Rename each staging table whose live table is missing into place
    (a swap that stopped between its drop and its rename), then drop every
    remaining staging table of ``tables`` (partial or superseded writes)."""
    for table in tables:
        staging = staging_name(table)
        if not spark.catalog.tableExists(table) and spark.catalog.tableExists(staging):
            _swap_in(spark, table)
        drop_managed_table(spark, staging)


def write_table_set(
    spark: SparkSession,
    prefix: str,
    tables: dict[str, tuple[DataFrame, str | None] | None],
    num_buckets: int,
    params: dict[str, object] | None = None,
    validate: Callable[[], object] | None = None,
) -> None:
    """Replace the tables ``{prefix}_{suffix}`` of one artifact.

    ``tables`` maps suffix -> (frame, bucket column): the frame is written
    bucketed and sorted on that column into ``num_buckets`` buckets, or as
    a plain parquet table when the column is None.  A suffix mapped to
    None is absent after the swap (a rebuild's stale tombstones).
    ``params`` (the artifact's frozen parameters, read back with
    ``read_params``) become the ``meta`` table of the set.  ``validate``
    runs overlapped with the staging writes; an exception it raises aborts
    the swap and propagates, as does any write failure."""
    if params is not None:
        tables = {**tables, "meta": (_params_frame(spark, params), None)}
    names = {suffix: f"{prefix}_{suffix}" for suffix in tables}
    finish_interrupted_swap(spark, names.values())
    staged = {s: names[s] for s, spec in tables.items() if spec is not None}

    def write(frame: DataFrame, bucket_col: str | None, table: str) -> None:
        if bucket_col is None:
            frame.write.mode("overwrite").format("parquet").saveAsTable(table)
        else:
            write_bucketed(frame, table, bucket_col, num_buckets)

    thunks = [partial(write, *tables[s], staging_name(t)) for s, t in staged.items()]
    try:
        run_overlapped(*thunks, *([validate] if validate else []))
    except Exception:
        for table in staged.values():
            drop_managed_table(spark, staging_name(table))
        raise
    for suffix, table in names.items():
        if suffix in staged:
            _swap_in(spark, table)
        else:
            drop_managed_table(spark, table)


def _params_frame(spark: SparkSession, params: dict[str, object]) -> DataFrame:
    """The ``_meta`` table frame: one (param, shape, val) row per frozen
    parameter.  A value is an int (store floats in exact integer units,
    e.g. a threshold in micro units) or a nested list of floats (the
    IVFPQ centroids and codebooks); doubles round-trip bit-exactly.

    The frame is built from pandas, so it crosses to the JVM in one Arrow
    batch: a pickled local relation coalesced to one task pays a
    Python-worker round per action (about 7 s measured on the 32-core
    bench host), the Arrow relation milliseconds."""
    import pandas as pd

    rows = []
    for name, value in sorted(params.items()):
        arr = np.asarray(value, dtype="float64")
        rows.append((name, list(arr.shape), arr.ravel().tolist()))
    pdf = pd.DataFrame(rows, columns=["param", "shape", "val"])
    return spark.createDataFrame(
        pdf, "param string, shape array<int>, val array<double>"
    ).coalesce(1)


def read_params(spark: SparkSession, prefix: str) -> dict[str, object]:
    """``{prefix}_meta`` back as param -> value (ints for scalars, nested
    float lists for arrays) — a bounded driver action, one Arrow batch."""
    pdf = spark.table(f"{prefix}_meta").toPandas()
    return {
        name: np.asarray(val, dtype="float64").reshape(shape).tolist()
        if len(shape)
        else int(val[0])
        for name, shape, val in pdf.itertuples(index=False)
    }
