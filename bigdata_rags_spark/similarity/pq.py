"""Product quantization (PQ) ANN serving: codes + asymmetric-distance top-k.

Third classic ANN family next to LSH (`similarity/knn.py`) and IVF
(`similarity/ivf.py`); the reference has no similarity surface at all
(its transform DAG is relational-only, `reference/dag-transform.py`;
SURVEY.md §2 extension tier).  Split the embedding into M subspaces, quantize each
to one of K codebook centroids (Jégou, Douze, Schmid, "Product quantization
for nearest neighbor search", TPAMI 2011).  The corpus is then M small ints
per vector (here 16 codes in [0,16) — a nibble each at scale, 8 bytes vs
256 for the raw float32 vector) and a query scores ANY corpus vector with M
table lookups instead of a d-dim dot product — the asymmetric distance
computation (ADC).  Raw ADC ranking is lossy (the codebooks here are
untrained md5 literals and the fixture embeddings are near-random — the
ANN adversarial case, same note as the LSH recall test), so the production
serving path is `pq_search_rerank`: ADC shortlist, then EXACT cosine
rerank of the shortlist only — FAISS's IVFPQ+refine shape.

Spark-first, fully oracle-checkable (the whole reason this exists next to
`embedding_ivf_probe_fixed`):
- codebooks are FIXED md5-derived literals, exact multiples of 1/256, the
  same repr-stable construction as the LSH planes / IVF codebook — k-means
  PQ training would be rows-only, serving shouldn't be;
- encode = per-subspace argmax of (dot - ||c||^2/2) over the fixed
  centroids (equivalent to argmin L2 since ||x||^2 is constant per
  subspace), computed in an Arrow-vectorized numpy pass whose per-element
  float64 left fold is bit-identical to the oracle's SQL fold (a 256-
  expression Catalyst projection defeats Janino codegen — see pq_encode);
  ties break to the higher code in both engines;
- ADC scores are ROUNDED per subspace to integer micro-units BEFORE the
  M-way sum: the sum of M bigints is order-independent, so the ranking is
  bit-stable under any partitioning/engine (a float sum would not be).

100 TB shape: corpus vectors are read ONCE to encode; after that only
(id, m, code) rows — a few bytes — cross any exchange.  The query-side
lookup table is |Q| x M x K rows (tiny, broadcast); the ADC join is an
equi-join on (m, code) followed by a partial+final SUM and a per-query
window top-k.  No full-dim vector ever moves after encoding.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_rags_spark.functions.vectors import as_double_array

from bigdata_rags_spark.io.jobs import run_overlapped
from bigdata_rags_spark.io.tablesets import (
    finish_interrupted_swap,
    read_params,
    write_table_set,
)
from bigdata_rags_spark.similarity.topk import local_topk_prefilter

M_SUB = 16
K_CODES = 16
SUB_DIM = 4  # M_SUB * SUB_DIM must equal the embedding dim (64)


def pq_codebooks(
    dim: int = 64, m: int = M_SUB, k: int = K_CODES, seed: str = "pq"
) -> list[list[list[float]]]:
    """Per-subspace literal codebooks: m lists of k centroids of dim/m."""
    from bigdata_rags_spark.similarity.knn import _deterministic_hyperplanes

    sub = dim // m
    return [_deterministic_hyperplanes(sub, k, seed=f"{seed}{j}") for j in range(m)]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, m, code): per-subspace nearest-centroid assignment.

    score = dot - ||c||^2/2 (argmin-L2 without the per-vector constant);
    ties break to the higher code id, mirroring the descending
    (score, code) order of `similarity/ivf.py:_nearest_cells`.
    """
    # Arrow-vectorized numpy encode, NOT a Catalyst expression.  The M*K
    # (256) score expressions per row defeat whole-stage codegen: both a
    # struct-sort and a flat greatest+CASE formulation produced generated
    # code Janino could not compile (method too large), falling back to
    # interpreted evaluation at ~8-50 s for 2k vectors.  The numpy form is
    # milliseconds AND parity-exact: each score is accumulated with an
    # EXPLICIT left fold of float64 elementwise ops (s = s + x_i * c_i,
    # starting from 0.0), which is bit-identical per element to the SQL
    # fold the oracle replays; ties argmax to the HIGHEST code via a
    # reversed argmax, matching the oracle's ORDER BY score DESC, code DESC.
    import numpy as np
    import pandas as pd

    m, k, sub = len(codebooks), len(codebooks[0]), SUB_DIM
    half_norms = [[sum(x * x for x in c) / 2.0 for c in book] for book in codebooks]
    ms = np.arange(m, dtype=np.int32)

    def enc(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]], dtype=np.float64
            )
            codes = np.empty((n, m), dtype=np.int32)
            for j, book in enumerate(codebooks):
                x = vecs[:, j * sub : (j + 1) * sub]
                scores = np.empty((n, k), dtype=np.float64)
                for code, c in enumerate(book):
                    s = np.zeros(n, dtype=np.float64)
                    for i in range(sub):
                        s = s + x[:, i] * c[i]
                    scores[:, code] = s - half_norms[j][code]
                codes[:, j] = (k - 1) - scores[:, ::-1].argmax(axis=1)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), m),
                    "m": np.tile(ms, n),
                    "code": codes.reshape(-1),
                }
            )

    prepped = df.select(
        F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
    )
    return prepped.mapInPandas(enc, schema="id long, m int, code int")


def _encode_with_cells(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, m, code, cell): ``pq_encode`` and the coarse-cell assignment in
    ONE corpus pass — the build/append/on-the-fly-serve input, which until
    r16 was ``pq_encode(df).join(assign_cells(df), "id")``: a corpus-sized
    shuffle join (N*M code rows exchanged against N assignments) between two
    frames derived from the SAME scan (guide §2.4 — an Exchange you can
    remove outright).  Values are bit-identical to the join form:

    - <= 32 centroids: the cell is the SAME codegen'd ``_nearest_cells``
      expression ``assign_cells`` uses, computed on the scan projection and
      passed THROUGH the Arrow batch (replicated M-fold per id);
    - wider codebooks: the cell is computed inside the same numpy pass with
      the EXACT explicit left-fold float64 accumulation and
      tie-to-higher-cell rule of ``assign_cells``' numpy branch.
    """
    import numpy as np
    import pandas as pd

    from bigdata_rags_spark.similarity.ivf import _nearest_cells

    m, k, sub = len(codebooks), len(codebooks[0]), SUB_DIM
    half_norms = [[sum(x * x for x in c) / 2.0 for c in book] for book in codebooks]
    ms = np.arange(m, dtype=np.int32)
    narrow = len(centroids) <= 32
    cents = [list(c) for c in centroids]
    n_cells = len(cents)
    dim = len(cents[0])

    def enc(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]], dtype=np.float64
            )
            codes = np.empty((n, m), dtype=np.int32)
            for j, book in enumerate(codebooks):
                x = vecs[:, j * sub : (j + 1) * sub]
                scores = np.empty((n, k), dtype=np.float64)
                for code, c in enumerate(book):
                    s = np.zeros(n, dtype=np.float64)
                    for i in range(sub):
                        s = s + x[:, i] * c[i]
                    scores[:, code] = s - half_norms[j][code]
                codes[:, j] = (k - 1) - scores[:, ::-1].argmax(axis=1)
            if narrow:
                cells = pdf["cell"].to_numpy()
            else:
                sims = np.empty((n, n_cells), dtype=np.float64)
                for ci, c in enumerate(cents):
                    s = np.zeros(n, dtype=np.float64)
                    for i in range(dim):
                        s = s + vecs[:, i] * c[i]
                    sims[:, ci] = s
                cells = ((n_cells - 1) - sims[:, ::-1].argmax(axis=1)).astype(np.int32)
            yield pd.DataFrame(
                {
                    "id": np.repeat(pdf["id"].to_numpy(), m),
                    "m": np.tile(ms, n),
                    "code": codes.reshape(-1),
                    "cell": np.repeat(cells, m),
                }
            )

    v = as_double_array(F.col(vec_col))
    cols = [F.col(id_col).alias("id"), v.alias("v")]
    if narrow:
        cols.append(_nearest_cells(v, cents, 1)[0].alias("cell"))
    return df.select(*cols).mapInPandas(
        enc, schema="id long, m int, code int, cell int"
    )


def pq_lut(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, m, code, dot_micro): per-query lookup table of subspace
    dots against every centroid, rounded to integer micro-units so the
    downstream M-way sum is exact."""
    # Same Arrow-vectorized left-fold as pq_encode (one 256-expression
    # Catalyst projection here OOM'd codegen on the default driver heap).
    # Rounding is HALF_UP away from zero — floor(x+0.5)/ceil(x-0.5) on the
    # binary double equals Spark ROUND's BigDecimal HALF_UP and DuckDB's
    # ROUND for every representable input.
    import numpy as np
    import pandas as pd

    m, k, sub = len(codebooks), len(codebooks[0]), SUB_DIM
    half = m * k

    def lut(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            vecs = np.array(
                [np.asarray(v, dtype=np.float64) for v in pdf["v"]], dtype=np.float64
            )
            dots = np.empty((n, m * k), dtype=np.float64)
            for j, book in enumerate(codebooks):
                x = vecs[:, j * sub : (j + 1) * sub]
                for code, c in enumerate(book):
                    s = np.zeros(n, dtype=np.float64)
                    for i in range(sub):
                        s = s + x[:, i] * c[i]
                    dots[:, j * k + code] = s
            scaled = dots * 1_000_000.0
            micro = np.where(
                scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
            ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["id"].to_numpy(), half),
                    "m": np.tile(np.repeat(np.arange(m, dtype=np.int32), k), n),
                    "code": np.tile(np.tile(np.arange(k, dtype=np.int32), m), n),
                    "dot_micro": micro.reshape(-1),
                }
            )

    prepped = queries.select(
        F.col(id_col).alias("id"), as_double_array(F.col(vec_col)).alias("v")
    )
    return prepped.mapInPandas(
        lut, schema="query_id long, m int, code int, dot_micro long"
    )


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k neighbors per query via PQ asymmetric distance:
    encode corpus once, broadcast the query LUT, equi-join on (m, code),
    SUM the M integer-micro dots, window top-k per query."""
    books = codebooks if codebooks is not None else pq_codebooks()
    codes = pq_encode(corpus, books)
    lut = pq_lut(queries, books)
    scored = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("dot_micro").cast("bigint").alias("approx_sim_micro"))
    )
    # partition-local pre-top-k (VERDICT r12 #2 family-wide): the agg's
    # exchange is unavoidable (it IS the ADC sum), but the per-query
    # window would re-shuffle all |Q| x candidates rows into one task per
    # query — prune each partition to its own per-query best k first
    # (hash-identical superset; similarity/topk.py)
    scored = local_topk_prefilter(
        scored, ["query_id"], [("approx_sim_micro", False), ("neighbor_id", True)], k
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim_micro"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "approx_sim_micro", "rank")
    )


def pq_search_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    shortlist: int = 100,
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Production PQ serving: ADC shortlist (cheap, code-space) -> exact
    cosine rerank of the shortlist only -> top-k.  Full vectors are touched
    for |Q| x shortlist rows, never the whole corpus; the rerank join is
    id-keyed with the query side broadcast."""
    from bigdata_rags_spark.functions.vectors import cosine

    short = pq_adc_topk(queries, corpus, k=shortlist, codebooks=codebooks)
    qv = queries.select(
        F.col("vec_id").alias("query_id"), as_double_array(F.col("embedding")).alias("qv")
    )
    cv = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_array(F.col("embedding")).alias("cv"),
    )
    scored = (
        short.select("query_id", "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("similarity"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = M_SUB,
    k: int = K_CODES,
    n_iter: int = 5,
    seed: str = "pq",
) -> list[list[list[float]]]:
    """Per-subspace Lloyd k-means (Jégou et al. 2011 §III.A) — the trained
    sibling of the fixed literal codebooks, completing the PQ family the
    way ``train_ivf_centroids`` completes IVF (VERDICT r7 #4): train once
    (rows-only — partition-order float sums make the result
    oracle-inexact by nature), pin the result as literals, serve through
    the SAME oracle-checkable ``pq_adc_topk`` / ``pq_search_rerank`` path.

    Iteration contract (the ``train_ivf_centroids`` discipline): each Lloyd
    round is ONE corpus scan — an Arrow ``mapInPandas`` pass assigns every
    subvector to its nearest centroid (BLAS matmul scoring; training is
    rows-only by nature, so the parity-exact left fold is reserved for the
    serving-side ``pq_encode``) and emits PER-BATCH PARTIAL SUMS
    (j, code, pos, s, cnt),
    so the shuffle carries at most m*k*sub_dim rows per batch and the
    driver collects exactly m*k*sub_dim + m*k bounded rows per round.  No
    join, no per-vector exchange: at 100 TB each round costs one scan +
    one tiny agg, Lloyd's floor.  Initialization is the deterministic md5
    codebook, so training is reproducible run-to-run (no RNG).

    Empty cells keep their previous centroid (stable codebook, same rule
    as IVF).
    """
    import numpy as np
    import pandas as pd

    sub = SUB_DIM
    books = pq_codebooks(dim=m * sub, m=m, k=k, seed=seed)
    prepped = corpus.select(as_double_array(F.col(vec_col)).alias("v"))

    for _ in range(n_iter):
        flat = np.array(
            [[c for c in code] for book in books for code in book], dtype=np.float64
        ).reshape(m, k, sub)
        half_norms = (flat * flat).sum(axis=2) / 2.0

        def stats(batches, flat=flat, half_norms=half_norms):
            sums = np.zeros((m, k, sub), dtype=np.float64)
            cnts = np.zeros((m, k), dtype=np.int64)
            for pdf in batches:
                n = len(pdf)
                if n == 0:
                    continue
                vecs = np.array(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]],
                    dtype=np.float64,
                )
                for j in range(m):
                    x = vecs[:, j * sub : (j + 1) * sub]
                    scores = x @ flat[j].T - half_norms[j]
                    codes = (k - 1) - scores[:, ::-1].argmax(axis=1)
                    for code in range(k):
                        mask = codes == code
                        if mask.any():
                            sums[j, code] += x[mask].sum(axis=0)
                            cnts[j, code] += int(mask.sum())
            j_idx, c_idx, p_idx = np.meshgrid(
                np.arange(m), np.arange(k), np.arange(sub), indexing="ij"
            )
            yield pd.DataFrame(
                {
                    "j": j_idx.reshape(-1).astype(np.int32),
                    "code": c_idx.reshape(-1).astype(np.int32),
                    "pos": p_idx.reshape(-1).astype(np.int32),
                    "s": sums.reshape(-1),
                    "cnt": np.repeat(cnts.reshape(-1), sub),
                }
            )

        rows = (
            prepped.mapInPandas(stats, schema="j int, code int, pos int, s double, cnt long")
            .groupBy("j", "code", "pos")
            .agg(F.sum("s").alias("s"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        acc: dict[tuple[int, int], dict[int, tuple[float, int]]] = {}
        for r in rows:
            acc.setdefault((r["j"], r["code"]), {})[r["pos"]] = (r["s"], r["cnt"])
        new_books: list[list[list[float]]] = []
        for j in range(m):
            book = []
            for code in range(k):
                dims = acc.get((j, code))
                cnt = dims[0][1] if dims else 0
                if not cnt:
                    book.append(books[j][code])  # empty cell: keep centroid
                else:
                    book.append([dims[p][0] / cnt for p in range(sub)])
            new_books.append(book)
        books = new_books
    return books


def ivfpq_search_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
    shortlist: int = 50,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    encoded: DataFrame | None = None,
    assignments: DataFrame | None = None,
) -> DataFrame:
    """IVF+PQ combined serving — FAISS's production IVFPQ shape (Jégou et
    al. 2011 §V): the coarse quantizer prunes WHICH corpus vectors are
    scored (only codes whose cell is among the query's ``n_probe`` probed
    cells), PQ ADC prices HOW each surviving candidate is scored (M table
    lookups on bytes), and the exact-cosine rerank of the shortlist
    restores ranking fidelity.  Composes the two already-oracle-checked
    parts (``similarity/ivf.py`` cell assignment, ``pq_adc_topk``
    scoring), so the full pipeline stays value-hash exact with fixed
    codebooks.

    ``encoded`` / ``assignments`` optionally supply a precomputed
    ``pq_encode(corpus, books)`` frame (id, m, code) and cell-assignment
    frame (cid, cell) so multi-pass callers (the filtered-serving report
    runs 2-3 serves over subsets of one corpus) encode the corpus ONCE —
    when None the plan is unchanged.

    100 TB shape: corpus is read once to (cell, m, code) rows — the index
    build; serving shuffles NOTHING corpus-sized (probes and the LUT
    broadcast; candidate volume is |Q| * n_probe/n_cells * N * M code
    rows before the partial+final sum); full vectors are fetched only for
    the |Q| x shortlist rerank join.
    """
    from bigdata_rags_spark.functions.vectors import cosine
    from bigdata_rags_spark.similarity.ivf import _nearest_cells, fixed_centroids

    cents = centroids if centroids is not None else fixed_centroids(64, n_cells)
    books = codebooks if codebooks is not None else pq_codebooks()

    cvec = corpus.select(
        F.col("vec_id").alias("cid"), as_double_array(F.col("embedding")).alias("cv")
    )
    qvec = queries.select(
        F.col("vec_id").alias("query_id"), as_double_array(F.col("embedding")).alias("qv")
    )
    probes = qvec.select(
        "query_id",
        F.explode(_nearest_cells(F.col("qv"), cents, n_probe)).alias("cell"),
    )

    if encoded is None and assignments is None:
        # one-pass encode+assign (r16): same-scan frames need no join
        codes = _encode_with_cells(corpus, books, cents)
    else:
        asg = (
            assignments
            if assignments is not None
            else cvec.select(
                "cid", _nearest_cells(F.col("cv"), cents, 1)[0].alias("cell")
            )
        )
        codes = (encoded if encoded is not None else pq_encode(corpus, books)).join(
            asg.select(F.col("cid").alias("id"), "cell"), "id"
        )
    lut = pq_lut(queries, books)
    scored = (
        codes.join(F.broadcast(probes), "cell")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("dot_micro").cast("bigint").alias("approx_sim_micro"))
    )
    # per-partition pre-top-k ahead of the shortlist window (VERDICT r12
    # #2 family-wide; hash-identical superset — similarity/topk.py)
    scored = local_topk_prefilter(
        scored,
        ["query_id"],
        [("approx_sim_micro", False), ("neighbor_id", True)],
        shortlist,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim_micro"), F.asc("neighbor_id")
    )
    short = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    rr = (
        short.join(F.broadcast(qvec), "query_id")
        .join(cvec.withColumnRenamed("cid", "neighbor_id"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("similarity"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


_CODES_RESERVED = ("id", "m", "code", "cell")


def _attach_metadata(codes: DataFrame, metadata: DataFrame | None) -> DataFrame:
    """Denormalize an id-keyed metadata frame into the codes frame (first
    metadata column = the vector id, the rest become predicate columns of
    the codes table).  One id-keyed join paid at BUILD/APPEND time —
    exactly the join the predicate serve path never pays per query."""
    if metadata is None:
        return codes
    attr_cols = list(metadata.columns[1:])
    if not attr_cols:
        raise ValueError("metadata frame needs at least one attribute column")
    clash = set(attr_cols) & set(_CODES_RESERVED)
    if clash:
        raise ValueError(
            f"metadata columns collide with the codes schema: {sorted(clash)}"
        )
    md = metadata.select(
        F.col(metadata.columns[0]).cast("long").alias("id"), *attr_cols
    )
    return codes.join(md, "id", "left")


def build_ivfpq_index(
    corpus: DataFrame,
    table_prefix: str = "ivfpq_idx",
    n_cells: int = 16,
    num_buckets: int = 16,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train: bool = False,
    train_iter: int = 3,
    metadata: DataFrame | None = None,
) -> tuple[str, str]:
    """Persist the IVFPQ index: the build half of FAISS's build-once /
    serve-many lifecycle (VERDICT r8 #2 — ``ivfpq_search_rerank`` is the
    right plan SHAPE but re-encodes the whole corpus inside every serving
    call, the wrong LIFECYCLE at 100 TB where the index is built once and
    served thousands of times).

    Writes two managed tables and returns their names:

    - ``{prefix}_codes``  (id, m, code, cell, *predicate columns): the
      PQ-encoded corpus with its coarse-quantizer cell, bucketed AND
      sorted on ``cell`` — serving filters ``cell IN (probed cells)``, so
      only the probed buckets are read off disk (bucket pruning, pinned
      in tests/test_ann_index.py).  ``metadata`` (optional id-keyed frame:
      first column the vector id, the rest filterable attributes like
      lang/source/date) is denormalized INTO the codes table at build
      time — the production vector-store layout (VERDICT r15 next #2):
      ``ivfpq_index_serve(predicate=...)`` then filters the bucket-pruned
      codes scan DIRECTLY, no id-frame join at serve time.  The M-fold
      duplication of attribute values is parquet-dictionary-encoded
      (low-cardinality categoricals cost ~1 byte/row); vectors missing
      from ``metadata`` keep NULL attributes (LEFT join — the index never
      silently drops vectors; NULL never matches a predicate).
    - ``{prefix}_vectors`` (vec_id, embedding): full vectors bucketed on
      ``vec_id`` for the rerank point-lookup join — the corpus side of the
      |Q| x shortlist rerank fetch never shuffles.

    The corpus is scanned exactly twice at build time (encode+assign, and
    the vector copy) and never again: serving touches codes (bytes) for
    scoring and fetches full vectors only for shortlist ids.  At 100 TB
    pick ``num_buckets`` so one cell-bucket of codes fits an executor read
    (codes are M bytes/vector, so even 10^11 vectors are ~1.6 TB of codes
    total — bucket counts in the hundreds suffice).

    Quantizer lifecycle: the centroids and codebooks used to encode are
    persisted alongside in ``{prefix}_meta`` and re-loaded by
    ``ivfpq_index_serve`` / ``append_ivfpq_index`` — the serving call never
    guesses the codebook the codes were written under.  ``train=True``
    trains both quantizers on the corpus first (``train_ivf_centroids`` +
    ``train_pq_codebooks`` — training is rows-only by nature, but a
    TRAINED-then-persisted index re-serves deterministically because the
    trained literals are frozen in meta at build time).

    The set is replaced through ``io/tablesets.write_table_set``: written to
    staging tables, swapped in only when every write succeeded.
    """
    from bigdata_rags_spark.similarity.ivf import (
        fixed_centroids,
        train_ivf_centroids,
    )

    spark = corpus.sparkSession
    if train:
        if centroids is None:
            centroids = train_ivf_centroids(
                corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells, n_iter=train_iter
            )
        if codebooks is None:
            codebooks = train_pq_codebooks(
                corpus, id_col=id_col, vec_col=vec_col, n_iter=train_iter
            )
    cents = centroids if centroids is not None else fixed_centroids(64, n_cells)
    books = codebooks if codebooks is not None else pq_codebooks()

    codes_table = f"{table_prefix}_codes"
    vectors_table = f"{table_prefix}_vectors"

    # one-pass encode+assign (r16): both frames derive from the same scan,
    # so the former pq_encode ⋈ assign_cells shuffle join is removable
    codes = _encode_with_cells(corpus, books, cents, id_col=id_col, vec_col=vec_col)
    codes = _attach_metadata(codes, metadata)

    # a rebuild starts clean: stale tombstones from a prior index under the
    # same prefix must not mask freshly-indexed vectors
    write_table_set(
        spark,
        table_prefix,
        {
            "codes": (codes, "cell"),
            "vectors": (
                corpus.select(
                    F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
                ),
                "vec_id",
            ),
            "tombstones": None,
        },
        num_buckets,
        params={"centroids": cents, "codebooks": books, "num_buckets": num_buckets},
    )
    return codes_table, vectors_table


def ivfpq_index_serve(
    queries: DataFrame,
    k: int,
    table_prefix: str = "ivfpq_idx",
    n_probe: int = 4,
    shortlist: int = 50,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    eligible_ids: DataFrame | None = None,
    predicate: str | Column | None = None,
) -> DataFrame:
    """Serve ANN top-k from a PERSISTED IVFPQ index (``build_ivfpq_index``)
    — no corpus encode in the plan, value-hash identical to the on-the-fly
    ``ivfpq_search_rerank`` (asserted by the ``embedding_ivfpq_index_serve``
    oracle, which is the same SQL as the on-the-fly sibling's).

    ``eligible_ids`` (optional 1-column id frame) serves the FILTERED
    form "top-k WHERE <metadata predicate>" by PRE-FILTERING: the
    eligible set semi-joins the codes scan before ADC, composing with —
    never replacing — bucket pruning, so the shortlist is drawn from
    eligible candidates only (no post-filter starvation; the tradeoff is
    measured by `ivfpq_filtered_serving_report`).  When None the plan is
    byte-identical to the unfiltered serve.

    ``predicate`` (optional SQL string or Column over the index's stored
    predicate columns — ``build_ivfpq_index(metadata=...)``) is the
    PRODUCTION filtered-serving path (VERDICT r15 next #2): the predicate
    becomes a plain filter ON the bucket-pruned codes scan — Catalyst
    pushes it into the parquet read (plan-pinned: PushedFilters carries
    it, zero joins, bucket pruning intact), so at 100 TB a selective
    predicate prunes row groups inside the probed buckets instead of
    materializing an id frame and shipping a semi-join.  ``eligible_ids``
    remains for ad-hoc predicates the index doesn't carry columns for;
    both compose when given together.

    Serving shape, in scan order:
    1. probe cells for each query (codegen'd literal projection, query side
       only) and push the distinct probed cells into the codes scan as a
       literal ``cell IN (...)`` filter — a bounded driver action (at most
       ``n_cells`` ints, n_cells <= 256 by ``auto_n_cells``) that turns the
       coarse quantizer into BUCKET PRUNING: unprobed buckets of the codes
       table are never read (SelectedBucketsCount < total, plan-pinned);
    2. ADC-score the surviving codes: broadcast the per-query LUT, equi-join
       on (query_id, m, code), integer-micro partial+final SUM, window
       shortlist — identical math to ``pq_adc_topk``;
    3. exact-cosine rerank fetches full vectors for |Q| x shortlist ids
       from the vec_id-bucketed vectors table (point-lookup join; the big
       side is pre-bucketed so only the tiny shortlist side moves).
    """
    from bigdata_rags_spark.functions.vectors import cosine
    from bigdata_rags_spark.similarity.ivf import _nearest_cells

    spark = queries.sparkSession
    if centroids is None or codebooks is None:
        # the quantizers travel WITH the index ({prefix}_meta): serving a
        # trained index with the default literals would score garbage codes
        meta = read_params(spark, table_prefix)
        cents = centroids if centroids is not None else meta["centroids"]
        books = codebooks if codebooks is not None else meta["codebooks"]
    else:
        cents, books = centroids, codebooks

    qvec = queries.select(
        F.col("vec_id").alias("query_id"), as_double_array(F.col("embedding")).alias("qv")
    )
    probes = qvec.select(
        "query_id",
        F.explode(_nearest_cells(F.col("qv"), cents, n_probe)).alias("cell"),
    )
    # Bounded driver action (<= n_cells ints, the FPS/centroid-training
    # contract): literalizing the probed cells is what lets the bucketed
    # scan prune — a join alone cannot skip file reads.
    probe_cells = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )

    codes = spark.table(f"{table_prefix}_codes").filter(
        F.col("cell").isin(probe_cells)
    )
    if predicate is not None:
        # predicate serving: a scan filter on the stored predicate columns
        # — pushed into the parquet read alongside the cell pruning, no
        # join in the plan (the build-time denormalization pays for this)
        codes = codes.filter(
            F.expr(predicate) if isinstance(predicate, str) else predicate
        )
    if eligible_ids is not None:
        # pre-filter serving: the predicate composes with bucket pruning
        # (cells first, then the id semi-join on the pruned scan)
        codes = codes.join(
            eligible_ids.select(
                F.col(eligible_ids.columns[0]).alias("id")
            ),
            "id",
            "left_semi",
        )
    tomb_table = f"{table_prefix}_tombstones"
    if spark.catalog.tableExists(tomb_table):
        # logical deletes (delete_from_ivfpq_index): broadcast anti-join on
        # the tombstone set — a deleted id can then never reach the rerank,
        # so only the codes side needs filtering
        codes = codes.join(
            F.broadcast(
                spark.table(tomb_table).select(F.col("vec_id").alias("id"))
            ),
            "id",
            "left_anti",
        )
    lut = pq_lut(queries, books)
    scored = (
        codes.join(F.broadcast(probes), "cell")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .filter(F.col("id") != F.col("query_id"))
        .groupBy("query_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("dot_micro").cast("bigint").alias("approx_sim_micro"))
    )
    # per-partition pre-top-k ahead of the shortlist window (VERDICT r12
    # #2 family-wide; hash-identical superset — similarity/topk.py)
    scored = local_topk_prefilter(
        scored,
        ["query_id"],
        [("approx_sim_micro", False), ("neighbor_id", True)],
        shortlist,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim_micro"), F.asc("neighbor_id")
    )
    short = (
        scored.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    cvec = spark.table(f"{table_prefix}_vectors").select(
        F.col("vec_id").alias("neighbor_id"),
        as_double_array(F.col("embedding")).alias("cv"),
    )
    rr = (
        short.join(F.broadcast(qvec), "query_id")
        .join(cvec, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("similarity"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w2).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "similarity", "rank")
    )


def append_ivfpq_index(
    batch: DataFrame,
    table_prefix: str = "ivfpq_idx",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metadata: DataFrame | None = None,
) -> tuple[str, str]:
    """Ingest a new vector batch into an EXISTING persisted IVFPQ index —
    build-once/serve-many becomes build-once/APPEND-many/serve-many
    (VERDICT r9 gap #5: without this, every ingest is a full rebuild).

    The batch is encoded and cell-assigned under the index's OWN persisted
    quantizers (``{prefix}_meta`` — never re-derived, so old and new codes
    live in the same code space), then appended into both bucketed tables
    with the index's recorded bucket count: ``saveAsTable`` in append mode
    adds new per-bucket files under the SAME bucket spec, so cell-bucket
    pruning and the vec_id point-lookup layout keep holding after any
    number of appends (FAISS ``add`` semantics; the IVF lists just grow).

    Cost: one scan of the BATCH (encode+assign) + one batch-sized bucketed
    write — the stored corpus is never read, never rewritten.  Serving
    after append is value-identical to a rebuild over the unioned corpus
    (pinned in tests/test_ann_index.py) because serving math depends only
    on table CONTENT, not file layout.
    """
    from bigdata_rags_spark.io.bucketing import write_bucketed

    spark = batch.sparkSession
    meta = read_params(spark, table_prefix)
    cents, books, num_buckets = meta["centroids"], meta["codebooks"], meta["num_buckets"]

    codes_table = f"{table_prefix}_codes"
    vectors_table = f"{table_prefix}_vectors"

    # Re-appending a previously deleted id REVIVES it (ADVICE r10 #1), and
    # the delete was LOGICAL — the old physical rows for a revived id are
    # still sitting in {prefix}_codes/_vectors.  Clearing the tombstone
    # alone would unmask BOTH the stale rows and the fresh batch rows
    # (ADVICE r11 high): serving then double-counts the ADC score and emits
    # the neighbor at two ranks, displacing a real top-k hit — and a later
    # compact keeps the duplicates forever (the tombstone is gone).  So
    # BEFORE the bucketed insert, physically purge batch∩tombstone ids via
    # the same staged swap as compact.  The rewrite is bounded
    # (it only fires when the batch actually intersects a live tombstone),
    # and purge-before-insert makes a crashed-then-retried append
    # idempotent: the retry's purge removes the prior attempt's batch rows
    # (same ids, still tombstone-masked) before re-inserting them.
    tomb_table = f"{table_prefix}_tombstones"
    batch_ids = None
    if spark.catalog.tableExists(tomb_table):
        batch_ids = (
            batch.select(F.col(id_col).cast("long").alias("vec_id")).distinct().localCheckpoint()
        )
        revived = (
            spark.table(tomb_table)
            .join(F.broadcast(batch_ids), "vec_id", "semi")
            .localCheckpoint()
        )
        if revived.count() > 0:
            _purge_ids(spark, table_prefix, revived, num_buckets)

    codes = _encode_with_cells(batch, books, cents, id_col=id_col, vec_col=vec_col)
    codes = _attach_metadata(codes, metadata)
    # the batch must carry exactly the predicate columns the index was
    # built with: a silent schema drift here would leave appended rows
    # invisible to (or wrongly visible to) every predicate serve
    existing_cols = spark.table(codes_table).columns
    if sorted(codes.columns) != sorted(existing_cols):
        raise ValueError(
            f"append schema mismatch for {codes_table}: index stores "
            f"{sorted(set(existing_cols) - set(_CODES_RESERVED))}, batch "
            f"supplies {sorted(set(codes.columns) - set(_CODES_RESERVED))} "
            "— pass the same metadata columns the index was built with"
        )
    # the two batch-sized appends are independent jobs: overlap them so the
    # vectors insert back-fills the codes insert's task tail (guide §2.6)
    run_overlapped(
        lambda: write_bucketed(
            codes.select(*existing_cols), codes_table, "cell", num_buckets, mode="append"
        ),
        lambda: write_bucketed(
            batch.select(
                F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
            ),
            vectors_table,
            "vec_id",
            num_buckets,
            mode="append",
        ),
    )
    # Only after the fresh rows are durably in place does the batch leave
    # the tombstone set — a crash between purge/insert and this clear keeps
    # the ids masked (correct: serving never sees a partial revive).
    if batch_ids is not None:
        tombs = spark.table(tomb_table)
        live = tombs.join(F.broadcast(batch_ids), "vec_id", "left_anti").localCheckpoint()
        if live.count() < tombs.count():
            live.write.mode("overwrite").format("parquet").saveAsTable(tomb_table)
    return codes_table, vectors_table


def delete_from_ivfpq_index(
    ids: DataFrame,
    table_prefix: str = "ivfpq_idx",
    id_col: str = "vec_id",
) -> str:
    """Logically delete vectors from a persisted IVFPQ index: append their
    ids to ``{prefix}_tombstones``; serving anti-joins the (broadcast)
    tombstone set.  This is the LSM/FAISS `remove_ids`-with-selector shape:
    a delete never rewrites the bucketed codes/vectors tables — at 100 TB a
    physical per-delete rewrite would re-shuffle the whole index for a
    handful of ids.  Reclaim space with ``compact_ivfpq_index`` once the
    tombstone fraction justifies one rebuild-sized write."""
    spark = ids.sparkSession
    table = f"{table_prefix}_tombstones"
    out = ids.select(F.col(id_col).cast("long").alias("vec_id")).distinct()
    mode = "append" if spark.catalog.tableExists(table) else "overwrite"
    out.write.mode(mode).format("parquet").saveAsTable(table)
    return table


def _purge_ids(
    spark,
    table_prefix: str,
    ids: DataFrame,
    num_buckets: int,
    clear_tombstones: bool = False,
) -> tuple[int, int]:
    """Physically rewrite ``{prefix}_codes`` and ``{prefix}_vectors`` without
    the given ``vec_id`` rows, preserving the bucket spec (so cell pruning
    and vec_id point lookups survive).  Shared by ``compact_ivfpq_index``
    (full tombstone set, cleared in the same swap) and
    ``append_ivfpq_index`` (the batch∩tombstone revive purge, ADVICE r11
    high).  Returns rows removed per table.

    Crash-safety: a staged table-set write (``io/tablesets``), so the data
    always exists in full somewhere — the old table, or the fully-written
    staging table when a crash hit between the drop and the rename, which
    a rerun renames into place BEFORE reading.  NOTE (ADVICE r11 low): on
    that recovery path the removed counts are taken on the already-purged
    table, so they understate the true delta — counts reset after crash
    recovery; labels/content are always correct.
    """
    finish_interrupted_swap(
        spark, [f"{table_prefix}_codes", f"{table_prefix}_vectors"]
    )
    codes, vectors = (
        spark.table(f"{table_prefix}_codes"),
        spark.table(f"{table_prefix}_vectors"),
    )
    codes_ids = F.broadcast(ids.select(F.col("vec_id").alias("id")))
    vector_ids = F.broadcast(ids.select("vec_id"))
    removed: list[int] = []
    write_table_set(
        spark,
        table_prefix,
        {
            "codes": (codes.join(codes_ids, "id", "left_anti"), "cell"),
            "vectors": (vectors.join(vector_ids, "vec_id", "left_anti"), "vec_id"),
            **({"tombstones": None} if clear_tombstones else {}),
        },
        num_buckets,
        validate=lambda: removed.extend(
            (
                codes.join(codes_ids, "id", "left_semi").count(),
                vectors.join(vector_ids, "vec_id", "left_semi").count(),
            )
        ),
    )
    return (removed[0], removed[1])


def compact_ivfpq_index(
    spark,
    table_prefix: str = "ivfpq_idx",
) -> tuple[int, int]:
    """Physically apply accumulated tombstones: rewrite ``{prefix}_codes``
    and ``{prefix}_vectors`` without the deleted ids (same bucket spec, so
    every serving plan property — cell pruning, vec_id point lookups —
    survives the rewrite) and clear the tombstone table.  Returns
    (codes_rows_removed, vectors_rows_removed); after a mid-compact crash
    the recovered run's counts reset (see ``_purge_ids``).  One index-sized
    write, paid when the operator chooses, not per delete."""
    tomb_table = f"{table_prefix}_tombstones"
    if not spark.catalog.tableExists(tomb_table):
        return (0, 0)
    num_buckets = read_params(spark, table_prefix)["num_buckets"]
    tombs = spark.table(tomb_table).select("vec_id").distinct().localCheckpoint()
    return _purge_ids(spark, table_prefix, tombs, num_buckets, clear_tombstones=True)


def merge_ivfpq_indexes(
    spark,
    src_prefixes: list[str],
    dst_prefix: str,
) -> tuple[str, str]:
    """Merge persisted IVFPQ indexes built under the SAME quantizers into
    one index — FAISS ``merge_from`` for the shard-then-merge build
    pattern: at 100 TB the corpus is indexed as independent shards (each a
    bounded build over its slice) and merged into the serving index with
    ONE co-bucketed write per table, never re-encoding a vector.

    Preconditions, each checked and loudly fatal:
    - every source's ``{prefix}_meta`` quantizers (centroids, codebooks,
      bucket count) are bit-identical — codes from different code spaces
      are mutually meaningless, the reason the quantizers travel with the
      index in the first place;
    - the sources' codes tables carry the same predicate-column schema
      (the `build_ivfpq_index(metadata=...)` columns);
    - source id sets are DISJOINT (the FAISS merge contract) — an id
      indexed by two shards would double-count its ADC score and surface
      at two ranks, so the overlap check is worth its one id-level
      aggregate against an index-sized write.

    Tombstones union: an id deleted in any source stays masked in the
    merged index (delete survives merge; compact when it suits).  The
    merged tables keep the shared bucket spec, so cell pruning and vec_id
    point lookups hold on the merged index unchanged — pinned in
    tests/test_ann_index.py.

    The destination set is replaced through ``io/tablesets``: a failed
    precondition leaves an existing destination index untouched and
    servable."""
    if len(src_prefixes) < 2:
        raise ValueError("merge needs at least two source indexes")
    metas = [read_params(spark, p) for p in src_prefixes]
    for p, m in zip(src_prefixes[1:], metas[1:]):
        if m != metas[0]:
            raise ValueError(
                f"quantizer mismatch: {src_prefixes[0]} and {p} were built "
                "under different centroids/codebooks/bucket counts — their "
                "codes are not in one code space and cannot be merged"
            )
    codes_frames = [spark.table(f"{p}_codes") for p in src_prefixes]
    cols0 = sorted(codes_frames[0].columns)
    for p, cf in zip(src_prefixes[1:], codes_frames[1:]):
        if sorted(cf.columns) != cols0:
            raise ValueError(
                f"codes schema mismatch: {src_prefixes[0]} stores {cols0}, "
                f"{p} stores {sorted(cf.columns)} — rebuild with matching "
                "predicate columns before merging"
            )
    # disjointness: m = 0 is the one-row-per-vector slice of each codes table
    ids = None
    for cf in codes_frames:
        s = cf.filter(F.col("m") == 0).select("id")
        ids = s if ids is None else ids.unionByName(s)
    dup = ids.groupBy("id").count().filter(F.col("count") > 1)

    codes = codes_frames[0].select(*codes_frames[0].columns)
    for cf in codes_frames[1:]:
        codes = codes.unionByName(cf)
    vectors = None
    for p in src_prefixes:
        v = spark.table(f"{p}_vectors")
        vectors = v if vectors is None else vectors.unionByName(v)
    # deletes survive the merge: union any source tombstones
    tombs = None
    for p in src_prefixes:
        t = f"{p}_tombstones"
        if spark.catalog.tableExists(t):
            s = spark.table(t).select("vec_id")
            tombs = s if tombs is None else tombs.unionByName(s)

    # The disjointness aggregate runs as the table set's validation thunk,
    # overlapped with the dst staging writes (guide §2.6; VERDICT r16 #3):
    # the id-level check back-fills the co-bucketed writes' task tails
    # instead of serializing a full extra pass ahead of them.  A detected
    # overlap fails LOUDLY before anything is swapped in.
    def _check_disjoint() -> None:
        n_dup = dup.count()
        if n_dup > 0:
            raise ValueError(
                f"{n_dup} vector id(s) appear in more than one source index — "
                "merged serving would double-count them; deduplicate shards first"
            )

    write_table_set(
        spark,
        dst_prefix,
        {
            "codes": (codes, "cell"),
            "vectors": (vectors, "vec_id"),
            "tombstones": None if tombs is None else (tombs.distinct(), None),
        },
        metas[0]["num_buckets"],
        params=metas[0],
        validate=_check_disjoint,
    )
    return f"{dst_prefix}_codes", f"{dst_prefix}_vectors"


def ivfpq_index_stats(spark, table_prefix: str = "ivfpq_idx") -> DataFrame:
    """Index-health report over a persisted IVFPQ index: per-cell vector
    counts plus occupancy share and the live/tombstoned split — what an
    operator reads before trusting probe latency (a skewed cell serves
    slowly for every query that probes it; a high tombstone fraction says
    run ``compact_ivfpq_index``).

    One scan of the codes table restricted to m = 0 (exactly one code row
    per vector per subspace, so m = 0 is a 1/M-cost proxy for the vector
    set), one broadcast anti/semi pair against the tombstones.  Returns
    (cell, n_vectors, n_live, n_tombstoned, occupancy_micro) where
    occupancy_micro is the cell's integer-micro share of all vectors.
    """
    codes = spark.table(f"{table_prefix}_codes").filter(F.col("m") == 0)
    tomb_table = f"{table_prefix}_tombstones"
    if spark.catalog.tableExists(tomb_table):
        tombs = spark.table(tomb_table).select(F.col("vec_id").alias("id"))
        dead = F.broadcast(tombs)
        flagged = codes.join(
            dead.withColumn("__dead", F.lit(1)), "id", "left"
        ).withColumn("__dead", F.coalesce(F.col("__dead"), F.lit(0)))
    else:
        flagged = codes.withColumn("__dead", F.lit(0))
    per_cell = flagged.groupBy("cell").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(1 - F.col("__dead")).cast("bigint").alias("n_live"),
        F.sum("__dead").cast("bigint").alias("n_tombstoned"),
    )
    total = per_cell.agg(F.sum("n_vectors").cast("bigint").alias("__t"))
    return (
        per_cell.crossJoin(F.broadcast(total))
        .select(
            "cell",
            "n_vectors",
            "n_live",
            "n_tombstoned",
            F.expr("n_vectors * 1000000 div nullif(__t, 0)")
            .cast("bigint")
            .alias("occupancy_micro"),
        )
    )


def ivfpq_tuning_report(
    queries: DataFrame,
    k: int = 5,
    table_prefix: str = "ivfpq_idx",
    probe_grid: tuple[int, ...] = (1, 2, 4, 8, 16),
) -> DataFrame:
    """Recall/cost planner for a persisted IVFPQ index — answers "what
    ``n_probe`` do I serve with" the way `lsh_tuning_planner` answers "how
    many hyperplanes" (VERDICT r10 #6): for every ``n_probe`` in the grid,
    the CELL-COVERAGE recall@k against the exact brute-force answer and the
    codes-scanned cost, all from ONE pass over the index.

    Cell ranking is prefix-nested (the top-p cells are a prefix of the full
    ``_nearest_cells`` ranking), so one ranked explode per query serves
    every grid point — no candidate join, no repeated serving runs.
    Cell-coverage recall (is the true neighbor's cell probed?) is the
    standard IVF recall decomposition: it upper-bounds end-to-end serving
    recall, isolates the coarse-quantizer knob from the ADC ``shortlist``
    knob, and is integer-exact (a Viterbi-free membership count), so the
    whole report is oracle-checkable.

    Returns one row per grid point: (n_probe, truth_hits, recall_micro,
    scanned_codes) — recall_micro = truth_hits * 1e6 div (k * |Q|);
    scanned_codes = total live m=0 code rows the probed cells would scan
    across all queries (the latency proxy).  Monotone non-decreasing in
    n_probe by construction; recall_micro = 1e6 at n_probe = n_cells.

    Scale shape: ground truth is |Q| x N exact cosine with the bounded
    query set broadcast (the `embedding_cosine_topk` contract — the
    planner is an offline calibration run, not a serving path); everything
    else is cell-keyed aggregation over (id, cell) pairs."""
    from pyspark.sql import Window

    from bigdata_rags_spark.functions.vectors import cosine
    from bigdata_rags_spark.similarity.ivf import _nearest_cells

    spark = queries.sparkSession
    cents = read_params(spark, table_prefix)["centroids"]
    n_cells = len(cents)

    qvec = queries.select(
        F.col("vec_id").alias("query_id"), as_double_array(F.col("embedding")).alias("qv")
    )
    n_q = qvec.count()  # bounded: queries are the small side by contract
    ranked = qvec.select(
        "query_id",
        F.posexplode(_nearest_cells(F.col("qv"), cents, n_cells)).alias("pos", "cell"),
    ).select("query_id", (F.col("pos") + 1).cast("int").alias("cell_rank"), "cell")

    codes = spark.table(f"{table_prefix}_codes").filter(F.col("m") == 0)
    vecs = spark.table(f"{table_prefix}_vectors")
    tomb_table = f"{table_prefix}_tombstones"
    if spark.catalog.tableExists(tomb_table):
        tombs = F.broadcast(spark.table(tomb_table).select("vec_id"))
        codes = codes.join(tombs.withColumnRenamed("vec_id", "id"), "id", "left_anti")
        vecs = vecs.join(tombs, "vec_id", "left_anti")

    # exact brute-force truth: per query the k nearest live vectors
    cvec = vecs.select(
        F.col("vec_id").alias("neighbor_id"), as_double_array(F.col("embedding")).alias("cv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("similarity"), F.asc("neighbor_id"))
    truth = (
        F.broadcast(qvec).crossJoin(cvec)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("similarity", F.round(cosine(F.col("qv"), F.col("cv")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id")
    )
    grid = F.explode(F.array(*[F.lit(int(p)) for p in probe_grid])).alias("n_probe")

    # which cell-rank would recall each true neighbor
    hit_rank = (
        truth.join(codes.select(F.col("id").alias("neighbor_id"), "cell"), "neighbor_id")
        .join(ranked, ["query_id", "cell"])
        .select("query_id", "neighbor_id", "cell_rank")
    )
    hits = (
        hit_rank.select("cell_rank").crossJoin(F.broadcast(hit_rank.sparkSession.range(1).select(grid)))
        .filter(F.col("cell_rank") <= F.col("n_probe"))
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).cast("bigint").alias("truth_hits"))
    )
    # scanned live codes per grid point (latency proxy)
    occ = codes.groupBy("cell").agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
    scanned = (
        ranked.join(occ, "cell")
        .crossJoin(F.broadcast(spark.range(1).select(grid)))
        .filter(F.col("cell_rank") <= F.col("n_probe"))
        .groupBy("n_probe")
        .agg(F.sum("occ").cast("bigint").alias("scanned_codes"))
    )
    base = spark.createDataFrame([(int(p),) for p in probe_grid], "n_probe int")
    return (
        base.join(hits, "n_probe", "left")
        .join(scanned, "n_probe", "left")
        .select(
            "n_probe",
            F.coalesce(F.col("truth_hits"), F.lit(0)).cast("bigint").alias("truth_hits"),
            F.expr(f"coalesce(truth_hits, 0) * 1000000 div {int(k) * max(int(n_q), 1)}")
            .cast("bigint")
            .alias("recall_micro"),
            F.coalesce(F.col("scanned_codes"), F.lit(0)).cast("bigint").alias("scanned_codes"),
        )
    )


def ivfpq_filtered_serving_report(
    queries: DataFrame,
    corpus: DataFrame,
    eligible_ids: DataFrame | dict[str, DataFrame],
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    shortlist: int = 50,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    unfiltered_topk: DataFrame | None = None,
) -> DataFrame:
    """FILTERED ANN serving report (VERDICT r14 next #3): serve "top-k
    WHERE <metadata predicate>" both ways every production vector store
    weighs, and report the recall/cost tradeoff per query.

    ``eligible_ids`` may be a dict {label: id-frame}: all predicates then
    share ONE corpus encode, ONE cell assignment, and ONE unfiltered
    serve, and the output gains a leading ``pred`` label column.
    ``unfiltered_topk`` optionally supplies a precomputed unfiltered serve
    (query_id, neighbor_id, similarity, rank) — it is predicate-
    independent.

    - ``prefilter``: the predicate restricts the INDEXED corpus before
      scoring (only eligible codes are ADC-scored, the shortlist is drawn
      from eligible candidates only) — recall against the filtered truth
      is as good as unfiltered IVFPQ recall, but the eligible id set must
      reach the scan (here a semi-join; on a persisted index, a predicate
      column in the codes table).
    - ``postfilter``: serve UNFILTERED top-k, then drop ineligible
      results — no index change needed, but under a selective predicate
      the unfiltered top-k may contain few (or zero) eligible rows:
      SHORTLIST STARVATION, n_results < k with no way to recover without
      re-serving.

    ``eligible_ids`` is any 1-column (vec_id) frame — the registered query
    derives it from `documents` metadata joined on vec_id.  Returns one
    row per (mode, query): (mode, query_id, n_results, n_hits,
    recall_micro, scanned_rows) where n_hits/recall_micro compare against
    the EXACT filtered truth (brute-force cosine top-k over eligible
    corpus) and scanned_rows counts the ADC-scored candidates — the cost
    axis: prefilter scans only eligible codes in probed cells, postfilter
    scans every code in probed cells.

    100 TB shape: both modes stay bucket-pruned (the predicate composes
    with cell pruning, never replaces it); the report's exact side runs on
    a benchmark-sized query sample only.  The practical reading at scale:
    postfilter's starvation rate tells you when to pay for predicate
    columns in the index (pre-filtering), and scanned_rows prices the
    difference.
    """
    from bigdata_rags_spark.similarity.ivf import _nearest_cells, fixed_centroids
    from bigdata_rags_spark.similarity.knn import brute_force_topk

    cents = centroids if centroids is not None else fixed_centroids(64, n_cells)
    books = codebooks if codebooks is not None else pq_codebooks()
    preds = (
        eligible_ids
        if isinstance(eligible_ids, dict)
        else {None: eligible_ids}
    )

    # encode + cell-assign the corpus ONCE (the 256-dot-product encode is
    # the expensive stage; every predicate's serve modes and cost counts
    # read from these two frames — multi-branch rule: materialize)
    enc = pq_encode(corpus, books).localCheckpoint()
    asg = corpus.select(
        F.col("vec_id").alias("cid"),
        _nearest_cells(as_double_array(F.col("embedding")), cents, 1)[0].alias("cell"),
    ).localCheckpoint()
    if unfiltered_topk is None:
        unfiltered_topk = ivfpq_search_rerank(
            queries, corpus, k=k, n_cells=n_cells, n_probe=n_probe,
            shortlist=shortlist, centroids=cents, codebooks=books,
            encoded=enc, assignments=asg,
        )

    # scanned-candidate cost: corpus rows whose cell lands in the query's
    # probed cells (excluding self) — what ADC actually prices per mode
    qvec = queries.select(
        F.col("vec_id").alias("query_id"),
        as_double_array(F.col("embedding")).alias("qv"),
    )
    probes = qvec.select(
        "query_id", F.explode(_nearest_cells(F.col("qv"), cents, n_probe)).alias("cell")
    )

    def scanned(a: DataFrame) -> DataFrame:
        return (
            a.select(F.col("cid").alias("neighbor_id"), "cell")
            .join(F.broadcast(probes), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("scanned_rows"))
        )

    qids = queries.select(F.col("vec_id").alias("query_id"))

    def mode_report(res, cost, exact, mode: str) -> DataFrame:
        nres = res.groupBy("query_id").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_results")
        )
        hits = (
            res.join(exact, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
        )
        return (
            qids.join(nres, "query_id", "left")
            .join(hits, "query_id", "left")
            .join(cost, "query_id", "left")
            .select(
                F.lit(mode).alias("mode"),
                "query_id",
                F.coalesce(F.col("n_results"), F.lit(0)).cast("bigint").alias(
                    "n_results"
                ),
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
                F.expr(f"coalesce(n_hits, 0) * 1000000 DIV {k}")
                .cast("bigint")
                .alias("recall_micro"),
                F.coalesce(F.col("scanned_rows"), F.lit(0)).cast("bigint").alias(
                    "scanned_rows"
                ),
            )
        )

    out = None
    for label, elig_df in preds.items():
        elig = elig_df.select(F.col(elig_df.columns[0]).alias("vec_id"))
        corpus_elig = corpus.join(elig, "vec_id", "left_semi")
        enc_elig = enc.join(
            elig.select(F.col("vec_id").alias("id")), "id", "left_semi"
        )
        asg_elig = asg.join(
            elig.select(F.col("vec_id").alias("cid")), "cid", "left_semi"
        )
        pre = ivfpq_search_rerank(
            queries, corpus_elig, k=k, n_cells=n_cells, n_probe=n_probe,
            shortlist=shortlist, centroids=cents, codebooks=books,
            encoded=enc_elig, assignments=asg_elig,
        ).select("query_id", "neighbor_id")
        post = unfiltered_topk.join(
            elig.select(F.col("vec_id").alias("neighbor_id")),
            "neighbor_id",
            "left_semi",
        ).select("query_id", "neighbor_id")
        exact = brute_force_topk(queries, corpus_elig, k=k).select(
            "query_id", "neighbor_id"
        )
        rep = mode_report(pre, scanned(asg_elig), exact, "prefilter").unionByName(
            mode_report(post, scanned(asg), exact, "postfilter")
        )
        if label is not None:
            rep = rep.select(F.lit(label).alias("pred"), "*")
        out = rep if out is None else out.unionByName(rep)
    return out
