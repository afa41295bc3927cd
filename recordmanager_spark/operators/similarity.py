"""Approximate-nearest-neighbor search over embedding columns.

Baseline: brute-force cosine top-k — broadcast the (small) query set and
scan the corpus once; per-row dot products are JVM-side ``zip_with`` +
``aggregate`` folds, top-k via window row_number. At 100 TB the corpus
side never shuffles: the broadcast-nested-loop join is embarrassingly
parallel and AQE coalesces the tiny result.

Scale path: random-hyperplane LSH — b sign-bits per vector from
deterministic (seeded, hash-derived) hyperplanes; bucket equi-join reduces
candidates by ~2^b before exact re-scoring. An IVF variant (k-means
coarse quantizer) would slot in the same two-phase shape; hyperplane LSH
is chosen here because it needs no training pass.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from recordmanager_spark.sparkcompat import try_element_at


def _dot(a: "Column | str", b: "Column | str", dim: int | None = None) -> Column:
    """Dot product; ``dim`` unrolls to a codegen multiply-add chain.

    Pass COLUMN NAMES (plain or dotted-alias strings) with ``dim`` where
    possible: the unrolled chain then builds as ONE parsed SQL string
    instead of ~6 py4j round trips per element — at dim 512 the
    Column-object path costs whole seconds of driver-side query
    construction per call site (measured, perf_probe medians)."""
    if dim and isinstance(a, str) and isinstance(b, str):
        return F.expr(
            "+".join(
                f"(CAST(try_element_at({a},{i}) AS DOUBLE)"
                f"*CAST(try_element_at({b},{i}) AS DOUBLE))"
                for i in range(1, dim + 1)
            )
        )
    if dim:
        ac = F.col(a) if isinstance(a, str) else a
        bc = F.col(b) if isinstance(b, str) else b
        terms = [
            try_element_at(ac, i + 1).cast("double")
            * try_element_at(bc, i + 1).cast("double")
            for i in range(dim)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    ac = F.col(a) if isinstance(a, str) else a
    bc = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(ac, bc, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: "Column | str", dim: int | None = None) -> Column:
    if dim:
        return F.sqrt(_dot(a, a, dim))
    ac = F.col(a) if isinstance(a, str) else a
    return F.sqrt(
        F.aggregate(ac, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_similarity(a: Column, b: Column, dim: int | None = None) -> Column:
    """Cosine over array<float>/array<double> columns, computed in double.

    ``dim``: when the embedding dimension is known (the normal case — a
    corpus has ONE model's dimension), the dot product unrolls to a flat
    multiply-add chain that stays inside whole-stage codegen. The generic
    path uses ``aggregate``/``zip_with`` higher-order functions, which
    Spark evaluates interpreted — ~50x slower per pair; keep it only for
    mixed-dimension data.
    """
    if dim:
        return _dot(a, b, dim) / (_norm(a, dim) * _norm(b, dim))
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return _dot(ad, bd) / (_norm(ad) * _norm(bd))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Returns (query_id, neighbor_id, cosine, rank); a query is never its
    own neighbor. The query side is broadcast; ties break on neighbor id
    for determinism.
    """
    # Precompute each side's norm ONCE before the cross join — inlining
    # cosine_similarity there recomputes both norms for every (query,
    # corpus) pair, tripling the multiply-add work of the scan.
    as_d = (
        (lambda v: v)
        if dim
        else (lambda v: F.transform(v, lambda x: x.cast("double")))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_d(F.col(vec_col)).alias("q_vec"),
        (_norm(vec_col, dim) if dim else _norm(as_d(F.col(vec_col)))).alias("q_norm"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_d(F.col(vec_col)).alias("c_vec"),
        (_norm(vec_col, dim) if dim else _norm(as_d(F.col(vec_col)))).alias("c_norm"),
    )
    joined = c.crossJoin(F.broadcast(q))
    joined = joined.where(F.col("query_id") != F.col("neighbor_id"))
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot("q_vec", "c_vec", dim)
            / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------


_MAX_LSH_DIM = 512


@lru_cache(maxsize=None)
def _plane_signs(plane: int) -> tuple:
    """±1 sign for (plane, d): parity of md5(f"{plane}:{d}")[:4].

    Same deterministic formula the expression originally evaluated with
    Spark's md5/conv — precomputed on the driver so the hot path carries a
    literal array instead of per-element md5 inside interpreted
    higher-order functions (which cost ~50x the multiply they guard).
    """
    out = []
    for d in range(_MAX_LSH_DIM):
        h = hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[:4]
        out.append(1.0 if int(h, 16) % 2 == 0 else -1.0)
    return tuple(out)


@lru_cache(maxsize=None)
def _plane_signs_sql(plane: int) -> str:
    """The plane's ±1 sign table as ONE parseable SQL array literal.

    ``F.array(*[F.lit(s) ...])`` costs a py4j round trip per element —
    at 512 dims × planes × join sides that was ~6 s of driver-side
    QUERY CONSTRUCTION per knn_lsh call (measured, perf_probe medians);
    a single ``F.expr`` string parses JVM-side in microseconds and
    produces the identical literal array."""
    return (
        "array("
        + ",".join("1.0D" if s > 0 else "-1.0D" for s in _plane_signs(plane))
        + ")"
    )


def _hyperplane_bit(vec: Column, plane: int) -> Column:
    """Sign bit of <vec, h_plane> — reproducible everywhere, no stored
    model; vectors up to ``_MAX_LSH_DIM`` dims."""
    signs = F.expr(_plane_signs_sql(plane))
    signed = F.aggregate(
        F.zip_with(
            vec,
            F.slice(signs, 1, F.size(vec)),
            lambda x, s: x.cast("double") * s,
        ),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )
    return F.when(signed >= 0, F.lit(1)).otherwise(F.lit(0))


def lsh_bucket(vec: Column, num_planes: int = 8) -> Column:
    """Bucket id = concatenated hyperplane sign bits (0..2^planes-1)."""
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        bucket = bucket * 2 + _hyperplane_bit(vec, p)
    return bucket


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    num_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: exact rescoring within the query's LSH bucket.

    Two-phase ANN shape: bucket assignment is scan-stage; candidate
    generation is an equi-join on bucket (shuffle bounded by bucket sizes);
    rescoring is exact cosine on the reduced set. Recall < 1 by design —
    verified against knn_bruteforce in tests (multi-probe: lower
    ``num_planes`` for higher recall)."""
    as_d = (
        (lambda v: v)
        if dim
        else (lambda v: F.transform(v, lambda x: x.cast("double")))
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_d(F.col(vec_col)).alias("q_vec"),
        (_norm(vec_col, dim) if dim else _norm(as_d(F.col(vec_col)))).alias("q_norm"),
        lsh_bucket(F.col(vec_col), num_planes).alias("bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_d(F.col(vec_col)).alias("c_vec"),
        (_norm(vec_col, dim) if dim else _norm(as_d(F.col(vec_col)))).alias("c_norm"),
        lsh_bucket(F.col(vec_col), num_planes).alias("bucket"),
    )
    joined = c.join(F.broadcast(q), "bucket").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = joined.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot("q_vec", "c_vec", dim)
            / (F.col("q_norm") * F.col("c_norm")),
            6,
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def exact_near_duplicates(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
) -> DataFrame:
    """EXACT all-pairs cosine near-dup baseline (no LSH bucketing).

    O(n²) by definition — the truth oracle for the approximate paths.
    Left side scans the source columnar (keeps vectorized parquet reads);
    the right side broadcasts. Deterministic left-to-right expression math
    so results hash-match external oracles bit-for-bit (a numpy matmul
    block scheme is ~10x faster but sums in a different order, which
    flips rounded 6th decimals on occasional pairs).
    """
    as_d = (
        (lambda v: v)
        if dim
        else (lambda v: F.transform(v, lambda x: x.cast("double")))
    )
    # per-side norms computed once per vector, not once per pair; same
    # float-op order as cosine_similarity (sqrt per side, then multiply)
    # so rounded results stay bit-identical to the external oracle
    b = df.select(
        F.col(id_col).alias("id"),
        as_d(F.col(vec_col)).alias("vec"),
        (_norm(vec_col, dim) if dim else _norm(as_d(F.col(vec_col)))).alias("nrm"),
    )
    x, y = b.alias("x"), b.alias("y")
    pairs = x.join(F.broadcast(y), F.col("x.id") < F.col("y.id")).select(
        F.col("x.id").alias("id_a"),
        F.col("y.id").alias("id_b"),
        F.round(
            _dot("x.vec", "y.vec", dim)
            / (F.col("x.nrm") * F.col("y.nrm")),
            6,
        ).alias("cosine"),
    )
    return pairs.where(F.col("cosine") >= threshold)


# ---------------------------------------------------------------------------
# IVF (inverted-file) coarse quantizer — the trained-index scale path
# ---------------------------------------------------------------------------


def ivf_assign(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 64,
    kmeans_iters: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Build an IVF index: (centroids, assignments).

    Centroids are k-means training state and live driver-side as a numpy
    matrix (n_cells × dim doubles — a few MB at most, the same shape
    MLlib's KMeansModel holds). Assignment is a vectorized Arrow-batch
    argmax against that matrix, so the corpus NEVER shuffles or explodes:
    each Lloyd iteration costs one corpus scan plus a map-side-combinable
    per-cell mean whose shuffle carries only n_cells rows per partition.
    (The previous shape — broadcast-join every vector against every
    centroid, then window-rank corpus×n_cells rows by id — shuffled 64×
    the corpus volume per iteration.) Returns
    (centroids(cell, c_vec), assign(id, cell, raw)) — ``raw`` is the
    original (uncast) embedding carried through the assignment scan so
    probes can exact-score members without re-joining the corpus.
    """
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    corpus_n = corpus.select(
        F.col(id_col).alias("id"),
        F.transform(vec_d, lambda x: x / _norm(vec_d)).alias("vec"),
        F.col(vec_col).alias("raw"),
    )
    # Cache the normalized training set for the duration of the Lloyd
    # iterations — every iteration scans it, and MLlib's KMeans does the
    # same (MEMORY_AND_DISK so oversized corpora spill instead of OOM).
    from pyspark import StorageLevel

    corpus_n = corpus_n.persist(StorageLevel.MEMORY_AND_DISK)
    # Deterministic seeding from the lowest-id vectors; n_cells rows is a
    # driver-trivial collect.
    seed = corpus_n.orderBy("id").limit(n_cells).collect()
    cells_np = np.arange(len(seed), dtype="int64")
    cent_mat = np.array([r["vec"] for r in seed], dtype=np.float64)

    def assign(cells: np.ndarray, mat: np.ndarray) -> DataFrame:
        @F.pandas_udf("long")
        def argmax_cell(vs: pd.Series) -> pd.Series:
            m = np.array(vs.tolist(), dtype=np.float64)
            # ties: argmax takes the first (lowest cell id) — matrix rows
            # are ordered by cell
            return pd.Series(cells[np.argmax(m @ mat.T, axis=1)])

        return corpus_n.select(
            "id", argmax_cell("vec").alias("cell"), "vec", "raw"
        )

    assigned = assign(cells_np, cent_mat)
    dim = len(seed[0]["vec"]) if seed else 0
    for _ in range(kmeans_iters):
        # Lloyd update: per-cell mean via dim avg aggregates (partial
        # aggregation combines map-side; the shuffle moves ≤ n_cells rows
        # per input partition). Renormalization happens driver-side on the
        # collected n_cells×dim result. Each avg is built as SQL text
        # (one parse) rather than Column calls — the Column form cost
        # ~4 py4j round trips per dim per iteration, ~1 s of the build
        # at dim=64 (r13 construction profile); expressions identical.
        rows = (
            assigned.groupBy("cell")
            .agg(*[
                F.expr(f"avg(try_element_at(vec, {i + 1})) AS d{i}")
                for i in range(dim)
            ])
            .collect()
        )
        # cells that lost every member drop out of the groupBy — keep ids
        cells_np = np.array(sorted(r["cell"] for r in rows), dtype="int64")
        by_cell = {r["cell"]: [r[f"d{i}"] for i in range(dim)] for r in rows}
        cent_mat = np.array([by_cell[c] for c in cells_np], dtype=np.float64)
        cent_mat /= np.linalg.norm(cent_mat, axis=1, keepdims=True)
        assigned = assign(cells_np, cent_mat)

    spark = corpus.sparkSession
    centroids = spark.createDataFrame(
        [(int(c), [float(x) for x in vec]) for c, vec in zip(cells_np, cent_mat)],
        "cell: long, c_vec: array<double>",
    )
    return centroids, assigned.select("id", "cell", "raw")


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 64,
    n_probe: int = 8,
) -> DataFrame:
    """IVF top-k: probe the n_probe nearest cells per query, exact-score
    only those cells' members. Candidate volume ~ corpus * n_probe/n_cells.

    Returns (query_id, neighbor_id, cosine, rank) like knn_bruteforce.
    """
    centroids, assigned = ivf_assign(corpus, id_col, vec_col, n_cells)
    members = assigned.select(
        F.col("id").alias("neighbor_id"), "cell", F.col("raw").alias("c_vec")
    )

    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    q_scored = q.join(F.broadcast(centroids.withColumnRenamed("c_vec", "cent"))).withColumn(
        "__sim",
        _dot(
            F.transform(F.col("q_vec"), lambda x: x.cast("double")),
            F.col("cent"),
        ),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("__sim").desc(), F.col("cell"))
    probes = (
        q_scored.withColumn("__rn", F.row_number().over(wq))
        .where(F.col("__rn") <= n_probe)
        .select("query_id", "q_vec", "cell")
    )

    cands = probes.join(members, "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cands.withColumn(
        "cosine", F.round(cosine_similarity(F.col("q_vec"), F.col("c_vec")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# ---------------------------------------------------------------------------
# Semantic deduplication — cluster-then-prune (SemDeDup-style)
# ---------------------------------------------------------------------------


def cluster_corpus(
    corpus: DataFrame,
    n_cells: int = 16,
    kmeans_iters: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Embedding-space corpus clustering for curation: assign every
    vector to a k-means cell and report per-cluster composition — the
    grouping step of cluster-based data curation (SemDeDup's cells,
    density-based pruning, per-cluster sampling quotas, topic-balanced
    mixtures all start from exactly this table).

    Returns ``(assignments, stats)``:

    - assignments: (id, cluster, sim) — ``sim`` = cosine of the vector
      to its own centroid (rounded 6), the "centrality" signal curation
      recipes threshold on (prototypical vs outlier examples);
    - stats: (cluster, cluster_size, mean_sim) — cluster sizes feed
      sampling quotas; low mean_sim flags incoherent cells that need a
      finer clustering.

    ``kmeans_iters=0`` pins the deterministic seed-centroid assignment
    (centroids = the ``n_cells`` lowest-id vectors, normalized) — the
    cross-engine-reproducible mode the contract query uses; production
    runs raise it for real Lloyd refinement (each iteration = one
    corpus scan + an n_cells-row shuffle, see :func:`ivf_assign`).

    Scale shape: inherits ivf_assign's — centroids live driver-side,
    assignment is a vectorized Arrow argmax scan, the corpus never
    shuffles; the stats groupBy moves n_cells rows per partition.
    """
    id_col = "vec_id"
    vec_col = "embedding"
    centroids, assigned = ivf_assign(
        corpus, id_col, vec_col, n_cells, kmeans_iters
    )
    dim = len(corpus.select(vec_col).first()[0])
    # per-side norms in the scan-stage projects; only the dot runs in
    # the join consumer (same janino 64 KB guard as semantic_dedup)
    assigned_n = assigned.withColumn("nrm", _norm("raw", dim))
    centroids_n = centroids.withColumn("c_nrm", _norm("c_vec", dim))
    sim = F.round(
        _dot("raw", "c_vec", dim) / (F.col("nrm") * F.col("c_nrm")), 6
    )
    assignments = (
        assigned_n.join(
            F.broadcast(centroids_n),
            assigned_n["cell"] == centroids_n["cell"],
        )
        .select(
            assigned_n["id"],
            assigned_n["cell"].alias("cluster"),
            sim.alias("sim"),
        )
    )
    stats = assignments.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.round(F.avg("sim"), 6).alias("mean_sim"),
    )
    return assignments, stats


def semantic_dedup(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_cells: int = 64,
    kmeans_iters: int = 2,
    assignment: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space dedup by cluster-then-prune (the SemDeDup recipe:
    coarse k-means cells, then drop every vector that has a
    lower-id neighbor above ``threshold`` cosine in the SAME cell).

    Returns (id, cell, kept). Keeps exactly one representative (the
    lowest id) per within-cell near-dup clique edge chain: a vector is
    dropped iff some lower-id vector in its cell is >= threshold
    similar. Cross-cell near-dups are invisible by design — that is the
    recall/cost trade the clustering buys; n_cells must scale with
    corpus size (cells of ~constant expected size).

    ``assignment``: optional precomputed (id, cell, raw) — pass
    :func:`ivf_assign`'s output to reuse an index, or a custom
    assignment for cross-engine-reproducible tests.

    Scale shape: one within-cell self-join (quadratic only in cell
    size), pairwise cosine in whole-stage codegen — per-side norms
    precomputed in the scan stage, only the dim-unrolled dot in the
    join consumer — one distinct + one anti-join; no full-corpus
    shuffle beyond the cell equi-join.
    """
    if assignment is None:
        _, assignment = ivf_assign(
            corpus, id_col, vec_col, n_cells, kmeans_iters
        )
    dim = len(corpus.select(vec_col).first()[0])
    # Norms are PER-ROW facts: compute them once per vector in the
    # scan-stage project, not once per PAIR inside the join consumer.
    # Besides the O(cell²)→O(cell) arithmetic saving, this keeps the
    # broadcast-hash-join's generated doConsume under janino's 64 KB
    # method limit — three dim-unrolled chains (dot + both norms) in
    # one consumer blew past it at dim 64 and silently dropped the
    # whole stage to interpreted evaluation (r11 verdict).
    a = assignment.select(
        F.col("cell"),
        F.col("id").alias("id_a"),
        F.col("raw").alias("va"),
        _norm("raw", dim).alias("na"),
    )
    b = assignment.select(
        F.col("cell"),
        F.col("id").alias("id_b"),
        F.col("raw").alias("vb"),
        _norm("raw", dim).alias("nb"),
    )
    dropped = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.round(
                _dot("va", "vb", dim) / (F.col("na") * F.col("nb")), 6
            )
            >= threshold
        )
        .select(F.col("id_b").alias("id"))
        .distinct()
    )
    return (
        assignment.select("id", "cell")
        .join(dropped.withColumn("__drop", F.lit(True)), "id", "left")
        .select(
            "id", "cell", F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept")
        )
    )
