"""Product quantization (PQ) for embedding compression at corpus scale.

Jégou et al. 2011 ("Product quantization for nearest neighbor search"):
split each d-dim vector into ``m`` subvectors, k-means each subspace
independently, store each vector as ``m`` small codes (1–2 bytes each
instead of 4–8 per float). A 64-dim float64 embedding (512 B) becomes,
at m=8/k=256, 8 bytes — the difference between ANN state that fits in
executor memory at 100 TB corpus scale and state that doesn't.
Asymmetric distance computation (ADC) scores a query against codes via a
per-query m×k lookup table — no decompression.

Scale shape:
- **train**: m independent k-means over SLICED vectors — reuses
  :mod:`clustering`'s Lloyd loop (broadcast centroids, per-iteration
  driver traffic = k×(d/m) doubles per subspace). Train on a sample; the
  codebook quality doesn't need the full corpus.
- **encode**: the codebooks ship as LITERAL arrays inside one expression —
  per-row argmin over k centroids per subspace is a codegen'd HOF chain:
  row-local, ZERO shuffles, no Python.
- **search (ADC)**: the per-query lookup tables are tiny (m×k doubles) and
  broadcast with the queries; scoring a corpus row is ``m`` array lookups
  + a sum (row-local), then one per-query top-k. The corpus scan reads
  ONLY the codes column — column pruning keeps the raw vectors on disk.
  Compose with the IVF layout (``similarity.ivf_build``) to prune the
  scan itself (IVF-PQ).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass
class PQModel:
    """Driver-held codebooks: ``m`` subspaces × ``k`` centroids × (d/m)."""

    dim: int
    m: int
    k: int
    codebooks: list[list[list[float]]]

    @property
    def sub_dim(self) -> int:
        return self.dim // self.m


def pq_train(
    df: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    max_iter: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> PQModel:
    """Fit per-subspace codebooks with :func:`clustering.kmeans_fit`
    (deterministic lowest-id init, so the whole model is replayable).
    Each subspace trains independently on the sliced vectors."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    from spark_timeseries_spark.pipeline.clustering import kmeans_fit

    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m

    # inheritable_thread_target copies the caller's local properties (job
    # group, description, scheduler pool) and job tags into each pool
    # thread: under pinned-thread mode every Python thread owns a fresh JVM
    # thread that would otherwise run the fits' jobs outside the caller's
    # job group
    @inheritable_thread_target(df.sparkSession)
    def fit_subspace(s: int) -> list[list[float]]:
        sliced = df.select(
            F.col(id_col).alias("vec_id"),
            F.slice(
                F.transform(F.col(vec_col), lambda x: x.cast("double")),
                s * sub + 1,
                sub,
            ).alias("embedding"),
        )
        model = kmeans_fit(
            sliced, k=k, max_iter=max_iter, vec_col="embedding", id_col="vec_id"
        )
        return model.centroids

    # the m subspace fits are fully independent Lloyd loops; submitting
    # them from concurrent threads overlaps their driver-synchronized
    # per-iteration jobs (each fit's own plans/arithmetic are unchanged —
    # results are indexed by subspace, so completion order is irrelevant)
    with ThreadPoolExecutor(max_workers=m) as pool:
        books = list(pool.map(fit_subspace, range(m)))
    return PQModel(dim=dim, m=m, k=k, codebooks=books)


def _book_lit(book: list[list[float]]):
    """A subspace codebook as a literal ARRAY<ARRAY<DOUBLE>> column."""
    return F.array(
        *[F.array(*[F.lit(float(x)) for x in cent]) for cent in book]
    )


def _sub_dists(subvec, book: list[list[float]]):
    """ARRAY<DOUBLE>[k]: squared L2 from ``subvec`` to every centroid of
    the codebook — one HOF pass, expression size O(k·sub_dim) literals
    with the subvector let-bound (an unrolled WHEN-chain argmin here
    blows the expression tree up quadratically and OOMs codegen)."""
    return F.transform(
        _book_lit(book),
        lambda c: F.aggregate(
            F.zip_with(subvec, c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )


def pq_code_expr(model: PQModel, vec):
    """The codes ARRAY<INT>[m] as a COLUMN EXPRESSION over a double-array
    vector column — composable into an existing lineage (e.g. attached to
    an IVF assignment) without a second corpus scan or a join. Per
    subspace: index of the nearest codebook centroid, ties to the lowest
    code via first-match array_position (mirrors k-means assignment)."""
    from spark_timeseries_spark.functions import let

    sub = model.sub_dim

    def code_for(s: int):
        return let(
            F.slice(vec, s * sub + 1, sub),
            lambda sv: let(
                _sub_dists(sv, model.codebooks[s]),
                lambda d: (F.array_position(d, F.array_min(d)) - 1).cast(
                    "int"
                ),
            ),
        )

    return F.array(*[code_for(s) for s in range(model.m)])


def pq_encode(
    df: DataFrame,
    model: PQModel,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes ARRAY<INT>[m]) via :func:`pq_code_expr`. Entirely
    row-local array arithmetic: zero shuffles, zero Python at row time."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.select(
        F.col(id_col).alias("vec_id"), pq_code_expr(model, v).alias("codes")
    )


def pq_adc_topk(
    codes: DataFrame,
    model: PQModel,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k: (qid, vec_id, adist, rank), smallest
    approximate squared L2 first. The per-query LUT (m×k distances from
    the query's subvectors to every centroid) is computed as literal
    expressions on the (broadcast) query side; corpus rows pay m array
    lookups + a sum. Self-matches are excluded when id spaces collide."""
    qv = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    sub = model.sub_dim
    luts = F.array(
        *[
            _sub_dists(F.slice(qv, s * sub + 1, sub), model.codebooks[s])
            for s in range(model.m)
        ]
    )
    q = queries.select(F.col(query_id_col).alias("qid"), luts.alias("_lut"))
    adist = None
    for s in range(model.m):
        t = F.col("_lut")[s][F.col("codes")[s]]
        adist = t if adist is None else adist + t
    scored = (
        F.broadcast(q)
        .crossJoin(codes)
        .where(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", adist.alias("adist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    model: PQModel,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ: coarse inverted-file pruning + PQ-compressed scoring — the
    two scale levers composed (Jégou et al. 2011 §V). Queries probe only
    their ``nprobe`` nearest coarse lists (the IVF layer cuts the scan to
    ~nprobe/n_centroids of the corpus), and within a list score against
    m-byte PQ codes by ADC (the PQ layer cuts the bytes touched per
    candidate ~50×). The coarse quantizer uses SQUARED L2 — the same
    metric ADC approximates — so pruning and ranking agree (a cosine
    coarse layer over an L2 ranker silently drops true L2 neighbors of
    unnormalized vectors). Simplification vs the paper: codes encode the
    raw vectors, not the coarse residuals (exactly what the flat
    :func:`pq_adc_topk` does, so exhaustive probing equals flat ADC).

    Plan: coarse centroids + probe table broadcast; the corpus is read
    ONCE — coarse assignment and PQ codes are both row-local column
    expressions in the same projection (no encode join, no second scan);
    the candidate stream is already (qid, vec_id)-unique, so the only
    shuffle is the per-query top-k window."""
    from spark_timeseries_spark.pipeline.clustering import _sq_l2
    from spark_timeseries_spark.pipeline.similarity import (
        _as_double,
        _sampled_centroids,
    )

    def nearest(df_, vec_field, key_field, topn):
        w_ = Window.partitionBy(key_field).orderBy(F.asc("_d"), F.asc("cid"))
        return (
            df_.crossJoin(F.broadcast(cents))
            .withColumn("_d", _sq_l2(F.col(vec_field), F.col("cv")))
            .withColumn("_rk", F.row_number().over(w_))
            .where(F.col("_rk") <= topn)
        )

    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    cents = _sampled_centroids(c, n_centroids)
    coded = nearest(c, "v", "vec_id", 1).select(
        "vec_id", "cid", pq_code_expr(model, F.col("v")).alias("codes")
    )

    qv = _as_double(F.col(vec_col))
    sub = model.sub_dim
    luts = F.array(
        *[
            _sub_dists(F.slice(qv, s * sub + 1, sub), model.codebooks[s])
            for s in range(model.m)
        ]
    )
    q = queries.select(
        F.col(query_id_col).alias("qid"), qv.alias("qv"), luts.alias("_lut")
    )
    q_probe = F.broadcast(
        nearest(q, "qv", "qid", nprobe).select("qid", "_lut", "cid")
    )
    adist = None
    for s in range(model.m):
        t = F.col("_lut")[s][F.col("codes")[s]]
        adist = t if adist is None else adist + t
    scored = (
        q_probe.join(coded, "cid")
        .where(F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", adist.alias("adist"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def exact_l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "vec_id",
) -> DataFrame:
    """Exact squared-L2 top-k (broadcast queries, full-dimension scan) —
    the ground-truth ranker for ADC/IVF-PQ recall evaluation: same metric
    ADC approximates, same (dist, id) tie-break."""
    from spark_timeseries_spark.pipeline.clustering import _sq_l2
    from spark_timeseries_spark.pipeline.similarity import _as_double

    c = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    )
    q = queries.select(
        F.col(query_id_col).alias("qid"), _as_double(F.col(vec_col)).alias("qv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("qid") != F.col("vec_id"))
        .withColumn("dist", _sq_l2(F.col("qv"), F.col("v")))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "vec_id", "dist", "rank")
    )
