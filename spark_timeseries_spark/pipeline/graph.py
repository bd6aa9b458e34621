"""Graph analytics over pair tables: fixed-point PageRank.

Beyond-reference: the dedup pipelines emit PAIR TABLES (near-dup
edges, co-occurrence edges); this module ranks nodes on them. The
first consumer is duplicate centrality — a document with high PageRank
in the near-dup graph is the hub of a template family, which both
:func:`~.dedup.select_canonical` and corpus forensics want surfaced.

Determinism contract (the cross-engine oracle story, the
``operators/bursts.py`` class): PageRank is an ITERATED float sum —
and float sums are aggregation-order-dependent, so two engines (or two
partitionings of one engine) disagree in the last ulp and the
divergence compounds per iteration. This implementation never adds a
float: ranks live as INTEGER fixed-point (units of 10^-digits), a
node's contribution is ``pr DIV degree`` (exact floor division), the
damping 0.85 = 17/20 is applied as ``(17·Σ) DIV 20``, and the
teleport term is ``(3·10^digits) DIV (20·N)``. Integer sums are exact
in any order on any engine — the result is bit-identical by
construction, not by rounding-after-the-fact. The floor divisions
leak O(degree) units of mass per iteration (stated); at digits = 6
the leak is < 1e-5 of total mass per round and ranking order is
unaffected for any practically separated scores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_timeseries_spark.parallel import collect_at_most

__all__ = ["pagerank"]

#: edge-table row bound under which :func:`pagerank` and
#: :func:`~.dedup.connected_components` collect the (symmetrized, distinct)
#: edge list and iterate at the driver — a few MB of longs, the
#: broadcast-build-side envelope. Both local loops replay their
#: distributed loop exactly; above the bound the distributed loop is the
#: scale path.
DRIVER_EDGE_ROWS = 1 << 17


def pagerank(
    pairs: DataFrame,
    iters: int = 5,
    digits: int = 6,
    id_a: str = "id_a",
    id_b: str = "id_b",
    directed: bool = False,
) -> DataFrame:
    """Fixed-point PageRank → (id, pr_int, pr): ``iters`` damped
    (d = 0.85, fixed — part of the integer contract) power iterations
    over the pair table's graph; undirected input is symmetrized
    (each pair contributes both directions). ``pr_int`` is the exact
    integer score in 10^-digits units (the engine-independent value);
    ``pr`` divides it out for reading. Nodes = every id appearing in
    any pair; a pair with a NULL id is dropped. Dangling nodes cannot
    exist after symmetrization (directed = True keeps them: their rank
    mass leaks, the standard simplification, stated).

    Plan: the loop-invariant degree is folded into the edge table ONCE
    before the loop (``edges ⋈ deg``, localCheckpoint-ed), so each
    iteration is exactly ONE shuffle join (edges_deg ⋈ ranks on src) +
    one groupBy(dst) — the canonical distributed PageRank step; the
    rank table is localCheckpoint-ed per iteration to cut the
    iterative lineage (the ``connected_components`` discipline). Edge
    table size, not corpus size, drives the cost."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if not 1 <= digits <= 9:
        raise ValueError(f"digits must be in [1, 9], got {digits}")
    scale = 10 ** digits
    # a pair with a NULL id links nothing: drop it before the size gate
    # so both paths see the same graph
    pairs = pairs.where(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
    e = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    if not directed:
        e = e.unionByName(
            pairs.select(
                F.col(id_b).alias("src"), F.col(id_a).alias("dst")
            )
        )
    edges, rows = collect_at_most(e.distinct(), DRIVER_EDGE_ROWS)
    if rows is not None:
        # The decision table (edges) is tiny — the corpus-scale work that
        # PRODUCED it already ran inside the probe above. Iterating on the
        # cluster from here costs one job round-trip per checkpoint (init,
        # degree fold, one per power iteration) with near-empty tasks; the
        # integer fixed-point contract means a driver-local replay is
        # bit-identical (floor divisions and integer sums are exact in any
        # order and any engine). Iterate locally on the probe's rows and
        # return the small result as a local relation.
        return _pagerank_local(
            pairs.sparkSession, [(r["src"], r["dst"]) for r in rows],
            iters, scale, edges.schema["src"].dataType,
        )
    nodes = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()  # fills the checkpoint: one job
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # deg is loop-invariant: fold it into the edge table ONCE, so the
    # iteration body joins only the rank table (one fewer shuffle join
    # per iteration on the hot iterative path).
    edges_deg = (
        edges.join(deg, edges["src"] == deg["id"])
        .select("src", "dst", "deg")
        .localCheckpoint(eager=True)
    )
    init = scale // n_nodes
    base = (3 * scale) // (20 * n_nodes)
    pr = nodes.select(
        "id", F.lit(init).cast("long").alias("pr_int")
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        contrib = (
            edges_deg.join(pr, edges_deg["src"] == pr["id"])
            .select(
                F.col("dst").alias("id"),
                F.expr("pr_int div deg").alias("_c"),
            )
        )
        inflow = contrib.groupBy("id").agg(F.sum("_c").alias("_s"))
        new_pr = nodes.join(inflow, "id", "left").select(
            "id",
            (
                F.lit(base).cast("long")
                + F.expr(
                    f"(17 * coalesce(_s, 0L)) div 20"
                )
            ).alias("pr_int"),
        )
        old = pr
        pr = new_pr.localCheckpoint(eager=True)
        old.unpersist()
    return pr.select(
        "id",
        "pr_int",
        (F.col("pr_int").cast("double") / F.lit(float(scale))).alias("pr"),
    )


def _pagerank_local(spark, edges, iters, scale, id_type):
    """Driver-local replica of the distributed power iteration — used only
    when the symmetrized distinct edge list fits under
    :data:`DRIVER_EDGE_ROWS`. Mirrors the cluster arithmetic term for
    term: ``pr div deg`` per edge, damping ``(17·Σ) div 20``, teleport
    ``(3·scale) div (20·N)`` — all non-negative integer ops, so floor and
    truncating division agree and the sums are order-independent."""
    deg: dict = {}
    nodes = set()
    for src, dst in edges:
        deg[src] = deg.get(src, 0) + 1
        nodes.add(src)
        nodes.add(dst)
    n_nodes = len(nodes)
    init = scale // n_nodes
    base = (3 * scale) // (20 * n_nodes)
    pr = {nid: init for nid in nodes}
    for _ in range(iters):
        inflow = {}
        for src, dst in edges:
            inflow[dst] = inflow.get(dst, 0) + pr[src] // deg[src]
        pr = {nid: base + (17 * inflow.get(nid, 0)) // 20 for nid in nodes}
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        DoubleType,
    )

    out = [(nid, pr[nid], float(pr[nid]) / float(scale)) for nid in sorted(nodes)]
    schema = StructType(
        [
            StructField("id", id_type, True),
            StructField("pr_int", LongType(), True),
            StructField("pr", DoubleType(), True),
        ]
    )
    return spark.createDataFrame(out, schema)
