"""k-truss decomposition (SURVEY.md §2.11 cohesive-subgraph family,
next to k-core).

The k-truss (Cohen 2008) is the maximal subgraph in which every edge
participates in at least k−2 triangles *of that subgraph* — a
stricter, triangle-based cousin of the (k−1)-core. Computed by the
standard support-peeling fixpoint: per round, count each surviving
edge's triangle support with the degree-oriented wedge join (the same
O(E^1.5) enumeration ``triangle_count`` uses, here credited to the
three EDGES of each closed wedge instead of its corners), drop edges
with support < k−2, repeat until no edge is dropped. Deletions only
shrink supports, so the fixpoint is exactly the maximal subgraph —
``networkx.k_truss`` parity is asserted edge-for-edge in tests.

Scale shape (100 TB design): each round is one wedge join bounded by
low-degree pivots (degree re-orientation every round, since peeling
changes degrees), one explode(3)+groupBy(a,b) support aggregate with
map-side combine, and one filter — all whole-stage JVM, no Python.
The surviving edge set is durably checkpointed per round (manifest
records edges_kept/edges_dropped), truncating lineage that would
otherwise stack one wedge join per round; the fingerprint mixes k
with the edge set so a ckpt_dir from a different k (or graph) rejects
instead of resuming someone else's peeling. Rounds are bounded by the
peeling depth (typically ≪ 10 on co-occurrence graphs: mass deletions
happen in the first rounds); each round's input is strictly smaller
than the last.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.ckpt import count_hash, mix_fingerprint
from ..plans.superstep import run_supersteps
from .partitioning import clamp_partitions
from .triangles import canonical_edges, closed_wedges, orient_by_degree


def _edge_support(e: DataFrame) -> DataFrame:
    """(a, b, support) for every canonical edge of ``e`` (a<b,
    distinct): the number of triangles of the CURRENT edge set the
    edge lies on. Degree-oriented wedge enumeration — every triangle
    closes exactly once at its lowest-degree corner, then credits its
    three canonicalized edges."""
    sym = e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    tris = closed_wedges(orient_by_degree(e, sym), sym)
    tri_edges = tris.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("p", "x").alias("a"), F.greatest("p", "x").alias("b")
                ),
                F.struct(
                    F.least("p", "y").alias("a"), F.greatest("p", "y").alias("b")
                ),
                F.struct(F.col("x").alias("a"), F.col("y").alias("b")),
            )
        ).alias("ed")
    ).select("ed.a", "ed.b")
    sup = tri_edges.groupBy("a", "b").agg(F.count("*").alias("support"))
    return e.join(sup, ["a", "b"], "left").select(
        "a", "b", F.coalesce("support", F.lit(0)).alias("support")
    )


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int,
    ckpt_dir: str | None = None,
    resume: bool = True,
    max_rounds: int = 200,
    num_partitions: int | None = None,
) -> DataFrame:
    """The k-truss edge set (a, b) of the undirected simple graph
    underlying ``edges`` — canonical a<b rows; possibly empty.
    Matches ``networkx.k_truss(G, k).edges`` exactly."""
    if k < 2:
        raise ValueError(f"k_truss: k must be >= 2, got {k}")
    thresh = k - 2
    e = canonical_edges(edges).persist(StorageLevel.MEMORY_AND_DISK)
    row = count_hash(e, ("a", "b"))
    n_edges = int(row["n"])
    if n_edges == 0:
        e.unpersist()
        return spark.createDataFrame([], "a long, b long")
    P = clamp_partitions(spark, n_edges, num_partitions)

    def step(cur: DataFrame, prev: dict, observe) -> DataFrame:
        return (
            _edge_support(cur)
            .filter(F.col("support") >= thresh)
            .select("a", "b")
            .repartition(P, "a")
        )

    # the kept-edge count is the written parquet's footer row count —
    # no count job; a round that drops nothing is the fixpoint
    try:
        run = run_supersteps(
            ckpt_dir, "truss",
            mix_fingerprint(int(k), mix_fingerprint(n_edges, int(row["h"]))),
            {"a", "b"},
            e,
            step,
            lambda m, _: m["edges_kept"] in (0, m["edges_in"]),
            max_rounds,
            post=lambda _, rows, prev: {"edges_in": prev["edges_kept"], "edges_kept": rows},
            carry={"edges_kept": n_edges},
            resume=resume,
        )
    finally:
        e.unpersist()
    if not run.converged and run.metrics["edges_kept"] > 0:
        warnings.warn(
            f"k_truss: round budget ({max_rounds}) exhausted before the "
            "support fixpoint; the returned edge set may still shrink",
            stacklevel=2,
        )
    return run.state.select("a", "b")
