"""Multi-source BFS shortest-path distances as frontier iteration
(SURVEY.md §2.11).

Classic link-graph primitive: hop distance from a source set to every
reachable vertex (degrees-of-separation, influence radius, seed-set
expansion). Same engine shape as hash-min connected components —
monotone integer min over [state ∪ frontier messages], so results are
bit-identical at any parallelism, and only vertices whose distance
improved last superstep broadcast this superstep (frontier-delta:
message volume tracks the expanding rim, not |E|).

BFS is SSSP with unit step cost: both public functions run one
relaxation, :func:`_relax`, whose step cost is ``1`` (integer hop
counts) or the edge weight ``w`` (Bellman-Ford as frontier
iteration). Unreached vertices carry the INF sentinel (2^62 for BFS,
``inf`` for SSSP) through the iteration — a min over a union needs a
total order, and a null distance would need an outer-join branch
instead (SURVEY §4.3: union + groupBy beats outer join for monotone
states). The public result filters the sentinel out and returns only
reached vertices.

Scale: the (symmetrized) edge table is shuffled once at setup and
persisted hash-partitioned by ``src``; each superstep shuffles only
the frontier messages plus the (vid, dist) state. Convergence needs
O(eccentricity of the source set) supersteps — bounded by graph
diameter, the same envelope as hash-min CC.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.ckpt import count_hash, mix_fingerprint
from ..plans.superstep import run_supersteps
from .components import symmetrize
from .pagerank import _vertices_from_edges
from .partitioning import clamp_partitions, source_fingerprint

INF = 1 << 62
STATE_COLS = {"vid", "dist", "chg"}


def bfs_distances(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 100,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
    directed: bool = False,
    resume: bool = True,
    ckpt_every: int = 1,
) -> DataFrame:
    """Hop distances from ``sources`` (a (vid) DataFrame) to every
    reachable vertex; returns (vid, dist) with dist = 0 for sources.
    ``directed=True`` follows edges src→dst only.

    ``ckpt_every`` fuses that many rounds into one checkpointed job
    (``plans/superstep.py``): sound because the round is a monotone min
    whose converged rounds are no-ops (fused ≡ unfused asserted in
    tests). It trades resume granularity for the per-job floor, which
    dominates once the frontier rim shrinks below cluster width."""
    return _relax(
        spark, edges, sources, None, max_iter, ckpt_dir, num_partitions,
        directed, resume, ckpt_every,
    )


def shortest_paths(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "w",
    max_iter: int = 200,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
    directed: bool = False,
    resume: bool = True,
    ckpt_every: int = 1,
) -> DataFrame:
    """Weighted single/multi-source shortest-path distances — the
    weighted generalization of :func:`bfs_distances` (Bellman-Ford as
    frontier iteration): dist(v) = min over paths from ``sources`` of
    the path's weight sum. Non-negative weights required (checked);
    parallel (src, dst) edges collapse to their min weight; undirected
    mode symmetrizes keeping the per-direction min.

    Converges in ≤ |V| supersteps (non-negative weights), in practice
    O(weighted-diameter / min-weight hops). Float determinism: each
    candidate distance is the weight sum along ONE path (accumulated
    in path order), and min over candidates is exact — results are
    bit-identical at any parallelism, asserted in tests with a
    networkx Dijkstra oracle. ``ckpt_every`` as in
    :func:`bfs_distances`."""
    return _relax(
        spark, edges, sources, weight_col, max_iter, ckpt_dir, num_partitions,
        directed, resume, ckpt_every,
    )


def _relax(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str | None,
    max_iter: int,
    ckpt_dir: str | None,
    num_partitions: int | None,
    directed: bool,
    resume: bool,
    ckpt_every: int,
) -> DataFrame:
    """Frontier relaxation with step cost 1 (``weight_col`` None: BFS,
    integer ``dist``, checkpoint algo ``bfs``) or the edge weight
    (SSSP, double ``dist``, algo ``sssp``)."""
    bfs = weight_col is None
    cols = ["src", "dst"] if bfs else ["src", "dst", F.col(weight_col).cast("double").alias("w")]
    raw = edges.select(*cols)
    # one setup scan, as ``partitioning.setup_scan`` (plus, for SSSP,
    # the negative-weight check); the canonical edges materialize
    # inside superstep 1
    erow = count_hash(raw, tuple(raw.columns), *([] if bfs else [F.min("w").alias("minw")]))
    if not bfs and erow["minw"] is not None and float(erow["minw"]) < 0:
        raise ValueError(
            f"shortest_paths requires non-negative weights (min={erow['minw']})"
        )
    P = clamp_partitions(
        spark, int(erow["n"]) * (1 if directed else 2), num_partitions
    )
    if bfs:
        e = raw if directed else symmetrize(edges)
        cost, zero, inf = F.lit(1), F.lit(0), INF
    else:
        fwd = raw if directed else raw.unionByName(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
        e = fwd.filter(F.col("src") != F.col("dst")).groupBy("src", "dst").agg(
            F.min("w").alias("w")
        )
        cost, zero, inf = F.col("w"), F.lit(0.0), float("inf")
    e = e.repartition(P, "src").persist(StorageLevel.MEMORY_AND_DISK)
    verts = _vertices_from_edges(e).persist(StorageLevel.MEMORY_AND_DISK)
    # identity = (edge set, SOURCE set); the source aggregate is the
    # one remaining setup job — over the (persisted) source set.
    src_tag = (
        sources.select(F.col("vid").cast("long").alias("vid"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    fp = source_fingerprint(mix_fingerprint(int(erow["n"]), int(erow["h"])), src_tag)

    def step(state: DataFrame, prev: dict, observe) -> DataFrame:
        """One relaxation as a plan transform — chainable without
        materialization (superstep fusion)."""
        frontier = state.where(F.col("chg")).select("vid", "dist")
        msgs = (
            e.join(frontier.hint("SHUFFLE_HASH"), e.src == frontier.vid)
            .select(F.col("dst").alias("vid"), (F.col("dist") + cost).alias("dist"))
        )
        merged = (
            state.select("vid", "dist")
            .unionByName(msgs)
            .groupBy("vid")
            .agg(F.min("dist").alias("ndist"))
        )
        old = state.select("vid", F.col("dist").alias("odist"))
        return merged.join(old.hint("SHUFFLE_HASH"), "vid").select(
            "vid",
            F.col("ndist").alias("dist"),
            # a vid absent from the resumed state cannot occur (state
            # spans all vertices), but coalesce guards the flag anyway
            # (round-2 ADVICE on frontier null-chg drops)
            F.coalesce(F.col("ndist") < F.col("odist"), F.lit(True)).alias("chg"),
        )

    try:
        run = run_supersteps(
            ckpt_dir, "bfs" if bfs else "sssp", fp, STATE_COLS,
            verts.join(src_tag.withColumn("_is_src", F.lit(True)), "vid", "left").select(
                "vid",
                F.when(F.col("_is_src"), zero).otherwise(F.lit(inf)).alias("dist"),
                F.coalesce(F.col("_is_src"), F.lit(False)).alias("chg"),
            ),
            step,
            lambda m, _: m["changed"] == 0,
            max_iter,
            metrics={"changed": F.sum(F.col("chg").cast("long"))},
            every=ckpt_every,
            resume=resume,
        )
    finally:
        e.unpersist()
        verts.unpersist()
        src_tag.unpersist()
    return run.state.where(F.col("dist") < F.lit(inf)).select("vid", "dist")
