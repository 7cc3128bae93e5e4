"""Sampled closeness / harmonic centrality (Eppstein & Wang, "Fast
approximation of centrality", SODA 2001) — the §2.11 analytics row
next to BFS.

Exact closeness needs all-pairs shortest paths (O(|V|·|E|) BFS work —
off the table at 10^12 turns). Eppstein–Wang estimates every vertex's
centrality from the distances to ``k`` sampled sources: on an
undirected graph d(s,v) = d(v,s), so k multi-source BFS sweeps give an
unbiased estimator with additive error O(diameter·sqrt(log n / k)).

Engine shape: ONE frontier-delta BFS keyed by (vid, source) — the k
sweeps share every superstep's shuffle instead of running serially —
then a single groupBy(vid) to fold the estimator. Seeds are the min-k
vertices by xxhash64 (deterministic, re-runs identical at any
parallelism — the engine's no-rand() convention; for estimation
purposes a hash order is exactly a uniform draw). State is at most
k·|V| rows; message volume tracks the union of the k expanding rims.

Estimators (n = |V|, k = #seeds, S = seed set, d summed over REACHED
seeds only):

- closeness  ĉ(v) = k·(n−1) / (n·Σ_{s∈S} d(s,v))  — inverse-average
  distance, the Eppstein–Wang form; NULL when Σd = 0 (isolated seed).
- harmonic   ĥ(v) = (n/k)·Σ_{s∈S, d>0} 1/d(s,v) — handles
  disconnection natively (unreachable seeds contribute 0); with
  k = n this IS networkx.harmonic_centrality, exactly (tested).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.superstep import run_supersteps
from .components import symmetrize
from .partitioning import setup_scan, source_fingerprint

STATE_COLS = {"vid", "s", "dist", "chg"}


def bfs_per_source(
    spark: SparkSession,
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 100,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
    resume: bool = True,
    ckpt_every: int = 1,
) -> DataFrame:
    """(vid, s, dist) hop distances from EACH source s (a (vid)
    DataFrame) separately — the k BFS sweeps run as one frontier
    iteration over (vid, source)-keyed state. Unreached pairs are
    simply absent (state only ever holds reached rows — no INF
    sentinel needed, unlike the folded bfs_distances).

    ``ckpt_every`` fuses rounds as in
    :func:`~..graph.bfs.bfs_distances`."""
    # one setup scan sizes the loop and fingerprints the raw edges;
    # the symmetrized persist materializes inside round 1
    P, fp = setup_scan(spark, edges, num_partitions, sym_factor=1)
    sym = symmetrize(edges).repartition(P, "src").persist(StorageLevel.MEMORY_AND_DISK)
    src_tag = sources.select(F.col("vid").cast("long").alias("vid")).distinct()

    def step(state: DataFrame, prev: dict, observe) -> DataFrame:
        """One (vid, source)-keyed BFS round as a plan transform —
        chainable without materialization (superstep fusion)."""
        frontier = state.filter("chg").select("vid", "s", "dist")
        msgs = sym.join(frontier.hint("SHUFFLE_HASH"), sym.src == frontier.vid).select(
            sym.dst.alias("vid"), "s", (F.col("dist") + 1).alias("dist")
        )
        msgs = observe(msgs, msg_rows=F.count("*"))
        # min(odist) trick from CC: only the unioned self-rows carry
        # odist, so a NULL min(odist) means (vid, s) was just reached
        return (
            state.select("vid", "s", "dist", F.col("dist").alias("odist"))
            .unionByName(
                msgs.withColumn("odist", F.lit(None).cast("long"))
            )
            .groupBy("vid", "s")
            .agg(F.min("dist").alias("dist"), F.min("odist").alias("odist"))
            .select(
                "vid", "s", "dist",
                F.coalesce(F.col("dist") < F.col("odist"), F.lit(True)).alias("chg"),
            )
        )

    try:
        # identity = (edge set, source set), same rule as bfs_distances
        run = run_supersteps(
            ckpt_dir, "bfs_per_source", source_fingerprint(fp, src_tag), STATE_COLS,
            src_tag.select(
                "vid",
                F.col("vid").alias("s"),
                F.lit(0).cast("long").alias("dist"),
                F.lit(True).alias("chg"),
            ),
            step,
            lambda m, _: m["changed"] == 0,
            max_iter,
            metrics={"changed": F.sum(F.col("chg").cast("long"))},
            every=ckpt_every,
            resume=resume,
        )
    finally:
        sym.unpersist()
    return run.state.select("vid", "s", "dist")


def closeness_estimate(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 16,
    max_iter: int = 100,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
    ckpt_every: int = 1,
) -> DataFrame:
    """(vid, n_seen, closeness_est, harmonic_est) for every vertex
    reached by ≥1 of the k deterministic hash-sampled seeds."""
    sym = symmetrize(edges)
    verts = sym.select(F.col("src").alias("vid")).distinct()
    n = verts.count()
    k_eff = min(k, n)
    seeds = (
        verts.orderBy(F.xxhash64("vid").asc(), F.col("vid").asc()).limit(k_eff)
    )
    d = bfs_per_source(
        spark, edges, seeds, max_iter=max_iter, ckpt_dir=ckpt_dir,
        num_partitions=num_partitions, ckpt_every=ckpt_every,
    )
    agg = d.groupBy("vid").agg(
        F.count("*").alias("n_seen"),
        F.sum("dist").alias("_tot"),
        F.sum(
            F.when(F.col("dist") > 0, F.lit(1.0) / F.col("dist")).otherwise(0.0)
        ).alias("_hsum"),
    )
    return agg.select(
        "vid",
        "n_seen",
        F.when(
            F.col("_tot") > 0,
            F.lit(float(k_eff) * (n - 1)) / (F.lit(float(n)) * F.col("_tot")),
        ).alias("closeness_est"),
        (F.lit(float(n) / k_eff) * F.col("_hsum")).alias("harmonic_est"),
    )


def eccentricity_sample(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 16,
    max_iter: int = 100,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
    ckpt_every: int = 1,
) -> DataFrame:
    """(s, ecc, n_reached) — the eccentricity of each of the k
    deterministic hash-sampled seeds (within its own component).
    ``max(ecc)`` over any seed set is a LOWER bound on the true graph
    diameter, and the classic cheap diameter probe (a BFS from the
    farthest vertex found tightens it — chain calls with the previous
    result as sources via ``bfs_per_source`` directly). One groupBy on
    the shared per-source BFS state — no extra graph pass."""
    sym = symmetrize(edges)
    verts = sym.select(F.col("src").alias("vid")).distinct()
    seeds = verts.orderBy(F.xxhash64("vid").asc(), F.col("vid").asc()).limit(k)
    d = bfs_per_source(
        spark, edges, seeds, max_iter=max_iter, ckpt_dir=ckpt_dir,
        num_partitions=num_partitions, ckpt_every=ckpt_every,
    )
    return d.groupBy("s").agg(
        F.max("dist").alias("ecc"), F.count("*").alias("n_reached")
    )
