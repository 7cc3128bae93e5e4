"""Betweenness centrality — Brandes' algorithm (Brandes 2001, "A
faster algorithm for betweenness centrality") over sampled sources
(Brandes & Pich 2007 estimator), as synchronous level-BFS DataFrame
iteration.

Exact betweenness is an all-sources problem (O(|V|·|E|)); the sampled
estimator runs Brandes' two phases from k hash-chosen pivots and
scales by n/k — unbiased, with the same seed convention as
closeness_estimate (min-k by xxhash64: deterministic, re-runs
identical at any parallelism).

Phase 1 (forward, per level d): synchronous BFS settles every
(vertex, source) pair at its exact hop distance, and because ALL
shortest paths to a distance-(d+1) vertex arrive from distance-d
vertices in the SAME superstep, the path count is one aggregate:
``σ(v,s) = Σ σ(u,s)`` over frontier in-neighbors u. New keys are the
arrivals anti-joined against settled state — monotone, so resumable
and parallelism-invariant like CC/BFS.

Phase 2 (backward, per level d = D−1 … 1): the dependency
accumulation ``δ(v) += Σ_{w: succ} σ(v)/σ(w) · (1 + δ(w))`` walks the
shortest-path DAG one LEVEL at a time — the (dist_v = d, dist_w =
d+1) condition IS the DAG-edge test, so no predecessor lists are ever
materialized (the textbook stack is replaced by the level index).

Each phase checkpoints per level (lineage barrier + resume + delta
metrics), same CheckpointManager contract as the other iterative
algorithms. State is ≤ k·|V| rows in both phases; each level is two
joins + one aggregate, shuffling only state and frontier messages.

σ and δ are doubles: path counts grow combinatorially on dense
graphs and betweenness is consumed as a (sampled) score — networkx
accumulates the same quantities in floats for its sampled estimator.

Oracle: with k = |V| (every vertex a pivot) the raw accumulation
equals exactly 2× ``networkx.betweenness_centrality(normalized=False)``
on undirected graphs (each unordered pair counted from both ends) —
asserted in tests; sampled runs are compared against a pure-python
Brandes restricted to the identical pivot set.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.ckpt import CheckpointManager
from ..plans.superstep import checkpoint_base
from .components import symmetrize
from .partitioning import setup_scan, source_fingerprint


def betweenness_estimate(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 16,
    sources: DataFrame | None = None,
    max_depth: int = 100,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """(vid, bc_raw, bc_est) — ``bc_raw`` is Σ over pivots s of the
    Brandes dependency δ_s(vid) (endpoints excluded, both directions
    of every unordered pair when both endpoints are pivots);
    ``bc_est = (n/k)·bc_raw / 2`` is the undirected sampled-betweenness
    estimate on the networkx ``normalized=False`` scale. Vertices with
    zero accumulated dependency are included (bc 0.0) so the output is
    a total function over the vertex set."""
    # one setup scan sizes the loop and fingerprints the raw edges
    P, fp = setup_scan(spark, edges, num_partitions, sym_factor=1)
    sym = symmetrize(edges).repartition(P, "src").persist(StorageLevel.MEMORY_AND_DISK)
    verts = sym.select(F.col("src").alias("vid")).distinct().persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n = verts.count()
    if sources is None:
        k_eff = min(k, n)
        seeds = verts.orderBy(F.xxhash64("vid").asc(), F.col("vid").asc()).limit(k_eff)
    else:
        seeds = sources.select(F.col("vid").cast("long").alias("vid")).distinct()
        k_eff = seeds.count()

    # one directory per call, the two phases in subdirectories
    base = checkpoint_base(ckpt_dir, "betweenness")
    fp = source_fingerprint(fp, seeds)
    ckpt_f = CheckpointManager(base + "/fwd", "betweenness_fwd", fingerprint=fp)
    ckpt_b = CheckpointManager(base + "/bwd", "betweenness_bwd", fingerprint=fp)

    # ---- phase 1: level BFS with shortest-path counting ----
    state = seeds.select(
        "vid",
        F.col("vid").alias("s"),
        F.lit(0).cast("long").alias("dist"),
        F.lit(1.0).alias("sigma"),
    )
    state = ckpt_f.write(state, 0)
    depth = 0
    for d in range(max_depth):
        t0 = time.monotonic()
        frontier = state.filter(F.col("dist") == d).select("vid", "s", "sigma")
        msgs = sym.join(frontier.hint("SHUFFLE_HASH"), sym.src == frontier.vid).select(
            sym.dst.alias("vid"), "s", "sigma"
        )
        arrivals = msgs.groupBy("vid", "s").agg(F.sum("sigma").alias("sigma"))
        news = (
            arrivals.join(state.select("vid", "s"), ["vid", "s"], "left_anti")
            .select("vid", "s", F.lit(d + 1).cast("long").alias("dist"), "sigma")
        )
        obs = Observation(f"bc_fwd_{d + 1}")
        observed = state.unionByName(news.observe(obs, F.count("*").alias("new")))
        def n_new() -> int:
            return int(obs.get["new"] or 0)

        state = ckpt_f.write(
            observed, d + 1,
            lambda written, rows: {"changed": n_new(), "msg_rows": n_new()},
            t0=t0,
        )
        if n_new() == 0:
            depth = d
            break
        depth = d + 1

    # ---- phase 2: backward dependency accumulation, level by level ----
    delta = state.withColumn("delta", F.lit(0.0))
    delta = ckpt_b.write(delta, 0)
    for i, d in enumerate(range(depth - 1, -1, -1)):
        t0 = time.monotonic()
        upper = delta.filter(F.col("dist") == d + 1).select(
            F.col("vid").alias("w"), "s",
            F.col("sigma").alias("sigma_w"), F.col("delta").alias("delta_w"),
        )
        into = sym.join(upper.hint("SHUFFLE_HASH"), sym.dst == upper.w).select(
            sym.src.alias("vid"), "s", "sigma_w", "delta_w"
        )
        lower = delta.filter(F.col("dist") == d)
        # (dist_v = d) ⋈ (dist_w = d+1) over an edge ⇔ DAG edge: adds
        # exactly Brandes' σ_v/σ_w · (1 + δ_w) from every successor
        adds = (
            into.join(lower.select("vid", "s", F.col("sigma").alias("sigma_v")),
                      ["vid", "s"])
            .groupBy("vid", "s")
            .agg(F.sum(F.col("sigma_v") / F.col("sigma_w")
                       * (F.lit(1.0) + F.col("delta_w"))).alias("add"))
        )
        updated = (
            lower.join(adds, ["vid", "s"], "left")
            .select("vid", "s", "dist", "sigma",
                    (F.col("delta") + F.coalesce(F.col("add"), F.lit(0.0))).alias("delta"))
        )
        obs = Observation(f"bc_bwd_{i + 1}")
        observed = delta.filter(F.col("dist") != d).unionByName(
            updated.observe(obs, F.count("*").alias("rows"))
        )
        delta = ckpt_b.write(
            observed, i + 1,
            lambda written, rows: {"changed": int(obs.get["rows"] or 0), "msg_rows": 0},
            t0=t0,
        )

    acc = (
        delta.filter(F.col("vid") != F.col("s"))
        .groupBy("vid")
        .agg(F.sum("delta").alias("bc_raw"))
    )
    out = verts.join(acc, "vid", "left").select(
        "vid",
        F.coalesce("bc_raw", F.lit(0.0)).alias("bc_raw"),
        (F.coalesce("bc_raw", F.lit(0.0))
         * F.lit(float(n) / k_eff / 2.0)).alias("bc_est"),
    )
    sym.unpersist()
    verts.unpersist()
    return out
