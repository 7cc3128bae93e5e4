"""k-core decomposition (core number per vertex) via synchronous
h-index iteration — the engine's graph-family extension beyond the
contract's four algorithms (SURVEY.md §2.11).

Algorithm (Lü, Zhou, Zhang, Stanley, "The H-index of a network node",
2016 — convergence proof): initialize every vertex's estimate to its
degree; each superstep set ``est(v) ← h-index of its neighbors'
estimates`` (the largest k such that ≥ k neighbors have est ≥ k).
Estimates decrease monotonically to exactly the core numbers.
Synchronous updates + integer arithmetic ⇒ bit-identical results at
any parallelism (SURVEY §4.3).

Spark shape — each superstep is two shuffles and NO skew-prone
wide rows:

1. message: ``sym ⋈ est ON dst`` → (vid, neighbor_est) — |E| rows;
2. histogram: ``groupBy(vid, nest).count()`` — map-side combine
   collapses a mega-hub's fan-in to ≤ |distinct est values| rows per
   vertex (never a per-vertex collect_list);
3. h-index from the histogram with a window: cum = running Σ count
   over nest DESC per vid, h = max(least(nest, cum)) — the classic
   h-index identity, pure built-ins;
4. new est = least(old, h) (monotone guard), changed-count folded
   into the checkpoint write via Observation (no extra job).

Scheduling: the h-index needs the FULL neighborhood histogram, so
incremental MESSAGES are unsound (you can't update an h-index from
deltas alone) — but AFFECTED-SET scheduling is sound, the same
argument LPA uses (graph/lpa.py): a vertex whose neighbors' estimates
all kept their value has an unchanged histogram, hence an unchanged
h, and since ``est = least(old, h)`` its estimate provably keeps its
value too. Each round therefore recomputes ONLY vertices with ≥ 1
changed neighbor, sending them ALL their neighbors' estimates (two
semi-joins restrict the persisted edge set; the changed side shrinks
fast, so AQE turns those semi-joins into broadcast probes of the
persisted partitions — no |E| shuffle). Everyone else keeps their
estimate with no message at all. ``frontier=False`` restores the
dense schedule; frontier ≡ dense equality is asserted in tests.

Convergence can need many rounds on hub-heavy graphs (the bench tier
measured 86 — estimates ripple down one h-step at a time), which is
exactly why the dense schedule's |E|-messages-per-round was the most
expensive thing in the round-3 bench and the affected-set schedule
matters: per-round message volume tracks the active rim
(``msg_rows`` in the manifests), not |E|.

Oracle: exact match vs ``networkx.core_number`` in tests.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.superstep import run_supersteps
from .components import symmetrize
from .partitioning import setup_scan

STATE_COLS = {"vid", "est", "chg"}


def core_numbers(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 100,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
    resume: bool = True,
    frontier: bool = True,
    ckpt_every: int = 1,
) -> DataFrame:
    """Returns (vid, core) — the core number of every vertex of the
    undirected simple graph underlying ``edges``.

    ``ckpt_every`` fuses that many synchronous rounds into one
    checkpointed job (``plans/superstep.py``): sound because the update
    is deterministic and a converged round is a no-op (empty frontier ⇒
    no messages); fused ≡ unfused is asserted in tests. Resume
    granularity and per-round metrics coarsen to the block, which is
    why the contract's four core algorithms ("every superstep
    checkpoints") keep cadence 1. h-index convergence ripples one
    h-step per round (86 rounds at the bench tier) while each round's
    real work shrinks with the frontier, so the wall is dominated by
    the fixed per-job floor — fusion divides exactly that term.
    """
    # one setup scan sizes the loop and fingerprints the raw edges;
    # the symmetrized persist materializes inside superstep 1
    P, fp = setup_scan(spark, edges, num_partitions)
    sym = symmetrize(edges).repartition(P, "src").persist(StorageLevel.MEMORY_AND_DISK)

    w = (
        Window.partitionBy("vid")
        .orderBy(F.col("nest").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def step(est: DataFrame, prev: dict, observe) -> DataFrame:
        """One synchronous h-index update as a plan transform —
        chainable without materialization (superstep fusion)."""
        if frontier:
            # affected set = vertices with ≥1 neighbor whose estimate
            # changed last round; recompute them from ALL their
            # incident edges (full histogram — incremental messages
            # would be unsound), keep everyone else's estimate. Sound
            # by the LPA argument: an unchanged neighborhood multiset
            # ⇒ unchanged h ⇒ least(old, h) = old.
            changed_vids = est.filter("chg").select("vid")
            affected = (
                sym.join(changed_vids, sym.dst == changed_vids.vid, "left_semi")
                .select(F.col("src").alias("vid"))
                .distinct()
            )
            edges_in = sym.join(affected, sym.src == affected.vid, "left_semi")
        else:
            edges_in = sym
        msgs = edges_in.join(est, edges_in.dst == est.vid).select(
            edges_in.src.alias("vid"), F.col("est").alias("nest")
        )
        msgs = observe(msgs, msg_rows=F.count("*"))
        hist = msgs.groupBy("vid", "nest").agg(F.count("*").alias("cnt"))
        hvals = (
            hist.withColumn("cum", F.sum("cnt").over(w))
            .groupBy("vid")
            .agg(F.max(F.least(F.col("nest"), F.col("cum"))).alias("h"))
        )
        return (
            est.select("vid", F.col("est").alias("oest"))
            # left: unaffected vertices get no h row this round and
            # provably keep their estimate (dense mode: h never null —
            # every vertex has ≥1 neighbor in sym, so this reduces to
            # the inner join it used to be)
            .join(hvals, "vid", "left")
            .select(
                "vid",
                F.least(F.col("oest"), F.coalesce("h", F.col("oest"))).alias("est"),
                (F.coalesce("h", F.col("oest")) < F.col("oest")).alias("chg"),
            )
        )

    try:
        run = run_supersteps(
            ckpt_dir, "kcore", fp, STATE_COLS,
            sym.groupBy(F.col("src").alias("vid"))
            .agg(F.count("*").cast("long").alias("est"))
            .withColumn("chg", F.lit(True)),
            step,
            lambda m, _: m["changed"] == 0,
            max_iter,
            metrics={"changed": F.sum(F.col("chg").cast("long"))},
            every=ckpt_every,
            resume=resume,
        )
    finally:
        sym.unpersist()
    if run.step > run.start and not run.converged:
        # max_iter exhausted while estimates were still decreasing:
        # the returned values are UPPER BOUNDS, not core numbers —
        # say so instead of returning plausible-looking wrong values
        # (same contract as connected_components_star's
        # rounds-exhausted warning).
        warnings.warn(
            f"core_numbers: h-index iteration did not converge within "
            f"max_iter={max_iter} (last superstep still changed "
            f"{run.metrics['changed']} estimates); returned values are upper bounds "
            "on the true core numbers — raise max_iter",
            stacklevel=2,
        )

    return run.state.select("vid", F.col("est").alias("core"))
