"""Synchronous label propagation with deterministic tie-breaks.

Spec (ours — the reference has no graph layer; the north_rule demands
"label propagation" with outputs that match exactly across runs and
parallelism levels, which FORCES synchronous updates + a total-order
tie-break; asynchronous LPA is nondeterministic — SURVEY.md §2.11):

- undirected weighted graph (edge weights symmetrized by summing).
- init: label(v) = vid.
- superstep: label'(v) = argmax over neighbor labels of the summed
  incident edge weight; ties broken by the SMALLEST label
  (row_number over (w desc, label asc) — SURVEY.md §2.4 A5, fully
  built-in, no UDAF). Vertices with no neighbors keep their label.
- stop when no label changed or max_iter (synchronous LPA can
  2-cycle on bipartite structures — max_iter is the documented
  guard; the pandas oracle runs the identical schedule).

Frontier-delta (SURVEY.md §2.3 J5): LPA's update is NOT monotone (a
vertex needs ALL neighbor labels, not just changed ones), so the
delta schedule recomputes the AFFECTED SET — vertices with at least
one neighbor whose label changed last superstep — using all their
incident edges; everyone else provably keeps their label (their
neighbor-label multiset is unchanged, so the argmax is unchanged).
Exactness is therefore by construction; per-superstep message volume
(``msg_rows`` in the manifests) shrinks to the active rim as the
graph converges. ``frontier=False`` restores the dense schedule.

Skew (``salt > 1``): explicit two-stage weight sum — partial
``groupBy(nvid, label, slt)`` then final ``groupBy(nvid, label)`` —
bounds any single reduce key's fan-in from a mega-hub (SURVEY §2.11
``salted_repartition``; map-side partial aggregation combines per
task already, the explicit stage is the spill-independent guarantee).

Salted exactness is CONDITIONAL on the weights (round-2 ADVICE):
double summation is not associative, so regrouping by ``_slt`` can in
principle change the rounding of a score ``s`` and flip the argmax at
a near-tie. In this pipeline ``aggregate_edges`` weights are
integer-valued doubles whose partial sums are all exactly
representable (< 2^53), so salted ≡ unsalted bit-exactly (the
equality test asserts it). For arbitrary float weights, salted LPA is
exact only up to float summation order — unlike CC, whose ``min`` is
genuinely associative.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.superstep import run_supersteps
from .partitioning import setup_scan

STATE_COLS = {"vid", "label", "chg"}


def symmetrize_weighted(edges: DataFrame) -> DataFrame:
    fwd = edges.select("src", "dst", "w")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    return (
        fwd.unionByName(rev)
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 10,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
    resume: bool = True,
    salt: int = 1,
    frontier: bool = True,
) -> DataFrame:
    """Returns (vid, label) after synchronous LPA."""
    # one setup scan sizes the loop and fingerprints the raw weighted
    # edges (weights flip argmaxes, so they are part of the identity)
    P, fp = setup_scan(spark, edges, num_partitions, cols=("src", "dst", "w"))
    salt = max(1, salt)

    sym = symmetrize_weighted(edges).repartition(P, "src").persist(StorageLevel.MEMORY_AND_DISK)
    vertices = sym.select(F.col("src").alias("vid")).distinct().persist(StorageLevel.MEMORY_AND_DISK)

    def step(labels: DataFrame, prev: dict, observe) -> DataFrame:
        if frontier:
            # affected = vertices with >=1 changed neighbor; recompute
            # them from ALL their incident edges (two semi-joins, then
            # the same dense kernel on the shrunken edge set).
            changed_vids = labels.filter("chg").select("vid")
            affected = (
                sym.join(changed_vids, sym.src == changed_vids.vid, "left_semi")
                .select(F.col("dst").alias("vid"))
                .distinct()
            )
            edges_in = sym.join(affected, sym.dst == affected.vid, "left_semi")
        else:
            edges_in = sym
        nbr = edges_in.join(labels, edges_in.src == labels.vid).select(
            edges_in.dst.alias("nvid"), edges_in.src.alias("_src"), "label", "w"
        )
        nbr = observe(nbr, msg_rows=F.count("*"))
        if salt > 1:
            # salt on the SENDER so rows within one hot (nvid, label)
            # group split across partial keys (a mega-hub's neighbors
            # often share one label — salting on label wouldn't split).
            scores = (
                nbr.withColumn("_slt", F.pmod(F.xxhash64("_src"), F.lit(salt)))
                .groupBy("nvid", "label", "_slt")
                .agg(F.sum("w").alias("s"))
                .groupBy("nvid", "label")
                .agg(F.sum("s").alias("s"))
            )
        else:
            scores = nbr.groupBy("nvid", "label").agg(F.sum("w").alias("s"))
        pick = Window.partitionBy("nvid").orderBy(F.col("s").desc(), F.col("label").asc())
        best = (
            scores.withColumn("_rn", F.row_number().over(pick))
            .filter(F.col("_rn") == 1)
            .select(F.col("nvid").alias("vid"), F.col("label").alias("nlabel"))
        )
        # the old label is already on the row here — the changed-count
        # is observed during the write pass; no follow-up job.
        return labels.join(best, "vid", "left").select(
            "vid",
            F.coalesce("nlabel", "label").alias("label"),
            (F.coalesce("nlabel", "label") != F.col("label")).alias("chg"),
        )

    try:
        run = run_supersteps(
            ckpt_dir, "lpa", fp, STATE_COLS,
            vertices.select("vid", F.col("vid").alias("label"), F.lit(True).alias("chg")),
            step,
            lambda m, _: m["changed"] == 0,
            max_iter,
            metrics={"changed": F.sum(F.col("chg").cast("long"))},
            resume=resume,
        )
    finally:
        sym.unpersist()
        vertices.unpersist()
    return run.state.select("vid", "label")
