"""Strongly connected components of the DIRECTED transcript graph
(SURVEY.md §2.11 family extension — reply edges are directed, and
"who can reach whom and back" is the directed analog of the
contract's undirected connected components).

Algorithm — trim + forward/backward min-label extraction (the
MapReduce/Pregel-friendly SCC family of Orzan-style coloring and
FW-BW, specialized to min-labels):

outer round (durable checkpoint granularity):
1. TRIM to fixpoint: a remaining vertex with no in-edges or no
   out-edges within the remaining subgraph cannot lie on any cycle —
   assign it its own singleton SCC and drop it. Repeating to fixpoint
   peels entire DAG tails/chains before any propagation runs.
2. FORWARD min-label propagation to fixpoint over the remaining
   subgraph: ``f(v) = min({v} ∪ {f(u) : u→v})`` — the least vertex
   that reaches v.
3. BACKWARD the same on reversed edges: ``b(v)`` = the least vertex
   v reaches.
4. EXTRACT: every v with ``f(v) == b(v) == r`` satisfies r →* v and
   v →* r, so v ∈ SCC(r); and because all members of one SCC share
   their ancestor and descendant sets, f and b are CONSTANT on an
   SCC — extraction takes whole SCCs or nothing. The SCC of the
   globally minimal remaining vertex is always extracted (its members'
   least ancestor and least descendant are both that vertex), so every
   outer round makes progress; in practice one round extracts many
   SCCs at once.

Exactness: min is associative/commutative and tie-breaks are total
orders, so results are bit-identical at any parallelism (asserted in
tests, plus exact parity vs ``networkx.strongly_connected_components``).

Scale shape: the remaining edge set is re-persisted hash(src) per
outer round and only shrinks; inner fixpoints use the same
frontier-delta message pattern as hash-min CC/BFS (union + groupBy
min — no outer join), with ``localCheckpoint`` lineage barriers
(ephemeral, in-memory) per inner superstep and ONE durable
CheckpointManager write per outer round — durable resume granularity
is the outer round, matching what a 10^12-edge run could afford to
re-do after a failure. Worst case is O(#SCC "layers") outer rounds;
trim-to-fixpoint removes the pure-DAG worst cases where min-label
extraction alone would peel one vertex per round.
"""

from __future__ import annotations

import time
import warnings

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.ckpt import CheckpointManager
from ..plans.superstep import checkpoint_base, resume_state
from .pagerank import _vertices_from_edges
from .partitioning import setup_scan

STATE_COLS = {"vid", "scc"}


def _min_prop(e: DataFrame, verts: DataFrame, max_inner: int, tag: str) -> DataFrame:
    """Directed min-label propagation to fixpoint: (vid, lab) with
    lab = min vertex that reaches vid along ``e``'s direction.
    Frontier-delta messages; localCheckpoint barrier per superstep."""
    labels = verts.select(
        "vid", F.col("vid").alias("lab"), F.lit(True).alias("chg")
    ).localCheckpoint(eager=True)
    for i in range(max_inner):
        frontier = labels.filter("chg").select("vid", "lab")
        msgs = e.join(frontier.hint("SHUFFLE_HASH"), e.src == frontier.vid).select(
            F.col("dst").alias("vid"), "lab"
        )
        merged = (
            labels.select("vid", "lab")
            .unionByName(msgs)
            .groupBy("vid")
            .agg(F.min("lab").alias("nlab"))
        )
        new = merged.join(
            labels.select("vid", F.col("lab").alias("old")).hint("SHUFFLE_HASH"),
            "vid",
        ).select(
            "vid",
            F.col("nlab").alias("lab"),
            (F.col("nlab") < F.col("old")).alias("chg"),
        )
        obs = Observation(f"scc_{tag}_{i}")
        new = new.observe(obs, F.sum(F.col("chg").cast("long")).alias("changed"))
        new = new.localCheckpoint(eager=True)
        labels = new
        if int(obs.get["changed"] or 0) == 0:
            break
    return labels.select("vid", "lab")


def _without(remaining: DataFrame, re: DataFrame, gone: DataFrame):
    """``remaining`` vertices and their edge set ``re`` minus the
    decided vertices ``gone`` (vid), each behind an eager barrier."""
    remaining = remaining.join(gone, "vid", "left_anti").localCheckpoint(eager=True)
    re = (
        re.join(gone, re.src == gone.vid, "left_anti")
        .join(gone.withColumnRenamed("vid", "_d"), re.dst == F.col("_d"), "left_anti")
        .localCheckpoint(eager=True)
    )
    return remaining, re


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_outer: int = 50,
    max_inner: int = 200,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
    resume: bool = True,
) -> DataFrame:
    """Returns (vid, scc): scc = the smallest vertex id of v's strongly
    connected component, for every vertex of the DIRECTED graph
    ``edges`` (src → dst; self-loops ignored for membership). If
    ``max_outer`` is exhausted, still-undecided vertices come back
    with scc = NULL and a warning is raised."""
    # one setup scan sizes the loop and fingerprints the raw edges
    P, fp = setup_scan(spark, edges, num_partitions, sym_factor=1)
    e0 = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(P, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # vertex universe from the UNFILTERED input: a vertex whose only
    # edge is a self-loop is still a (singleton) SCC member.
    verts_all = _vertices_from_edges(edges).persist(StorageLevel.MEMORY_AND_DISK)
    ckpt = CheckpointManager(checkpoint_base(ckpt_dir, "scc"), "scc", fingerprint=fp)

    assigned = spark.createDataFrame([], "vid long, scc long")
    start = 0
    resumed = resume_state(ckpt, spark, STATE_COLS) if resume else None
    if resumed is not None:
        assigned, start, _ = resumed

    remaining = verts_all.join(assigned, "vid", "left_anti").localCheckpoint(eager=True)
    re = (
        e0.join(remaining.hint("SHUFFLE_HASH"), e0.src == remaining.vid, "left_semi")
        .join(
            remaining.withColumnRenamed("vid", "_d").hint("SHUFFLE_HASH"),
            e0.dst == F.col("_d"),
            "left_semi",
        )
        .localCheckpoint(eager=True)
    )

    for outer in range(start, max_outer):
        if remaining.isEmpty():
            break
        t0 = time.monotonic()
        n_trimmed = 0
        # ---- trim to fixpoint ----------------------------------
        for _ in range(max_inner):
            outs = re.select(F.col("src").alias("vid")).distinct()
            ins = re.select(F.col("dst").alias("vid")).distinct()
            live = outs.join(ins, "vid", "left_semi")  # has both in and out
            trivial = remaining.join(live, "vid", "left_anti")
            obs_t = Observation(f"scc_trim_{outer}_{n_trimmed}")
            trivial = trivial.observe(obs_t, F.count("*").alias("n"))
            trivial = trivial.localCheckpoint(eager=True)
            n = int(obs_t.get["n"] or 0)
            if n == 0:
                break
            n_trimmed += n
            assigned = assigned.unionByName(
                trivial.select("vid", F.col("vid").alias("scc"))
            ).localCheckpoint(eager=True)
            remaining, re = _without(remaining, re, trivial)
        # ---- forward/backward propagation + extraction ----------
        n_found = 0
        if not remaining.isEmpty():
            fwd = _min_prop(re, remaining, max_inner, f"f{outer}")
            rev = re.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
            bwd = _min_prop(rev, remaining, max_inner, f"b{outer}")
            found = (
                fwd.join(
                    bwd.withColumnRenamed("lab", "blab").hint("SHUFFLE_HASH"), "vid"
                )
                .where(F.col("lab") == F.col("blab"))
                .select("vid", F.col("lab").alias("scc"))
            )
            obs_f = Observation(f"scc_found_{outer}")
            found = found.observe(obs_f, F.count("*").alias("n"))
            found = found.localCheckpoint(eager=True)
            n_found = int(obs_f.get["n"] or 0)
            assigned = assigned.unionByName(found)
            remaining, re = _without(remaining, re, found.select("vid"))
        # ---- durable outer-round checkpoint ----------------------
        assigned = ckpt.write(
            assigned, outer + 1, {"trimmed": n_trimmed, "extracted": n_found}, t0=t0
        )

    leftover = remaining
    if not leftover.isEmpty():
        warnings.warn(
            f"strongly_connected_components: max_outer={max_outer} exhausted "
            "with undecided vertices; they are returned with scc = NULL — "
            "raise max_outer",
            stacklevel=2,
        )
    out = assigned.unionByName(
        leftover.select("vid", F.lit(None).cast("long").alias("scc"))
    )
    e0.unpersist()
    verts_all.unpersist()
    return out
