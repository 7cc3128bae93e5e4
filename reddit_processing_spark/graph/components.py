"""Connected components via hash-min iteration (BASELINE.json
north_rule: "connected components (hash-min iteration)").

Each superstep every FRONTIER vertex (component id changed last step)
broadcasts its component id to its neighbors; the new state is the
elementwise min over [current state ∪ messages] (SURVEY.md §2.4 A3 —
``union + groupBy(min)`` instead of an outer join: one exchange, no
null branches, §4.3). Converges in O(diameter) supersteps; exact
(integer min) so results are identical at any parallelism.

Frontier-delta (SURVEY.md §2.3 J5): hash-min is monotone — once a
vertex's comp stops changing, re-broadcasting it adds no information —
so messages flow only from vertices whose comp changed in the
previous superstep. After the first few supersteps most of the graph
is converged and per-step message volume collapses from |E| to the
active rim (recorded per-superstep as ``msg_rows`` in the checkpoint
manifests; tests assert the shrink + exact equality vs the full
recompute). ``frontier=False`` restores the dense schedule.

Skew (``salt > 1``): an explicit two-stage min — partial
``groupBy(vid, slt)`` then final ``groupBy(vid)`` — bounds the rows
any single reduce key receives from a mega-hub's message fan-in.
(Spark's map-side partial aggregation already combines per task; the
explicit stage is the documented SURVEY §2.11 ``salted_repartition``
guarantee, independent of hash-table spill heuristics. min is
associative, so results are bit-identical — asserted in tests.)

Scale: the symmetrized edge table is shuffled once at setup and
persisted hash-partitioned by ``src``; each superstep shuffles only
frontier messages plus the (vid, comp) state.
"""

from __future__ import annotations

import time
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.ckpt import CheckpointManager, count_hash
from ..plans.superstep import checkpoint_base, run_supersteps
from .pagerank import _vertices_from_edges
from .partitioning import resolve_partitions, setup_scan

STATE_COLS = {"vid", "comp", "chg"}


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected simple edge view: both directions, no self-loops,
    distinct."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).filter(F.col("src") != F.col("dst")).distinct()


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 50,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
    resume: bool = True,
    salt: int = 1,
    frontier: bool = True,
    shortcut: int = 1,
) -> DataFrame:
    """Returns (vid, comp) with comp = min vid of the component.

    ``shortcut`` (int ≥ 0) adds that many pointer-jumping passes per
    superstep (comp ← comp-of-comp): since every comp label IS a
    vertex id of the same component, resolving it through the state
    table shortcuts label chains (measured: small tier 29 rounds
    dense → 18 with one jump; additional in-superstep jumps do NOT
    compound — with random 64-bit vids the label forest stays
    shallow within a round, so 1 is the default). Each pass is a
    |V|-row self-join of the state, cheap next to the |E| message
    exchange. The fixpoint is identical (jumps only lower labels,
    preserving the monotone-min argument), so frontier messaging
    stays exact.

    SCALE NOTE: plain hash-min needs O(diameter) rounds — this
    transcript graph's user↔thread chains run deep (bench tier still
    unconverged at 80 rounds), so for production-size runs use
    :func:`connected_components_star` (large-star/small-star edge
    rewriting, O(log²) rounds, identical output — cross-checked in
    tests); hash-min remains the contract implementation
    (BASELINE.json names it) and the reference oracle."""
    # one setup scan sizes the loop and fingerprints the raw edges;
    # the symmetrized persist materializes inside superstep 1
    P, fp = setup_scan(spark, edges, num_partitions)
    salt = max(1, salt)

    sym = symmetrize(edges).repartition(P, "src").persist(StorageLevel.MEMORY_AND_DISK)
    vertices = sym.select(F.col("src").alias("vid")).distinct().persist(StorageLevel.MEMORY_AND_DISK)
    # (sym carries both directions, so src alone covers every endpoint)

    def step(comps: DataFrame, prev: dict, observe) -> DataFrame:
        active = comps.filter("chg") if frontier else comps
        msgs = sym.join(active, sym.src == active.vid).select(
            sym.dst.alias("vid"), "comp"
        )
        msgs = observe(msgs, msg_rows=F.count("*"))
        if salt > 1:
            # partial min keyed by (vid, salt-of-comp) caps any single
            # reduce key's fan-in; final min restores exactness.
            msgs = (
                msgs.withColumn("_slt", F.pmod(F.xxhash64("comp"), F.lit(salt)))
                .groupBy("vid", "_slt")
                .agg(F.min("comp").alias("comp"))
                .drop("_slt")
            )
        # carry the old comp as a second min-aggregate: self-messages
        # (the unioned current state) are the only rows with ocomp set,
        # so min(ocomp) IS the old value — no join needed for the
        # changed flag, which observe() folds into the write pass.
        new = (
            comps.select("vid", "comp", F.col("comp").alias("ocomp"))
            .unionByName(msgs.select("vid", "comp", F.lit(None).cast("long").alias("ocomp")))
            .groupBy("vid")
            .agg(F.min("comp").alias("comp"), F.min("ocomp").alias("ocomp"))
        )
        for _ in range(max(0, int(shortcut))):
            # pointer jump: comp ← state[comp].comp (comp labels are
            # vids of the same component, so this is always defined;
            # least() keeps monotonicity if the parent lags behind)
            parent = new.select(
                F.col("vid").alias("_pvid"), F.col("comp").alias("_pcomp")
            )
            new = (
                new.join(parent, new.comp == F.col("_pvid"), "left")
                .select(
                    "vid",
                    F.least("comp", F.coalesce("_pcomp", "comp")).alias("comp"),
                    "ocomp",
                )
            )
        # coalesce→True: a vid with NO prior state row (possible only
        # when resuming foreign/partial state) has ocomp NULL — it must
        # ENTER the frontier, not silently drop out of it forever
        # (round-2 ADVICE; dense mode self-heals, frontier must too).
        return new.select(
            "vid",
            "comp",
            F.coalesce(F.col("comp") != F.col("ocomp"), F.lit(True)).alias("chg"),
        )

    try:
        run = run_supersteps(
            ckpt_dir, "components", fp, STATE_COLS,
            vertices.select("vid", F.col("vid").alias("comp"), F.lit(True).alias("chg")),
            step,
            lambda m, _: m["changed"] == 0,
            max_iter,
            metrics={"changed": F.sum(F.col("chg").cast("long"))},
            resume=resume,
        )
    finally:
        sym.unpersist()
        vertices.unpersist()
    return run.state.select("vid", "comp")


def connected_components_star(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 40,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    edge rewriting (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014): each round REWRITES the edge
    list so every vertex hooks to the minimum of its neighborhood —
    O(log²) rounds regardless of diameter, vs hash-min's O(diameter).
    This is the production-scale CC path for deep graphs; output is
    identical to :func:`connected_components` (comp = min vid of the
    component), cross-checked in tests.

    large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u),
    v > u — strictly-larger neighbors hook to the local min.
    small-star(u): over the (large→small)-oriented result, m =
    min(N⁻(u) ∪ {u}); emit (v, m) for v ∈ N⁻(u) ∪ {u}, v ≠ m.
    Both preserve the component partition; the fixpoint is a star
    per component centered at its min vid.

    Convergence detection: a cheap order-insensitive signature
    (count + sum of xxhash64(u,v)) per round instead of a full
    set-difference — one scalar aggregate over a shrinking edge list.
    Every round's edge list is checkpointed (lineage truncation +
    resume point), same manifest scheme as the iterative algorithms.
    """
    P = resolve_partitions(spark, edges, num_partitions)
    ckpt = CheckpointManager(checkpoint_base(ckpt_dir, "cc_star"), "cc_star")

    vertices = _vertices_from_edges(edges).persist(StorageLevel.MEMORY_AND_DISK)

    # canonical starting orientation: (u, v) with u > v, deduped
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .distinct()
        .repartition(P, "u")
    )

    sigs: list[dict] = []

    def _signature(df: DataFrame, rows: int) -> dict:
        # bit_xor: order-insensitive and overflow-free under ANSI mode
        # (rows are distinct, so xor cancellation can't collide states)
        row = count_hash(df, ("u", "v"))
        sigs.append({"edges": int(row["n"]), "sig": int(row["h"])})
        return sigs[-1]

    converged = False
    for rnd in range(max_rounds):
        t0 = time.monotonic()
        # ---- large-star: neighbors from BOTH orientations ----------
        adj = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = adj.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            adj.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star: edges now point large → small -------------
        m2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(m2, "u")
            .select("u", "v", "m")
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                        F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                    )
                ).alias("p")
            )
            .select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        e = ckpt.write(ss, rnd + 1, _signature, t0=t0)
        if len(sigs) > 1 and sigs[-1] == sigs[-2]:
            converged = True
            break

    if not converged:
        # exhausting max_rounds mid-rewrite yields per-vertex LOCAL
        # minima below, not component minima — plausible-looking but
        # WRONG labels with no signal (round-2 ADVICE). Surface it.
        warnings.warn(
            f"connected_components_star: edge signature did not "
            f"stabilize within max_rounds={max_rounds}; the returned "
            "labels are NOT guaranteed to be component minima — raise "
            "max_rounds (convergence needs O(log² |V|) rounds)",
            stacklevel=2,
        )

    # fixpoint: stars — every non-min vertex has exactly one edge to
    # its component min; min vertices (and isolated inputs) map to self
    hooks = e.groupBy("u").agg(F.min("v").alias("comp")).select(
        F.col("u").alias("vid"), "comp"
    )
    comps = (
        vertices.join(hooks, "vid", "left")
        .select("vid", F.coalesce("comp", "vid").alias("comp"))
    )
    vertices.unpersist()
    return comps
