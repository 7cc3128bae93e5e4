"""HITS (Kleinberg hubs & authorities) as an iterative DataFrame
program (SURVEY.md §2.11).

Power iteration on the weighted adjacency A: per superstep
``a ← Aᵀh`` then ``h ← Aa``, both L1-normalized; stop when the L1
change of the normalized hub vector < tol. The fixpoint is the
principal left/right singular-vector pair — what networkx's
scipy-ARPACK ``hits()`` converges to (scipy is absent in this
sandbox, so parity is tested against the pure-numpy power-iteration
oracle ``oracle/hits.py``, which implements the identical textbook
iteration).

Scale shape (100 TB design): the edge table is shuffled TWICE at
setup — once hash-partitioned by ``src`` (consumed by the a-step
join) and once by ``dst`` (consumed by the h-step join) — and both
persisted copies are reused every superstep, so each superstep's wide
exchanges are only the two |V|-row state shuffles into the joins
(SHUFFLE_HASH-hinted: the persisted edge sides never re-shuffle) and
the two message groupBys. The state is stored RAW: the expensive
superstep lineage runs exactly once (inside the checkpoint write),
and the L1 norm scalars are then read back by a tiny aggregate over
the written |V|-row parquet, committed with the step's manifest, and
become literal divisors in the NEXT superstep's plan — the Katz
pattern, minus the old full-lineage normalization job. The
convergence delta is observed one superstep late — at most one extra
superstep past tol.

Determinism contract: resume is equivalent to an uninterrupted run
within float associativity (a few ULP per component, tested at
1e-12), not bit-identical — Spark randomizes shuffle-block fetch
order, so ANY two executions' double message sums can differ at the
ULP; a resumed run sits inside that same envelope (its literal
divisors are the original run's exact doubles, read back from the
manifest). Integer-state algorithms (CC/LPA/k-core/BFS) are exact.

No driver-side state grows with |V| or |E|; checkpoints truncate
lineage and stamp the graph fingerprint so resume rejects state from
a different edge set (same guard as PageRank/CC)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.ckpt import count_hash, mix_fingerprint
from ..plans.superstep import run_supersteps
from .partitioning import resolve_partitions
from .pagerank import Prepared, _vertices_from_edges


class HITS(Prepared):
    """Prepared HITS over an aggregated (src, dst, w) edge table."""

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        num_partitions: int | None = None,
    ):
        super().__init__(spark, edges)
        # sized after the input cache, so the sizing count warms it
        self.P = resolve_partitions(spark, self.edges, num_partitions)
        self.vertices = self._cache(_vertices_from_edges(self.edges))
        # two persisted copies, each partitioned by the key its
        # superstep join consumes — state sides shuffle, edges never do.
        e = self.edges.select("src", "dst", F.col("w").cast("double").alias("w"))
        self.e_src = self._cache(e.repartition(self.P, "src"))
        self.e_dst = self._cache(e.repartition(self.P, "dst"))
        self.V = self.vertices.count()
        erow = count_hash(self.e_src, ("src", "dst", "w"))
        self.E = int(erow["n"])
        self.fingerprint = mix_fingerprint(self.E, erow["h"])

    def run(
        self,
        tol: float = 1e-8,
        max_iter: int = 100,
        ckpt_dir: str | None = None,
        resume: bool = True,
    ) -> DataFrame:
        """Iterate to convergence; returns (vid, hub, auth), each
        column L1-normalized to sum 1."""
        if self.V == 0:
            return self.spark.createDataFrame([], "vid long, hub double, auth double")

        # state: RAW hub/auth plus the previous step's NORMALIZED hub;
        # (sh, sa) ride each manifest into the next step's plan as
        # literal divisors, so the delta lags one step (module docstring)
        held: list[DataFrame] = []  # a_raw feeds two joins: cached per step

        def step(state: DataFrame, prev: dict, observe) -> DataFrame:
            sh = prev["sh"]
            # normalize LAST step's raw hub with the known scalar —
            # a literal division, not a job
            h = state.select("vid", (F.col("hub") / F.lit(sh)).alias("hub_n"))
            # a ← Aᵀh : edges(src-partitioned) ⋈ h on src, sum by dst.
            # The grouped key is renamed (dst → avid) so the next join
            # against e_dst.dst is between DISTINCT attributes — both
            # frames descend from the same edge scan, and a bare
            # dst == dst would be a trivially-true self-join predicate.
            a_raw = (
                self.e_src.join(h.hint("SHUFFLE_HASH"), self.e_src.src == h.vid)
                .groupBy("dst")
                .agg(F.sum(F.col("hub_n") * F.col("w")).alias("a_raw"))
                .withColumnRenamed("dst", "avid")
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            held.append(a_raw)
            # h ← Aa : edges(dst-partitioned) ⋈ a on dst, sum by src
            h_raw = (
                self.e_dst.join(
                    a_raw.hint("SHUFFLE_HASH"), self.e_dst.dst == a_raw.avid
                )
                .groupBy("src")
                .agg(F.sum(F.col("a_raw") * F.col("w")).alias("h_raw"))
            )
            prev_n = state.select(
                "vid",
                (F.col("hub") / F.lit(sh)).alias("hub_n_prev"),
                "prev_hub_n",
            )
            new_state = (
                prev_n.join(h_raw.hint("SHUFFLE_HASH"), prev_n.vid == h_raw.src, "left")
                .drop("src")
                .join(
                    a_raw.hint("SHUFFLE_HASH"),
                    F.col("vid") == a_raw.avid,
                    "left",
                )
                .select(
                    "vid",
                    F.coalesce(F.col("h_raw"), F.lit(0.0)).alias("hub"),
                    F.coalesce(F.col("a_raw"), F.lit(0.0)).alias("auth"),
                    F.col("hub_n_prev").alias("prev_hub_n"),
                    # LAST superstep's convergence delta, observable
                    # now that sh is a known literal
                    F.abs(F.col("hub_n_prev") - F.col("prev_hub_n")).alias("_dprev"),
                )
            )
            return observe(new_state, delta=F.sum("_dprev")).drop("_dprev")

        # The divisors fed to the next step are summed over the WRITTEN
        # |V|-row state by one tiny job, not observed: CollectMetrics
        # merges task updates in completion order. The read-back sum is
        # not bit-stable across executions either (its final aggregate
        # merges partials in shuffle-fetch order, which Spark
        # randomizes), but each run's divisors are consistent with its
        # own state, and a resumed run takes the exact doubles its
        # predecessor committed to the manifest.
        def post(written: DataFrame, rows: int, prev: dict) -> dict:
            held.pop().unpersist()
            row = written.agg(F.sum("hub").alias("sh"), F.sum("auth").alias("sa")).collect()[0]
            return {"sh": float(row["sh"] or 0.0), "sa": float(row["sa"] or 0.0)}

        # virtual step-0 state: hub uniform (already L1-normalized →
        # sh=1), auth 0 (sa=1 is a never-used divisor), prev_hub_n =
        # hub so the first observed delta is Σ|hub_n(1) − hub(0)|.
        # delta measures superstep k−1 (one behind); it is genuine
        # everywhere except at step 1, whose delta compares the
        # virtual init with itself — so the guard is on absolute step,
        # keeping a resumed run's stop schedule identical. sh or sa at
        # 0 means no mass flows (an edge-less graph slipped through).
        run = run_supersteps(
            ckpt_dir, "hits", self.fingerprint, {"vid", "hub", "auth", "prev_hub_n"},
            self.vertices.select(
                "vid",
                F.lit(1.0 / self.V).alias("hub"),
                F.lit(0.0).alias("auth"),
                F.lit(1.0 / self.V).alias("prev_hub_n"),
            ),
            step,
            lambda m, k: m["sh"] <= 0 or m["sa"] <= 0 or (k > 1 and m["delta"] < tol),
            max_iter,
            post=post,
            carry={"sh": 1.0, "sa": 1.0},
            resume=resume,
        )
        sh, sa = run.metrics["sh"], run.metrics["sa"]
        if sh <= 0 or sa <= 0:
            return run.state.select(
                "vid", F.lit(0.0).alias("hub"), F.lit(0.0).alias("auth")
            )
        return run.state.select(
            "vid",
            (F.col("hub") / F.lit(sh)).alias("hub"),
            (F.col("auth") / F.lit(sa)).alias("auth"),
        )


def hits(
    spark: SparkSession,
    edges: DataFrame,
    tol: float = 1e-8,
    max_iter: int = 100,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Functional entry point; see :class:`HITS`."""
    with HITS(spark, edges, num_partitions=num_partitions) as h:
        return h.run(tol=tol, max_iter=max_iter, ckpt_dir=ckpt_dir)
