"""Katz centrality as an iterative DataFrame program (SURVEY.md
§2.11 ranking family, next to PageRank/HITS).

Power iteration on the attenuated walk sum::

    x ← α·Aᵀx + β        (x₀ = 0)

i.e. ``new[v] = α · Σ_{u→v} w(u,v)·old[u] + β`` — exactly the
iteration ``networkx.katz_centrality`` runs (pure-python there, so it
is usable as an oracle without scipy). Convergence when the L1 change
drops below ``V·tol`` (networkx's criterion), then one final L2
normalization, both matching networkx so parity is per-vertex
``allclose``. Requires ``α < 1/λ_max`` (the caller's contract, as in
networkx — divergence is reported by non-convergence, and the
monotone-growth guard below turns the classic α-too-large blowup into
a loud error instead of max_iter wasted supersteps).

Scale shape (100 TB design): the edge table is hash-partitioned by
``src`` ONCE at setup and persisted; every superstep's only wide
exchanges are the |V|-row state shuffle into that join
(SHUFFLE_HASH-hinted so the persisted edge side never re-shuffles)
and the message groupBy(dst). β needs no join — it is a literal added
to every vertex — and unlike HITS no mid-superstep normalization
scalar is needed, so the L1 delta folds into the checkpoint write via
Observation (zero extra jobs per superstep). Checkpoints stamp a
fingerprint mixing the edge set WITH (α, β): resuming a ckpt_dir
written under different Katz parameters must restart, not silently
converge to the old parameters' fixpoint (the personalized-PageRank
lesson — a checkpoint's identity is the whole problem instance, not
just the graph).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.ckpt import count_hash, mix_fingerprint
from ..plans.superstep import run_supersteps
from .pagerank import Prepared, _vertices_from_edges
from .partitioning import resolve_partitions


class Katz(Prepared):
    """Prepared Katz centrality over an aggregated (src, dst, w)
    edge table."""

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        num_partitions: int | None = None,
    ):
        super().__init__(spark, edges)
        self.P = resolve_partitions(spark, self.edges, num_partitions)
        self.vertices = self._cache(_vertices_from_edges(self.edges))
        e = self.edges.select("src", "dst", F.col("w").cast("double").alias("w"))
        self.e_src = self._cache(e.repartition(self.P, "src"))
        self.V = self.vertices.count()
        erow = count_hash(self.e_src, ("src", "dst", "w"))
        self.E = int(erow["n"])
        self._graph_h = int(erow["h"])

    def _fingerprint(self, alpha: float, beta: float) -> int:
        """Problem-instance identity: edge set × (α, β). Floats are
        mixed via their IEEE bit patterns so 0.1 and a rounding
        neighbor fingerprint differently. The 128-bit (α, β) pattern
        is FOLDED to 64 bits before masking — masking the raw 128-bit
        int would keep only β's low bits and let a checkpoint written
        under a different α resume silently (round-4 ADVICE)."""
        import struct

        pbits = int.from_bytes(
            struct.pack(">dd", float(alpha), float(beta)), "big", signed=False
        )
        pbits = (pbits >> 64) ^ (pbits & ((1 << 64) - 1))
        return mix_fingerprint(self.E, self._graph_h ^ (pbits & 0x7FFFFFFFFFFFFFFF))

    def run(
        self,
        alpha: float = 0.01,
        beta: float = 1.0,
        tol: float = 1e-10,
        max_iter: int = 1000,
        ckpt_dir: str | None = None,
        resume: bool = True,
    ) -> DataFrame:
        """Iterate to convergence; returns (vid, katz), L2-normalized
        like networkx. Raises on detected divergence (α ≥ 1/λ_max)."""
        if self.V == 0:
            return self.spark.createDataFrame([], "vid long, katz double")

        def step(state: DataFrame, prev: dict, observe) -> DataFrame:
            msg = self._messages(state.select("vid", "x"))
            old = state.select("vid", F.col("x").alias("x_prev"))
            xn = F.lit(float(alpha)) * F.coalesce(F.col("m"), F.lit(0.0)) + F.lit(
                float(beta)
            )
            return (
                old.join(msg.hint("SHUFFLE_HASH"), old.vid == msg.dst, "left")
                .drop("dst")
                .select(
                    "vid",
                    xn.alias("x"),
                    F.abs(xn - F.col("x_prev")).alias("dstep"),
                )
            )

        # α ≥ 1/λ_max makes the delta sequence grow geometrically
        # after the β transient; five successive growths is the
        # loud-divergence heuristic (a converging run's delta shrinks
        # by ~αλ_max < 1 every superstep).
        trend = {"delta": None, "grow": 0}

        def converged(m: dict, k: int) -> bool:
            delta = m["delta"]
            if delta < self.V * tol:
                return True
            if trend["delta"] is not None and delta > trend["delta"]:
                trend["grow"] += 1
                if trend["grow"] >= 5 and k > 8:
                    raise ValueError(
                        f"katz: L1 delta grew 5 supersteps in a row "
                        f"(now {delta:.3g}) — alpha={alpha} is at or above "
                        "1/lambda_max for this graph; choose a smaller alpha"
                    )
            else:
                trend["grow"] = 0
            trend["delta"] = delta
            return False

        run = run_supersteps(
            ckpt_dir, "katz", self._fingerprint(alpha, beta), {"vid", "x", "dstep"},
            self.vertices.select("vid", F.lit(0.0).alias("x"), F.lit(0.0).alias("dstep")),
            step,
            converged,
            max_iter,
            metrics={"delta": F.sum("dstep")},
            resume=resume,
        )
        if run.step > run.start and not run.converged:
            warnings.warn(
                f"katz: not converged after {max_iter} supersteps "
                f"(last L1 delta {trend['delta']}); returning the current iterate",
                stacklevel=2,
            )
        # final L2 normalization (networkx semantics); s=1 when the
        # norm is zero (all-zero fixpoint is only possible at beta=0).
        nrow = run.state.agg(F.sum(F.col("x") * F.col("x")).alias("n2")).collect()[0]
        n2 = float(nrow["n2"] or 0.0)
        s = 1.0 / (n2**0.5) if n2 > 0 else 1.0
        return run.state.select("vid", (F.col("x") * F.lit(s)).alias("katz"))

    def _messages(self, x: DataFrame) -> DataFrame:
        """Inbound weighted message sums for one superstep — the
        hot-loop join the plan audit asserts stays SHUFFLE_HASH
        against the persisted src-partitioned edge side (a sort-merge
        here would re-sort |E| every superstep)."""
        return (
            self.e_src.join(x.hint("SHUFFLE_HASH"), self.e_src.src == x.vid)
            .groupBy("dst")
            .agg(F.sum(F.col("x") * F.col("w")).alias("m"))
        )


def katz_centrality(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.01,
    beta: float = 1.0,
    tol: float = 1e-10,
    max_iter: int = 1000,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Functional entry point; see :class:`Katz`."""
    with Katz(spark, edges, num_partitions=num_partitions) as k:
        return k.run(alpha=alpha, beta=beta, tol=tol, max_iter=max_iter, ckpt_dir=ckpt_dir)
