"""PageRank as an iterative DataFrame program (SURVEY.md §2.11).

Semantics match ``networkx.pagerank`` (verified by tests/test_pagerank.py):
weighted out-edge normalization, damping ``d``, dangling mass
redistributed uniformly, stop when the L1 residual
``Σ|r_k − r_{k−1}|`` < tol.

Two message kernels, identical results:

- ``kernel='sql'``  — pure built-in plan: shuffle-hash join
  ranks⋈edges on ``src`` then map-side-combined ``groupBy(dst).sum``.
  Everything whole-stage-codegen'd; zero Python on the row path.
- ``kernel='csr'``  — the north-star path (BASELINE.json): edges are
  hash-blocked by ``blk = pmod(src, P)`` once; each superstep cogroups
  the rank vector with its edge block and a vectorized pandas/Arrow
  kernel builds a partition-local CSR (sorted src runs → indptr) and
  emits PARTIALLY-REDUCED (dst, contrib) sums via np.bincount, so the
  following JVM groupBy(dst) sees at most |blocks|·|dst| rows.

Skew (mega-threads, BASELINE.json north_rule): ``salt > 1`` splits
each edge block by ``pmod(xxhash64(dst), salt)`` and replicates the
(small) rank side salt-ways, bounding the largest cogroup — the
two-stage salted aggregation of SURVEY.md §2.11. AQE's skew-join
split is the built-in backstop for the 'sql' kernel.

Every superstep checkpoints state + {delta, dangle, wall_ms} through
``CheckpointManager`` (lineage truncation + mid-iteration resume).

Scale notes (100 TB design): per superstep the only wide exchanges
are ranks→blk (|V| rows, the small side) and the partial-msg
groupBy(dst); the edge table is shuffled ONCE at setup and reused
from its persisted hash-partitioned form every superstep. No
driver-side state grows with |V|; the two scalars (delta, dangle)
come back through one 2-column aggregate per superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..plans.ckpt import count_hash, mix_fingerprint
from ..plans.superstep import run_supersteps


def _vertices_from_edges(edges: DataFrame) -> DataFrame:
    return (
        edges.select(F.col("src").alias("vid"))
        .unionByName(edges.select(F.col("dst").alias("vid")))
        .distinct()
    )


class Prepared:
    """Setup frames an iterative algorithm caches once and reuses every
    superstep; ``unpersist`` releases them. The input is cached too
    unless the caller already did: setup derives several frames from
    it, and an unpersisted input lineage (e.g. the full transcript
    extraction) would be recomputed for each (measured 338 s -> 60 s
    PageRank setup at the scale tier)."""

    def __init__(self, spark: SparkSession, edges: DataFrame):
        self.spark = spark
        self._cached: list[DataFrame] = []
        cached = edges.storageLevel.useMemory or edges.storageLevel.useDisk
        self.edges = edges if cached else self._cache(edges)

    def _cache(self, df: DataFrame) -> DataFrame:
        self._cached.append(df.persist(StorageLevel.MEMORY_AND_DISK))
        return self._cached[-1]

    def unpersist(self) -> None:
        for df in self._cached:
            df.unpersist()

    def __enter__(self):
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist()


def _csr_kernel_arrow(key, etab, rtab):
    """Per-block CSR message kernel over an Arrow cogroup, on zero-copy
    Arrow→NumPy views: rank lookup by searchsorted on the sorted vid
    vector, then per-dst partial reduction with np.bincount."""
    import numpy as np
    import pyarrow as pa

    if etab.num_rows == 0 or rtab.num_rows == 0:
        return pa.table(
            {"dst": pa.array([], type=pa.int64()), "contrib": pa.array([], type=pa.float64())}
        )
    src, dst, w_norm = (etab.column(c).to_numpy(zero_copy_only=False) for c in ("src", "dst", "w_norm"))
    vids, ranks = (rtab.column(c).to_numpy(zero_copy_only=False) for c in ("vid", "rank"))
    order = np.argsort(vids, kind="stable")
    vids_s, ranks_s = vids[order], ranks[order]
    pos = np.searchsorted(vids_s, src)
    # guard: srcs must exist in the co-grouped rank block
    pos = np.clip(pos, 0, len(vids_s) - 1)
    hit = vids_s[pos] == src
    contrib = ranks_s[pos] * w_norm
    contrib[~hit] = 0.0
    uniq, inv = np.unique(dst, return_inverse=True)
    sums = np.bincount(inv, weights=contrib, minlength=len(uniq))
    return pa.table({"dst": pa.array(uniq.astype("int64")), "contrib": pa.array(sums)})


class PageRank(Prepared):
    """Prepared PageRank over an aggregated edge table.

    Usage::

        pr = PageRank(spark, edges_agg, num_partitions=64, salt=1)
        ranks = pr.run(d=0.85, tol=1e-6, ckpt_dir='/tmp/ckpt')
    """

    def __init__(
        self,
        spark: SparkSession,
        edges: DataFrame,
        num_partitions: int | None = None,
        salt: int = 1,
        kernel: str = "csr",
        personalization: DataFrame | None = None,
    ):
        """``personalization``: optional (vid, p) teleport weights —
        personalized PageRank with networkx ``_pagerank_scipy``
        semantics: p is L1-normalized, vids absent from it get weight
        0, and dangling mass is redistributed by the SAME vector
        (``dangling=None`` default). The update becomes
        ``r' = (1-d)·p + d·(Aᵀr + dangle·p)`` — per-vertex teleport is
        a column carried in the superstep state, so the iteration
        plan is unchanged (no extra join; the scalar base folds into
        a pw-weighted column)."""
        if kernel not in ("csr", "sql"):
            raise ValueError(f"unknown kernel {kernel!r}")
        super().__init__(spark, edges)
        edges = self.edges
        self.kernel = kernel
        self.P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
        self.salt = max(1, salt)

        # state skeleton: every vertex + its dangling flag (no out-edges)
        # — carried through every superstep so the per-step delta and
        # next dangling mass come from ONE aggregate over the
        # checkpoint read-back instead of extra joins.
        srcs = edges.select(F.col("src").alias("vid")).distinct()
        verts = (
            _vertices_from_edges(edges)
            .join(srcs.withColumn("_has_out", F.lit(True)), "vid", "left")
            .select("vid", F.coalesce(F.col("_has_out"), F.lit(False)).alias("has_out"))
        )
        self.personalized = personalization is not None
        if self.personalized:
            pvec = personalization.select(
                "vid", F.col("p").cast("double").alias("_p_raw")
            )
            # un-normalized teleport weight rides the vertex skeleton;
            # its sum folds into the one setup aggregate below, so
            # normalization costs no extra job.
            verts = verts.join(pvec, "vid", "left").withColumn(
                "_p_raw", F.coalesce(F.col("_p_raw"), F.lit(0.0))
            )
        self.vertices = self._cache(verts)
        aggs = [
            F.count("*").alias("v"),
            F.sum(F.when(~F.col("has_out"), 1).otherwise(0)).alias("d"),
        ]
        if self.personalized:
            aggs.append(F.sum("_p_raw").alias("psum"))
            # teleport-vector hash: folded into the SAME setup aggregate
            # (no extra job) and mixed into the checkpoint fingerprint
            # below — a PPR fixpoint is a function of (graph, teleport
            # vector), so resuming a ckpt_dir written with a different
            # vector must be rejected, not silently converged to the OLD
            # vector's fixpoint (round-3 ADVICE).
            aggs.append(
                F.coalesce(F.bit_xor(F.xxhash64("vid", "_p_raw")), F.lit(0)).alias("ph")
            )
        counts = self.vertices.agg(*aggs).collect()[0]
        self.V, self.D = int(counts["v"]), int(counts["d"] or 0)
        self._pfp = 0
        if self.personalized:
            self.psum = float(counts["psum"] or 0.0)
            if self.psum <= 0:
                raise ValueError(
                    "personalization weights sum to zero over the graph's vertices"
                )
            self._pfp = int(counts["ph"])

        out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
        enorm = (
            edges.join(out_w, "src")
            .select("src", "dst", (F.col("w") / F.col("out_w")).alias("w_norm"))
            .withColumn("blk", F.pmod(F.col("src"), F.lit(self.P)))
        )
        if self.salt > 1:
            enorm = enorm.withColumn(
                "slt", F.pmod(F.xxhash64("dst"), F.lit(self.salt)).cast("int")
            )
        # ONE setup shuffle; every superstep reuses this partitioning.
        # The partition key must match what the superstep consumes or
        # the 26M-row edge side reshuffles every iteration: the sql
        # kernel joins on src (hashpartitioning(src)), the csr kernel
        # cogroups on blk(+slt).
        if self.kernel == "sql":
            keys = ["src"]
        else:
            keys = ["blk", "slt"] if self.salt > 1 else ["blk"]
        self.enorm = self._cache(enorm.repartition(self.P, *keys))
        # E and the graph fingerprint come from the SAME warm-up
        # aggregate (no extra job); the fingerprint is stamped into
        # every checkpoint manifest so resume rejects state written for
        # a different edge set (round-2 ADVICE).
        erow = count_hash(self.enorm, ("src", "dst", "w_norm"))
        self.E = int(erow["n"])
        # identity = edge set ⊕ (personalization vector, when set)
        self.fingerprint = mix_fingerprint(self.E, int(erow["h"]) ^ self._pfp)

    # ---- one superstep ----------------------------------------------
    def _messages(self, state: DataFrame) -> DataFrame:
        ranks = state.select("vid", "rank")
        if self.kernel == "sql":
            return (
                self.enorm.join(
                    ranks.hint("SHUFFLE_HASH"), self.enorm.src == ranks.vid
                )
                .groupBy("dst")
                .agg(F.sum(F.col("rank") * F.col("w_norm")).alias("contrib"))
            )
        rblk = ranks.withColumn("blk", F.pmod(F.col("vid"), F.lit(self.P)))
        if self.salt > 1:
            rblk = rblk.withColumn(
                "slt", F.explode(F.array([F.lit(i) for i in range(self.salt)]))
            )
            grouped_e = self.enorm.groupBy("blk", "slt")
            grouped_r = rblk.groupBy("blk", "slt")
        else:
            grouped_e = self.enorm.groupBy("blk")
            grouped_r = rblk.groupBy("blk")
        partial = grouped_e.cogroup(grouped_r).applyInArrow(
            _csr_kernel_arrow, "dst long, contrib double"
        )
        return partial.groupBy("dst").agg(F.sum("contrib").alias("contrib"))

    def run(
        self,
        d: float = 0.85,
        tol: float = 1e-6,
        max_iter: int = 200,
        ckpt_dir: str | None = None,
        resume: bool = True,
    ) -> DataFrame:
        """Iterate to L1 convergence; returns (vid, rank).

        With ``ckpt_dir`` every superstep persists state+manifest and a
        killed run resumes from the last valid superstep.
        """
        V = self.V
        if V == 0:
            return self.spark.createDataFrame([], "vid long, rank double")
        init_cols = [
            F.col("vid"),
            F.lit(1.0 / V).alias("rank"),
            F.col("has_out"),
            F.lit(0.0).alias("dstep"),
        ]
        if self.personalized:
            init_cols.append((F.col("_p_raw") / F.lit(self.psum)).alias("pw"))

        def step(state: DataFrame, prev: dict, observe) -> DataFrame:
            dangle = prev["dangle"]
            msgs = self._messages(state)
            # state ⋈ msgs carries old rank + dangling flag through, so
            # the per-step L1 delta is a COLUMN of the new state (free
            # lineage metric in the checkpoint) and both scalars are
            # observed during the checkpoint write — no second job.
            if self.personalized:
                # r' = (1-d)·pw + d·(contrib + dangle·pw)
                new_rank = F.lit((1.0 - d) + d * dangle) * F.col("pw") + F.lit(
                    d
                ) * F.coalesce(F.col("contrib"), F.lit(0.0))
            else:
                base = (1.0 - d) / V + d * dangle / V
                new_rank = F.lit(base) + F.lit(d) * F.coalesce(
                    F.col("contrib"), F.lit(0.0)
                )
            out_cols = [
                F.col("vid"),
                new_rank.alias("rank"),
                F.col("has_out"),
                F.abs(new_rank - F.col("rank")).alias("dstep"),
            ]
            if self.personalized:
                out_cols.append(F.col("pw"))
            return state.join(
                msgs.hint("SHUFFLE_HASH"), state.vid == msgs.dst, "left"
            ).select(*out_cols)

        # state columns double as the resume schema gate: a checkpoint
        # of an older layout (e.g. bare (vid, rank)) is refused, and a
        # uniform run refuses a personalized checkpoint and vice versa.
        # The dangling mass of the resumed step is read from its
        # manifest (analytic D/V at the uniform start).
        run = run_supersteps(
            ckpt_dir, "pagerank", self.fingerprint,
            {"vid", "rank", "has_out", "dstep"} | ({"pw"} if self.personalized else set()),
            self.vertices.select(*init_cols),
            step,
            lambda m, _: m["delta"] < tol,
            max_iter,
            metrics={
                "delta": F.sum("dstep"),
                "dangle": F.sum(F.when(~F.col("has_out"), F.col("rank")).otherwise(0.0)),
            },
            carry={"dangle": self.D / V},
            resume=resume,
        )
        return run.state.select("vid", "rank")


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    d: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 200,
    ckpt_dir: str | None = None,
    num_partitions: int | None = None,
    salt: int = 1,
    kernel: str = "csr",
    personalization: DataFrame | None = None,
) -> DataFrame:
    """Functional entry point; see :class:`PageRank`."""
    with PageRank(
        spark, edges, num_partitions=num_partitions, salt=salt, kernel=kernel,
        personalization=personalization,
    ) as pr:
        return pr.run(d=d, tol=tol, max_iter=max_iter, ckpt_dir=ckpt_dir)
