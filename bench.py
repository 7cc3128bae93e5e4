"""BENCH runner (driver contract): runs the engine's headline queries
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "edges/s", "queries": {...}, "sf": ...}

Headline metric: PageRank superstep throughput (edges processed per
second per superstep, BASELINE.json) over the transcript fixture tier
matched to the sf dir; plus wall-clock seconds for representative
relational/dedup/similarity queries over the driver tables.

Methodology (round-2 VERDICT #4/#5 closed):
- BOTH PageRank kernels are top-level fields (``edges_per_sec_csr``,
  ``edges_per_sec_sql``) so round-over-round comparisons never change
  basis; ``value`` remains the fastest kernel with ``value_kernel``
  recording which.
- every timed relational query runs REPS times post-warm-up;
  ``queries`` carries the MEDIAN and ``queries_spread`` the
  [min, med, max] so ±10% moves are interpretable as noise or signal.
- iterative timings get their spread for free from the per-superstep
  ``wall_ms`` in the checkpoint manifests (``superstep_spread_ms``).
- benchmark identities are the per-operator HELPER functions of
  __spark_entry__ (stable since round 1), not the consolidated
  registry entries — registry consolidation must never silently
  change what a named timing measures.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from reddit_processing_spark.session import get_spark  # noqa: E402
from reddit_processing_spark.sources.fixtures import ensure_fixture  # noqa: E402

BENCH_SUPERSTEPS = 5
REPS = 3


def _host_health() -> dict:
    """Ambient-host probe embedded in every report so numbers are
    interpretable: on VMs with host-side memory overcommit, FIRST-TOUCH
    page faults can run at ~0.05 GiB/s (measured on one sandbox boot;
    healthy boots deliver GiB/s) — any JVM then pays seconds per GiB of
    heap growth and every wall time below is fault-bound, not
    engine-bound. fault = fill of freshly mapped pages; copy = second
    pass over the same (now resident) pages."""
    import numpy as np

    n = 2**27  # 1 GiB of float64
    buf = np.empty(n, dtype=np.float64)
    t0 = time.monotonic()
    buf.fill(1.0)
    fault_s = time.monotonic() - t0
    t0 = time.monotonic()
    buf.fill(2.0)
    copy_s = time.monotonic() - t0
    return {
        "host_fault_gibps": round(1.0 / max(fault_s, 1e-9), 2),
        "host_resident_gibps": round(1.0 / max(copy_s, 1e-9), 2),
        "host_loadavg_1m": round(os.getloadavg()[0], 2),
    }


def _run(spark, sf_dir, q) -> float:
    t0 = time.monotonic()
    q(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def main() -> None:
    health = _host_health()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 8)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * int(cpus),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    tier = "bench" if sf_dir.endswith("0.1") or sf_dir.endswith("0.1/") else "small"
    fixture = ensure_fixture(tier)

    # Timed queries keep their round-1/2 names and the round-1/2 WORK:
    # the consolidated registry entries wrap these same helpers.
    bench_queries = {
        "q1_pricing_summary": entrymod._q1_pricing,
        "q3_top_orders": entrymod._q3_top_orders,
        "q5_region_revenue": entrymod._q5_region_revenue,
        "window_topk_per_customer": entrymod._window_topk,
        "agg_cube_flag_status": entrymod._agg_cube,
        "sessionize_events": entrymod._sessionize,
        "dedup_minhash_pairs": entrymod._dedup_minhash,
        "sim_topk_cosine": entrymod._sim_topk,
        "tri_part_cooccurrence": entrymod._tri_cooccurrence,
        # linkpred: max_wedge_degree now DEFAULTS to a derived degree
        # cap (round-4 VERDICT #2 — the uncapped Σ deg(z)² wedge join
        # is opt-in via None), so the bench measures the default call
        # instead of the uncapped identity (r3: 44.5 s, r4: 44.7 s at
        # this tier — retired, see BENCH); the pinned-cap identity
        # stays for cross-round comparability.
        "linkpred_default_cooccurrence": entrymod._linkpred_default,
        "linkpred_capped_cooccurrence": entrymod._linkpred_capped,
        "embed_near_dup_lsh": entrymod._embed_near_dup_lsh,
        "ann_lsh_topk": entrymod._ann_lsh,
        "ann_ivf_topk": entrymod._ann_ivf,
        "scan_csv_roundtrip": entrymod._scan_csv_roundtrip,
        "merge_flat_ordering": entrymod._merge_flat_ordering,
        "grouped_agg_mad": entrymod._grouped_agg_mad,
    }

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    # Warm-up pass (untimed): first-touch costs — JVM class loading,
    # codegen compilation, parquet footer reads, Python worker spawn —
    # land here instead of inside the first timed query. Standard
    # steady-state benchmarking; per-query numbers then measure the
    # PLAN, not session warm-up.
    for t in ("lineitem", "orders", "customer", "events", "documents", "embeddings"):
        spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).limit(1).count()
    _run(spark, sf_dir, bench_queries["q1_pricing_summary"])

    for name, q in bench_queries.items():
        reps = sorted(round(_run(spark, sf_dir, q), 3) for _ in range(REPS))
        timings[name] = round(statistics.median(reps), 3)
        spread[name] = [reps[0], timings[name], reps[-1]]

    # ---- graph headline: PageRank superstep throughput ----
    from reddit_processing_spark.graph.pagerank import PageRank
    from reddit_processing_spark.operators.extract import aggregate_edges, derive_edges
    from reddit_processing_spark.plans.ckpt import CheckpointManager
    from reddit_processing_spark.sources.fixtures import tier_n_users

    t = spark.read.parquet(fixture)
    t0 = time.monotonic()
    edges, _ = derive_edges(t, n_users=tier_n_users(tier))
    agg = aggregate_edges(edges).persist()
    agg.count()
    setup_s = round(time.monotonic() - t0, 3)
    timings["derive_edges_setup"] = setup_s

    per_step = {}
    step_spread_ms = {}
    E = 0
    # csr = the north-star Arrow/CSR architecture; sql = the pure-JVM
    # shuffle-hash variant. BOTH are headline fields (VERDICT #4).
    for kernel in ("csr", "sql"):
        pr = PageRank(spark, agg, num_partitions=2 * int(cpus), kernel=kernel)
        E = pr.E
        ck = tempfile.mkdtemp(prefix=f"bench_pr_{kernel}_")
        t1 = time.monotonic()
        pr.run(d=0.85, tol=0.0, max_iter=BENCH_SUPERSTEPS, ckpt_dir=ck)
        loop_s = time.monotonic() - t1
        per_step[kernel] = loop_s / BENCH_SUPERSTEPS
        # per-superstep spread comes free from the manifests
        walls = sorted(
            h["wall_ms"] for h in CheckpointManager(ck, "pagerank").metrics_history()
        )
        if walls:
            step_spread_ms[kernel] = [
                walls[0], int(statistics.median(walls)), walls[-1]
            ]
        pr.unpersist()
        timings[f"pagerank_superstep_{kernel}"] = round(per_step[kernel], 3)

    best_kernel = min(per_step, key=per_step.get)
    edges_per_sec = E / per_step[best_kernel]

    # ---- CC evidence, two algorithms ----
    # (a) star CC (large-star/small-star): the production path for
    #     deep graphs — runs to convergence in O(log²) rounds.
    # (b) hash-min frontier-delta (the contract algorithm): 10 capped
    #     supersteps recording the per-superstep message-volume
    #     collapse (this graph's diameter makes full hash-min
    #     convergence an O(diameter)≈hundreds-of-rounds affair — the
    #     exact reason (a) exists; see graph/components.py).
    from reddit_processing_spark.graph.components import (
        connected_components,
        connected_components_star,
    )

    # no num_partitions: these superstep loops are task-overhead-bound
    # at this tier, so they exercise the engine's data-sized default
    # (graph/partitioning.py resolve_partitions) — measured 79.5 s ->
    # 49.8 s for kcore on the same host vs inheriting 2x cores.
    star_dir = tempfile.mkdtemp(prefix="bench_ccstar_")
    t2 = time.monotonic()
    connected_components_star(spark, agg, ckpt_dir=star_dir)
    timings["cc_star_to_convergence"] = round(time.monotonic() - t2, 3)
    star_rounds = len(CheckpointManager(star_dir, "cc_star").metrics_history())

    cc_dir = tempfile.mkdtemp(prefix="bench_cc_")
    t3 = time.monotonic()
    connected_components(
        spark, agg, max_iter=10, ckpt_dir=cc_dir, frontier=True,
    )
    timings["cc_delta_10_supersteps"] = round(time.monotonic() - t3, 3)
    cc_hist = CheckpointManager(cc_dir, "components").metrics_history()
    cc_msg_rows = [h.get("msg_rows") for h in cc_hist]

    # k-core decomposition to convergence (h-index iteration)
    from reddit_processing_spark.graph.kcore import core_numbers

    kc_dir = tempfile.mkdtemp(prefix="bench_kcore_")
    t4 = time.monotonic()
    core_numbers(spark, agg, ckpt_dir=kc_dir)
    timings["kcore_to_convergence"] = round(time.monotonic() - t4, 3)
    kcore_rounds = len(CheckpointManager(kc_dir, "kcore").metrics_history())

    # same fixpoint at checkpoint cadence 4 (superstep fusion — the
    # h-index wall is per-job-floor-bound at this tier, so fusing 4
    # rounds per checkpoint divides exactly that term; fused ≡ unfused
    # is test-asserted in tests/test_kcore.py)
    kcf_dir = tempfile.mkdtemp(prefix="bench_kcore4_")
    t4b = time.monotonic()
    core_numbers(spark, agg, ckpt_dir=kcf_dir, ckpt_every=4)
    timings["kcore_ckpt4_to_convergence"] = round(time.monotonic() - t4b, 3)

    # HITS: per-superstep wall over the same fixed superstep count as
    # PageRank (each superstep = two edge joins in the write job + a
    # tiny |V|-row norm read-back — see graph/hits.py)
    from reddit_processing_spark.graph.hits import HITS

    ht = HITS(spark, agg)
    hits_dir = tempfile.mkdtemp(prefix="bench_hits_")
    t5 = time.monotonic()
    ht.run(tol=0.0, max_iter=BENCH_SUPERSTEPS, ckpt_dir=hits_dir)
    timings["hits_superstep"] = round(
        (time.monotonic() - t5) / BENCH_SUPERSTEPS, 3
    )
    ht.unpersist()

    # Katz: per-superstep wall over the same fixed superstep count —
    # the lightest iterative identity (ONE edge join + message groupBy
    # + checkpoint write; delta Observation-folded, no extra jobs), so
    # it isolates the join+checkpoint floor the heavier algorithms
    # share. Alpha = 0.5/max-weighted-degree (provably convergent).
    from pyspark.sql import functions as _F

    from reddit_processing_spark.graph.katz import Katz

    kz = Katz(spark, agg)
    katz_alpha = 0.5 / float(
        agg.groupBy("src").agg(_F.sum("w").alias("s"))
        .agg(_F.max("s")).collect()[0][0]
    )
    katz_dir = tempfile.mkdtemp(prefix="bench_katz_")
    t5b = time.monotonic()
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("ignore")  # tol=0.0 never "converges"
        kz.run(alpha=katz_alpha, tol=0.0, max_iter=BENCH_SUPERSTEPS,
               ckpt_dir=katz_dir)
    timings["katz_superstep"] = round(
        (time.monotonic() - t5b) / BENCH_SUPERSTEPS, 3
    )
    kz.unpersist()

    # BFS frontier expansion: 10 capped supersteps from 3 seeds (same
    # capping rationale as cc_delta — this graph's diameter makes
    # full convergence an O(diameter) affair)
    from pyspark.sql import functions as F

    from reddit_processing_spark.graph.bfs import bfs_distances

    seeds = (
        agg.select(F.col("src").alias("vid"))
        .unionByName(agg.select(F.col("dst").alias("vid")))
        .distinct()
        .orderBy("vid")
        .limit(3)
    )
    bfs_dir = tempfile.mkdtemp(prefix="bench_bfs_")
    t6 = time.monotonic()
    bfs_distances(
        spark, agg, seeds, max_iter=10, ckpt_dir=bfs_dir,
    ).write.format("noop").mode("overwrite").save()
    timings["bfs_10_supersteps"] = round(time.monotonic() - t6, 3)

    # same 10 rounds at checkpoint cadence 5 (superstep fusion — two
    # checkpointed jobs instead of ten; fused ≡ unfused is
    # test-asserted in tests/test_bfs.py)
    bfsf_dir = tempfile.mkdtemp(prefix="bench_bfs5_")
    t6b = time.monotonic()
    bfs_distances(
        spark, agg, seeds, max_iter=10, ckpt_dir=bfsf_dir, ckpt_every=5,
    ).write.format("noop").mode("overwrite").save()
    timings["bfs_ckpt5_10_supersteps"] = round(time.monotonic() - t6b, 3)

    print(
        json.dumps(
            {
                "metric": "pagerank_edges_per_sec_per_superstep",
                "value": round(edges_per_sec, 1),
                "unit": "edges/s",
                "queries": timings,
                "queries_spread": spread,
                "sf": sf,
                "value_kernel": best_kernel,
                "edges_per_sec_csr": round(E / per_step["csr"], 1),
                "edges_per_sec_sql": round(E / per_step["sql"], 1),
                "superstep_spread_ms": step_spread_ms,
                "reps": REPS,
                "edges": E,
                "supersteps": BENCH_SUPERSTEPS,
                "cpus": int(cpus),
                "fixture_tier": tier,
                "cc_star_rounds": star_rounds,
                "cc_delta_supersteps": len(cc_msg_rows),
                "cc_delta_msg_rows": cc_msg_rows,
                "kcore_rounds": kcore_rounds,
                **health,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
